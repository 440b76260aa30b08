"""Top-k BM25 serving over compressed segments: block-max MaxScore.

The fast path mandated by the north_rule ("block-max WAND over the
compressed postings"). The variant implemented is a vectorized
**block-max MaxScore** (term-at-a-time with an exactness proof), which
fits Arrow/numpy execution far better than doc-at-a-time pivoting while
skipping the same work — whole blocks of non-essential terms are never
decoded:

1. Terms sorted by global upper bound ``ub_t = qtf * idf * max_norm_t``
   (descending), where ``max_norm_t`` is derived at query time from the
   avgdl-independent per-block ``(max_tf, min_dl)`` bound pairs in the
   segment metadata (codec.py). Decode + accumulate exact scores into a
   dense per-bucket accumulator (``acc[doc_idx] += qtf * idf * norm``),
   term by term.
2. After each term, let θ = k-th largest accumulated score and
   ``rem`` = sum of the undecoded terms' ubs. Once θ >= rem, every doc
   not yet touched is provably out of the top-k (its max possible score
   < θ) — switch to the pruned phase.
3. Pruned phase: candidates = docs with ``acc + rem >= θ``. For each
   remaining term, only blocks that contain a candidate (located via the
   blockmeta ``last_docid`` fences with searchsorted — no decode) are
   decoded; their contributions are added. Docs outside the candidate
   set may receive partial scores, but by the dominance argument their
   true score < θ <= final k-th score, so restricting the final top-k to
   candidates is exact.
4. Final ranking key is (round(score, 6) DESC, url ASC) — identical to
   the brute-force oracle, making rank-identity well-defined under
   floating-point reassociation (SURVEY.md §7.4 determinism).

A batch is scored batch-at-a-time per bucket: its queries share one
decode memo (:func:`run_bucket`), so a term's blockmeta is parsed once
and its full list decoded at most once, however many queries name it.
A pruned-phase term already in the memo adds its whole list instead of
its candidate blocks — the same scores on every candidate, because the
blocks a candidate selects hold all of the term's postings for it —
and only candidates enter the final pool, so the result is unchanged.

Scatter-gather shape (reference mode 4, ``src/processor.rs:146-369``,
re-expressed): the index is partitioned ONCE by doc bucket into a
cache of P partitions; a query batch is scored by one kernel task per
partition, each computing every query's exact local top-k per bucket
(the reference's shard partials), and a small merge combines them
into the global top-k (the reference's ``aggregate_result`` merge,
``src/lib.rs:190-226``). The merge runs on the driver, which receives
at most ``n_buckets * k`` rows per query, as one Arrow sort and rank
(REPOSE, ICDE 2021, serves top-k the same way: a local top-k per
partition plus a small global merge). ``query_generations`` merges all
its generations' candidates in the same single step.

Placement: the kernel stage runs ``P = min(n_buckets, defaultParallelism)``
tasks, ONE task wave. Each bucket gets a distinct int group key whose
Spark hash partition (Murmur3, seed 42, pmod P) is ``bucket % P``
(:func:`_group_keys`, computed in Python, no Spark job), so every task
holds ``floor`` or ``ceil(n_buckets / P)`` buckets. Grouping on the raw
bucket id instead lands buckets 0-7 in partitions ``[7,3,6,3,6,2,1,3]``
of 8: one task carries three buckets while three sit empty. The kernel
groups on the group key, so each group is still exactly one bucket.

Why one stage matters: on a 4-CPU host a 1-task pandas-UDF job costs
0.12-0.17 s and a 4-task one 0.15-0.22 s, against 0.05-0.07 s for a
JVM-only job. Workers start through ``session``'s zip-free daemon, so a
task's ``importlib.invalidate_caches()`` no longer re-reads the
directories of ``pyspark.zip`` and the spark-core jar (that made the
1-task job 0.33-0.37 s). The rest of the gap is the Python worker round
trip itself, so a query batch is ONE kernel job: one grouped pandas
stage over the cache, with no Exchange. A DataFrame batch adds the one
job that collects it to the driver. The result is an Arrow-built local
relation (a JVM ``LocalRelation``) that collects with no job, and an
all-OOV batch returns a ``Limit 0`` relation that needs no kernel job.

Data access: the serving cache holds the whole index, doc rows (kind
0: doc_idx, dl, url) and term rows (kind 1: term, term_hash, postings,
blockmeta), read once through ``segments.read_index`` and persisted in
P hash partitions of the group key: no per-call filesystem read and no
per-call Exchange of index rows. A batch reads it through one filter,
``kind = 0 OR term_hash IN (batch vocabulary)``. The vocabulary and the
idf come from the driver-side lexicon, read from the termstats parquet
with pyarrow, so serving state for a newly committed index costs no
Spark job: the first query fills the cache. A batch is tokenized and
resolved on the driver, and its (query_id, term, qtf, idf) rows travel
in the kernel's closure, so no per-batch row is shuffled. Inside the kernel,
postings are matched by the full term STRING (carried in the segment
rows), so a 60-bit hash collision between a query term and another term
in the bucket cannot mis-score; the hash is only a filter.
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import query_tokens_py
from .scoring import TOP_K
from ..index.codec import BlockMeta, bm25_norm, decode_blocks, decode_postings
from ..index.segments import load_stats, read_index


def maxscore_topk(
    term_entries: list[dict],
    dls: np.ndarray,
    avgdl: float,
    k: int | None,
    k1: float = 1.2,
    b: float = 0.75,
    memo: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k for one query over one bucket.

    term_entries: [{postings, blockmeta, idf, qtf}] for each query term
    present in the bucket. dls: dense doc_idx -> dl array for the bucket.
    Returns [(doc_idx, score)] ranked by (round(score,6) DESC, doc_idx ASC).
    ``k=None`` returns the FULL ranked list of matched docs (the
    reference's poll endpoint serves the entire ranked list,
    src/server.rs:98-105) — theta pruning is disabled, every term is
    decoded exhaustively.

    ``memo``, shared by a batch's calls over one bucket (same ``dls``,
    avgdl, k1, b), keys the entries by their ``term``: each term's
    BlockMeta and bound are computed once, its full decode (ids, norms)
    at most once, and a pruned phase adds a memoized list whole (exact:
    see the module docstring). Without one, each call decodes alone.
    """
    n_docs = len(dls)
    if not term_entries or n_docs == 0:
        return []

    shared, memo = memo is not None, {} if memo is None else memo
    entries = []
    for i, e in enumerate(term_entries):
        key = e["term"] if shared else i
        rec = memo.get(key)  # [BlockMeta, max norm, (ids, norms) or None]
        if rec is None:
            meta = BlockMeta(e["blockmeta"])
            rec = memo[key] = [meta, float(meta.max_norms(avgdl, k1=k1, b=b).max()), None]
        weight = e["qtf"] * e["idf"]
        entries.append((weight * rec[1], weight, rec, e["postings"]))
    entries.sort(key=lambda x: -x[0])
    ubs = np.array([e[0] for e in entries])

    acc = np.zeros(n_docs, dtype=np.float64)
    theta = -np.inf
    switch_at = len(entries)
    for i, (ub, weight, rec, postings) in enumerate(entries):
        rem = float(ubs[i:].sum())
        if theta >= rem:
            switch_at = i
            break
        if rec[2] is None:
            ids, tfs = decode_postings(postings, rec[0])
            rec[2] = ids, bm25_norm(tfs, dls[ids], avgdl, k1=k1, b=b)
        ids, norms = rec[2]
        acc[ids] += weight * norms
        if k is None:
            continue  # full-list mode: never raise theta, decode all
        kth = n_docs - k
        if kth >= 0 and np.count_nonzero(acc) >= k:
            theta = float(np.partition(acc, kth)[kth])

    if switch_at < len(entries):
        rem = float(ubs[switch_at:].sum())
        candidates = np.flatnonzero(acc + rem >= theta)
        for ub, weight, (meta, _, full), postings in entries[switch_at:]:
            if len(candidates) == 0:
                break
            if full is not None:
                ids, norms = full
            else:
                # the blocks holding a candidate: candidates per fence
                hits = np.searchsorted(candidates, meta.last_docids, side="right")
                blocks = np.nonzero(np.diff(hits, prepend=0))[0]
                if len(blocks) == 0:
                    continue
                ids, tfs = decode_blocks(postings, meta, blocks)
                norms = bm25_norm(tfs, dls[ids], avgdl, k1=k1, b=b)
            acc[ids] += weight * norms
        pool = candidates
    else:
        pool = np.flatnonzero(acc)

    if len(pool) == 0:
        return []
    scores = np.round(acc[pool], 6)
    order = np.lexsort((pool, -scores))
    top = order[:k]
    return [(int(pool[i]), float(scores[i])) for i in top]


# --- per-index serving state (cached across wand_topk calls) --------------
#
# Serving state is built from the committed files alone and runs NO
# Spark job, so a generation can be served as soon as it commits:
#
# - index side, keyed by the index fingerprint: the whole index (the
#   columns the kernel reads of the doc and term rows) persisted in P
#   partitions of the group key, and the group keys. It is ONE parquet
#   relation read by ``segments.read_index`` (declared schema, no
#   schema-inference job), with no eager count(): the first query's
#   scan fills it, and later queries read it from the block manager
#   (InMemoryTableScan, plan-asserted in tests/test_serving.py). A cache
#   found dropped (``spark.catalog.clearCache()``) is persisted again
#   before use.
# - stats side, keyed by (index, stats) fingerprint: N/avgdl (overlaid
#   from a global-stats sidecar if one is given) and the lexicon read
#   from the termstats parquet with pyarrow on the driver.
#
# A new global-stats sidecar therefore reuses every generation's index
# cache and only re-reads the (vocabulary-sized) lexicon. A fingerprint
# folds in stats.json's (mtime, size), so a rebuilt index or sidecar at
# the same path is never reused stale; index entries are evicted
# oldest-first at _INDEX_CACHE_MAX to keep long sessions bounded, and
# their stats entries go with them. A caller that serves one batch
# over several indexes (query_generations) looks them up inside
# ``serving_states_pinned()``, so with more indexes than the bound a
# later lookup in the same call never evicts an earlier one's cache.

_INDEX_CACHE: dict[tuple, dict] = {}
_STATS_CACHE: dict[tuple, dict] = {}
_INDEX_CACHE_MAX = 8
_PIN_SCOPES: list[set] = []


@contextmanager
def serving_states_pinned():
    """Serving states looked up inside this block are not evicted by
    other lookups inside it (the cache may exceed its bound meanwhile)."""
    scope: set = set()
    _PIN_SCOPES.append(scope)
    try:
        yield
    finally:
        # by identity: another thread's scope may have been pushed since
        _PIN_SCOPES[:] = [s for s in _PIN_SCOPES if s is not scope]


def _murmur3_int(v: int) -> int:
    """Spark's ``hash()`` of an int column (Murmur3_x86_32.hashInt with
    seed 42), the hash behind ``HashPartitioning``."""
    m = 0xFFFFFFFF
    k = (v & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    h = 42 ^ (k * 0x1B873593 & m)
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=None)
def _group_keys(n_buckets: int, p: int) -> tuple[int, ...]:
    """One distinct int per bucket; hash-partitioned into ``p``
    partitions, bucket b's key lands in partition ``b % p``."""
    todo = {r: list(range(r, n_buckets, p)) for r in range(p)}
    keys = [0] * n_buckets
    left, c = n_buckets, 0
    while left:
        wanting = todo[_murmur3_int(c) % p]  # Python % == Spark pmod
        if wanting:
            keys[wanting.pop(0)] = c
            left -= 1
        c += 1
    return tuple(keys)


def _index_fingerprint(index_dir: str) -> tuple:
    st = os.stat(os.path.join(index_dir, "stats.json"))
    return (os.path.realpath(index_dir), st.st_mtime_ns, st.st_size)


def _serving_state(
    spark: SparkSession, index_dir: str, stats_dir: str | None = None
) -> dict:
    """The index side of ``index_dir`` merged with its stats side under
    ``stats_dir`` (or its own stats). Runs no Spark job."""
    index_key = (_index_fingerprint(index_dir), spark.sparkContext.applicationId)
    if _PIN_SCOPES:
        _PIN_SCOPES[-1].add(index_key)
    side = _INDEX_CACHE.get(index_key)
    if side is None:
        side = _index_side(spark, index_dir, index_key)
    elif not side["index"].storageLevel.useMemory:
        _persist(spark, side["index"])  # dropped, e.g. by clearCache()
    stats_key = (index_key, _index_fingerprint(stats_dir) if stats_dir else None)
    stats = _STATS_CACHE.get(stats_key) or _stats_side(
        index_dir, stats_dir, side["stats"], stats_key
    )
    return {**side, **stats}


def _index_side(spark: SparkSession, index_dir: str, key: tuple) -> dict:
    # a rebuilt index at the same path gets a new fingerprint: drop any
    # stale entry for the same resolved path first (a new read of the
    # path would otherwise match the stale entry's cached plan)
    for k in [k for k in _INDEX_CACHE if k[0][0] == key[0][0]]:
        _evict(k)
    pinned = set().union(*_PIN_SCOPES)
    victims = [k for k in _INDEX_CACHE if k not in pinned]
    while victims and len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
        _evict(victims.pop(0))
    stats = load_stats(index_dir)
    n_buckets = int(stats["n_buckets"])
    # the index is shuffled by group key ONCE and cached in P partitions
    # of it: the grouped kernel over the cache finds its required
    # distribution in the cache's hashpartitioning(gkey, P), so a query
    # batch never re-shuffles the (large, static) index
    p = min(n_buckets, spark.sparkContext.defaultParallelism)
    gkeys = _group_keys(n_buckets, p)
    gkey = F.element_at(
        F.array(*[F.lit(g) for g in gkeys]), F.col("bucket") + 1
    ).alias("gkey")
    index = read_index(spark, index_dir).select(
        gkey, "kind", "doc_idx", "dl", "url", "term", "term_hash",
        "postings", "blockmeta",
    )
    state = {
        "stats": stats,
        "index": _persist(spark, index.repartition(p, "gkey")),
    }
    _INDEX_CACHE[key] = state
    return state


def _persist(spark: SparkSession, df: DataFrame) -> DataFrame:
    # The cached plan is planned without AQE. An adaptive cached plan
    # reports its partitioning only once it has run, so the first query
    # on a still-empty cache would plan an Exchange over the cache scan;
    # a static plan reports hashpartitioning(gkey, P) up front, and the
    # first query fills the cache as its first query stage. The cached
    # plan is one REPARTITION_BY_NUM Exchange, which AQE leaves as is.
    # The switch is session-wide for the moment of the persist call: a
    # query another thread plans meanwhile runs without AQE, correctly.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _stats_side(
    index_dir: str, stats_dir: str | None, own_stats: dict, key: tuple
) -> dict:
    # one stats entry per index for its own stats and one for an
    # overlay: a newer sidecar (or a rewritten one) replaces the older
    index_key, stats_fp = key
    for k in [
        k
        for k in _STATS_CACHE
        if k[0] == index_key and (k[1] is None) == (stats_fp is None)
    ]:
        del _STATS_CACHE[k]
    stats = own_stats
    if stats_dir is not None:
        # Global-stats overlay (streaming generations between
        # compactions): corpus-wide N/avgdl + the merged termstats
        # replace this generation's own — layout facts (n_buckets,
        # k1, b) stay the generation's. Blockmeta bound pairs are
        # avgdl-independent by design, so block-max pruning remains
        # correct under overlaid stats.
        overlay = load_stats(stats_dir)
        stats = {
            **stats,
            "n_docs": overlay["n_docs"],
            "avgdl": overlay["avgdl"],
        }
    # Driver-side lexicon {term: (term_hash, idf)}, read with pyarrow
    # ONCE per (index, stats) from the same local directory as
    # stats.json: (a) early-exits all-OOV queries without launching
    # the kernel job, (b) shrinks the IN filter literals to terms
    # actually present, and (c) resolves every query's (term, qtf,
    # idf) on the driver with zero Spark jobs. This is the classic search
    # lexicon sidecar; at web scale (10^8 terms) it pages from disk or
    # degrades to a Bloom filter over term_hash with the idf join left
    # in the plan — identical serving semantics.
    ts = pq.read_table(
        f"{stats_dir or index_dir}/termstats", columns=["term", "term_hash", "idf"]
    )
    entries = zip(ts.column("term_hash").to_pylist(), ts.column("idf").to_pylist())
    state = {
        "stats": stats,
        "lexicon": dict(zip(ts.column("term").to_pylist(), entries)),
    }
    _STATS_CACHE[key] = state
    return state


def _evict(index_key: tuple) -> None:
    state = _INDEX_CACHE.pop(index_key, None)
    if state is not None:
        try:
            state["index"].unpersist()
        except Exception:
            pass
    for k in [k for k in _STATS_CACHE if k[0] == index_key]:
        del _STATS_CACHE[k]


CANDIDATE_SCHEMA = "query_id string, url string, score double"
_RESULT_COLS = ["query_id", "rank", "url", "score"]


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[str, str]],
    k: int | None = TOP_K,
    stats_dir: str | None = None,
) -> DataFrame:
    """(query_id, rank, url, score) — block-max MaxScore over segments.

    ``stats_dir`` overlays corpus-wide BM25 stats (N, avgdl, merged
    termstats) from a global-stats sidecar
    (:func:`..streaming.ingest.merge_generation_stats`) onto this
    index's postings — how streaming generations serve globally
    consistent idf between compactions. Blockmeta bounds are
    avgdl-independent, so block-max pruning stays exact.

    ``queries`` is either a DataFrame (query_id, query_string) — the
    batch/pipeline shape — or a plain ``[(query_id, query_string)]``
    list for serving front-ends that already hold the batch on the
    driver (TCP server, REPL, CLI). Both are served the same way, and
    the call is EAGER: a DataFrame batch is collected once (one Spark
    job, none for a local relation), every query is tokenized and
    resolved against the driver-side lexicon, the one kernel job scores
    every bucket, and the per-bucket top-k lists are merged on the
    driver and returned as a local relation, whose collect runs no
    Spark job. The driver holds the batch and receives at most
    ``n_buckets * k`` candidate rows per query. A null query string
    matches nothing.

    ``k=None`` returns the FULL ranked list per query (every matched
    doc, ranked) — parity with the reference poll endpoint, which
    returns the entire ranked list, not a top-k cut
    (/root/reference/src/server.rs:98-105).

    The term_hash is ONLY a filter — the kernel matches postings by the
    full term string, so a 60-bit collision between a query term and
    another term in the bucket cannot mis-score.
    """
    kernel = _kernel(spark, index_dir, _query_batch(queries), k, stats_dir)
    return _ranked(spark, [kernel], k)


def _query_batch(queries: DataFrame | list[tuple[str, str]]) -> list[tuple]:
    """The batch as driver-held (query_id, query_string) pairs: a
    DataFrame is collected once (a local relation, e.g. one built from
    pandas, with no Spark job)."""
    if isinstance(queries, list):
        return queries
    return [tuple(r) for r in queries.select("query_id", "query_string").collect()]


def _kernel(
    spark: SparkSession,
    index_dir: str,
    batch: list[tuple],
    k: int | None,
    stats_dir: str | None = None,
) -> DataFrame | None:
    """The kernel relation of ``batch`` over ``index_dir``: every
    query's local top-k per bucket (``CANDIDATE_SCHEMA``), one grouped
    pandas stage over the serving cache with no Exchange. None when no
    query names a term of the lexicon, so an all-OOV batch runs no job.

    Queries are tokenized with the exact Python parity kernel and
    resolved to (query_id, term, qtf, idf) rows from the lexicon, with
    no Spark job; the rows reach the kernel in its closure.
    """
    state = _serving_state(spark, index_dir, stats_dir)
    stats = state["stats"]
    cfg = (stats["avgdl"], k, stats["k1"], stats["b"])
    q_rows: list[tuple] = []
    hashes: set[int] = set()
    for qid, qs in batch:
        if qs is None:
            continue  # str(None) would search for the word "none"
        qid, toks = str(qid), query_tokens_py(str(qs))
        for t in sorted(set(toks)):
            ent = state["lexicon"].get(t)
            if ent is not None:
                hashes.add(int(ent[0]))
                q_rows.append((qid, t, toks.count(t), float(ent[1])))
    if not q_rows:
        return None
    q_pdf = pd.DataFrame(q_rows, columns=["query_id", "term", "qtf", "idf"])
    return (
        _index_rows(state, hashes)
        .groupBy("gkey")
        .applyInPandas(lambda idx: run_bucket(idx, q_pdf, cfg), schema=CANDIDATE_SCHEMA)
    )


def _index_rows(state: dict, hashes: set[int]) -> DataFrame:
    """The cached doc rows and the term rows of ``hashes``.

    Eleven negative hashes, which no term has (term hashes are 60-bit),
    pad the IN list past Catalyst's InSet conversion threshold (10). A
    short IN list is inlined into the generated code, so every new
    query compiled new code (3 Janino compiles, ~0.15 s on a 4-CPU
    host); an InSet's generated code takes its set by reference and is
    compiled once.
    """
    in_list = ", ".join(map(str, sorted(hashes) + list(range(-11, 0))))
    # one SQL string, one py4j call: ``isin`` sends each literal to the
    # JVM on its own (over 2,000 py4j commands for 500 hashes)
    wanted = F.expr(f"kind = 0 OR term_hash IN ({in_list})")
    return state["index"].filter(wanted).drop("term_hash")


def run_bucket(idx_pdf: pd.DataFrame, q_pdf: pd.DataFrame, cfg: tuple) -> pd.DataFrame:
    """Every query's local top-k over one bucket: (query_id, url, score).

    ``idx_pdf`` holds the bucket's doc rows (kind 0) and the term rows
    of the batch's vocabulary (kind 1); ``q_pdf`` the batch's
    (query_id, term, qtf, idf) rows; ``cfg`` is (avgdl, k, k1, b).
    The queries share one :func:`maxscore_topk` memo for the call, so
    each term is parsed once and decoded in full at most once per
    bucket, however many of the batch's queries name it.
    """
    avgdl, k, k1, b = cfg
    kinds = idx_pdf["kind"].to_numpy()
    docs_pdf, terms_pdf = idx_pdf[kinds == 0], idx_pdf[kinds == 1]
    n_docs = len(docs_pdf)
    if n_docs == 0 or len(terms_pdf) == 0 or len(q_pdf) == 0:
        return pd.DataFrame(columns=["query_id", "url", "score"]).astype(
            {"score": "float64"}
        )
    doc_pos = docs_pdf["doc_idx"].to_numpy(dtype=np.int64)
    dls = np.zeros(n_docs, dtype=np.int64)
    dls[doc_pos] = docs_pdf["dl"].to_numpy(dtype=np.int64)
    urls = np.empty(n_docs, dtype=object)
    urls[doc_pos] = docs_pdf["url"].to_numpy(dtype=object)
    by_term = {
        t: (p, m)
        for t, p, m in zip(
            terms_pdf["term"], terms_pdf["postings"], terms_pdf["blockmeta"]
        )
    }
    # each query's entries, in first-appearance order; a pandas groupby
    # slices a frame per query, about a fifth of the kernel's profile
    queries: dict[str, list[dict]] = {}
    for qid, t, n, w in zip(q_pdf["query_id"], q_pdf["term"], q_pdf["qtf"], q_pdf["idf"]):
        if t in by_term:
            p, m = by_term[t]
            queries.setdefault(qid, []).append(
                {"term": t, "postings": p, "blockmeta": m, "idf": float(w), "qtf": int(n)}
            )
    rows, memo = [], {}
    for qid, entries in queries.items():
        for doc_idx, score in maxscore_topk(entries, dls, avgdl, k, k1, b, memo):
            rows.append((qid, urls[doc_idx], score))
    return pd.DataFrame(rows, columns=["query_id", "url", "score"])


def _ranked(spark: SparkSession, kernels: list, k: int | None) -> DataFrame:
    """The global top-k of the kernels' candidates (None: no kernel),
    each collected through Arrow, ranked per query by (score DESC, url
    ASC) — scores are already rounded to 6 places — with one sort over
    all of them, as an Arrow-built LocalRelation: collecting it runs no
    Spark job."""
    tables = [rel.toArrow() for rel in kernels if rel is not None]
    n = sum(t.num_rows for t in tables)
    if n == 0:
        return _empty_result(spark)
    cands = pa.concat_tables(tables).sort_by(
        [("query_id", "ascending"), ("score", "descending"), ("url", "ascending")]
    )
    # rank = 1 + offset from the first row of the query's run
    qids = cands.column("query_id").combine_chunks()
    pos = np.arange(n)
    first = np.ones(n, dtype=bool)
    first[1:] = pc.not_equal(qids[1:], qids[:-1]).to_numpy(zero_copy_only=False)
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    ranked = cands.append_column("rank", pa.array(rank, pa.int32()))
    if k is not None:
        ranked = ranked.filter(pa.array(rank <= k))
    return spark.createDataFrame(ranked.select(_RESULT_COLS))


def _empty_result(spark: SparkSession) -> DataFrame:
    # the optimizer folds Limit 0 into an empty LocalRelation, so
    # collecting this runs no Spark job (createDataFrame([]) runs one)
    return (
        spark.range(1)
        .selectExpr(
            "CAST(NULL AS STRING) AS query_id",
            "CAST(NULL AS INT) AS rank",
            "CAST(NULL AS STRING) AS url",
            "CAST(NULL AS DOUBLE) AS score",
        )
        .limit(0)
    )
