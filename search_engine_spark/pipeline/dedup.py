"""Deduplication operators over the documents corpus: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

All four are the standard web-corpus near-dup family (Broder MinHash /
Charikar SimHash as used by C4/RefinedWeb-style pipelines), expressed as
pure DataFrame algebra on the portable hash primitives in ``common.py``
so the DuckDB oracle can reproduce them bit-for-bit.

Scale notes (100 TB):
- Exact dedup is one hash-groupBy; the md5 key is uniform, no skew.
- MinHash signatures are K min-aggregates per doc over exploded shingles
  — map-side partial min means the shuffle carries one row per
  (doc, K mins), not per shingle. LSH banding turns pair-finding into an
  equi-join on (band_idx, band_key): only same-bucket docs ever meet, so
  there is no O(n^2) candidate explosion. Hot buckets (boilerplate) are
  the skew risk — the bucket join groups by key first, so a pathological
  bucket is one task, and a df-cap (like the Jaccard path's) bounds it.
- SimHash is a per-doc bit-fold (one groupBy doc), and its Hamming join
  is banded the same way (pigeonhole: hd<=6 over 4 bands of 8 bits means
  at least one band matches... only for hd<=3; the band count/width and
  threshold are chosen so the pigeonhole guarantee holds: 4 bands catch
  every pair with hd <= 3; we report hd <= HAMMING_MAX among candidates).
- n-gram Jaccard joins on the shingle itself (document-pair inverted
  index); DF_CAP drops shingles present in more than DF_CAP docs —
  boilerplate shingles contribute nothing to near-dup detection and are
  exactly the skew keys, so capping is both the quality and the skew
  fix (standard in MinHash pipelines).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import (
    hash60_col,
    round6_col,
    shingles_col,
    sql_hash60,
    sql_shingles,
    sql_words,
    words_col,
)

MINHASH_K = 32       # signature length
LSH_BANDS = 8        # bands of MINHASH_K // LSH_BANDS rows each
SIMHASH_BITS = 60    # full width of the hash60 base (bit 60+ of the term
                     # hash is always 0, and 60 bits keeps every band-value
                     # and signature literal inside signed int64 in BOTH
                     # engines — 64 bits would need unsigned wraparound)
SIMHASH_BANDS = 4    # 4 bands x 15 bits (32,768 band values per band: an
                     # 8-bit band space has only 256 keys, so at web scale
                     # EVERY value exceeds BAND_CAP and the cap silently
                     # drops all candidates — 15-bit keys keep bucket
                     # populations small so the cap only trims true clones)
HAMMING_MAX = 6      # report pairs with hamming distance <= 6 among candidates
JACCARD_MIN = 0.05   # n-gram Jaccard report threshold
DF_CAP = 100         # drop shingles shared by more than this many docs
BAND_CAP = 100       # drop LSH band keys shared by more than this many docs

# MinHash universal-hash family: ONE md5 base hash per shingle, then K
# affine mixes (a_k*lo + b_k*hi + k) mod P over the split 30-bit halves
# of the 60-bit base hash. The split keeps every intermediate < 2^61 so
# the arithmetic is exact (no wraparound) in BOTH engines — Java longs
# and DuckDB BIGINTs agree bit-for-bit, and DuckDB would *error* on
# overflow rather than wrap. This is the standard sketch-library
# construction (one strong hash + K cheap universal hashes) and cuts
# the per-shingle cost from K md5 evaluations to one.
MINHASH_P = (1 << 61) - 1   # Mersenne prime 2^61-1
_MASK30 = (1 << 30) - 1


def _mh_params(k: int) -> tuple[int, int]:
    """Deterministic (a_k, b_k) for the k-th universal hash (from md5)."""
    a = int(hashlib.md5(f"mha|{k}".encode()).hexdigest()[:15], 16) % _MASK30 + 1
    b = int(hashlib.md5(f"mhb|{k}".encode()).hexdigest()[:15], 16) % (1 << 30)
    return a, b


MH_PARAMS: list[tuple[int, int]] = [_mh_params(k) for k in range(MINHASH_K)]


def _mh_col(h: Column, k: int) -> Column:
    """k-th universal hash of a 60-bit base hash column (exact int64)."""
    a, b = MH_PARAMS[k]
    lo = h.bitwiseAND(F.lit(_MASK30))
    hi = F.shiftright(h, 30)
    return (F.lit(a) * lo + F.lit(b) * hi + F.lit(k)) % F.lit(MINHASH_P)


def _sql_mh(h: str, k: int) -> str:
    a, b = MH_PARAMS[k]
    return f"(({a} * ({h} & {_MASK30}) + {b} * ({h} >> 30) + {k}) % {MINHASH_P})"


# --- materialization barriers -----------------------------------------------


def _pin(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Materialize a relation consumed more than once downstream.

    - ``checkpoint_dir`` set: reliable ``checkpoint()`` — blocks live in
      the (HDFS/object-store) checkpoint dir, so an executor loss
      re-reads instead of failing the job. The right mode for a
      long-running 100 TB job (ADVICE r4: ``localCheckpoint`` lineage is
      non-recomputable).
    - default: ``persist(MEMORY_AND_DISK)`` + an eager count. The
      lineage stays RECOMPUTABLE — a lost executor recomputes its
      partitions from the parquet scan — and the eager count fills the
      cache before two downstream consumers can race to compute it.
      Cheaper than a reliable checkpoint and safe wherever only
      double-execution (not partition identity) is being avoided.
    """
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _cut(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Lineage CUT for iterative rounds / load-bearing partition
    pinning, where recomputation would change the very thing being
    relied on (plan size per round; partition identity). Reliable
    ``checkpoint()`` when a dir is given (executor-loss resilient);
    ``localCheckpoint`` otherwise (fast, single-job-safe — the 100 TB
    deployment should pass ``checkpoint_dir``)."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# --- exact ----------------------------------------------------------------


def content_hash_col(text_col: str = "text") -> "F.Column":
    """md5 over whitespace-normalized lowercase text — the ONE content
    identity shared by batch :func:`exact_dups` and the streaming dedup
    (``streaming/dedup.py``); their batch/stream equivalence contract
    depends on these never diverging, so there is exactly one
    definition."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return F.md5(norm)


def exact_dups(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, canonical_doc_id, group_size, is_duplicate)

    Exact dedup on whitespace-normalized lowercase text. Survivor =
    min(doc_id) per content group.
    """
    hashed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        content_hash_col().alias("content_hash"),
    )
    groups = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).cast("long").alias("group_size"),
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            "canonical_doc_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
        )
    )


SQL_EXACT_DUPS = r"""
WITH hashed AS (
    SELECT doc_id::BIGINT AS doc_id,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash
    FROM documents
),
groups AS (
    SELECT content_hash, min(doc_id) AS canonical_doc_id,
           count(*)::BIGINT AS group_size
    FROM hashed GROUP BY content_hash
)
SELECT doc_id, content_hash, canonical_doc_id, group_size,
       doc_id <> canonical_doc_id AS is_duplicate
FROM hashed JOIN groups USING (content_hash)
"""


# --- MinHash + LSH --------------------------------------------------------


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word 3-grams, exploded."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(shingles_col(words_col("text"))).alias("shingle"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, k, minhash) — K=32 min-hashes per document.

    h_k(s) = universal_k(hash60(s)) — one md5 per shingle, K affine
    mixes (see MH_PARAMS); one groupBy(doc_id) with K min aggregates
    (partial-aggregated map-side, so the shuffle row per doc is just
    the K running minimums).
    """
    mins = _signature_wide(docs)
    sig = F.array(*[F.col(f"mh{k}") for k in range(MINHASH_K)])
    return mins.select(
        "doc_id", F.posexplode(sig).alias("k", "minhash")
    ).select("doc_id", F.col("k").cast("int").alias("k"), "minhash")


def _signature_wide(docs: DataFrame) -> DataFrame:
    hashed = _doc_shingles(docs).select(
        "doc_id", hash60_col(F.col("shingle")).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(_mh_col(F.col("h"), k)).alias(f"mh{k}") for k in range(MINHASH_K)]
    )


def minhash_pairs(
    docs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """(doc_id_a, doc_id_b, n_bands_shared, est_jaccard) — LSH candidate
    pairs (>=1 shared band of the 8x4 banding) with their signature-
    agreement Jaccard estimate.

    Band keys shared by more than ``BAND_CAP`` docs are dropped before
    the self-join — the standard LSH hot-bucket cut. A boilerplate band
    value shared by m docs produces an m^2 candidate blow-up in ONE
    task (the join key is the band), so the cap is the skew bound; the
    docs it drops are exact/near-exact clusters that exact dedup
    already catches, so the near-dup signal lost is nil.

    The wide signature relation is deliberately NOT pinned despite its
    five downstream consumers: AQE's runtime exchange reuse already
    dedupes the identical band-explode subplans on both self-join
    sides and the band-frequency cap, and cold fresh-process A/B at
    sf1 measured a pin as neutral (16.6-18.3 s both variants, tracking
    host steal) — so a persistent K+1-longs-per-doc cache footprint
    would buy nothing by default. ``checkpoint_dir`` still opts into a
    reliable checkpoint of the signatures for long cluster runs, where
    the concern is executor-loss resilience of the multi-consumer
    lineage, not wall time.
    """
    wide = _signature_wide(docs)
    if checkpoint_dir is not None:
        wide = _pin(wide, checkpoint_dir)
    r = MINHASH_K // LSH_BANDS
    bands = wide.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",", *[F.col(f"mh{b * r + j}") for j in range(r)]
                        )
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    kept = bands.join(
        bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .filter(F.col("bdf") <= BAND_CAP)
        .select("band_idx", "band_key"),
        ["band_idx", "band_key"],
    )
    cand = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands_shared"))
    )
    agree = sum(
        F.when(F.col(f"a.mh{k}") == F.col(f"b.mh{k}"), 1).otherwise(0)
        for k in range(MINHASH_K)
    )
    sigs_a = wide.alias("a")
    sigs_b = wide.alias("b")
    est = (
        cand.join(sigs_a, cand.doc_id_a == F.col("a.doc_id"))
        .join(sigs_b, cand.doc_id_b == F.col("b.doc_id"))
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_bands_shared",
            round6_col(agree / float(MINHASH_K)).alias("est_jaccard"),
        )
    )
    return est


# SQL fragments built programmatically so the K/band constants stay in
# one place.

_SQL_SHINGLES = rf"""
sh AS (
    SELECT doc_id::BIGINT AS doc_id, unnest({sql_shingles('w')}) AS shingle
    FROM (SELECT doc_id, {sql_words('text')} AS w FROM documents)
)"""

_SQL_SIG_WIDE = (
    "shh AS (\n    SELECT doc_id, "
    + sql_hash60("shingle")
    + " AS h FROM sh\n),\nsig AS (\n    SELECT doc_id,\n           "
    + ",\n           ".join(
        f"min({_sql_mh('h', k)}) AS mh{k}" for k in range(MINHASH_K)
    )
    + "\n    FROM shh GROUP BY doc_id\n)"
)

SQL_MINHASH_SIGNATURES = rf"""
WITH {_SQL_SHINGLES},
{_SQL_SIG_WIDE},
arr AS (
    SELECT doc_id, [{", ".join(f"mh{k}" for k in range(MINHASH_K))}] AS sig
    FROM sig
)
SELECT doc_id, (i - 1)::INTEGER AS k, sig[i] AS minhash
FROM arr, unnest(range(1, {MINHASH_K + 1})) AS t(i)
"""

_R = MINHASH_K // LSH_BANDS
_SQL_BANDS = (
    "bands AS (\n    SELECT doc_id, band_idx, band_key FROM (\n"
    "        SELECT doc_id, unnest(["
    + ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"mh{b * _R + j}" for j in range(_R))
        + "))"
        for b in range(LSH_BANDS)
    )
    + "]) AS band_key,\n               generate_subscripts(["
    + ", ".join("1" for _ in range(LSH_BANDS))
    + "], 1) - 1 AS band_idx\n        FROM sig)\n)"
)

_SQL_AGREE = " + ".join(
    f"CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END" for k in range(MINHASH_K)
)

_SQL_KEPT_CAND = rf"""kept AS (
    SELECT bands.* FROM bands
    JOIN (SELECT band_idx, band_key FROM bands GROUP BY 1, 2
          HAVING count(*) <= {BAND_CAP}) k USING (band_idx, band_key)
),
cand AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           count(*)::BIGINT AS n_bands_shared
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""

SQL_MINHASH_PAIRS = rf"""
WITH {_SQL_SHINGLES},
{_SQL_SIG_WIDE},
{_SQL_BANDS},
{_SQL_KEPT_CAND}
SELECT doc_id_a, doc_id_b, n_bands_shared,
       round(({_SQL_AGREE}) / {float(MINHASH_K)} + 1e-9, 6) AS est_jaccard
FROM cand
JOIN sig sa ON cand.doc_id_a = sa.doc_id
JOIN sig sb ON cand.doc_id_b = sb.doc_id
"""


# --- Near-dup clustering (connected components) -----------------------------

GROUP_MIN_JACCARD = 0.5  # edge threshold: signature-agreement estimate


CC_LOCAL_EDGE_THRESHOLD = 1 << 16  # driver union-find below this


def _cc_local(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find over a driver-local edge list; returns (node, min-id
    label) rows, sorted for determinism."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return sorted((n, find(n)) for n in parent)


def connected_components(
    edges: DataFrame,
    max_rounds: int = 32,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, label) — connected components of an undirected graph given
    as an edge list (first two columns = endpoint int64 ids); ``label``
    is the component's min node id. Only nodes appearing in ``edges``
    are labeled (callers wanting singletons join back to their universe).

    Scale design (10^9 nodes): hash-min label propagation with pointer
    jumping. Each round every node takes the min label over itself and
    its neighbors (ONE shuffle over the symmetric edge list), then
    chases ``label -> label(label)`` once (pointer halving), giving
    O(log diameter) rounds instead of O(diameter). Every join key is a
    uniformly-distributed int64 id, so no skew; each round is
    materialized with its lineage cut so the plan never grows with the
    round count — pass ``checkpoint_dir`` for a reliable
    ``checkpoint()`` (executor-loss resilient, the production mode for
    a multi-hour 100 TB job); the default ``localCheckpoint`` is
    faster but pins blocks to executors. The driver loop iterates over ROUNDS
    (logarithmic), never over rows; convergence is detected by the
    strictly-decreasing label sum reaching a fixpoint.

    Small-graph fast path: the edge list is materialized anyway (the
    iteration needs it checkpointed), so when it holds fewer than
    ``CC_LOCAL_EDGE_THRESHOLD`` rows the components come from a
    driver-side union-find instead of O(log diameter) distributed
    rounds — same output, one job instead of ~3 per round. Near-dup
    graphs are almost always this shape (the pair join is hot-band
    capped upstream); a trillion-document corpus whose dup graph
    genuinely exceeds the threshold takes the distributed path.
    """
    a, b = edges.columns[:2]
    # Materialize the DIRECTED edge list first: symmetrizing an
    # unmaterialized plan would execute the (possibly expensive)
    # upstream pair pipeline once per union branch.
    e0 = _cut(edges.select(a, b).toDF("src", "dst"), checkpoint_dir)
    n_edges = e0.count()  # cheap: counts the checkpointed blocks
    if n_edges < CC_LOCAL_EDGE_THRESHOLD:
        rows = _cc_local([(r.src, r.dst) for r in e0.collect()])
        return e0.sparkSession.createDataFrame(
            rows or [], "node long, label long"
        )
    sym = _cut(e0.union(e0.select("dst", "src")), checkpoint_dir)
    labels = _cut(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        checkpoint_dir,
    )
    prev_sum = None
    for _ in range(max_rounds):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new = labels.join(nbr, labels.node == nbr.src, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nlabel", "label")
            ).alias("label"),
        )
        # pointer jump: label <- label(label); labels are always node
        # ids, so the chase target always exists (left join is belt)
        jump = new.select(
            F.col("node").alias("jn"), F.col("label").alias("jl")
        )
        new = _cut(
            new.join(jump, new.label == jump.jn, "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("jl", "label")
                ).alias("label"),
            ),
            checkpoint_dir,
        )
        cur_sum = new.agg(F.sum("label")).first()[0]
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_groups(
    docs: DataFrame,
    min_est_jaccard: float = GROUP_MIN_JACCARD,
    max_rounds: int = 32,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, group_id, group_size) — near-dup *clusters*: connected
    components (:func:`connected_components`) of the MinHash-LSH
    candidate graph restricted to pairs with
    ``est_jaccard >= min_est_jaccard``. ``group_id`` is the component's
    min doc_id (the canonical keeper a curation pipeline retains);
    every listed doc is in a component of size >= 2 by construction
    (singletons aren't dups). The edge list is BAND_CAP-bounded
    upstream, so component diameters are clone-cluster-tiny.
    """
    edges = (
        minhash_pairs(docs, checkpoint_dir=checkpoint_dir)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("doc_id_a", "doc_id_b")
    )
    labels = connected_components(
        edges, max_rounds=max_rounds, checkpoint_dir=checkpoint_dir
    )
    from pyspark.sql import Window

    w = Window.partitionBy("group_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("group_id")
        )
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .select("doc_id", "group_id", "group_size")
    )


SQL_DEDUP_GROUPS = rf"""
WITH RECURSIVE {_SQL_SHINGLES},
{_SQL_SIG_WIDE},
{_SQL_BANDS},
{_SQL_KEPT_CAND},
pairs AS (
    SELECT doc_id_a, doc_id_b
    FROM cand
    JOIN sig sa ON cand.doc_id_a = sa.doc_id
    JOIN sig sb ON cand.doc_id_b = sb.doc_id
    WHERE round(({_SQL_AGREE}) / {float(MINHASH_K)} + 1e-9, 6)
          >= {GROUP_MIN_JACCARD}
),
edges AS (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
lab AS (SELECT node AS doc_id, min(label) AS group_id FROM reach GROUP BY node)
SELECT doc_id, group_id,
       count(*) OVER (PARTITION BY group_id) AS group_size
FROM lab
"""


# --- SimHash --------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — ``SIMHASH_BITS``-bit (60) SimHash over
    tf-weighted word hashes; widened from 32 bits so the 15-bit band
    values stay cold at scale (see :func:`simhash_pairs`).

    bit_b = (sum over distinct terms of tf * sign_b(hash60(term))) > 0,
    sign_b in {-1, +1} from the term hash's bit b.
    """
    tf = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(words_col("text")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("h", hash60_col(F.col("term")))
    )
    sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", simhash.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """(doc_id_a, doc_id_b, hamming) — banded Hamming-distance pairs.

    The signature relation is :func:`_pin`-ned before the banded join:
    it feeds the band-frequency cap and both self-join sides, and the
    tokenize + 60-accumulator aggregation is the dominant cost. AQE
    exchange reuse makes the pin warm-neutral, but on the shape that
    matters — a cold one-shot job, fresh process per run — the pin won
    consistently at sf1 (14.4-15.8 s vs 17.3-19.9 s over 3 alternated
    reps; the 60-accumulator codegen/JIT is what reuse doesn't cover
    cold). The pinned relation is two longs per document — negligible
    at any scale; ``checkpoint_dir`` upgrades it to a reliable
    checkpoint for long cluster runs. The pin lives until the caller
    clears it (``spark.catalog.clearCache()``); until then Spark's cache
    manager also serves it to any later plan over the same signatures,
    e.g. a separate :func:`simhash_signatures` query.

    Candidates share at least one of 4 15-bit bands (pigeonhole-complete
    for hd <= 3); reported at hd <= HAMMING_MAX. Band values shared by
    more than ``BAND_CAP`` docs are dropped before the self-join — the
    same hot-bucket skew bound as :func:`minhash_pairs` (a boilerplate
    band value means one quadratic task at scale; those clusters are
    exact-dedup territory, not SimHash's). The 15-bit band width is the
    scale guard: with the old 8-bit bands every one of the 256 possible
    values is hot at web scale, so the cap silently dropped ALL
    candidates (recall -> 0 while 'running fine'); 32,768-value bands
    keep typical bucket populations under the cap — see
    tests/test_pipeline_units.py::test_simhash_wide_bands_survive_cap.
    """
    return banded_hamming_pairs(_pin(simhash_signatures(docs), checkpoint_dir))


def banded_hamming_pairs(
    sig: DataFrame,
    bits: int = SIMHASH_BITS,
    n_bands: int = SIMHASH_BANDS,
    cap: int = BAND_CAP,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Banded Hamming join over a (doc_id, simhash) relation — the
    candidate-generation core of :func:`simhash_pairs`, factored so the
    band-width/cap interaction is directly unit-testable on planted
    signatures."""
    width = bits // n_bands
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    kept = bands.join(
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .filter(F.col("bdf") <= cap)
        .select("band_idx", "band_val"),
        ["band_idx", "band_val"],
    )
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= hamming_max)
    )
    return pairs


_SQL_SIMHASH_SUMS = (
    "sums AS (\n    SELECT doc_id,\n           "
    + ",\n           ".join(
        f"sum(tf * (((h >> {b}) & 1) * 2 - 1)) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    + "\n    FROM tf GROUP BY doc_id\n)"
)

_SQL_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

_SQL_SIMHASH_BASE = rf"""
tf AS (
    SELECT doc_id::BIGINT AS doc_id, term, count(*)::BIGINT AS tf,
           {sql_hash60('term')} AS h
    FROM (
        SELECT doc_id, unnest({sql_words('text')}) AS term FROM documents
    )
    GROUP BY doc_id, term
),
{_SQL_SIMHASH_SUMS},
sig AS (
    SELECT doc_id, ({_SQL_SIMHASH_VAL})::BIGINT AS simhash FROM sums
)"""

SQL_SIMHASH_SIGNATURES = rf"""
WITH {_SQL_SIMHASH_BASE}
SELECT doc_id, simhash FROM sig
"""

_W = SIMHASH_BITS // SIMHASH_BANDS
SQL_SIMHASH_PAIRS = rf"""
WITH {_SQL_SIMHASH_BASE},
bands AS (
    SELECT doc_id, simhash,
           unnest([{", ".join(f"(simhash >> {b * _W}) & {(1 << _W) - 1}" for b in range(SIMHASH_BANDS))}]) AS band_val,
           generate_subscripts([{", ".join("1" for _ in range(SIMHASH_BANDS))}], 1) - 1 AS band_idx
    FROM sig
),
kept AS (
    SELECT bands.* FROM bands
    JOIN (SELECT band_idx, band_val FROM bands GROUP BY 1, 2
          HAVING count(*) <= {BAND_CAP}) k USING (band_idx, band_val)
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
FROM kept a JOIN kept b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


# --- n-gram Jaccard -------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """(doc_id_a, doc_id_b, n_common, jaccard) — exact Jaccard over
    distinct word 3-gram sets, for pairs sharing >= 1 (df-capped) shingle.

    DF_CAP drops shingles appearing in more than DF_CAP documents before
    the pair join (skew + quality: boilerplate shingles are the hot keys
    and carry no near-dup signal). Jaccard denominators use the uncapped
    per-doc shingle counts.

    The df-capped ``rare`` relation is NOT pinned by default despite
    feeding both self-join sides: AQE's runtime exchange reuse covers
    the identical shingle-shuffled subplans, and quiet-window A/B at
    both sf0.1 and sf1 measured a default pin as neutral-to-slightly-
    worse (the cache write of one row per shingle occurrence costs
    more than the reuse saves). ``checkpoint_dir`` opts into a
    reliable checkpoint of ``rare`` for long cluster runs where
    executor-loss resilience of the multi-consumer lineage matters.
    """
    sh = _doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    rare = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("shingle"),
        "shingle",
    )
    if checkpoint_dir is not None:
        rare = _pin(rare, checkpoint_dir)
    inter = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_id_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("n_sh", "n_b")
    j = (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_common",
            round6_col(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )
    return j


SQL_NGRAM_JACCARD_PAIRS = rf"""
WITH {_SQL_SHINGLES},
sizes AS (
    SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id
),
rare AS (
    SELECT sh.doc_id, sh.shingle FROM sh
    JOIN (SELECT shingle FROM sh GROUP BY shingle
          HAVING count(*) <= {DF_CAP}) r USING (shingle)
),
inter AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           count(*)::BIGINT AS n_common
    FROM rare a JOIN rare b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, n_common,
       round(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE + 1e-9, 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.doc_id_a = sa.doc_id
JOIN sizes sb ON inter.doc_id_b = sb.doc_id
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common)::DOUBLE + 1e-9, 6) >= {JACCARD_MIN}
"""


# --- line-level boilerplate dedup (CCNet-style) -----------------------------

LINE_WORDS = 8            # synthetic line width (words) for the gate corpus
LINE_DUP_MIN_DOCS = 10    # a line in >= this many docs of one source is
                          # boilerplate (nav/footer/copyright) and dropped


def synth_multiline_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, lines array<string>) — deterministic multi-line
    reshaping of the documents corpus: the text is re-wrapped into
    ``LINE_WORDS``-word lines and every doc gains its source's two
    boilerplate lines (a copyright footer and a nav header) — the
    planted duplicates :func:`line_dedup` must remove. In-query
    synthesis, mirrored verbatim in the oracle SQL (the driver corpus
    is single-line word soup with no real boilerplate)."""
    # fence the token array behind a one-row Generate so the transform
    # lambda below references a computed attribute — without it,
    # CollapseProject inlines the tokenizer regex into EVERY line
    # slice, one tokenizer pass per synthesized line (the fingerprints
    # O(len^2) bug pattern)
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source"),
        F.explode(F.array(words_col("text"))).alias("w"),
    )
    w = F.col("w")
    n_lines = F.ceil(F.size(w) / F.lit(LINE_WORDS)).cast("int")
    content = F.transform(
        F.sequence(F.lit(0), F.greatest(n_lines, F.lit(1)) - 1),
        lambda i: F.array_join(
            F.slice(w, i * LINE_WORDS + 1, LINE_WORDS), " "
        ),
    )
    header = F.concat(F.lit("home | about | "), F.col("source"))
    footer = F.concat(F.lit("(c) "), F.col("source"),
                      F.lit(" all rights reserved"))
    return toks.select(
        "doc_id",
        "source",
        F.concat(F.array(header), content, F.array(footer)).alias("lines"),
    )


def line_dedup(
    docs_lines: DataFrame,
    min_docs: int = LINE_DUP_MIN_DOCS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, n_lines, n_kept, n_dropped, clean_hash) — remove lines
    that appear in >= ``min_docs`` DISTINCT documents of the same
    source (the CCNet/RefinedWeb boilerplate pass: navs, footers,
    cookie banners repeat across a site's pages; genuine content
    doesn't). ``clean_hash`` is md5 over the kept lines joined with
    newline in original order, so the gate hashes the rebuilt text
    without shipping it to the driver.

    Scale shape (100 TB): lines explode once; the boilerplate-line
    detection is groupBy (source, line_hash) over DISTINCT
    (source, line_hash, doc_id) — both hash aggregates with map-side
    partials, keys bounded by distinct lines, never all-pairs. The dup
    set (lines over threshold) is tiny — boilerplate by definition —
    so the exclusion join broadcasts under AQE; reassembly is ONE
    Exchange keyed by doc_id carrying only kept lines. No Python, no
    window over the corpus.
    """
    lines = docs_lines.select(
        "doc_id",
        "source",
        F.posexplode(F.col("lines")).alias("pos", "line"),
    ).withColumn("lh", hash60_col(F.col("line")))
    # materialize ONCE: the relation feeds both the dup-detection
    # aggregate and the probe side of the exclusion join — without the
    # barrier the synthesis + tokenization + explode would run twice.
    # Only double-execution is being avoided here, so the default is a
    # RECOMPUTABLE persist (executor loss recomputes, doesn't fail the
    # job); pass checkpoint_dir for a reliable checkpoint.
    lines = _pin(lines, checkpoint_dir)
    dup = (
        lines.select("source", "lh", "doc_id")
        .distinct()
        .groupBy("source", "lh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("source", "lh")
    )
    # no broadcast hint: the boilerplate set is tiny by construction on
    # healthy corpora, and AQE broadcasts it when it fits — forcing the
    # hint would pin an unbounded relation driver-side on degenerate
    # (clone-heavy) inputs
    marked = lines.join(dup.withColumn("is_dup", F.lit(True)),
                        ["source", "lh"], "left")
    # collect_list skips the NULLs the when() yields for dup lines, so
    # the array holds exactly the kept (pos, line) structs
    kept = F.array_sort(
        F.collect_list(
            F.when(
                ~F.coalesce(F.col("is_dup"), F.lit(False)),
                F.struct(F.col("pos"), F.col("line")),
            )
        )
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            kept.alias("kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("kept").cast("long").alias("n_kept"),
            (F.col("n_lines") - F.size("kept")).cast("long").alias("n_dropped"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(F.col("kept"), lambda s: s.getField("line")),
                        "\n",
                    ),
                    "utf-8",
                )
            ).alias("clean_hash"),
        )
    )


def line_dedup_gate(docs: DataFrame) -> DataFrame:
    """The driver gate: synthesis + dedup composed."""
    return line_dedup(synth_multiline_docs(docs))


SQL_LINE_DEDUP = rf"""
WITH base AS (
    SELECT doc_id::BIGINT AS doc_id, source, {sql_words('text')} AS w
    FROM documents
),
shaped AS (
    SELECT doc_id, source,
           ['home | about | ' || source]
           || list_transform(
                  range(0, greatest(CAST(ceil(len(w) / {LINE_WORDS}.0) AS INTEGER), 1)),
                  i -> array_to_string(
                      list_slice(w, i * {LINE_WORDS} + 1, (i + 1) * {LINE_WORDS}), ' ')
              )
           || ['(c) ' || source || ' all rights reserved'] AS lines
    FROM base
),
lines AS (
    SELECT doc_id, source, u.s.pos AS pos, u.s.line AS line,
           {sql_hash60('u.s.line')} AS lh
    FROM shaped,
         unnest(list_transform(
             range(0, len(lines)),
             i -> {{'pos': i, 'line': lines[i + 1]}}
         )) AS u(s)
),
dup AS (
    SELECT source, lh
    FROM (SELECT DISTINCT source, lh, doc_id FROM lines)
    GROUP BY source, lh
    HAVING count(*) >= {LINE_DUP_MIN_DOCS}
),
marked AS (
    SELECT l.doc_id, l.pos, l.line,
           (d.lh IS NOT NULL) AS is_dup
    FROM lines l LEFT JOIN dup d
      ON l.source = d.source AND l.lh = d.lh
)
SELECT doc_id,
       count(*)::BIGINT AS n_lines,
       count(*) FILTER (WHERE NOT is_dup)::BIGINT AS n_kept,
       count(*) FILTER (WHERE is_dup)::BIGINT AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE NOT is_dup), '')) AS clean_hash
FROM marked
GROUP BY doc_id
"""


# --- duplicated-span detection (exact-substring dedup approximation) --------

SPAN_N = 20        # tokens per span window
SPAN_MIN_DF = 2    # a span in >= this many distinct docs is duplicated


def synth_quoted_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) with planted cross-document quotes: every 5th doc
    gains shared quote A, every 7th shared quote B (25 tokens each, so
    several overlapping SPAN_N windows match across docs). In-query
    synthesis mirrored in the oracle — the driver corpus is unique word
    soup with no natural long shared substrings."""
    did = F.col("doc_id").cast("long")
    quote_a = " " + " ".join(f"qa{j}" for j in range(25))
    quote_b = " " + " ".join(f"qb{j}" for j in range(25))
    text = F.col("text")
    text = F.when(did % 5 == 0, F.concat(text, F.lit(quote_a))).otherwise(text)
    text = F.when(did % 7 == 0, F.concat(text, F.lit(quote_b))).otherwise(text)
    return docs.select(did.alias("doc_id"), text.alias("text"))


def _span_hashes(docs: DataFrame, span_n: int) -> DataFrame:
    """(doc_id, span_start, sh) — every ``span_n``-token sliding window
    of every document, 0-based start token index, 60-bit window hash.
    Documents shorter than ``span_n`` tokens yield ONE row with NULL
    ``span_start``/``sh`` (``explode_outer``) so per-doc consumers see
    them with zero spans instead of losing them (ADVICE r4).

    The token array is fenced behind a one-row Generate so the window
    lambda references a COMPUTED attribute: without the fence
    CollapseProject inlines the tokenizer regex into every window
    position (O(len^2) per doc, the measured fingerprints
    anti-pattern); with it each window is one array slice+join.
    """
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array(words_col("text"))).alias("w"),
    )
    w = F.col("w")
    idx = F.when(
        F.size(w) >= span_n,
        F.sequence(F.lit(1), F.size(w) - span_n + 1),
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "doc_id",
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.struct(
                    (i - 1).cast("long").alias("span_start"),
                    hash60_col(
                        F.array_join(F.slice(w, i, span_n), " ")
                    ).alias("sh"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.span_start"), F.col("s.sh"))


def _dup_span_df(spans: DataFrame) -> DataFrame:
    """(sh, span_docs) — window hashes occurring in >= SPAN_MIN_DF
    distinct documents (the duplicated-span set). NULL hashes (the
    short-doc placeholder rows) are excluded before the aggregate."""
    return (
        spans.filter(F.col("sh").isNotNull())
        .select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("span_docs"))
        .filter(F.col("span_docs") >= SPAN_MIN_DF)
    )


def dup_spans(
    docs: DataFrame,
    span_n: int = SPAN_N,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans, n_distinct_dup_spans, max_span_df)
    — the practical form of exact-substring training-data dedup (Lee et
    al. 2022 use suffix arrays; at cluster scale the standard
    approximation is fixed-width token-window hashing): every
    ``span_n``-token sliding window is hashed, a window whose hash
    occurs in >= SPAN_MIN_DF distinct documents is a duplicated span,
    and each document reports how much of it is duplicated material.
    Downstream, a curation pass cuts or down-weights those spans.

    Scale shape: windows explode once (positions x docs, pipelined into
    the aggregates — never collected); span df is a hash aggregate over
    DISTINCT (hash, doc) with map-side partials; the duplicated-span
    set joins back broadcast (it is small unless the corpus is mostly
    clones — in which case document-level dedup upstream already fired);
    the per-doc rollup is one Exchange keyed doc_id. Same plan family
    as :func:`line_dedup`.

    Documents shorter than ``span_n`` tokens are REPORTED (all-zero
    counts), not dropped — a downstream per-doc consumer joining on
    doc_id sees every input document (ADVICE r4).
    """
    # materialize ONCE (feeds the df-agg AND the probe side); default
    # is a recomputable persist, checkpoint_dir upgrades to reliable
    spans = _pin(_span_hashes(docs, span_n), checkpoint_dir)
    span_df = _dup_span_df(spans)
    # no broadcast hint: the duplicated-span set is small on healthy
    # corpora but UNBOUNDED on clone-heavy ones — AQE picks broadcast
    # when it fits and falls back to a shuffle join when it doesn't
    marked = spans.join(span_df, "sh", "left")
    return marked.groupBy("doc_id").agg(
        F.count("sh").cast("long").alias("n_spans"),
        F.count("span_docs").cast("long").alias("n_dup_spans"),
        F.count_distinct(
            F.when(F.col("span_docs").isNotNull(), F.col("sh"))
        ).cast("long").alias("n_distinct_dup_spans"),
        F.coalesce(F.max("span_docs"), F.lit(0)).cast("long")
        .alias("max_span_df"),
    )


def dup_spans_gate(docs: DataFrame) -> DataFrame:
    """Driver gate: planted-quote synthesis + span detection."""
    return dup_spans(synth_quoted_docs(docs))


def dup_span_offsets(
    docs: DataFrame,
    span_n: int = SPAN_N,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_docs) — the actual duplicated-window
    OFFSETS (0-based start token index, window length ``span_n``),
    one row per duplicated window occurrence. This is what a curation
    pass needs to cut or down-weight duplicated material;
    :func:`dup_spans` reports only per-doc counts (VERDICT r4 #7).
    Same plan family: windows explode once, df-agg, one equi-join.
    """
    spans = _pin(_span_hashes(docs, span_n), checkpoint_dir)
    return (
        spans.join(_dup_span_df(spans), "sh")
        .select("doc_id", "span_start", F.col("span_docs").cast("long"))
    )


def cut_dup_spans(
    docs: DataFrame,
    span_n: int = SPAN_N,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, n_dup_windows, n_cut_tokens, clean_hash) —
    rebuild each document with every token covered by a duplicated
    window removed (the cut step of exact-substring dedup, Lee et al.
    2022 §4: drop the duplicated spans, keep the unique remainder).
    ``clean_hash`` is md5 over the kept tokens joined with single
    spaces in original order — the gate hashes the rebuilt text without
    shipping it to the driver, like :func:`line_dedup`'s ``clean_hash``.

    Scale shape: the duplicated-window starts per doc are collected
    into ONE array (bounded: windows whose hash is shared by >=
    SPAN_MIN_DF docs — boilerplate-sized on healthy corpora), joined
    back to the token arrays on doc_id, and the cut is a per-row JVM
    ``filter(w, (tok, i) -> !exists(starts, s -> s <= i < s+n))`` —
    no per-token shuffle, one doc_id Exchange for the starts join.
    """
    offsets = dup_span_offsets(docs, span_n, checkpoint_dir)
    starts_per_doc = offsets.groupBy("doc_id").agg(
        F.collect_set("span_start").alias("starts")
    )
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        # one-row Generate fence (see _span_hashes): the filter/exists
        # lambdas below must reference a COMPUTED token array
        F.explode(F.array(words_col("text"))).alias("w"),
    )
    joined = toks.join(starts_per_doc, "doc_id", "left").select(
        "doc_id",
        "w",
        F.coalesce(
            F.col("starts"), F.array().cast("array<long>")
        ).alias("starts"),
    )
    kept = F.filter(
        F.col("w"),
        lambda x, i: ~F.exists(
            F.col("starts"),
            lambda s: (i.cast("long") >= s)
            & (i.cast("long") < s + F.lit(span_n)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size("starts").cast("long").alias("n_dup_windows"),
        (F.size("w") - F.size(kept)).cast("long").alias("n_cut_tokens"),
        F.md5(F.encode(F.array_join(kept, " "), "utf-8")).alias("clean_hash"),
    )


def cut_dup_spans_gate(docs: DataFrame) -> DataFrame:
    """Driver gate: planted-quote synthesis + offsets + cut."""
    return cut_dup_spans(synth_quoted_docs(docs))


_SQL_QUOTE_A = " " + " ".join(f"qa{j}" for j in range(25))
_SQL_QUOTE_B = " " + " ".join(f"qb{j}" for j in range(25))

SQL_DUP_SPANS = f"""
WITH quoted AS (
    SELECT doc_id::BIGINT AS doc_id,
           text
           || CASE WHEN doc_id % 5 = 0 THEN '{_SQL_QUOTE_A}' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN '{_SQL_QUOTE_B}' ELSE '' END
               AS text
    FROM documents
),
toks AS (
    SELECT doc_id, {sql_words('text')} AS w FROM quoted
),
spans AS (
    SELECT doc_id,
           (i - 1)::BIGINT AS span_start,
           {sql_hash60("array_to_string(list_slice(w, i, i + " + str(SPAN_N - 1) + "), ' ')")}
               AS sh
    FROM toks,
         unnest(range(1, greatest(len(w) - {SPAN_N} + 2, 2))) AS t(i)
    WHERE len(w) >= {SPAN_N}
),
span_df AS (
    SELECT sh, count(*)::BIGINT AS span_docs
    FROM (SELECT DISTINCT doc_id, sh FROM spans)
    GROUP BY sh
    HAVING count(*) >= {SPAN_MIN_DF}
),
rollup AS (
    SELECT s.doc_id,
           count(*)::BIGINT AS n_spans,
           count(d.span_docs)::BIGINT AS n_dup_spans,
           count(DISTINCT CASE WHEN d.span_docs IS NOT NULL THEN s.sh END)::BIGINT
               AS n_distinct_dup_spans,
           coalesce(max(d.span_docs), 0)::BIGINT AS max_span_df
    FROM spans s LEFT JOIN span_df d USING (sh)
    GROUP BY s.doc_id
)
SELECT t.doc_id,
       coalesce(r.n_spans, 0)::BIGINT AS n_spans,
       coalesce(r.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(r.n_distinct_dup_spans, 0)::BIGINT AS n_distinct_dup_spans,
       coalesce(r.max_span_df, 0)::BIGINT AS max_span_df
FROM toks t LEFT JOIN rollup r USING (doc_id)
"""

SQL_CUT_DUP_SPANS = f"""
WITH quoted AS (
    SELECT doc_id::BIGINT AS doc_id,
           text
           || CASE WHEN doc_id % 5 = 0 THEN '{_SQL_QUOTE_A}' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN '{_SQL_QUOTE_B}' ELSE '' END
               AS text
    FROM documents
),
toks AS (
    SELECT doc_id, {sql_words('text')} AS w FROM quoted
),
spans AS (
    SELECT doc_id,
           (i - 1)::BIGINT AS span_start,
           {sql_hash60("array_to_string(list_slice(w, i, i + " + str(SPAN_N - 1) + "), ' ')")}
               AS sh
    FROM toks,
         unnest(range(1, greatest(len(w) - {SPAN_N} + 2, 2))) AS t(i)
    WHERE len(w) >= {SPAN_N}
),
span_df AS (
    SELECT sh, count(*)::BIGINT AS span_docs
    FROM (SELECT DISTINCT doc_id, sh FROM spans)
    GROUP BY sh
    HAVING count(*) >= {SPAN_MIN_DF}
),
offsets AS (
    SELECT s.doc_id, s.span_start
    FROM spans s JOIN span_df d USING (sh)
),
starts AS (
    SELECT doc_id,
           count(DISTINCT span_start)::BIGINT AS n_dup_windows
    FROM offsets GROUP BY doc_id
),
cutpos AS (
    SELECT DISTINCT o.doc_id, u.p
    FROM offsets o,
         unnest(range(o.span_start, o.span_start + {SPAN_N})) AS u(p)
),
tokpos AS (
    SELECT t.doc_id, t.w[u.i + 1] AS tok, u.i
    FROM toks t, unnest(range(0, len(t.w))) AS u(i)
),
keptagg AS (
    SELECT tp.doc_id,
           count(*)::BIGINT AS n_kept,
           string_agg(tp.tok, ' ' ORDER BY tp.i) AS kept_text
    FROM tokpos tp
    LEFT JOIN cutpos c ON tp.doc_id = c.doc_id AND tp.i = c.p
    WHERE c.p IS NULL
    GROUP BY tp.doc_id
)
SELECT t.doc_id,
       len(t.w)::BIGINT AS n_tokens,
       coalesce(s.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       (len(t.w) - coalesce(k.n_kept, 0))::BIGINT AS n_cut_tokens,
       md5(coalesce(k.kept_text, '')) AS clean_hash
FROM toks t
LEFT JOIN starts s USING (doc_id)
LEFT JOIN keptagg k USING (doc_id)
"""
