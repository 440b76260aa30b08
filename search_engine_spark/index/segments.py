"""Compressed index segments: one builder with two input fronts,
checkpoint/resume, lineage, metrics.

Layout v2 (parquet-backed; an Iceberg table would use the same schema
with a ``bucket(n, url)`` partition transform — the sandbox has no
Iceberg runtime jars, so this is the documented fallback per SURVEY.md
§7.4):

    <out_dir>/
      layout.json               written FIRST: n_buckets, mode, k1, b,
                                codec version — resume validation record
      index/bucket=K/*.parquet  unified rows (``INDEX_SCHEMA``),
                                discriminated by ``kind``:
                                kind=0 doc rows  (doc_idx, url, dl)
                                kind=1 term rows (term_hash, term, df,
                                postings, blockmeta)
      termstats/*.parquet       (term, term_hash, df, idf) global
      lineage.parquet           one row per committed bucket per run:
                                its segment_path relative to <out_dir>,
                                doc count and dl sum
      metrics.parquet           per-bucket throughput/size rows
      stats.json                written LAST (completion marker):
                                N, avgdl, n_buckets, k1, b

**One builder, two fronts.** Every index is written by one driver
(:func:`_build`: layout record, resume, commit, stats/termstats) around
one Arrow kernel per bucket. A *front* turns the bucket's Arrow
input into its docs (urls, dl in doc_idx order), a term dictionary and
the (term code, doc, tf) postings sorted by term then doc; the shared
encode tail emits the doc rows, then one term row per distinct term:
batched varint/PFor encode and the 60-bit term hash. The fronts:

- text (:func:`build_segments`) — tokenize once (pyarrow C++
  utf8_lower + utf8_split_whitespace), dictionary-encode, one in-place
  sort of int64 (term, doc) keys, run-length into tf;
- postings (:func:`build_segments_from_postings`, generation
  compaction) — rows already decoded from segments
  (:func:`read_postings_relation`: one batched decode pass per bucket,
  ``codec.decode_postings_batch``, and Arrow ``take`` for the term, url
  and dl columns): doc boundaries, term dictionary-encode, argsort.

**Four Spark jobs, no read-back.** A build runs the bucket kernel's
write (its shuffle, none in map-side mode, and its write) and the
termstats aggregate (its shuffle and its write), and nothing else.
Every internal parquet read declares its schema (``INDEX_SCHEMA``,
``TERMSTATS_SCHEMA``, ``LINEAGE_SCHEMA``, ``METRICS_SCHEMA``). The
kernel reports each bucket's counts through an accumulator, so the
commit writes lineage and metrics with pyarrow on the driver from
those counts, and the committed-bucket set, N and avgdl are read back
from lineage with pyarrow (n_buckets rows): no Spark job scans the
index it has just written. A build over a complete index runs none.

**One corpus pass.** The text front tokenizes exactly once and the
kernel needs nothing else: the codec's block metadata stores the
avgdl-independent bound pair ``(max_tf, min_dl)`` (codec.py), so
nothing in a segment depends on corpus-global statistics and no
pre-pass over the corpus is needed. N and avgdl are sums of the
lineage rows' doc counts and dl sums; idf comes from the
vocabulary-sized termstats aggregate over the written term rows — no
text involved.

Partitioning choice: **documents** are hash-partitioned into buckets and
each bucket holds a full mini-index over its docs (local dense doc_idx).
Query serving scatters every query to all buckets and gathers per-bucket
top-k (reference mode 4 scatter-gather, ``src/processor.rs:146-369``, but
doc-sharded instead of term-sharded — doc sharding keeps per-partition
top-k semantics exact and is how web-scale engines shard). Skew: bucket
sizes are uniform by url hash regardless of term distribution, so head
terms never concentrate a partition; the only term-keyed shuffle in a
build is the vocabulary-sized termstats aggregate.

Checkpoint/resume (north_rule): each bucket is an idempotent unit. A
bucket is *committed* iff a lineage row exists for it; on resume,
uncommitted bucket directories (partial writes from a crash) are deleted
and only missing buckets are rebuilt — the per-bucket output is a pure
function of the input corpus, so a resumed build is identical to an
uninterrupted one (tested in tests/test_segment_build.py). ``layout.json``
is written before any bucket and re-validated on resume: resuming with a
different bucket count (e.g. a changed file listing or
``spark.sql.files.maxPartitionBytes`` in map-side mode) fails fast
instead of silently renumbering buckets against the old lineage.
``stats.json`` is written only after every bucket has committed and
termstats is durable, so its presence IS the completion marker
(streaming/ingest.py gates generations on it).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .build import BM25_B, BM25_K1
from .codec import encode_postings_batch

CODEC_VERSION = 3

# The segment row format: kind=0 doc rows, kind=1 term rows. One parquet
# table carries both — the build emits them from ONE kernel and readers
# prune by ``kind`` (columnar reads never touch the other kind's
# columns; predicate pushdown skips its row groups). Every column is
# nullable, as written since layout v2.
INDEX_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("kind", IntegerType()),
        StructField("doc_idx", LongType()),
        StructField("url", StringType()),
        StructField("dl", LongType()),
        StructField("term_hash", LongType()),
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("postings", BinaryType()),
        StructField("blockmeta", BinaryType()),
    ]
)

# The global term statistics written once every bucket has committed.
TERMSTATS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("term_hash", LongType()),
        StructField("df", LongType()),
        StructField("idf", DoubleType()),
    ]
)

# Identity of a document decoded back from segments: a url may be
# captured again by a later generation, and each capture stays its own
# document, as in a text build over the same pages.
POSTINGS_DOC_KEY = ("url", "gen", "bucket", "doc_idx")

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("segment_path", StringType(), False),
        StructField("input_docs", LongType(), False),
        StructField("dl_sum", LongType(), False),
        StructField("committed_at", DoubleType(), False),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("bucket", IntegerType()),
        StructField("input_docs", LongType()),
        StructField("dl_sum", LongType()),
        StructField("n_terms", LongType()),
        StructField("n_postings", LongType()),
        StructField("segment_bytes", LongType()),
        StructField("encode_secs", DoubleType()),
        StructField("docs_per_sec", DoubleType()),
        StructField("postings_per_sec", DoubleType()),
    ]
)


def build_segments(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "run-0",
    k1: float = BM25_K1,
    b: float = BM25_B,
    fail_after_buckets: int | None = None,
    pfor: bool = False,
) -> dict:
    """Build (or resume) the compressed segment index for ``pages``.

    ``fail_after_buckets`` injects a crash after committing that many
    buckets — used by the resume test only.

    ``pfor=True`` lets every block choose the cheaper of varint and
    patched frame-of-reference (PForDelta) encoding — measured ~20-35%
    smaller postings at ~1.5-4x slower encode (bench'd in BASELINE.md);
    serving decodes both transparently. Default off: the headline
    metric is build docs/sec and the tokenizer-dominant build keeps the
    faster encoder; flip it when segment storage/scan bytes matter more
    than one-time encode cost (usually true at 100 TB).

    Returns a summary dict: buckets built, docs, avgdl, completeness,
    elapsed time and the wall time of each phase (encode + write,
    commit, finalize).
    """
    # Bucket layout — two modes:
    #   n_buckets > 0: url-hash bucketing (repartition + url sort) —
    #     deterministic under ANY input layout; used by tests/small runs.
    #     Secondary sort key xxhash64(text) pins the within-bucket order
    #     even when two docs share a url, so a resumed build is
    #     byte-identical to an uninterrupted one.
    #   n_buckets = 0: map-side — each INPUT PARTITION is a bucket and
    #     the corpus-sized data NEVER shuffles (this is how doc-sharded
    #     web indexes actually build: every shard indexes its own docs
    #     locally; only vocabulary-sized aggregates cross the wire).
    part = pages.select("url", "text")
    if n_buckets and n_buckets > 0:
        mode = "url-hash"
        part = part.repartition(n_buckets, "url").sortWithinPartitions(
            "url", F.xxhash64("text")
        )
    else:
        mode = "map-side"
        n_buckets = part.rdd.getNumPartitions()
    return _build(
        spark, part, _text_front, out_dir, n_buckets, mode, run_id, k1, b,
        pfor, fail_after_buckets,
    )


def build_segments_from_postings(
    spark: SparkSession,
    postings: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    run_id: str = "compact-0",
    k1: float = BM25_K1,
    b: float = BM25_B,
    pfor: bool = False,
) -> dict:
    """Build a segment index from postings decoded out of existing
    segments — the generation-compaction path (streaming/ingest.py): no
    text pass, same builder and layout as :func:`build_segments`, global
    stats (N, avgdl, idf) over the union, which is exactly what
    compaction exists to restore.

    ``postings`` has one row per (document, term): the document key
    ``POSTINGS_DOC_KEY`` — what :func:`read_postings_relation` yields
    plus a ``gen`` source ordinal — and ``term, tf, dl`` (``dl``
    repeated per row). ``pfor`` selects the per-block codec choice as in
    :func:`build_segments`.
    """
    part = (
        postings.select(*POSTINGS_DOC_KEY, "term", "tf", "dl")
        .repartition(n_buckets, "url")
        .sortWithinPartitions(*POSTINGS_DOC_KEY, "term")
    )
    return _build(
        spark, part, _postings_front, out_dir, n_buckets, "url-hash-postings",
        run_id, k1, b, pfor,
    )


def _build(
    spark, part, front, out_dir, n_buckets, mode, run_id, k1, b, pfor,
    fail_after_buckets=None,
) -> dict:
    """The one build driver: layout record and check, resume clean-up,
    the bucket kernel over ``front``, commit, then the stats/termstats
    finalize once every bucket is committed. Over a complete index it
    runs nothing and returns the recorded stats."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.monotonic()

    # Resume-safety: the bucket layout must match the recorded one, or a
    # resumed run would renumber buckets against the old lineage and
    # silently build a corrupted mixed index. Fail fast instead.
    layout_path = out / "layout.json"
    layout = {
        "n_buckets": n_buckets,
        "mode": mode,
        "k1": k1,
        "b": b,
        "codec": CODEC_VERSION,
        "pfor": pfor,
    }
    if layout_path.exists():
        prev = json.loads(layout_path.read_text())
        prev.setdefault("pfor", False)  # records from before the option
        if prev != layout:
            raise ValueError(
                f"index layout mismatch under {out_dir}: recorded {prev}, "
                f"recomputed {layout} — refusing to resume (a map-side "
                "build must see the identical input partitioning; delete "
                "the directory to rebuild from scratch)"
            )
    else:
        layout_path.write_text(json.dumps(layout))

    committed = set(_lineage(out).column("bucket").to_pylist())
    _clean_uncommitted(out, committed)

    todo = sorted(set(range(n_buckets)) - committed)
    if fail_after_buckets is not None:
        todo = todo[:fail_after_buckets]
    stats_path = out / "stats.json"
    phases = dict.fromkeys(("encode_write_secs", "commit_secs", "finalize_secs"), 0.0)
    if todo:
        t = time.monotonic()
        counts = _build_buckets(part, front, out, todo, pfor)
        t1 = time.monotonic()
        _commit_buckets(out, todo, counts, run_id)
        phases.update(encode_write_secs=t1 - t, commit_secs=time.monotonic() - t1)
    if todo or not stats_path.exists():
        # finalize once every bucket is committed: N and avgdl are sums
        # of the lineage rows (a double sum of ints, as Spark's avg(dl)
        # over the doc rows computes it), idf the termstats aggregate
        t = time.monotonic()
        lineage = _lineage(out)
        if len(set(lineage.column("bucket").to_pylist())) == n_buckets:
            n_docs = sum(lineage.column("input_docs").to_pylist())
            dl_sum = sum(lineage.column("dl_sum").to_pylist())
            _write_termstats(spark, out, n_docs)
            stats = {
                "n_docs": n_docs,
                "avgdl": dl_sum / n_docs if n_docs else 0.0,
                "n_buckets": n_buckets,
                "k1": k1,
                "b": b,
            }
            stats_path.write_text(json.dumps(stats))
        phases["finalize_secs"] = time.monotonic() - t
    stats = load_stats(out_dir) if stats_path.exists() else {}
    n_docs = stats.get("n_docs")
    elapsed = time.monotonic() - t0
    return {
        "built_buckets": len(todo),
        "n_docs": n_docs,
        "avgdl": stats.get("avgdl"),
        "complete": bool(stats),
        "elapsed_secs": elapsed,
        "docs_per_sec": n_docs / elapsed if todo and n_docs and elapsed > 0 else None,
        **phases,
    }


def _lineage(out: Path):
    """The committed lineage rows as an Arrow table, read on the driver
    with pyarrow (n_buckets rows, no Spark job); empty before the first
    commit."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(LINEAGE_SCHEMA)
    path = out / "lineage.parquet"
    if not path.exists():
        return schema.empty_table()
    return pq.read_table(path, schema=schema)


def _clean_uncommitted(out: Path, committed: set[int]) -> None:
    base = out / "index"
    if not base.exists():
        return
    for d in base.glob("bucket=*"):
        try:
            b = int(d.name.split("=", 1)[1])
        except ValueError:
            continue
        if b not in committed:
            shutil.rmtree(d)


_MID_MASK = (1 << 33) - 1


def _runs(sorted_vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the runs of equal values in a sorted array."""
    edge = np.ones(len(sorted_vals) + 1, dtype=bool)
    edge[1:-1] = sorted_vals[1:] != sorted_vals[:-1]
    bounds = np.flatnonzero(edge)
    return bounds[:-1], bounds[1:]


def _arrow_tokens(text_array):
    """Arrow-side reference tokenizer: lower + Unicode-whitespace split.

    Returns (flat tokens Array, doc_of int64, dl int64 per doc) with
    empty edge tokens dropped (utf8_split_whitespace keeps them; the
    reference's split_whitespace does not).
    """
    import pyarrow.compute as pc

    toks = pc.utf8_split_whitespace(pc.utf8_lower(text_array))
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = toks.values
    raw_counts = np.diff(offsets)
    doc_of = np.repeat(np.arange(len(raw_counts), dtype=np.int64), raw_counts)
    nonempty = pc.greater(pc.utf8_length(flat), 0)
    if not pc.all(nonempty).as_py():
        flat = flat.filter(nonempty)
        doc_of = doc_of[nonempty.to_numpy(zero_copy_only=False)]
    dl = np.bincount(doc_of, minlength=len(raw_counts)).astype(np.int64)
    return flat, doc_of, dl


def _text_front(tbl):
    """(url, text) rows in bucket order -> (urls, dl, term dictionary,
    p_codes, p_docs, p_tfs): tokenize, dictionary-encode, then one
    in-place sort of int64 ``(term code << 33) | doc`` keys whose runs
    are the postings."""
    import pyarrow.compute as pc

    flat, doc_of, dl = _arrow_tokens(tbl.column("text").combine_chunks())
    de = pc.dictionary_encode(flat)
    key = de.indices.to_numpy(zero_copy_only=False).astype(np.int64) << 33
    key |= doc_of
    key.sort()  # in place: the per-token hot path
    starts, ends = _runs(key)
    p_key = key[starts]
    return (
        tbl.column("url").combine_chunks(), dl, de.dictionary,
        p_key >> 33, p_key & _MID_MASK, ends - starts,
    )


def _postings_front(tbl):
    """Decoded postings rows sorted by ``(*POSTINGS_DOC_KEY, term)`` ->
    the same tuple as :func:`_text_front`: a document starts where its
    key changes, then term dictionary-encode and an argsort of the
    ``(term code << 33) | doc`` keys."""
    import pyarrow as pa
    import pyarrow.compute as pc

    urls = tbl.column("url").combine_chunks()
    new_doc = np.ones(len(urls), dtype=bool)
    new_doc[1:] = pc.not_equal(urls[1:], urls[:-1]).to_numpy(
        zero_copy_only=False
    )
    for c in POSTINGS_DOC_KEY[1:]:
        v = tbl.column(c).to_numpy()
        new_doc[1:] |= v[1:] != v[:-1]
    doc_starts = np.flatnonzero(new_doc)
    doc_of = np.cumsum(new_doc, dtype=np.int64) - 1
    te = pc.dictionary_encode(tbl.column("term").combine_chunks())
    codes = te.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort((codes << 33) | doc_of, kind="stable")
    tf = tbl.column("tf").to_numpy().astype(np.int64)
    return (
        urls.take(pa.array(doc_starts)),
        tbl.column("dl").to_numpy().astype(np.int64)[doc_starts],
        te.dictionary, codes[order], doc_of[order], tf[order],
    )


class _BucketCounts(AccumulatorParam):
    """Accumulator of the kernel's per-bucket counts, keyed by bucket:
    a retried task's entry replaces its earlier attempt's instead of
    adding to it."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, update):
        acc.update(update)
        return acc


def _build_buckets(part, front, out: Path, todo, pfor) -> dict:
    """The bucket kernel — ZERO-SHUFFLE fused map-side indexing.

    Each partition (= bucket) of ``part`` flows through ONE Arrow
    kernel that does the whole per-bucket index build in Arrow/numpy:
    ``front`` yields the docs and the sorted (term, doc, tf) postings
    (string data never becomes Python objects), the kernel emits the
    doc rows (doc_idx, url, dl), then the batched varint/block-meta
    encode with avgdl-independent (max_tf, min_dl) bounds. The input
    never crosses another exchange; the only shuffled relation after it
    is vocabulary-sized (termstats). This mirrors how doc-sharded web
    indexes scale: posting construction is embarrassingly parallel per
    shard.

    Returns ``{bucket: (docs, dl_sum, terms, postings, encoded bytes,
    encode secs)}`` for every bucket that held a document, reported by
    the kernel through one accumulator, so the commit needs no scan of
    what was written.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(INDEX_SCHEMA)
    part_f = part.filter(F.spark_partition_id().isin(list(todo)))
    counts = part.sparkSession.sparkContext.accumulator({}, _BucketCounts())

    def rows(bucket, kind, n, **cols):
        # one batch of n segment rows; the columns not given are null
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n, bucket, dtype=np.int32)),
                pa.array(np.full(n, kind, dtype=np.int32)),
            ]
            + [
                pa.array(cols[f.name], type=f.type, from_pandas=True)
                if f.name in cols
                else pa.nulls(n, type=f.type)
                for f in list(schema)[2:]
            ],
            schema=schema,
        )

    def encode_partition(batches):
        import hashlib

        from pyspark import TaskContext

        t_start = time.monotonic()
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        urls, dl, terms, p_codes, p_docs, p_tfs = front(tbl)
        bucket = TaskContext.get().partitionId()
        n_docs = len(urls)
        yield rows(bucket, 0, n_docs, doc_idx=np.arange(n_docs), url=urls, dl=dl)
        if len(p_codes) == 0:
            counts.add({bucket: (n_docs, int(dl.sum()), 0, 0, 0, None)})
            return
        starts, ends = _runs(p_codes)
        encoded = encode_postings_batch(
            p_docs, p_tfs, dl[p_docs], starts, ends, pfor=pfor
        )
        # Term strings via Arrow take (no Python string materialization);
        # hash60 per DISTINCT term only (vocabulary-sized) — identical to
        # int(md5[:15], 16) everywhere else in the engine.
        seg_terms = terms.take(pa.array(p_codes[starts], type=pa.int32()))
        hashes = np.array(
            [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in seg_terms.to_pylist()
            ],
            dtype=np.int64,
        )
        n_bytes = sum(len(e.postings) + len(e.blockmeta) for e in encoded)
        counts.add({bucket: (
            n_docs, int(dl.sum()), len(starts), len(p_codes), n_bytes,
            time.monotonic() - t_start,
        )})
        yield rows(
            bucket, 1, len(starts),
            term_hash=hashes,
            term=seg_terms,
            df=ends - starts,
            postings=[e.postings for e in encoded],
            blockmeta=[e.blockmeta for e in encoded],
        )

    part_f.mapInArrow(encode_partition, schema=INDEX_SCHEMA).write.partitionBy(
        "bucket"
    ).mode("append").parquet(str(out / "index"))
    return counts.value


def _commit_buckets(out: Path, todo, counts: dict, run_id: str) -> None:
    """Commit: lineage rows mark buckets durable; metrics ride along.

    Both are built from the kernel's per-bucket ``counts`` and written
    with pyarrow on the driver, metrics first: no Spark job runs and
    nothing written is read back. Every bucket of ``todo`` gets a
    lineage row (with zero docs if it held none); only a bucket with a
    term gets a metrics row.
    """
    now = time.time()
    metric_rows, lineage_rows = [], []
    for bkt in sorted(todo):
        docs, dl_sum, n_terms, n_postings, n_bytes, secs = counts.get(
            bkt, (0, 0, 0, 0, 0, None)
        )
        lineage_rows.append(
            (run_id, bkt, "committed", f"index/bucket={bkt}", docs, dl_sum, now)
        )
        if n_terms:
            metric_rows.append(
                (run_id, bkt, docs, dl_sum, n_terms, n_postings, n_bytes, secs,
                 docs / secs if secs else None,
                 n_postings / secs if secs else None)
            )
    _append_parquet(out / "metrics.parquet", METRICS_SCHEMA, metric_rows)
    _append_parquet(out / "lineage.parquet", LINEAGE_SCHEMA, lineage_rows)


def _append_parquet(table_dir: Path, schema: StructType, rows: list[tuple]) -> None:
    """Add ``rows`` to the parquet table at ``table_dir`` as one new
    part file, written hidden and renamed into place, so a reader sees
    all of the rows or none of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    table_dir.mkdir(exist_ok=True)
    names = schema.fieldNames()
    tbl = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    name = f"part-{uuid.uuid4()}.parquet"
    pq.write_table(tbl, table_dir / f".{name}")
    os.replace(table_dir / f".{name}", table_dir / name)


def bm25_idf_col(df_col, n_docs: int):
    """``ln(1 + (N - df + 0.5) / (df + 0.5))`` — the build's BM25 idf.

    Shared by the streaming global-stats merge
    (:func:`..streaming.ingest.merge_generation_stats`) so idf computed
    from union-merged document frequencies is bit-identical to a full
    rebuild's.
    """
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5))
        / (df_col + F.lit(0.5))
    )


def _write_termstats(spark: SparkSession, out: Path, n_docs: int) -> None:
    # Vocabulary-sized aggregation over the compact segment rows —
    # the ONLY shuffle in the whole build (term strings ride in the
    # dictionary-encoded parquet column, so no corpus pass, no join).
    seg = read_segments(spark, str(out))
    ts = (
        seg.groupBy("term", "term_hash")
        .agg(F.sum("df").cast("long").alias("df"))
        .withColumn("idf", bm25_idf_col(F.col("df"), n_docs))
        .select("term", "term_hash", "df", "idf")
    )
    ts.write.mode("overwrite").parquet(str(out / "termstats"))


def load_stats(out_dir: str) -> dict:
    return json.loads((Path(out_dir) / "stats.json").read_text())


def read_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The raw unified index rows (both kinds)."""
    return spark.read.schema(INDEX_SCHEMA).parquet(f"{out_dir}/index")


def read_segments(spark: SparkSession, out_dir: str) -> DataFrame:
    # term strings live in the segment rows themselves (parquet dictionary
    # encoding makes the column vocabulary-sized on disk)
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 1)
        .select(
            "bucket", "term_hash", "term", "df", "postings", "blockmeta"
        )
    )


def read_docmeta(spark: SparkSession, out_dir: str) -> DataFrame:
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 0)
        .select("bucket", "doc_idx", "url", "dl")
    )


def read_postings_relation(spark: SparkSession, out_dir: str) -> DataFrame:
    """Decode the compressed segments back to
    ``(url, bucket, doc_idx, term, tf, dl)``.

    The inverse of the build, with no text involved: one grouped Arrow
    scan per bucket decodes ALL of the bucket's posting lists in one
    :func:`~.codec.decode_postings_batch` pass, then builds the term,
    url and dl columns by index arithmetic (Arrow ``take`` over the
    bucket's term and doc rows), so no per-term call runs and no
    string becomes a Python object. ``(bucket, doc_idx)`` keeps
    documents that share a url apart. This is what generation
    compaction feeds into :func:`build_segments_from_postings`.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .codec import decode_postings_batch

    idx = read_index(spark, out_dir).select(
        "bucket", "kind", "doc_idx", "url", "dl", "term", "postings", "blockmeta"
    )
    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("bucket", IntegerType()),
            StructField("doc_idx", LongType()),
            StructField("term", StringType()),
            StructField("tf", LongType()),
            StructField("dl", LongType()),
        ]
    )
    out_schema = to_arrow_schema(schema)

    def decode_bucket(tbl: pa.Table) -> pa.Table:
        kind = tbl.column("kind").to_numpy()
        docs = tbl.filter(pa.array(kind == 0))
        terms = tbl.filter(pa.array(kind == 1))
        if docs.num_rows == 0 or terms.num_rows == 0:
            return out_schema.empty_table()
        # doc rows by doc_idx (dense 0..n-1 within the bucket)
        by_idx = np.empty(docs.num_rows, dtype=np.int64)
        by_idx[docs.column("doc_idx").to_numpy()] = np.arange(docs.num_rows)
        ids, tfs, offs = decode_postings_batch(
            terms.column("postings"), terms.column("blockmeta")
        )
        doc_rows = by_idx[ids]
        term_rows = np.repeat(np.arange(terms.num_rows), np.diff(offs))
        return pa.Table.from_arrays(
            [
                docs.column("url").take(doc_rows),
                pa.array(np.full(len(ids), tbl.column("bucket")[0].as_py(), np.int32)),
                pa.array(ids),
                terms.column("term").take(term_rows),
                pa.array(tfs.astype(np.int64)),
                pa.array(docs.column("dl").to_numpy()[doc_rows]),
            ],
            schema=out_schema,
        )

    return idx.groupBy("bucket").applyInArrow(decode_bucket, schema=schema)


def read_termstats(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(TERMSTATS_SCHEMA).parquet(f"{out_dir}/termstats")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/lineage.parquet")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(METRICS_SCHEMA).parquet(f"{out_dir}/metrics.parquet")
