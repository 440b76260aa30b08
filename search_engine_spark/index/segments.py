"""Compressed index segments: fused one-pass build, checkpoint/resume,
lineage, metrics.

Layout v2 (parquet-backed; an Iceberg table would use the same schema
with a ``bucket(n, url)`` partition transform — the sandbox has no
Iceberg runtime jars, so this is the documented fallback per SURVEY.md
§7.4):

    <out_dir>/
      layout.json               written FIRST: n_buckets, mode, k1, b,
                                codec version — resume validation record
      index/bucket=K/*.parquet  unified rows, discriminated by ``kind``:
                                kind=0 doc rows  (doc_idx, url, dl)
                                kind=1 term rows (term_hash, term, df,
                                postings, blockmeta, encode_secs)
      termstats/*.parquet       (term, term_hash, df, idf) global
      lineage.parquet           one row per committed bucket per run
      metrics.parquet           per-bucket throughput/size rows
      stats.json                written LAST (completion marker):
                                N, avgdl, n_buckets, k1, b

**One corpus pass.** Doc metadata and encoded postings are emitted by a
single mapInArrow kernel per bucket: tokenize once (pyarrow C++
utf8_lower + utf8_split_whitespace), yield the doc rows, then
dictionary-encode + sort + run-length + varint-encode the postings from
the same token arrays. This is possible because the codec's block
metadata stores the avgdl-independent bound pair ``(max_tf, min_dl)``
(codec.py): nothing in a segment depends on corpus-global statistics, so
no pre-pass over the corpus is needed and the dominant kernel cost
(tokenization) is paid exactly once. Global stats (N, avgdl, idf) are
derived afterwards from the *already-written* doc rows — a metadata-only
aggregation, no text involved.

Partitioning choice: **documents** are hash-partitioned into buckets and
each bucket holds a full mini-index over its docs (local dense doc_idx).
Query serving scatters every query to all buckets and gathers per-bucket
top-k (reference mode 4 scatter-gather, ``src/processor.rs:146-369``, but
doc-sharded instead of term-sharded — doc sharding keeps per-partition
top-k semantics exact and is how web-scale engines shard). Skew: bucket
sizes are uniform by url-hash regardless of term distribution, so head
terms never concentrate a shuffle partition; the term-partitioned variant
with explicit head-term salting lives in ``term_merge.py``.

Checkpoint/resume (north_rule): each bucket is an idempotent unit. A
bucket is *committed* iff a lineage row exists for it; on resume,
uncommitted bucket directories (partial writes from a crash) are deleted
and only missing buckets are rebuilt — the per-bucket output is a pure
function of the input corpus, so a resumed build is identical to an
uninterrupted one (tested in tests/test_segments_wand.py). ``layout.json``
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
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
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

CODEC_VERSION = 2

# Unified index-row schema: kind=0 doc rows, kind=1 term rows. One
# parquet table carries both — the build emits them from ONE kernel and
# readers prune by ``kind`` (columnar reads never touch the other kind's
# columns; predicate pushdown skips its row groups).
INDEX_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("kind", IntegerType(), False),
        StructField("doc_idx", LongType(), True),
        StructField("url", StringType(), True),
        StructField("dl", LongType(), True),
        StructField("term_hash", LongType(), True),
        StructField("term", StringType(), True),
        StructField("df", LongType(), True),
        StructField("postings", BinaryType(), True),
        StructField("blockmeta", BinaryType(), True),
        StructField("enc_bytes", LongType(), True),
        StructField("encode_secs", DoubleType(), True),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("segment_path", StringType(), False),
        StructField("input_docs", LongType(), False),
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


_PHASE_LOG = os.environ.get("SEGMENTS_PHASE_LOG", "") == "1"


class _phase:
    """Optional phase timer (SEGMENTS_PHASE_LOG=1) for build diagnostics."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        if _PHASE_LOG:
            print(
                f"[segments] {self.name}: {time.monotonic() - self.t0:.2f}s",
                file=sys.stderr,
                flush=True,
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

    Returns a summary dict (buckets built, docs, elapsed).
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.monotonic()

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

    committed = _committed_buckets(spark, out)
    _clean_uncommitted(out, committed)

    missing = sorted(set(range(n_buckets)) - committed)
    todo = missing
    if fail_after_buckets is not None:
        todo = todo[:fail_after_buckets]
    if todo:
        with _phase("build_buckets"):
            _build_buckets(spark, part, out, todo, run_id, pfor)

    complete = len(_committed_buckets(spark, out)) == n_buckets
    n_docs = avgdl = None
    if complete:
        # Corpus stats + global term stats from the committed index —
        # metadata-only aggregations (no corpus/text pass).
        with _phase("stats"):
            agg = (
                spark.read.parquet(str(out / "index"))
                .filter(F.col("kind") == 0)
                .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
                .collect()[0]
            )
        n_docs, avgdl = int(agg["n"]), float(agg["avgdl"] or 0.0)
        with _phase("termstats"):
            _write_termstats(spark, out, n_docs)
        stats = {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_buckets": n_buckets,
            "k1": k1,
            "b": b,
        }
        (out / "stats.json").write_text(json.dumps(stats))

    elapsed = time.monotonic() - t0
    return {
        "built_buckets": len(todo),
        "n_docs": n_docs,
        "avgdl": avgdl,
        "complete": complete,
        "elapsed_secs": elapsed,
        "docs_per_sec": (n_docs / elapsed) if (n_docs and elapsed > 0) else None,
    }


def _committed_buckets(spark: SparkSession, out: Path) -> set[int]:
    lineage = out / "lineage.parquet"
    if not lineage.exists():
        return set()
    rows = spark.read.parquet(str(lineage)).select("bucket").distinct().collect()
    return {r.bucket for r in rows}


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


def _build_buckets(spark, part, out: Path, todo, run_id, pfor=False) -> None:
    """The single corpus pass — ZERO-SHUFFLE fused map-side indexing.

    Each partition (= bucket) of ``part`` flows through ONE mapInArrow
    kernel that does the whole per-bucket index build in Arrow/numpy:
    tokenize (pyarrow C++ utf8_lower + utf8_split_whitespace — string
    data never becomes Python objects), emit the doc rows (doc_idx, url,
    dl), then dictionary-encode terms, sort+run-length into
    (term, doc, tf) postings, and the batched varint/block-meta encode
    with avgdl-independent (max_tf, min_dl) bounds. The corpus is
    tokenized exactly once and never crosses an exchange; the only
    shuffled relation in the whole build is vocabulary-sized (termstats).
    This mirrors how doc-sharded web indexes scale: posting construction
    is embarrassingly parallel per shard.
    """
    import pyarrow as pa

    todo_set = set(todo)
    part_f = part.filter(F.spark_partition_id().isin(list(todo_set)))

    arrow_schema = pa.schema(
        [
            ("bucket", pa.int32()),
            ("kind", pa.int32()),
            ("doc_idx", pa.int64()),
            ("url", pa.string()),
            ("dl", pa.int64()),
            ("term_hash", pa.int64()),
            ("term", pa.string()),
            ("df", pa.int64()),
            ("postings", pa.binary()),
            ("blockmeta", pa.binary()),
            ("enc_bytes", pa.int64()),
            ("encode_secs", pa.float64()),
        ]
    )

    def encode_partition(batches):
        import hashlib

        import pyarrow.compute as pc
        from pyspark import TaskContext

        t_start = time.monotonic()
        url_chunks, text_chunks = [], []
        for rb in batches:
            url_chunks.append(rb.column(0))
            text_chunks.append(rb.column(1))
        if not text_chunks:
            return
        bucket = TaskContext.get().partitionId()
        urls = pa.chunked_array(url_chunks).combine_chunks()
        text = pa.chunked_array(text_chunks).combine_chunks()
        flat, doc_of, dl = _arrow_tokens(text)
        n_docs = len(urls)

        def nulls(t):
            return pa.nulls(n_docs, type=t)

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n_docs, bucket, dtype=np.int32)),
                pa.array(np.zeros(n_docs, dtype=np.int32)),
                pa.array(np.arange(n_docs, dtype=np.int64)),
                urls,
                pa.array(dl),
                nulls(pa.int64()),
                nulls(pa.string()),
                nulls(pa.int64()),
                nulls(pa.binary()),
                nulls(pa.binary()),
                nulls(pa.int64()),
                nulls(pa.float64()),
            ],
            schema=arrow_schema,
        )
        if len(flat) == 0:
            return

        de = pc.dictionary_encode(flat)
        codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        # One int64 sort key: (term code << 33) | doc position.
        key = (codes << 33) | doc_of
        key.sort()
        codes_s = key >> 33
        docs_s = key & _MID_MASK
        new_run = np.concatenate(([True], key[1:] != key[:-1]))
        run_starts = np.flatnonzero(new_run)
        run_ends = np.concatenate((run_starts[1:], [len(key)]))
        p_codes = codes_s[run_starts]
        p_docs = docs_s[run_starts]
        p_tfs = (run_ends - run_starts).astype(np.int64)
        t_change = np.flatnonzero(
            np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
        )
        bounds = np.concatenate((t_change, [len(p_codes)]))
        starts, ends = bounds[:-1], bounds[1:]
        encoded = encode_postings_batch(
            p_docs, p_tfs, dl[p_docs], starts, ends, pfor=pfor
        )
        # Term strings via Arrow take (no Python string materialization);
        # hash60 per DISTINCT term only (vocabulary-sized) — identical to
        # int(md5[:15], 16) everywhere else in the engine.
        seg_terms = de.dictionary.take(
            pa.array(p_codes[starts], type=pa.int32())
        )
        hashes = np.array(
            [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in seg_terms.to_pylist()
            ],
            dtype=np.int64,
        )
        n_terms = len(starts)
        secs = np.full(n_terms, np.nan)
        if n_terms:
            secs[0] = time.monotonic() - t_start

        def tnulls(t):
            return pa.nulls(n_terms, type=t)

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n_terms, bucket, dtype=np.int32)),
                pa.array(np.ones(n_terms, dtype=np.int32)),
                tnulls(pa.int64()),
                tnulls(pa.string()),
                tnulls(pa.int64()),
                pa.array(hashes),
                seg_terms,
                pa.array((ends - starts).astype(np.int64)),
                pa.array([e.postings for e in encoded], type=pa.binary()),
                pa.array([e.blockmeta for e in encoded], type=pa.binary()),
                # per-term encoded size: lets the commit metrics sum a
                # cheap int column instead of scanning the binary bytes
                pa.array(
                    np.array(
                        [len(e.postings) + len(e.blockmeta) for e in encoded],
                        dtype=np.int64,
                    )
                ),
                pa.array(secs, from_pandas=True),  # NaN -> null
            ],
            schema=arrow_schema,
        )

    rows = part_f.mapInArrow(
        encode_partition,
        schema=(
            "bucket int, kind int, doc_idx long, url string, dl long, "
            "term_hash long, term string, df long, postings binary, "
            "blockmeta binary, enc_bytes long, encode_secs double"
        ),
    )
    with _phase("encode+write"):
        rows.write.partitionBy("bucket").mode("append").parquet(
            str(out / "index")
        )
    _commit_buckets(spark, out, todo_set, run_id)


def _commit_buckets(spark, out: Path, todo_set: set, run_id: str) -> None:
    """Commit: lineage rows mark buckets durable; metrics ride along.

    ONE scan of the freshly-written buckets computes everything driver-
    side (n_buckets rows): doc counts, dl sums, term/posting counts and
    the per-term ``enc_bytes`` sum — no binary column is ever read
    (summing length(postings) would scan the whole segment payload,
    a fixed serial tail that hurt the high-parallelism bench levels).
    The lineage and metrics rows go to Spark as pandas frames, i.e.
    Arrow-built LocalRelations: their writes run JVM-only tasks, where a
    pickled row list would add a Python task wave to every commit.
    """
    agg_rows = (
        spark.read.parquet(str(out / "index"))
        .filter(F.col("bucket").isin(list(todo_set)))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).alias("input_docs"),
            F.sum(F.when(F.col("kind") == 0, F.col("dl"))).alias("dl_sum"),
            F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).alias("n_terms"),
            F.sum(F.when(F.col("kind") == 1, F.col("df"))).alias("n_postings"),
            F.sum("enc_bytes").alias("segment_bytes"),
            F.max("encode_secs").alias("encode_secs"),
        )
        .collect()
    )
    by_bucket = {r.bucket: r for r in agg_rows}
    now = time.time()
    lineage_rows = [
        (run_id, int(bkt), "committed", f"{out}/index/bucket={bkt}",
         int(by_bucket[bkt].input_docs if bkt in by_bucket else 0), now)
        for bkt in sorted(todo_set)
    ]
    spark.createDataFrame(
        pd.DataFrame(lineage_rows, columns=LINEAGE_SCHEMA.fieldNames()),
        LINEAGE_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(out / "lineage.parquet"))

    metric_rows = []
    for bkt in sorted(todo_set):
        r = by_bucket.get(bkt)
        if r is None or not r.n_terms:
            continue
        es = float(r.encode_secs) if r.encode_secs is not None else None
        metric_rows.append(
            (run_id, int(bkt), int(r.input_docs), int(r.dl_sum or 0),
             int(r.n_terms), int(r.n_postings), int(r.segment_bytes or 0),
             es,
             (r.input_docs / es) if es else None,
             (r.n_postings / es) if es else None)
        )
    # None -> NaN in the float columns -> null again in the Arrow build
    spark.createDataFrame(
        pd.DataFrame(metric_rows, columns=METRICS_SCHEMA.fieldNames()),
        METRICS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(out / "metrics.parquet"))


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
    """Build a segment index from an already-tokenized postings relation
    ``(url, term, tf, dl)`` — one row per (url, term), ``dl`` repeated
    per row. No text pass: this is the generation-compaction path
    (streaming/ingest.py) where the inputs are decoded from existing
    segments, and it doubles as a general "index from relation" ctor
    (SURVEY.md §2 B2). Produces the same unified layout as
    :func:`build_segments`; global stats (N, avgdl, idf) are computed
    over the union, which is exactly what compaction exists to restore.
    ``pfor`` selects the same per-block codec choice as
    :func:`build_segments` — compaction passes the source index's
    recorded choice through so a PFor index stays PFor after merge.

    ``url`` must be unique per document across the input (each (url,
    term) row carries the doc's full tf — true for the union of
    doc-disjoint generations).
    """
    import pyarrow as pa

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.monotonic()

    part = postings.select("url", "term", "tf", "dl").repartition(
        n_buckets, "url"
    ).sortWithinPartitions("url", "term")

    layout_path = out / "layout.json"
    layout = {
        "n_buckets": n_buckets,
        "mode": "url-hash-postings",
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
                f"index layout mismatch under {out_dir}: {prev} != {layout}"
            )
    else:
        layout_path.write_text(json.dumps(layout))

    arrow_schema_str = (
        "bucket int, kind int, doc_idx long, url string, dl long, "
        "term_hash long, term string, df long, postings binary, "
        "blockmeta binary, enc_bytes long, encode_secs double"
    )

    def encode_partition(batches):
        import hashlib

        import pyarrow.compute as pc
        from pyspark import TaskContext

        t_start = time.monotonic()
        tbl_chunks = [pa.Table.from_batches([rb]) for rb in batches]
        if not tbl_chunks:
            return
        bucket = TaskContext.get().partitionId()
        tbl = pa.concat_tables(tbl_chunks).combine_chunks()
        if len(tbl) == 0:
            return
        urls = tbl.column("url").combine_chunks()
        terms = tbl.column("term").combine_chunks()
        tf = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
        dlr = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
        # Rows arrive sorted by (url, term): doc_idx = rank of url.
        u_enc = pc.dictionary_encode(urls)
        doc_of = u_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniq_urls = u_enc.dictionary  # first-occurrence order == url order
        n_docs = len(uniq_urls)
        dl_per_doc = np.zeros(n_docs, dtype=np.int64)
        dl_per_doc[doc_of] = dlr

        arrow_schema = pa.schema(
            [
                ("bucket", pa.int32()), ("kind", pa.int32()),
                ("doc_idx", pa.int64()), ("url", pa.string()),
                ("dl", pa.int64()), ("term_hash", pa.int64()),
                ("term", pa.string()), ("df", pa.int64()),
                ("postings", pa.binary()), ("blockmeta", pa.binary()),
                ("enc_bytes", pa.int64()), ("encode_secs", pa.float64()),
            ]
        )

        def nulls(n, t):
            return pa.nulls(n, type=t)

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n_docs, bucket, dtype=np.int32)),
                pa.array(np.zeros(n_docs, dtype=np.int32)),
                pa.array(np.arange(n_docs, dtype=np.int64)),
                uniq_urls,
                pa.array(dl_per_doc),
                nulls(n_docs, pa.int64()), nulls(n_docs, pa.string()),
                nulls(n_docs, pa.int64()), nulls(n_docs, pa.binary()),
                nulls(n_docs, pa.binary()), nulls(n_docs, pa.int64()),
                nulls(n_docs, pa.float64()),
            ],
            schema=arrow_schema,
        )

        t_enc = pc.dictionary_encode(terms)
        codes = t_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        key = (codes << 33) | doc_of
        order = np.argsort(key, kind="stable")
        p_codes = codes[order]
        p_docs = doc_of[order]
        p_tfs = tf[order]
        t_change = np.flatnonzero(
            np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
        )
        bounds = np.concatenate((t_change, [len(p_codes)]))
        starts, ends = bounds[:-1], bounds[1:]
        encoded = encode_postings_batch(
            p_docs, p_tfs, dl_per_doc[p_docs], starts, ends, pfor=pfor
        )
        seg_terms = t_enc.dictionary.take(
            pa.array(p_codes[starts], type=pa.int32())
        )
        hashes = np.array(
            [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in seg_terms.to_pylist()
            ],
            dtype=np.int64,
        )
        n_terms = len(starts)
        secs = np.full(n_terms, np.nan)
        if n_terms:
            secs[0] = time.monotonic() - t_start
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n_terms, bucket, dtype=np.int32)),
                pa.array(np.ones(n_terms, dtype=np.int32)),
                nulls(n_terms, pa.int64()), nulls(n_terms, pa.string()),
                nulls(n_terms, pa.int64()),
                pa.array(hashes),
                seg_terms,
                pa.array((ends - starts).astype(np.int64)),
                pa.array([e.postings for e in encoded], type=pa.binary()),
                pa.array([e.blockmeta for e in encoded], type=pa.binary()),
                pa.array(
                    np.array(
                        [len(e.postings) + len(e.blockmeta) for e in encoded],
                        dtype=np.int64,
                    )
                ),
                pa.array(secs, from_pandas=True),
            ],
            schema=arrow_schema,
        )

    committed = _committed_buckets(spark, out)
    _clean_uncommitted(out, committed)
    todo = sorted(set(range(n_buckets)) - committed)
    if todo:
        part_f = part.filter(F.spark_partition_id().isin(todo))
        rows = part_f.mapInArrow(encode_partition, schema=arrow_schema_str)
        rows.write.partitionBy("bucket").mode("append").parquet(
            str(out / "index")
        )
        _commit_buckets(spark, out, set(todo), run_id)

    n_docs = avgdl = None
    if len(_committed_buckets(spark, out)) == n_buckets:
        agg = (
            spark.read.parquet(str(out / "index"))
            .filter(F.col("kind") == 0)
            .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        n_docs, avgdl = int(agg["n"]), float(agg["avgdl"] or 0.0)
        _write_termstats(spark, out, n_docs)
        (out / "stats.json").write_text(
            json.dumps(
                {"n_docs": n_docs, "avgdl": avgdl, "n_buckets": n_buckets,
                 "k1": k1, "b": b}
            )
        )
    elapsed = time.monotonic() - t0
    return {
        "built_buckets": len(todo),
        "n_docs": n_docs,
        "avgdl": avgdl,
        "elapsed_secs": elapsed,
    }


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
    return spark.read.parquet(f"{out_dir}/index")


def read_segments(
    spark: SparkSession, out_dir: str, with_terms: bool = True
) -> DataFrame:
    # term strings live in the segment rows themselves (parquet dictionary
    # encoding makes the column vocabulary-sized on disk); with_terms is
    # kept for API compatibility and simply no-ops.
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 1)
        .select(
            "bucket", "term_hash", "term", "df", "postings", "blockmeta",
            "encode_secs",
        )
    )


def read_lexicon(spark: SparkSession, out_dir: str) -> DataFrame:
    """(term, term_hash) vocabulary — derived from segments."""
    return read_segments(spark, out_dir).select("term", "term_hash").distinct()


def read_docmeta(spark: SparkSession, out_dir: str) -> DataFrame:
    return (
        read_index(spark, out_dir)
        .filter(F.col("kind") == 0)
        .select("bucket", "doc_idx", "url", "dl")
    )


def read_postings_relation(spark: SparkSession, out_dir: str) -> DataFrame:
    """Decode the compressed segments back to ``(url, term, tf, dl)``.

    The inverse of the build: one grouped scan per bucket decodes every
    posting list and resolves doc_idx -> (url, dl) against the bucket's
    doc rows — no text involved. This is what generation compaction
    feeds into :func:`build_segments_from_postings`.
    """
    import pandas as pd

    from .codec import decode_postings

    idx = read_index(spark, out_dir).select(
        "bucket", "kind", "doc_idx", "url", "dl", "term", "postings", "blockmeta"
    )

    def decode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        kinds = pdf["kind"].to_numpy()
        docs = pdf[kinds == 0]
        terms = pdf[kinds == 1]
        n_docs = len(docs)
        if n_docs == 0 or len(terms) == 0:
            return pd.DataFrame(columns=["url", "term", "tf", "dl"]).astype(
                {"tf": "int64", "dl": "int64"}
            )
        urls = np.empty(n_docs, dtype=object)
        dls = np.zeros(n_docs, dtype=np.int64)
        di = docs["doc_idx"].to_numpy(dtype=np.int64)
        urls[di] = docs["url"].to_numpy()
        dls[di] = docs["dl"].to_numpy(dtype=np.int64)
        url_parts, term_parts, tf_parts, dl_parts = [], [], [], []
        for t, p, m in zip(terms["term"], terms["postings"], terms["blockmeta"]):
            ids, tfs = decode_postings(bytes(p), bytes(m))
            url_parts.append(urls[ids])
            term_parts.append(np.full(len(ids), t, dtype=object))
            tf_parts.append(tfs.astype(np.int64))
            dl_parts.append(dls[ids])
        return pd.DataFrame(
            {
                "url": np.concatenate(url_parts),
                "term": np.concatenate(term_parts),
                "tf": np.concatenate(tf_parts),
                "dl": np.concatenate(dl_parts),
            }
        )

    return idx.groupBy("bucket").applyInPandas(
        decode_bucket, schema="url string, term string, tf long, dl long"
    )


def read_termstats(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/termstats")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/lineage.parquet")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/metrics.parquet")
