"""Structured Streaming ingestion: continuous page arrival -> segment
index generations.

The reference rebuilds its whole in-memory index at startup and never
updates it (SURVEY.md §2.7 — no persistence, no incremental build). At
web scale the pages table grows continuously, so the rebuild offers an
incremental path: a stream of pages is indexed per micro-batch into a
*generation* subdirectory (``gen=<batch_id>``), each generation being a
complete, committed mini-index built by the same batch builder
(``segments.build_segments`` — lineage, metrics, resumability and all).

Serving unions generations: every generation is doc-disjoint by
construction (a page arrives in exactly one micro-batch), so per-bucket
top-k within each generation + the global top-k merge stays exact —
the same scatter-gather argument as multi-bucket serving. Generation
compaction (:func:`compact_generations`) merges many small generations
into one WITHOUT re-reading any text: segments decode back to
per-document postings and re-encode with union-global stats.

``foreachBatch`` is the right tool (vs a custom sink): the index build
is a multi-job batch dataflow (the encode kernel's write, then the
termstats aggregate; the commit between them runs no job), and
foreachBatch gives exactly-once per-batch semantics via the streaming
checkpoint + the builder's idempotent lineage commits.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.segments import build_segments

MANIFEST = "generations.json"


def _gen_key(name: str) -> tuple[int, int]:
    """Sort/identity key for a generation dir name.

    ``gen=<batch_id>`` -> (batch_id, 0); a compacted generation
    ``gen=<batch_id>.c<epoch>`` -> (batch_id, epoch). Epochs order
    successive compactions of the same max batch id.
    """
    body = name.split("=", 1)[1]
    if ".c" in body:
        base, epoch = body.split(".c", 1)
        return (int(base), int(epoch))
    return (int(body), 0)


def _read_manifest(out_dir: str) -> dict | None:
    p = Path(out_dir) / MANIFEST
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _write_manifest(out_dir: str, manifest: dict) -> None:
    """Atomic manifest flip: write-to-tmp + ``os.replace`` (POSIX rename
    atomicity) — readers resolve through the manifest, so visibility of
    a compaction is a single atomic pointer swap, never a partial
    directory state."""
    p = Path(out_dir) / MANIFEST
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest))
    os.replace(tmp, p)


def index_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets_per_gen: int = 16,
    trigger: dict | None = None,
    merge_stats_every: int | None = None,
):
    """Start the streaming index build; returns the StreamingQuery.

    ``pages_stream`` must be a streaming DataFrame with at least
    (url, text) columns (the canonical pages shape works as-is).

    ``merge_stats_every=N`` refreshes the global-stats sidecar
    (:func:`merge_generation_stats`) after every Nth committed
    micro-batch, so ``query_generations(global_stats=True)`` serves
    corpus-wide BM25 stats that lag ingestion by at most N batches —
    a vocabulary-sized job per refresh, no posting re-encode. The
    refresh runs inside ``foreachBatch`` (after the generation commit),
    so exactly-once batch semantics cover it: a retried batch simply
    re-merges, and epoch naming keeps concurrent readers consistent.
    """

    def _index_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        gen_dir = str(Path(out_dir) / f"gen={batch_id}")
        build_segments(
            batch_df.sparkSession,
            batch_df,
            gen_dir,
            n_buckets=n_buckets_per_gen,
            run_id=f"stream-batch-{batch_id}",
        )
        if merge_stats_every and (batch_id + 1) % merge_stats_every == 0:
            merge_generation_stats(batch_df.sparkSession, out_dir)

    writer = (
        pages_stream.writeStream.foreachBatch(_index_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def list_generations(out_dir: str) -> list[str]:
    """Complete generation directories, sorted by batch id.

    Completeness marker: ``stats.json``, which ``build_segments`` writes
    LAST — strictly after every bucket's lineage commit and the
    termstats write — so a generation listed here is never a partial
    index from a crashed micro-batch (the batch retry resumes and only
    then writes stats.json).

    When a compaction manifest (``generations.json``) exists, readers
    resolve through it: the manifest's active list replaces every
    generation with batch id <= its ``covers_up_to`` watermark, while
    newer streaming generations (appended after the compaction) are
    discovered by glob as before. The manifest is flipped atomically
    (:func:`_write_manifest`), so a concurrent :func:`compact_generations`
    is never observed as zero or partial generations — a reader sees
    either the old set or the new compacted set, in full.
    """
    base = Path(out_dir)
    if not base.exists():
        return []
    complete = {
        d.name: str(d)
        for d in base.glob("gen=*")
        if (d / "stats.json").exists()
    }
    manifest = _read_manifest(out_dir)
    # Compacted generations (epoch > 0) are visible ONLY through the
    # manifest: between the rename and the manifest flip the new dir is
    # complete on disk, and glob-discovering it would double-count its
    # source generations' documents.
    names = [n for n in complete if _gen_key(n)[1] == 0]
    if manifest is not None:
        covers = int(manifest["covers_up_to"])
        names = [n for n in names if _gen_key(n)[0] > covers]
        names += [n for n in manifest["active"] if n in complete]
    return [complete[n] for n in sorted(set(names), key=_gen_key)]


def generation_stats(out_dir: str) -> dict:
    """Aggregate corpus stats over all generations (N, avgdl weighted)."""
    total_docs, dl_sum = 0, 0.0
    for g in list_generations(out_dir):
        s = json.loads((Path(g) / "stats.json").read_text())
        total_docs += s["n_docs"]
        dl_sum += s["avgdl"] * s["n_docs"]
    return {
        "n_docs": total_docs,
        "avgdl": (dl_sum / total_docs) if total_docs else 0.0,
        "n_generations": len(list_generations(out_dir)),
    }


GLOBAL_STATS_PREFIX = "globalstats="


def merge_generation_stats(spark: SparkSession, out_dir: str) -> str | None:
    """Merge per-generation termstats into a *global-stats sidecar* —
    incremental globally-consistent idf WITHOUT a compaction.

    Compaction (:func:`compact_generations`) restores global BM25 stats
    but re-encodes every posting; this job touches only the
    vocabulary-sized termstats tables: per-term document frequencies
    union-sum across generations, idf is recomputed from the global
    (N, df) with the builder's own formula (``bm25_idf_col``, so merged
    idf is bit-identical to a full rebuild's), and N/avgdl aggregate
    from the generations' stats.json. Cost is O(vocabulary), not
    O(postings) — at web scale this is the cheap between-compactions
    refresher a Lucene-style engine gets from segment-info merging.

    The sidecar is a mini index-shaped dir (``globalstats=<epoch>`` with
    ``termstats/`` + ``stats.json`` written LAST as the completion
    marker, same protocol as a generation) that
    :func:`query_generations(global_stats=True) <query_generations>`
    overlays onto every covered generation at serve time. Epoch naming +
    build-in-tmp keeps concurrent readers on the previous sidecar until
    the new one is complete; stale sidecars are removed by
    :func:`expire_generations` (after draining), never here.
    """
    from ..index.segments import bm25_idf_col, read_termstats

    gens = list_generations(out_dir)
    if not gens:
        return None
    gstats = generation_stats(out_dir)
    n_docs = gstats["n_docs"]
    union = read_termstats(spark, gens[0]).select("term", "term_hash", "df")
    for g in gens[1:]:
        union = union.unionByName(
            read_termstats(spark, g).select("term", "term_hash", "df")
        )
    merged = (
        union.groupBy("term", "term_hash")
        .agg(F.sum("df").cast("long").alias("df"))
        .withColumn("idf", bm25_idf_col(F.col("df"), n_docs))
        .select("term", "term_hash", "df", "idf")
    )
    base = Path(out_dir)
    epochs = [
        int(d.name.split("=", 1)[1])
        for d in base.glob(f"{GLOBAL_STATS_PREFIX}*")
        if d.name.split("=", 1)[1].isdigit()
    ]
    epoch = 1 + max(epochs, default=0)
    tmp = base / f".globalstats-{epoch}-tmp"
    merged.write.mode("overwrite").parquet(str(tmp / "termstats"))
    # stats.json LAST = completion marker; "covers" records the exact
    # generation set so serve-time staleness is detectable
    (tmp / "stats.json").write_text(
        json.dumps(
            {
                "n_docs": n_docs,
                "avgdl": gstats["avgdl"],
                "covers": sorted(Path(g).name for g in gens),
            }
        )
    )
    dest = base / f"{GLOBAL_STATS_PREFIX}{epoch}"
    tmp.rename(dest)
    return str(dest)


def latest_global_stats(out_dir: str) -> tuple[str | None, set[str]]:
    """(newest complete sidecar dir or None, set of generation NAMES it
    covers). A sidecar never covers generations ingested after it was
    merged — the caller serves those with their own per-generation
    stats until the next merge/compaction."""
    base = Path(out_dir)
    cands = sorted(
        (
            d
            for d in base.glob(f"{GLOBAL_STATS_PREFIX}*")
            if (d / "stats.json").exists()
            and d.name.split("=", 1)[1].isdigit()
        ),
        key=lambda d: int(d.name.split("=", 1)[1]),
    )
    if not cands:
        return None, set()
    best = cands[-1]
    covers = set(json.loads((best / "stats.json").read_text())["covers"])
    return str(best), covers


def compact_generations(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int = 16,
    pfor: bool | None = None,
    expire: bool = True,
) -> str | None:
    """Merge all complete generations into ONE, restoring globally
    consistent BM25 stats (N, avgdl, idf over the union) — the remedy
    the per-generation-stats caveat in :func:`query_generations`
    documents.

    No text pass: each generation's segments are decoded back to
    ``(url, bucket, doc_idx, term, tf, dl)`` rows
    (``read_postings_relation``: every posting list of a bucket in one
    batched decode pass, no per-term Python call), tagged with the
    generation's ordinal and re-encoded by the one segment builder
    (``build_segments_from_postings``) — compaction moves
    compressed-postings-sized data, exactly like a Lucene segment merge.
    No step infers a parquet schema and the commit reads nothing back,
    so a 2-generation compaction runs 6 Spark jobs
    (``tests/test_segment_build.py`` bounds it).
    Documents are keyed by (url, generation, bucket, doc_idx), so a url
    captured by two generations stays two documents, as in a batch build
    over the same pages and in :func:`query_generations` before the
    compaction.
    ``pfor=None`` inherits the newest source generation's recorded codec
    choice (layout.json), so compacting a PFor index stays PFor.

    Swap protocol (Iceberg-style snapshot semantics): the compacted
    index is built into a hidden temp dir, renamed to a FRESH name
    ``gen=<max_id>.c<epoch>`` (never colliding with a live reader's
    paths), and made visible by atomically flipping the
    ``generations.json`` manifest that :func:`list_generations` resolves
    through. Readers therefore observe either the full old set or the
    full new set — never zero, never partial. The absorbed generations
    are physically deleted only by :func:`expire_generations` (snapshot
    expiry); ``expire=True`` runs it inline, which is safe when no
    queries are in flight — a serving deploy passes ``expire=False`` and
    expires after draining.

    Returns the compacted generation directory (or the single existing
    one if there is nothing to merge).
    """
    from ..index.segments import (
        build_segments_from_postings,
        read_postings_relation,
    )

    gens = list_generations(out_dir)
    if not gens:
        return None
    if len(gens) == 1:
        return gens[0]
    if pfor is None:
        layout = json.loads((Path(gens[-1]) / "layout.json").read_text())
        pfor = bool(layout.get("pfor", False))
    # the source ordinal keeps a re-crawled url's captures apart
    union = reduce(
        DataFrame.unionByName,
        [
            read_postings_relation(spark, g).withColumn("gen", F.lit(i))
            for i, g in enumerate(gens)
        ],
    )
    keys = [_gen_key(Path(g).name) for g in gens]
    max_id = max(k[0] for k in keys)
    epoch = 1 + max(k[1] for k in keys)
    dest = Path(out_dir) / f"gen={max_id}.c{epoch}"
    tmp = Path(out_dir) / f".compact-{max_id}-{epoch}-tmp"
    if tmp.exists():  # crashed prior attempt at this same epoch
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    build_segments_from_postings(
        spark, union, str(tmp), n_buckets=n_buckets,
        run_id=f"compact-{max_id}-{epoch}", pfor=pfor,
    )
    tmp.rename(dest)
    _write_manifest(
        out_dir, {"active": [dest.name], "covers_up_to": max_id}
    )
    if expire:
        expire_generations(out_dir)
    return str(dest)


def expire_generations(out_dir: str) -> list[str]:
    """Delete generation directories no longer reachable through
    :func:`list_generations` (plus abandoned compaction temp dirs) —
    the snapshot-expiry half of the compaction swap. Run it after
    in-flight queries against the old generation set have drained; the
    manifest flip in :func:`compact_generations` already made the old
    set invisible to new readers.
    """
    import shutil

    base = Path(out_dir)
    if not base.exists():
        return []
    removed = []
    # global-stats sidecars: keep only the newest complete one; drop
    # older epochs and ABANDONED merge temp dirs. A tmp whose epoch is
    # NEWER than the latest complete sidecar may be an in-flight
    # merge_generation_stats (the live streaming foreachBatch runs the
    # merge concurrently with operator-invoked compaction) — deleting
    # it mid-write would kill the StreamingQuery, so only tmp epochs a
    # later COMPLETED merge has superseded are swept; a crashed merge's
    # tmp survives until then (the next merge reuses its epoch with
    # mode=overwrite, so it never wedges).
    latest, _ = latest_global_stats(out_dir)
    latest_epoch = (
        int(Path(latest).name.split("=", 1)[1]) if latest else 0
    )
    for d in base.glob(f"{GLOBAL_STATS_PREFIX}*"):
        if latest is None or d.name != Path(latest).name:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    for d in base.glob(".globalstats-*-tmp"):
        parts = d.name.split("-")
        tmp_epoch = int(parts[1]) if parts[1].isdigit() else 0
        if tmp_epoch <= latest_epoch:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    manifest = _read_manifest(out_dir)
    if manifest is None:
        return removed
    covers = int(manifest["covers_up_to"])
    active = set(manifest["active"])
    for d in base.glob("gen=*"):
        # only generations at or below the compaction watermark are
        # expirable — anything newer may be a mid-build micro-batch
        # (no stats.json yet) and must survive
        if d.name not in active and _gen_key(d.name)[0] <= covers:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    # same in-flight guard for compaction temps: only sweep a tmp whose
    # compaction epoch a COMPLETED (manifest-visible) compaction has
    # superseded — a concurrent compact_generations' build dir has a
    # strictly newer epoch and must survive
    active_epoch = max(
        (_gen_key(name)[1] for name in active), default=0
    )
    for d in base.glob(".compact-*-tmp"):
        parts = d.name.split("-")
        tmp_epoch = int(parts[2]) if len(parts) > 2 and parts[2].isdigit() else 0
        if tmp_epoch <= active_epoch:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    return removed


def query_generations(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame | list[tuple[str, str]],
    k: int = 10,
    global_stats: bool = False,
) -> DataFrame:
    """Exact top-k over the union of generations.

    Per-generation local top-k is exact for that generation's docs;
    generations are doc-disjoint, so the global top-k is the k best of
    the per-generation candidates. The batch is collected once; each
    generation runs its own kernel job over its serving cache, and the
    candidates of all of them are merged once on the driver, exactly as
    ``wand_topk`` merges one index's buckets. Eager, like ``wand_topk``.

    ``global_stats=True`` overlays the newest global-stats sidecar
    (:func:`merge_generation_stats`) onto every generation it covers —
    BM25 idf/avgdl become corpus-wide-consistent, score-identical to a
    compacted index, at vocabulary cost instead of a re-encode.
    Generations ingested after the merge are served with their own stats
    until the next merge (documented incremental gap).

    Scoring caveat without it: BM25 idf/avgdl are per-generation (each
    generation's termstats covers its own docs). A compaction run also
    restores globally-consistent stats; the streaming path trades exact
    global idf for incremental availability, like segment-local stats in
    Lucene-style engines before merge.
    """
    from ..query.wand import _kernel, _query_batch, _ranked, serving_states_pinned

    gens = list_generations(out_dir)
    if not gens:
        raise ValueError(f"no complete generations under {out_dir}")
    sidecar, covers = (None, set())
    if global_stats:
        sidecar, covers = latest_global_stats(out_dir)
    batch = _query_batch(queries)
    # pinned: with more generations than the serving cache holds, no
    # generation's lookup may evict another's cache: the kernels read
    # them all, and each call would otherwise re-read evicted ones
    with serving_states_pinned():
        kernels = [
            _kernel(spark, g, batch, k, sidecar if Path(g).name in covers else None)
            for g in gens
        ]
        return _ranked(spark, kernels, k)
