"""The one segment builder, over in-repo corpora (``corpus.synth_pages``
and literal pages), so these run without the reference corpus:

- a compaction of 2 generations writes exactly the doc and term rows of
  a direct build over the same pages, for both codecs
- an interrupted build resumed is byte-equal to an uninterrupted one
- a url captured by two generations stays two documents in the
  compacted index, as in a batch build over the union
- the job floor: a text build runs at most ``BUILD_JOBS`` Spark jobs
  and the 2-generation compaction at most ``COMPACT_JOBS``. Before the
  build read every internal parquet file with a declared schema and
  its committed-bucket set with pyarrow, they ran 16 and 20 (one
  1-task schema-inference job per undeclared read, plus a distinct
  job per bucket-set read). Before the kernel reported its per-bucket
  counts through an accumulator, and lineage, metrics, N and avgdl
  were written and read with pyarrow, they ran 10 and 12 (a scan of
  the fresh index for the commit counts, a Spark write each for
  lineage and metrics, and a scan of the doc rows for N and avgdl).
- the lineage and metrics rows of a build, a resumed build and a
  compaction equal an independent aggregate over the written index
  rows; a bucket with no token keeps its lineage row and gets no
  metrics row
- a build over a complete index runs no Spark job, leaves
  ``stats.json`` untouched and keeps the index's serving cache
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark import corpus
from search_engine_spark.index.segments import (
    build_segments,
    load_stats,
    read_docmeta,
    read_index,
    read_lineage,
    read_metrics,
    read_segments,
    read_termstats,
)
from search_engine_spark.query import wand
from search_engine_spark.query.wand import wand_topk
from search_engine_spark.streaming.ingest import compact_generations

N_PAGES = 300
N_BUCKETS = 4
BUILD_JOBS = 4
COMPACT_JOBS = 6


@pytest.fixture(scope="module")
def pages(spark):
    df = corpus.synth_pages(spark, N_PAGES, seed=11).select("url", "text").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def direct(spark, pages, tmp_path_factory):
    """pfor -> (rows, stats) of an uninterrupted 4-bucket build of ``pages``."""
    built = {}

    def get(pfor):
        if pfor not in built:
            d = tmp_path_factory.mktemp("direct")
            build_segments(spark, pages, str(d), n_buckets=N_BUCKETS, run_id="d", pfor=pfor)
            _assert_commit_rows_match_index(spark, d, N_BUCKETS)
            built[pfor] = _rows(spark, d), load_stats(str(d))
        return built[pfor]

    return get


def _rows(spark, d):
    docs = sorted(tuple(r) for r in read_docmeta(spark, str(d)).collect())
    terms = sorted(
        (r.bucket, r.term, r.df, bytes(r.postings), bytes(r.blockmeta))
        for r in read_segments(spark, str(d)).collect()
    )
    return docs, terms


def _assert_commit_rows_match_index(spark, d, n_buckets):
    """One lineage row per bucket and one metrics row per bucket with a
    term, equal to a Spark aggregate over the index rows of ``d``."""
    kind = F.col("kind")
    agg = {
        r.bucket: r
        for r in read_index(spark, str(d))
        .groupBy("bucket")
        .agg(
            F.count(F.when(kind == 0, 1)).alias("docs"),
            F.sum(F.when(kind == 0, F.col("dl"))).alias("dl_sum"),
            F.count(F.when(kind == 1, 1)).alias("terms"),
            F.sum(F.when(kind == 1, F.col("df"))).alias("postings"),
            F.sum(F.length("postings") + F.length("blockmeta")).alias("bytes"),
        )
        .collect()
    }
    lineage = sorted(
        (r.bucket, r.input_docs, r.dl_sum) for r in read_lineage(spark, str(d)).collect()
    )
    assert lineage == [
        (b, agg[b].docs, agg[b].dl_sum) if b in agg else (b, 0, 0)
        for b in range(n_buckets)
    ]
    metrics = sorted(
        (r.bucket, r.input_docs, r.dl_sum, r.n_terms, r.n_postings, r.segment_bytes)
        for r in read_metrics(spark, str(d)).collect()
    )
    assert metrics == sorted(
        (b, r.docs, r.dl_sum, r.terms, r.postings, r.bytes)
        for b, r in agg.items()
        if r.terms
    )
    return agg


@pytest.fixture(scope="module")
def generations(spark, tmp_path_factory):
    """Two 2-bucket generations that split ``pages`` in halves."""
    d = tmp_path_factory.mktemp("gens")
    half = N_PAGES // 2
    for g in range(2):
        part = corpus.synth_pages(spark, half, seed=11, start=g * half)
        build_segments(spark, part, str(d / f"gen={g}"), n_buckets=2, run_id=f"g{g}")
    return d


@pytest.mark.parametrize("pfor", [False, True])
def test_compaction_writes_the_rows_of_a_direct_build(
    spark, direct, generations, tmp_path, pfor, job_group
):
    gens = tmp_path / "gens"
    shutil.copytree(generations, gens)  # compaction expires its sources
    with job_group() as jobs:
        dest = compact_generations(spark, str(gens), n_buckets=N_BUCKETS, pfor=pfor)
    assert len(jobs) <= COMPACT_JOBS, jobs
    docs, terms = _rows(spark, dest)
    assert len(docs) == N_PAGES and len(terms) > 1000
    _assert_commit_rows_match_index(spark, dest, N_BUCKETS)
    assert ((docs, terms), load_stats(dest)) == direct(pfor)


def test_resumed_build_equals_uninterrupted(spark, pages, direct, tmp_path):
    resumed = tmp_path / "resumed"
    s1 = build_segments(
        spark, pages, str(resumed), n_buckets=N_BUCKETS, run_id="r1",
        fail_after_buckets=2,
    )
    assert s1["built_buckets"] == 2 and not s1["complete"]
    assert not (resumed / "stats.json").exists()
    s2 = build_segments(spark, pages, str(resumed), n_buckets=N_BUCKETS, run_id="r2")
    assert s2["built_buckets"] == 2 and s2["complete"]
    assert (_rows(spark, resumed), load_stats(str(resumed))) == direct(False)
    assert {r.run_id for r in read_lineage(spark, str(resumed)).collect()} == {"r1", "r2"}
    _assert_commit_rows_match_index(spark, resumed, N_BUCKETS)


def test_buckets_without_tokens_keep_lineage_without_metrics(spark, tmp_path):
    """Pages with no token still count as documents of their bucket,
    and a bucket with no page still gets its lineage row."""
    d = tmp_path / "idx"
    rows = [("u0", "apple pie")] + [(f"e{i}", " " * (i % 3)) for i in range(12)]
    pages = spark.createDataFrame(rows, "url string, text string")
    build_segments(spark, pages, str(d), n_buckets=16)
    agg = _assert_commit_rows_match_index(spark, d, 16)
    assert len(agg) < 16  # 13 pages leave a bucket empty
    assert any(r.docs and not r.terms for r in agg.values()), agg
    assert load_stats(str(d))["n_docs"] == len(rows)


def test_build_over_complete_index_is_a_no_op(spark, pages, tmp_path, job_group):
    """A second build runs no Spark job and leaves ``stats.json`` as it
    was, so the index's serving cache (keyed by its mtime) stays."""
    d = str(tmp_path / "idx")
    first = build_segments(spark, pages, d, n_buckets=N_BUCKETS)
    phases = [first[k] for k in ("encode_write_secs", "commit_secs", "finalize_secs")]
    assert all(t > 0 for t in phases) and sum(phases) <= first["elapsed_secs"]
    wand_topk(spark, d, [("q", "w1")], k=10).collect()
    key = next(k for k in wand._INDEX_CACHE if k[0] == wand._index_fingerprint(d))
    cached = wand._INDEX_CACHE[key]["index"]
    mtime = (tmp_path / "idx" / "stats.json").stat().st_mtime_ns
    with job_group() as jobs:
        again = build_segments(spark, pages, d, n_buckets=N_BUCKETS)
    assert jobs == []
    assert (tmp_path / "idx" / "stats.json").stat().st_mtime_ns == mtime
    assert again["built_buckets"] == 0 and again["complete"]
    assert (again["n_docs"], again["avgdl"]) == (first["n_docs"], first["avgdl"])
    assert wand._serving_state(spark, d)["index"] is cached


def test_compaction_keeps_a_recrawled_url_two_documents(spark, tmp_path, job_group):
    gen_pages = [
        [("u1", "apple banana apple"), ("u2", "banana cherry")],
        [("u1", "apple fig fig fig"), ("u3", "cherry date apple")],
    ]
    out = tmp_path / "gens"
    for g, rows in enumerate(gen_pages):
        build_segments(
            spark, spark.createDataFrame(rows, "url string, text string"),
            str(out / f"gen={g}"), n_buckets=2, run_id=f"g{g}",
        )
    batch = tmp_path / "batch"
    batch_pages = spark.createDataFrame(gen_pages[0] + gen_pages[1], "url string, text string")
    with job_group() as jobs:
        build_segments(spark, batch_pages, str(batch), n_buckets=2, run_id="b")
    assert len(jobs) <= BUILD_JOBS, jobs
    dest = compact_generations(spark, str(out), n_buckets=2)

    got, want = load_stats(dest), load_stats(str(batch))
    assert got["n_docs"] == want["n_docs"] == 4
    assert got["avgdl"] == pytest.approx(want["avgdl"])

    def dfs(d):
        return {r.term: r.df for r in read_termstats(spark, d).collect()}

    assert dfs(dest) == dfs(str(batch))
    assert dfs(dest)["apple"] == 3
    queries = [("a", "apple"), ("f", "fig"), ("b", "banana"), ("af", "apple fig")]

    def ranked(d):
        return sorted(
            (r.query_id, r.rank, r.url, round(r.score, 9))
            for r in wand_topk(spark, d, queries, k=10).collect()
        )

    assert ranked(dest) == ranked(str(batch))
