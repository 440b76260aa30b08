"""Serving tests over an in-repo Zipf index (``corpus.synth_pages``, 8
buckets), so they run without the reference corpus:

- rank identity of ``wand_topk`` against the brute-force BM25 oracle
  (list-form single query, OOV query, DataFrame batch, ``k=None`` in
  both forms); a null query string matches nothing in either form
- an in-vocabulary list query is one Spark job with one Python task
  wave, and collecting its result runs none; an OOV query runs no job;
  a DataFrame batch is two jobs (its collect and the kernel), and a
  pandas-built one (a local relation) only the kernel job
- serving state for a fresh index runs no Spark job; the first kernel
  plan reads the (still empty) index cache with no Exchange above it
  and filters it by term_hash, with no live parquet scan; that filter
  is built in a constant number of py4j calls
- the serving index cache survives ``spark.catalog.clearCache()`` and
  is never reused stale for an index rebuilt at the same path
- the serving index cache spreads buckets evenly over its partitions
- lineage names segment directories relative to the index root
- ``query_generations`` over more generations than the serving cache
  holds keeps every generation's index cache persisted, collects a
  batch once and runs one kernel job per generation, serves a fresh
  generation in at most 3 jobs, and keeps each generation's index
  cache across a new global-stats sidecar
"""

from __future__ import annotations

import math
import re
import shutil
import threading
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from search_engine_spark import corpus
from search_engine_spark.index.build import build_postings, doc_lengths, term_stats
from search_engine_spark.index.segments import (
    build_segments,
    load_stats,
    read_lineage,
    read_metrics,
)
from search_engine_spark.query import wand
from search_engine_spark.query.scoring import bm25_topk
from search_engine_spark.query.wand import wand_topk
from search_engine_spark.streaming.ingest import (
    merge_generation_stats,
    query_generations,
)

N_BUCKETS = 8
N_PAGES = 300
QUERIES = [
    ("single", "w1"),
    ("multi", "w5 w40 w300"),
    ("repeat", "w2 w2 w77"),
    ("tail", "w1234 w9 zzqx"),
    ("oov", "zzqx qqvv"),
]


def _bm25_full(spark, pages, index_dir, queries):
    """The brute-force oracle's full ranked list per query over
    ``pages``, with the stats of the index built from them."""
    postings = build_postings(pages)
    stats = load_stats(index_dir)
    return bm25_topk(
        spark.createDataFrame(queries, "query_id string, query_string string"),
        postings,
        doc_lengths(pages),
        term_stats(postings, stats["n_docs"]),
        stats["avgdl"],
        k=10**6,
    ).collect()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serving") / "idx")
    pages = corpus.synth_pages(spark, N_PAGES, seed=7).cache()
    build_segments(spark, pages, d, n_buckets=N_BUCKETS, run_id="serve")
    # the oracle's full ranked list per query; its top-k is rank <= k
    full = _bm25_full(spark, pages, d, QUERIES)
    pages.unpersist()

    def oracle(qids, k):
        return [r for r in full if r.query_id in qids and (k is None or r.rank <= k)]

    return d, oracle


def _fresh_copy(served, tmp_path) -> str:
    # a copy is a separate index to the serving cache (keyed by path)
    d = str(tmp_path / "fresh")
    shutil.copytree(served[0], d)
    return d


def _generations(served, tmp_path, n: int) -> str:
    """``n`` generations, each a copy of the served index."""
    for g in range(n):
        shutil.copytree(served[0], tmp_path / f"gen={g}")
    return str(tmp_path)


def _cache_relation(docs):
    """The JVM InMemoryRelation behind a persisted DataFrame."""
    return docs._jdf.queryExecution().withCachedData()


def _queries_df(spark):
    return spark.createDataFrame(QUERIES, "query_id string, query_string string")


def _keyed(rows):
    return {(r.query_id, r.rank): (r.url, round(r.score, 6)) for r in rows}


def _assert_same_ranking(got, expected):
    kg, ke = _keyed(got), _keyed(expected)
    assert set(kg) == set(ke)
    for key, (url, score) in ke.items():
        assert kg[key][0] == url, (key, kg[key], ke[key])
        assert abs(kg[key][1] - score) < 2e-6, (key, kg[key], ke[key])


def _python_stages(sc, jobs):
    """[(stage_id, n_tasks)] of the stages that ran Python code: pickled
    Python RDDs or pandas/Arrow UDF operators in their RDD graph."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    out = []
    for s in sorted({s for j in jobs for s in st.getJobInfo(j).stageIds}):
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0:  # skipped stage
            continue
        labels = re.findall(r'label="([^"]*)"', dot(store.operationGraphForStage(s)))
        if any(re.search("Python|Pandas", lb) for lb in labels):
            out.append((s, info.numTasks))
    return out


def test_list_queries_rank_identical_to_oracle(spark, served):
    d, oracle = served
    for qid, q in QUERIES[:2] + QUERIES[-1:]:  # the batch test has all
        got = wand_topk(spark, d, [(qid, q)], k=10).collect()
        expected = oracle({qid}, 10)
        if qid == "oov":
            assert got == [] and expected == []
        else:
            assert expected, qid
        _assert_same_ranking(got, expected)


def test_dataframe_batch_and_full_list_rank_identical(spark, served):
    d, oracle = served
    qdf = spark.createDataFrame(QUERIES, "query_id string, query_string string")
    qids = {qid for qid, _ in QUERIES}
    _assert_same_ranking(wand_topk(spark, d, qdf, k=10).collect(), oracle(qids, 10))
    for batch in (QUERIES, qdf):
        full = wand_topk(spark, d, batch, k=None).collect()
        assert len(full) > 10 * (len(QUERIES) - 1)  # genuinely uncut
        _assert_same_ranking(full, oracle(qids, None))


def test_single_query_runs_one_python_wave(spark, served, job_group):
    """An in-vocabulary list query is ONE Spark job with one Python
    stage of at most P tasks; its result is a local relation whose
    collect runs no job. An OOV query runs no job at all."""
    d, _ = served
    sc = spark.sparkContext
    p = min(N_BUCKETS, sc.defaultParallelism)
    wand_topk(spark, d, [("warm", "w3")], k=10).collect()  # serving state
    with job_group() as jobs:
        res = wand_topk(spark, d, [("q", "w5 w40 w300")], k=10)
    assert len(jobs) == 1, jobs
    py = _python_stages(sc, jobs)
    assert len(py) == 1 and py[0][1] <= p, py
    with job_group() as jobs:
        assert res.collect()
    assert jobs == []
    with job_group() as jobs:
        assert wand_topk(spark, d, [("q", "zzqx qqvv")], k=10).collect() == []
    assert jobs == []


def test_dataframe_batch_runs_collect_and_kernel_jobs(spark, served, job_group):
    """A DataFrame batch on a warm index is exactly 2 Spark jobs: the
    batch's collect and the kernel. Its result is a local relation
    whose collect runs no job."""
    d, oracle = served
    wand_topk(spark, d, _queries_df(spark), k=10).collect()  # warm
    qdf = _queries_df(spark)
    with job_group() as jobs:
        res = wand_topk(spark, d, qdf, k=10)
    assert len(jobs) == 2, jobs
    with job_group() as jobs:
        got = res.collect()
    assert jobs == []
    _assert_same_ranking(got, oracle({qid for qid, _ in QUERIES}, 10))


def test_local_relation_batch_runs_only_the_kernel_job(spark, served, job_group):
    """A pandas-built DataFrame batch is a local relation, collected
    with no Spark job: on a warm index the batch is the kernel job."""
    d, oracle = served
    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["query_id", "query_string"]))
    wand_topk(spark, d, qdf, k=10).collect()  # warm
    with job_group() as jobs:
        res = wand_topk(spark, d, qdf, k=10)
    assert len(jobs) == 1, jobs
    _assert_same_ranking(res.collect(), oracle({qid for qid, _ in QUERIES}, 10))


def test_null_query_string_matches_nothing(spark, tmp_path):
    """A null query string is skipped, in both batch forms: it must not
    search for the word "none", which this index holds."""
    d = str(tmp_path / "idx")
    pages = spark.createDataFrame(
        [("u1", "none of these"), ("u2", "none and none"), ("u3", "other words")],
        "url string, text string",
    )
    build_segments(spark, pages, d, n_buckets=2)
    queries = [("null", None), ("none", "none"), ("other", "other")]
    qdf = spark.createDataFrame(queries, "query_id string, query_string string")
    for batch in (queries, qdf):
        got = wand_topk(spark, d, batch, k=10).collect()
        by_qid = {qid: sorted(r.url for r in got if r.query_id == qid) for qid, _ in queries}
        assert by_qid == {"null": [], "none": ["u1", "u2"], "other": ["u3"]}, got
    only_null = spark.createDataFrame([("null", None)], "query_id string, query_string string")
    assert wand_topk(spark, d, only_null, k=10).collect() == []


def test_fresh_index_serves_with_no_setup_jobs(spark, served, tmp_path, job_group):
    d, oracle = served
    fresh = _fresh_copy(served, tmp_path)
    sc = spark.sparkContext
    p = min(N_BUCKETS, sc.defaultParallelism)
    with job_group() as jobs:
        wand._serving_state(spark, fresh)
    assert jobs == []
    with job_group() as jobs:
        assert wand_topk(spark, fresh, [("oov", "zzqx qqvv")], k=10).collect() == []
    assert jobs == []
    with job_group() as jobs:
        got = wand_topk(spark, fresh, [("multi", "w5 w40 w300")], k=10).collect()
    py = _python_stages(sc, jobs)
    assert len(py) == 1 and py[0][1] <= p, py
    _assert_same_ranking(got, oracle({"multi"}, 10))


def _assert_kernel_reads_cache(kernel):
    """The kernel relation reads the serving cache (InMemoryTableScan)
    through a term_hash Filter, with no Exchange above the scan."""
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scan = next(i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln)
    above = lines[:scan]
    assert any("FlatMapGroupsInPandas" in ln for ln in above), plan
    assert not any("Exchange" in ln for ln in above), plan
    assert any("Filter" in ln and "term_hash" in ln for ln in above), plan
    return plan


def test_serving_plan_reads_empty_doc_cache_with_term_pushdown(spark, served, tmp_path):
    """Plan guards on a fresh index's kernel relation, before any query
    filled its cache:

    - no live parquet scan: the index rows come from the serving cache
      (InMemoryTableScan; its InMemoryRelation prints the FileScan it
      is built from);
    - no Exchange between the cache scan and the pandas kernel;
    - the term_hash filter is applied over the cache scan.
    """
    fresh = _fresh_copy(served, tmp_path)
    plan = _assert_kernel_reads_cache(wand._kernel(spark, fresh, QUERIES, 10))
    index = wand._serving_state(spark, fresh)["index"]
    assert not _cache_relation(index).cacheBuilder().isCachedColumnBuffersLoaded()
    assert plan.count("FileScan") == plan.count("InMemoryRelation") == 1, plan


def test_term_filter_is_built_in_constant_py4j_calls(spark, served, monkeypatch):
    """The batch's term filter costs a few py4j calls, not one per hash
    (a Column built with ``isin`` sends each literal to the JVM), and
    keeps Catalyst's InSet, so a new vocabulary compiles no new code."""
    state = wand._serving_state(spark, served[0])
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    caller = threading.current_thread()

    def count(*a, **kw):
        # only this thread's commands: py4j's finalizer thread sends one
        # command per garbage-collected JavaObject of any earlier test
        if threading.current_thread() is caller:
            sent.append(a[0])
        return send(*a, **kw)

    monkeypatch.setattr(client, "send_command", count)
    rows = wand._index_rows(state, set(range(1, 501)))
    monkeypatch.undo()
    assert 0 < len(sent) <= 10, len(sent)
    plan = rows._jdf.queryExecution().optimizedPlan().toString()
    assert "INSET" in plan.upper(), plan


def test_serving_survives_clear_cache(spark, served, tmp_path):
    """``spark.catalog.clearCache()`` between two queries: the second is
    served from a re-persisted cache (InMemoryTableScan), same rows."""
    fresh = _fresh_copy(served, tmp_path)
    q = [QUERIES[1]]
    first = wand_topk(spark, fresh, q, k=10).collect()
    spark.catalog.clearCache()
    again = wand_topk(spark, fresh, q, k=10).collect()
    assert again == first
    index = wand._serving_state(spark, fresh)["index"]
    assert index.storageLevel.useMemory
    assert _cache_relation(index).cacheBuilder().isCachedColumnBuffersLoaded()
    spark.catalog.clearCache()
    _assert_kernel_reads_cache(wand._kernel(spark, fresh, QUERIES, 10))


def test_index_rebuilt_at_same_path_serves_new_pages(spark, tmp_path):
    """Serve index A, rebuild other pages (same count) into the same
    directory and serve again: both the index cache (doc rows and
    postings) and the lexicon must be the new index's."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")

    def build(seed):
        build_segments(spark, corpus.synth_pages(spark, 80, seed=seed), d, n_buckets=2)
        return set(pq.read_table(f"{d}/termstats", columns=["term"]).column(0).to_pylist())

    lex_a = build(3)
    probe = [("a", "w1 w2 w3")]
    wand_topk(spark, d, probe, k=10).collect()
    wand_topk(spark, d, _queries_df(spark), k=10).collect()
    shutil.rmtree(d)
    pages_b = corpus.synth_pages(spark, 80, seed=11)
    lex_b = build(11)
    # synthetic words only: an index token may carry punctuation
    only_a, only_b = (
        sorted(t for t in x - y if re.fullmatch(r"w\d+", t))
        for x, y in ((lex_a, lex_b), (lex_b, lex_a))
    )
    assert only_a and only_b
    queries = probe + [
        ("new", f"{only_b[0]} w1"),  # OOV to A's lexicon
        ("old", f"{only_a[0]} {only_b[-1]}"),  # OOV to B's lexicon
        ("gone", only_a[-1]),
    ]
    full = _bm25_full(spark, pages_b, d, queries)
    expected = [r for r in full if r.rank <= 10]
    assert {r.query_id for r in expected} == {"a", "new", "old"}
    _assert_same_ranking(wand_topk(spark, d, queries, k=10).collect(), expected)
    qdf = spark.createDataFrame(queries, "query_id string, query_string string")
    _assert_same_ranking(wand_topk(spark, d, qdf, k=10).collect(), expected)


def test_doc_cache_spreads_buckets_evenly(spark, served):
    d, _ = served
    index = wand._serving_state(spark, d)["index"]
    p = min(N_BUCKETS, spark.sparkContext.defaultParallelism)
    per_part = [
        r.n
        for r in index.groupBy(F.spark_partition_id().alias("part"))
        .agg(F.countDistinct("gkey").alias("n"))
        .collect()
    ]
    assert sum(per_part) == N_BUCKETS
    assert set(per_part) <= {N_BUCKETS // p, math.ceil(N_BUCKETS / p)}, per_part


def test_group_keys_follow_spark_hash_partitioning(spark):
    cases = [(8, 4), (8, 8), (3, 3), (32, 4), (12, 5)]
    rows = [
        (n, p, b, g)
        for n, p in cases
        for b, g in enumerate(wand._group_keys(n, p))
    ]
    for n, p in cases:
        assert len(set(wand._group_keys(n, p))) == n
    got = (
        spark.createDataFrame(pd.DataFrame(rows, columns=["n", "p", "b", "g"]))
        .select("p", "b", F.pmod(F.hash(F.col("g").cast("int")), F.col("p")).alias("part"))
        .collect()
    )
    assert all(r.part == r.b % r.p for r in got)


def test_lineage_paths_are_relative_to_the_index(spark, served):
    """Lineage names each bucket's directory relative to the index
    root, so a copied or moved index still names its own segments."""
    d, _ = served
    paths = {r.bucket: r.segment_path for r in read_lineage(spark, d).collect()}
    assert paths == {b: f"index/bucket={b}" for b in range(N_BUCKETS)}
    assert all(Path(d, p).is_dir() for p in paths.values())


def test_commit_rows_are_complete(spark, served):
    d, _ = served
    lin = read_lineage(spark, d).collect()
    assert {r.bucket for r in lin} == set(range(N_BUCKETS))
    assert all(r.status == "committed" and r.run_id == "serve" for r in lin)
    assert sum(r.input_docs for r in lin) == N_PAGES
    met = read_metrics(spark, d).collect()
    assert {r.bucket for r in met} == set(range(N_BUCKETS))
    for r in met:
        assert r.n_postings > 0 and r.segment_bytes > 0 and r.dl_sum > 0
        assert r.encode_secs is None or r.docs_per_sec > 0


def test_query_generations_keeps_every_generation_cached(spark, tmp_path):
    n_gens = wand._INDEX_CACHE_MAX + 1
    gen0 = tmp_path / "gen=0"
    build_segments(spark, corpus.synth_pages(spark, 40, seed=3), str(gen0), n_buckets=1)
    # copies are separate indexes to the serving cache (keyed by path)
    for i in range(1, n_gens):
        shutil.copytree(gen0, tmp_path / f"gen={i}")
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": ["a"], "query_string": ["w1 w7"]})
    )
    got = query_generations(spark, str(tmp_path), queries, k=5).collect()
    assert len(got) == 5
    cached = {
        k[0][0]: s["index"].is_cached
        for k, s in wand._INDEX_CACHE.items()
        if Path(k[0][0]).parent == tmp_path.resolve()
    }
    assert len(cached) == n_gens and all(cached.values()), cached


def test_query_generations_collects_the_batch_once(
    spark, served, tmp_path, job_group
):
    d, oracle = served
    generations = _generations(served, tmp_path, 3)
    queries = _queries_df(spark)
    query_generations(spark, generations, queries, k=10)  # warm the caches
    # the batch is collected once, then one kernel job per generation
    with job_group() as jobs:
        res = query_generations(spark, generations, queries, k=10)
    assert len(jobs) == 1 + 3, jobs
    # every generation is the served index, with its own stats: each
    # oracle row appears once per generation
    qids = {qid for qid, _ in QUERIES}
    expected = []
    for qid in qids:
        rows = sorted(
            (r for r in oracle({qid}, None) for _ in range(3)),
            key=lambda r: (-round(r.score, 6), r.url),
        )[:10]
        expected += [
            Row(query_id=qid, rank=i + 1, url=r.url, score=r.score)
            for i, r in enumerate(rows)
        ]
    _assert_same_ranking(res.collect(), expected)


def test_fresh_generation_query_runs_at_most_three_jobs(
    spark, served, tmp_path, job_group
):
    """A fresh one-generation query: the batch's collect and the kernel
    job, which also fills the new generation's index cache."""
    out = _generations(served, tmp_path, 1)
    with job_group() as jobs:
        got = query_generations(spark, out, _queries_df(spark), k=10)
    assert len(jobs) <= 3, jobs
    _assert_same_ranking(got.collect(), served[1]({qid for qid, _ in QUERIES}, 10))


def test_new_global_stats_reuse_doc_cache(spark, served, tmp_path):
    """A new global-stats sidecar only re-reads the lexicon: the
    generation's filled index cache serves the next query as it is."""
    out = _generations(served, tmp_path, 1)
    gen = f"{out}/gen=0"
    queries = _queries_df(spark)
    sidecar = merge_generation_stats(spark, out)
    first = query_generations(spark, out, queries, k=10, global_stats=True).collect()
    index = wand._serving_state(spark, gen, sidecar)["index"]
    builder = _cache_relation(index).cacheBuilder()
    # every partition of the index cache is resident in the block manager
    assert builder.isCachedColumnBuffersLoaded()
    sidecar = merge_generation_stats(spark, out)
    assert sidecar.endswith("globalstats=2")
    again = query_generations(spark, out, queries, k=10, global_stats=True).collect()
    # the same persisted DataFrame, still resident: the second query
    # read the index from the block manager, not from parquet
    assert wand._serving_state(spark, gen, sidecar)["index"] is index
    assert builder.isCachedColumnBuffersLoaded()
    assert sorted(again) == sorted(first)
