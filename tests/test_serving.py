"""Serving tests over an in-repo Zipf index (``corpus.synth_pages``, 8
buckets), so they run without the reference corpus:

- rank identity of ``wand_topk`` against the brute-force BM25 oracle
  (list-form single query, OOV query, DataFrame batch, ``k=None``)
- one Python task wave per single query, no Spark job for an OOV query
- the serving doc cache spreads buckets evenly over its partitions
- ``query_generations`` over more generations than the serving cache
  holds keeps every generation's doc cache persisted
"""

from __future__ import annotations

import itertools
import math
import re
import shutil
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pytest
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
from search_engine_spark.streaming.ingest import query_generations

N_BUCKETS = 8
N_PAGES = 300
QUERIES = [
    ("single", "w1"),
    ("multi", "w5 w40 w300"),
    ("repeat", "w2 w2 w77"),
    ("tail", "w1234 w9 zzqx"),
    ("oov", "zzqx qqvv"),
]
_groups = itertools.count()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serving") / "idx")
    pages = corpus.synth_pages(spark, N_PAGES, seed=7).cache()
    build_segments(spark, pages, d, n_buckets=N_BUCKETS, run_id="serve")
    postings = build_postings(pages)
    stats = load_stats(d)
    # the oracle's full ranked list per query; its top-k is rank <= k
    full = bm25_topk(
        spark.createDataFrame(QUERIES, "query_id string, query_string string"),
        postings,
        doc_lengths(pages),
        term_stats(postings, stats["n_docs"]),
        stats["avgdl"],
        k=10**6,
    ).collect()
    pages.unpersist()

    def oracle(qids, k):
        return [r for r in full if r.query_id in qids and (k is None or r.rank <= k)]

    return d, oracle


def _keyed(rows):
    return {(r.query_id, r.rank): (r.url, round(r.score, 6)) for r in rows}


def _assert_same_ranking(got, expected):
    kg, ke = _keyed(got), _keyed(expected)
    assert set(kg) == set(ke)
    for key, (url, score) in ke.items():
        assert kg[key][0] == url, (key, kg[key], ke[key])
        assert abs(kg[key][1] - score) < 2e-6, (key, kg[key], ke[key])


@contextmanager
def _job_group(sc):
    """Yields a list filled, on exit, with the ids of the jobs run inside."""
    group = f"test-serving-{next(_groups)}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


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
    full = wand_topk(spark, d, QUERIES, k=None).collect()
    assert len(full) > 10 * (len(QUERIES) - 1)  # genuinely uncut
    _assert_same_ranking(full, oracle(qids, None))


def test_single_query_runs_one_python_wave(spark, served):
    d, _ = served
    sc = spark.sparkContext
    p = min(N_BUCKETS, sc.defaultParallelism)
    wand_topk(spark, d, [("warm", "w3")], k=10).collect()  # serving state
    with _job_group(sc) as jobs:
        assert wand_topk(spark, d, [("q", "w5 w40 w300")], k=10).collect()
    py = _python_stages(sc, jobs)
    assert len(py) == 1 and py[0][1] <= p, py
    with _job_group(sc) as jobs:
        assert wand_topk(spark, d, [("q", "zzqx qqvv")], k=10).collect() == []
    assert jobs == []


def test_doc_cache_spreads_buckets_evenly(spark, served):
    d, _ = served
    docs = wand._serving_state(spark, d)["docs"]
    p = min(N_BUCKETS, spark.sparkContext.defaultParallelism)
    per_part = [
        r.n
        for r in docs.groupBy(F.spark_partition_id().alias("part"))
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
    n_gens = wand._SERVE_CACHE_MAX + 1
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
        k[0][0]: s["docs"].is_cached
        for k, s in wand._SERVE_CACHE.items()
        if Path(k[0][0]).parent == tmp_path.resolve()
    }
    assert len(cached) == n_gens and all(cached.values()), cached
