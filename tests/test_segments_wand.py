"""Segment build + block-max MaxScore serving tests (SURVEY.md §5.2.4-6):

- segment roundtrip: decoded postings == the uncompressed postings relation
- WAND/MaxScore rank-identity vs the brute-force BM25 oracle
- checkpoint/resume: interrupted build + resume == uninterrupted build
- lineage + metrics tables populated per bucket
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark import corpus
from search_engine_spark.index.build import (
    build_postings,
    doc_lengths,
    term_stats,
)
from search_engine_spark.index.codec import bm25_norm, decode_postings, encode_postings
from search_engine_spark.index.segments import (
    build_segments,
    load_stats,
    read_docmeta,
    read_lineage,
    read_metrics,
    read_segments,
    read_termstats,
)
from search_engine_spark.query.scoring import bm25_topk
from search_engine_spark.query.wand import maxscore_topk, wand_topk

# only the tests that read the reference corpus skip without it
needs_reference = pytest.mark.skipif(
    not corpus.reference_available(), reason="reference corpus not present"
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("index")
    pages = corpus.reference_pages(spark)
    summary = build_segments(
        spark, pages, str(d), n_buckets=N_BUCKETS, run_id="test-run"
    )
    assert summary["built_buckets"] == N_BUCKETS
    return str(d)


@needs_reference
def test_segment_roundtrip_matches_relation(spark, index_dir):
    pages = corpus.reference_pages(spark)
    rel = {
        (r.term, r.url): r.tf for r in build_postings(pages).collect()
    }
    seg = read_segments(spark, index_dir).collect()
    dm = {
        (r.bucket, r.doc_idx): r.url
        for r in read_docmeta(spark, index_dir).collect()
    }
    got = {}
    for r in seg:
        ids, tfs = decode_postings(bytes(r.postings), bytes(r.blockmeta))
        assert len(ids) == r.df
        for i, tf in zip(ids, tfs):
            got[(r.term, dm[(r.bucket, int(i))])] = int(tf)
    assert got == rel


@needs_reference
def test_termstats_and_stats(spark, index_dir):
    stats = load_stats(index_dir)
    assert stats["n_docs"] == 100
    ts = read_termstats(spark, index_dir)
    pages = corpus.reference_pages(spark)
    expected = {
        r.term: (r.df, r.idf)
        for r in term_stats(build_postings(pages), 100).collect()
    }
    got = {r.term: (r.df, r.idf) for r in ts.collect()}
    assert set(got) == set(expected)
    for t in expected:
        assert got[t][0] == expected[t][0], t
        assert abs(got[t][1] - expected[t][1]) < 1e-12, t


@needs_reference
def test_wand_rank_identical_to_oracle(spark, index_dir):
    pages = corpus.reference_pages(spark)
    queries = corpus.reference_queries_df(spark)
    postings = build_postings(pages)
    dl = doc_lengths(pages)
    stats = load_stats(index_dir)
    ts = term_stats(postings, stats["n_docs"])
    oracle = bm25_topk(queries, postings, dl, ts, stats["avgdl"]).collect()
    fast = wand_topk(spark, index_dir, queries).collect()

    def keyed(rows):
        return {
            (r.query_id, r.rank): (r.url, round(r.score, 6)) for r in rows
        }

    ko, kf = keyed(oracle), keyed(fast)
    assert set(ko) == set(kf)
    for key in ko:
        assert ko[key][0] == kf[key][0], (key, ko[key], kf[key])
        assert abs(ko[key][1] - kf[key][1]) < 2e-6, (key, ko[key], kf[key])


@needs_reference
def test_wand_full_list_matches_oracle(spark, index_dir):
    """k=None serves the FULL ranked list (reference poll endpoint
    parity, src/server.rs:98-105): every matched doc, rank-identical to
    the uncut brute-force BM25 oracle."""
    pages = corpus.reference_pages(spark)
    queries = corpus.reference_queries_df(spark)
    postings = build_postings(pages)
    dl = doc_lengths(pages)
    stats = load_stats(index_dir)
    ts = term_stats(postings, stats["n_docs"])
    oracle = bm25_topk(
        queries, postings, dl, ts, stats["avgdl"], k=10**6
    ).collect()
    full = wand_topk(spark, index_dir, queries, k=None).collect()
    # same (query, rank) -> url mapping over the ENTIRE list
    ko = {(r.query_id, r.rank): r.url for r in oracle}
    kf = {(r.query_id, r.rank): r.url for r in full}
    assert ko == kf
    assert len(full) > 10 * queries.count() / 2  # genuinely uncut


@needs_reference
def test_lineage_and_metrics(spark, index_dir):
    lin = read_lineage(spark, index_dir).collect()
    assert {r.bucket for r in lin} == set(range(N_BUCKETS))
    assert all(r.status == "committed" for r in lin)
    met = read_metrics(spark, index_dir).collect()
    assert {r.bucket for r in met} == set(range(N_BUCKETS))
    for r in met:
        assert r.segment_bytes > 0
        assert r.n_postings > 0
        assert r.docs_per_sec is None or r.docs_per_sec > 0


@needs_reference
def test_resume_produces_identical_index(spark, tmp_path):
    pages = corpus.reference_pages(spark)
    full_dir = tmp_path / "full"
    resumed_dir = tmp_path / "resumed"

    build_segments(spark, pages, str(full_dir), n_buckets=N_BUCKETS, run_id="r0")
    # Interrupted build: commit only 2 buckets, then resume.
    s1 = build_segments(
        spark, pages, str(resumed_dir), n_buckets=N_BUCKETS,
        run_id="r1", fail_after_buckets=2,
    )
    assert s1["built_buckets"] == 2
    s2 = build_segments(
        spark, pages, str(resumed_dir), n_buckets=N_BUCKETS, run_id="r2"
    )
    assert s2["built_buckets"] == 2

    def content(d):
        seg = read_segments(spark, str(d)).collect()
        return sorted(
            (r.bucket, r.term, r.df, bytes(r.postings), bytes(r.blockmeta))
            for r in seg
        )

    assert content(full_dir) == content(resumed_dir)
    # Lineage records both runs on the resumed index.
    runs = {r.run_id for r in read_lineage(spark, str(resumed_dir)).collect()}
    assert runs == {"r1", "r2"}


def test_maxscore_kernel_vs_bruteforce():
    rng = np.random.default_rng(1234)
    n_docs = 5000
    dls = rng.integers(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    entries = []
    brute = np.zeros(n_docs)
    for t in range(5):
        df = int(rng.integers(50, 2000))
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = np.minimum(rng.geometric(0.4, size=df), 50).astype(np.uint64)
        norms = bm25_norm(tfs, dls[ids], avgdl)
        enc = encode_postings(ids, tfs, dls[ids])
        idf = float(rng.uniform(0.1, 5.0))
        qtf = int(rng.integers(1, 3))
        entries.append(
            {"postings": enc.postings, "blockmeta": enc.blockmeta, "idf": idf, "qtf": qtf}
        )
        brute[ids] += qtf * idf * norms
    for k in (1, 10, 100):
        got = maxscore_topk(entries, dls, avgdl, k)
        scores = np.round(brute, 6)
        order = np.lexsort((np.arange(n_docs), -scores))
        nz = [i for i in order if brute[i] > 0][:k]
        expected = [(int(i), float(scores[i])) for i in nz]
        assert got == expected, k


@needs_reference
def test_pfor_build_same_results_smaller_index(spark, tmp_path, index_dir):
    """A pfor build serves identical results to the varint build and
    produces smaller postings (per-block cheapest codec)."""
    import pyspark.sql.functions as SF

    from search_engine_spark.index.segments import read_metrics
    from search_engine_spark.query.wand import wand_topk as wt

    pages = corpus.reference_pages(spark)
    d = tmp_path / "pfor-idx"
    build_segments(
        spark, pages, str(d), n_buckets=N_BUCKETS, run_id="pfor", pfor=True
    )
    queries = corpus.reference_queries_df(spark)
    base = wt(spark, index_dir, queries).collect()
    got = wt(spark, str(d), queries).collect()
    k = lambda rows: {(r.query_id, r.rank): (r.url, r.score) for r in rows}
    assert k(base) == k(got)

    def seg_bytes(path):
        return (
            read_segments(spark, str(path))
            .agg(SF.sum(SF.length("postings")).alias("pb"))
            .collect()[0]
            .pb
        )

    assert seg_bytes(d) < seg_bytes(index_dir)


@needs_reference
def test_wand_large_query_batch_no_driver_tokenization(spark, index_dir):
    """A 10^4-row query batch is tokenized in the plan (executor-side
    query_tokens_col + broadcast join to the batch's idf rows) — wand_topk
    never collects the queries DataFrame. Repeated instances of the
    same base query must return identical rankings."""
    base = corpus.REFERENCE_QUERIES
    big = spark.range(10_000).select(
        F.concat(F.lit("q"), F.col("id")).alias("query_id"),
        F.element_at(
            F.array(*[F.lit(q) for q in base]),
            (F.col("id") % len(base)).cast("int") + 1,
        ).alias("query_string"),
    )
    # the plan path's only driver round-trip is the DISTINCT token-hash
    # vocabulary (map-side partial agg) — never one row per occurrence
    from search_engine_spark.functions.tokenize import query_tokens_col
    from search_engine_spark.pipeline.common import hash60_col

    hash_rel = (
        big.select(
            F.explode(query_tokens_col(F.col("query_string"))).alias("t")
        )
        .select(hash60_col(F.col("t")).alias("h"))
        .distinct()
    )
    plan = hash_rel._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan or "HashAggregate" in plan, plan
    n_vocab = hash_rel.count()
    assert n_vocab < 200  # the batch's vocabulary, not its 10^5 tokens

    res = wand_topk(spark, index_dir, big, k=3).collect()
    by_qid: dict[str, list] = {}
    for r in res:
        by_qid.setdefault(r.query_id, []).append((r.rank, r.url, r.score))
    assert len(by_qid) > 9_000  # nearly every query produced results
    # two different instances of base query 0 rank identically
    a = sorted(by_qid["q0"])
    b = sorted(by_qid[f"q{len(base)}"])
    assert a == b and len(a) == 3
