"""Segment build + block-max MaxScore kernel tests (SURVEY.md §5.2.4-6),
over in-repo corpora, so they run without the reference corpus:

- segment roundtrip: decoded postings == the uncompressed postings relation
- termstats and stats of a build
- a PFor build serves the rows of a varint build from a smaller index
- a 10^4-query DataFrame batch ranks repeats of a query identically
- the MaxScore kernel against brute force, alone and with the shared
  decode memo a batch uses, in both orders of full and pruned decodes;
  and ``run_bucket`` scoring a batch as each query alone

Rank identity of ``wand_topk`` with brute-force BM25 (list, DataFrame,
``k=None``), the commit rows and build resume are tested in
``test_serving.py`` and ``test_segment_build.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark import corpus
from search_engine_spark.index.build import build_postings, term_stats
from search_engine_spark.index.codec import (
    BlockMeta,
    bm25_norm,
    decode_postings,
    encode_postings,
)
from search_engine_spark.index.segments import (
    build_segments,
    load_stats,
    read_docmeta,
    read_segments,
    read_termstats,
)
from search_engine_spark.query import wand
from search_engine_spark.query.wand import maxscore_topk, run_bucket, wand_topk

N_BUCKETS = 4


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("index")
    pages = corpus.tiny_pages(spark)
    summary = build_segments(
        spark, pages, str(d), n_buckets=N_BUCKETS, run_id="test-run"
    )
    assert summary["built_buckets"] == N_BUCKETS
    return str(d)


def test_segment_roundtrip_matches_relation(spark, index_dir):
    pages = corpus.tiny_pages(spark)
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


def test_termstats_and_stats(spark, index_dir):
    stats = load_stats(index_dir)
    assert stats["n_docs"] == 100
    ts = read_termstats(spark, index_dir)
    pages = corpus.tiny_pages(spark)
    expected = {
        r.term: (r.df, r.idf)
        for r in term_stats(build_postings(pages), 100).collect()
    }
    got = {r.term: (r.df, r.idf) for r in ts.collect()}
    assert set(got) == set(expected)
    for t in expected:
        assert got[t][0] == expected[t][0], t
        assert abs(got[t][1] - expected[t][1]) < 1e-12, t


def _kernel_terms(seed: int, dfs: dict[str, int]):
    """A 5000-doc bucket: (dls, avgdl, {term: (encoded postings, dense
    per-doc BM25 norm)}) for terms of the given dfs."""
    rng = np.random.default_rng(seed)
    n_docs = 5000
    dls = rng.integers(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    terms = {}
    for term, df in dfs.items():
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = np.minimum(rng.geometric(0.4, size=df), 50).astype(np.uint64)
        norms = np.zeros(n_docs)
        norms[ids] = bm25_norm(tfs, dls[ids], avgdl)
        terms[term] = (encode_postings(ids, tfs, dls[ids]), norms)
    return dls, avgdl, terms


def _entries(terms, query):
    """Kernel entries of ``query`` = [(term, idf, qtf)]."""
    return [
        {"term": t, "postings": terms[t][0].postings,
         "blockmeta": terms[t][0].blockmeta, "idf": idf, "qtf": qtf}
        for t, idf, qtf in query
    ]


def _bruteforce(terms, query, k):
    brute = np.zeros(len(next(iter(terms.values()))[1]))
    for t, idf, qtf in query:
        brute += qtf * idf * terms[t][1]
    scores = np.round(brute, 6)
    order = np.lexsort((np.arange(len(brute)), -scores))
    nz = [i for i in order if brute[i] > 0][:k]
    return [(int(i), float(scores[i])) for i in nz]


def test_maxscore_kernel_vs_bruteforce():
    rng = np.random.default_rng(1234)
    dfs = {f"t{t}": int(rng.integers(50, 2000)) for t in range(5)}
    dls, avgdl, terms = _kernel_terms(1234, dfs)
    query = [(t, float(rng.uniform(0.1, 5.0)), int(rng.integers(1, 3))) for t in dfs]
    for k in (1, 10, 100, None):
        got = maxscore_topk(_entries(terms, query), dls, avgdl, k)
        assert got == _bruteforce(terms, query, k), k


# "mid" is the first term of A, so A decodes it in full; B's "head"
# outweighs it so far that B prunes it (k <= 100)
SHARED_QUERIES = {
    "A": [("mid", 1.0, 1), ("tail", 0.3, 1)],
    "B": [("head", 5.0, 2), ("mid", 1.0, 1)],
    "C": [("head", 5.0, 1), ("mid", 1.0, 2), ("tail", 0.3, 1), ("rare", 4.0, 1)],
    "D": [("tail", 0.3, 1)],
}
SHARED_DFS = {"head": 2000, "mid": 1500, "tail": 300, "rare": 60}


def test_maxscore_shared_memo_equals_alone_and_bruteforce(monkeypatch):
    """Queries that share terms, scored through one memo as a batch
    does, equal the memo-free call and brute force, in both orders: a
    term decoded in full and then met in a pruned phase (served from the
    memo, no block decode), and pruned first, then decoded in full."""
    dls, avgdl, terms = _kernel_terms(7, SHARED_DFS)
    term_of = {enc.postings: t for t, (enc, _) in terms.items()}
    events = []
    full, blocks = wand.decode_postings, wand.decode_blocks
    monkeypatch.setattr(
        wand, "decode_postings",
        lambda p, m: events.append(("full", term_of[p])) or full(p, m),
    )
    monkeypatch.setattr(
        wand, "decode_blocks",
        lambda p, m, b: events.append(("blocks", term_of[p])) or blocks(p, m, b),
    )
    for k in (1, 10, 100, None):
        for order in ("ABCD", "BADC"):
            memo, batch_events = {}, []
            for q in order:
                query = SHARED_QUERIES[q]
                events.clear()
                shared = maxscore_topk(_entries(terms, query), dls, avgdl, k, memo=memo)
                batch_events += events
                alone = maxscore_topk(_entries(terms, query), dls, avgdl, k)
                assert shared == alone == _bruteforce(terms, query, k), (k, order, q)
            # every term is decoded in full at most once per batch
            fulls = [t for kind, t in batch_events if kind == "full"]
            assert len(fulls) == len(set(fulls)), (k, order, batch_events)
            mid = [e for e in batch_events if e[1] == "mid"]
            if k is None:
                assert mid == [("full", "mid")]
            elif order == "ABCD":
                assert mid == [("full", "mid")]  # B's pruned phase: the memo
            else:
                assert mid == [("blocks", "mid"), ("full", "mid")]


def test_run_bucket_batch_equals_each_query_alone():
    """``run_bucket`` over a batch returns what each query returns
    scored alone over the same bucket."""
    dls, avgdl, terms = _kernel_terms(7, SHARED_DFS)
    n = len(dls)
    names = list(terms)
    idx_pdf = pd.DataFrame({
        "kind": [0] * n + [1] * len(names),
        "doc_idx": list(range(n)) + [None] * len(names),
        "dl": list(dls) + [None] * len(names),
        "url": [f"u{i:04d}" for i in range(n)] + [None] * len(names),
        "term": [None] * n + names,
        "postings": [None] * n + [terms[t][0].postings for t in names],
        "blockmeta": [None] * n + [terms[t][0].blockmeta for t in names],
    })
    q_pdf = pd.DataFrame(
        [(q, t, qtf, idf) for q, query in SHARED_QUERIES.items() for t, idf, qtf in query],
        columns=["query_id", "term", "qtf", "idf"],
    )
    for k in (1, 10, None):
        cfg = (avgdl, k, 1.2, 0.75)
        batch = run_bucket(idx_pdf, q_pdf, cfg)
        alone = pd.concat(
            [run_bucket(idx_pdf, q_pdf[q_pdf.query_id == q], cfg) for q in SHARED_QUERIES]
        )
        assert len(batch) >= len(SHARED_QUERIES) * (k or 10)
        rows = lambda df: sorted(df.itertuples(index=False, name=None))
        assert rows(batch) == rows(alone), k


def test_pfor_build_same_results_smaller_index(spark, tmp_path):
    """A PFor build serves the rows of the varint build of the same
    pages from smaller postings (per-block cheapest codec). The queries'
    terms have multi-block lists with PFor blocks, and pair rare with
    head terms so that MaxScore prunes: the kernel's pruned phase
    decodes PFor blocks through ``decode_blocks``."""
    import pyspark.sql.functions as SF

    pages = corpus.synth_pages(spark, 1200, seed=5).cache()
    dirs = {pfor: str(tmp_path / f"pfor={pfor}") for pfor in (False, True)}
    for pfor, d in dirs.items():
        build_segments(spark, pages, d, n_buckets=2, run_id="pfor", pfor=pfor)
    pages.unpersist()
    qs = ["w3000 w1 w2", "w5 w40 w300", "w977 w0 w3 w12", "w2 w2 w150"]
    queries = spark.createDataFrame(
        [(f"q{i}", q) for i, q in enumerate(qs)], "query_id string, query_string string"
    )
    metas = [
        BlockMeta(bytes(r.blockmeta))
        for r in read_segments(spark, dirs[True]).filter(SF.col("term").isin("w0", "w1", "w2")).collect()
    ]
    assert all(m.n_blocks > 1 and (m.docid_codec.any() or m.tf_codec.any()) for m in metas)
    k = lambda rows: {(r.query_id, r.rank): (r.url, r.score) for r in rows}
    base = k(wand_topk(spark, dirs[False], queries).collect())
    assert len(base) == 10 * len(qs)
    assert k(wand_topk(spark, dirs[True], queries).collect()) == base

    def seg_bytes(path):
        return (
            read_segments(spark, str(path))
            .agg(SF.sum(SF.length("postings")).alias("pb"))
            .collect()[0]
            .pb
        )

    assert seg_bytes(dirs[True]) < seg_bytes(dirs[False])


def test_wand_large_query_batch_ranks_repeats_identically(spark, index_dir):
    """A 10^4-row query batch DataFrame is served in one call; repeated
    instances of the same base query must return identical rankings."""
    base = corpus.REFERENCE_QUERIES
    big = spark.range(10_000).select(
        F.concat(F.lit("q"), F.col("id")).alias("query_id"),
        F.element_at(
            F.array(*[F.lit(q) for q in base]),
            (F.col("id") % len(base)).cast("int") + 1,
        ).alias("query_string"),
    )
    res = wand_topk(spark, index_dir, big, k=3).collect()
    by_qid: dict[str, list] = {}
    for r in res:
        by_qid.setdefault(r.query_id, []).append((r.rank, r.url, r.score))
    assert len(by_qid) > 9_000  # nearly every query produced results
    # two different instances of base query 0 rank identically
    a = sorted(by_qid["q0"])
    b = sorted(by_qid[f"q{len(base)}"])
    assert a == b and len(a) == 3
