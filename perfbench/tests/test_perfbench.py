"""Tests of the benchmark itself: its generator, oracle and checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

import gen
from oracle import Oracle


def _pages_equal(a: gen.Pages, b: gen.Pages) -> bool:
    return (
        a.urls == b.urls
        and np.array_equal(a.ranks, b.ranks)
        and np.array_equal(a.offsets, b.offsets)
    )


def test_generator_is_deterministic_per_seed():
    a, b = gen.make_pages(7, 300), gen.make_pages(7, 300)
    assert _pages_equal(a, b)
    assert a.texts() == b.texts()
    assert not _pages_equal(a, gen.make_pages(8, 300))
    assert not _pages_equal(a, gen.make_pages(7, 300, stream=1))
    present = Oracle(a).present_ranks()
    assert gen.make_queries(7, 50, present) == gen.make_queries(7, 50, present)
    assert gen.make_queries(7, 50, present) != gen.make_queries(8, 50, present)


def test_generator_shape():
    pages = gen.make_pages(3, 2000)
    lens = np.diff(pages.offsets)
    assert lens.min() >= gen.LEN_MIN and lens.max() <= gen.LEN_MAX
    # Zipf head: the top word is far more frequent than the 100th
    counts = np.bincount(pages.ranks, minlength=gen.VOCAB)
    assert counts[0] > 20 * counts[99] > 0
    qs = gen.make_queries(3, 400, Oracle(pages).present_ranks())
    share = {c: sum(q.cls == c for q in qs) / len(qs) for c in ("oov", "single", "multi")}
    assert share == {"oov": 0.2, "single": 0.2, "multi": 0.6}


def test_concat_matches_single_pages():
    a, b = gen.make_pages(5, 40, stream=0), gen.make_pages(5, 60, stream=1)
    both = gen.concat([a, b])
    assert both.texts() == a.texts() + b.texts()


@pytest.fixture(scope="module")
def tiny():
    pages = gen.make_pages(11, 400)
    oracle = Oracle(pages)
    return pages, oracle, gen.make_queries(11, 60, oracle.present_ranks())


def test_oracle_matches_reference_formula(tiny):
    """The numpy oracle equals a direct dict-based BM25 (the formula of
    tests/reference_model.py) on every query."""
    import math
    from collections import Counter, defaultdict

    pages, oracle, queries = tiny
    postings: dict = defaultdict(dict)
    dl = {}
    for url, text in zip(pages.urls, pages.texts()):
        toks = text.lower().split()
        dl[url] = len(toks)
        for t, c in Counter(toks).items():
            postings[t][url] = c
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    for q in queries:
        scores: dict = defaultdict(float)
        for tok, qn in Counter(q.text.lower().split()).items():
            plist = postings.get(tok, {})
            df = len(plist)
            for url, tf in plist.items():
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl[url] / avgdl))
                scores[url] += qn * idf * norm
        want = sorted(((u, round(s, 6)) for u, s in scores.items()), key=lambda x: (-x[1], x[0]))[:10]
        got = oracle.topk(q.text, 10)
        assert [u for u, _ in got] == [u for u, _ in want]
        assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-6)
        assert oracle.check(q.text, want, 10)


def test_swapped_ranks_fail_the_check(tiny):
    _, oracle, queries = tiny
    q = next(q for q in queries if q.cls == "multi" and len(oracle.topk(q.text, 10)) == 10)
    top = oracle.topk(q.text, 10)
    assert oracle.check(q.text, top, 10)
    swapped = list(top)
    swapped[2], swapped[3] = swapped[3], swapped[2]
    assert not oracle.check(q.text, swapped, 10)
    assert not oracle.check(q.text, top[:9], 10)
    assert not oracle.check(q.text, top[:9] + [top[0]], 10)
    wrong_score = top[:4] + [(top[4][0], top[4][1] + 0.01)] + top[5:]
    assert not oracle.check(q.text, wrong_score, 10)
    # the TCP wire carries millipoints: tolerated, swapped ranks are not
    milli = [(u, round(s * 1000) / 1000) for u, s in top]
    assert oracle.check(q.text, milli, 10, tol=0.0011, url_ties=False)
    milli[0], milli[5] = milli[5], milli[0]
    assert not oracle.check(q.text, milli, 10, tol=0.0011, url_ties=False)


def test_tied_scores_must_list_urls_ascending():
    # two identical pages score the same on every query
    pages = gen.make_pages(2, 30)
    dup = gen.Pages(
        pages.urls + ["https://bench.example.org/zz-dup"],
        np.concatenate([pages.ranks, pages.ranks[: pages.offsets[1]]]),
        np.concatenate([pages.offsets, [pages.offsets[-1] + pages.offsets[1]]]),
    )
    oracle = Oracle(dup)
    word = f"w{int(pages.ranks[: pages.offsets[1]].max())}"  # rarest word of page 0
    top = oracle.topk(word, 10)
    pair = [i for i, (u, _) in enumerate(top) if u in (pages.urls[0], dup.urls[-1])]
    assert len(pair) == 2 and top[pair[0]][1] == top[pair[1]][1]
    swapped = list(top)
    swapped[pair[0]], swapped[pair[1]] = swapped[pair[1]], swapped[pair[0]]
    assert oracle.check(word, top, 10)
    assert not oracle.check(word, swapped, 10)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from search_engine_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_oracle_agrees_with_engine_on_every_class(tiny, spark, tmp_path):
    from search_engine_spark.index.segments import build_segments
    from search_engine_spark.query.wand import wand_topk

    from common import QUERY_SCHEMA, ranked

    pages, oracle, queries = tiny
    path = gen.pages_parquet(pages, tmp_path, "tiny")
    idx = str(tmp_path / "idx")
    build_segments(spark, spark.read.parquet(path), idx, n_buckets=3)
    classes = {q.cls for q in queries}
    assert classes == {"oov", "single", "multi"}
    # list form (single queries) and DataFrame form (plan path)
    for q in [next(q for q in queries if q.cls == c) for c in sorted(classes)]:
        got = ranked(wand_topk(spark, idx, [(q.qid, q.text)], k=10).collect())
        assert oracle.check(q.text, got.get(q.qid, []), 10), q
    qdf = spark.createDataFrame([(q.qid, q.text) for q in queries], QUERY_SCHEMA)
    got = ranked(wand_topk(spark, idx, qdf, k=10).collect())
    for q in queries:
        assert oracle.check(q.text, got.get(q.qid, []), 10), q
