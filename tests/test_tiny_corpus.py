"""The in-repo 100-page corpus behind the REPL and TCP front-end tests
(``corpus.tiny_pages``, FIXTURES.md §1): deterministic, self-contained,
and every reference query hits it. Pure Python, no Spark."""

from __future__ import annotations

import datetime as dt
import re

from search_engine_spark import corpus
from search_engine_spark.functions.tokenize import doc_tokens_py, query_tokens_py

_URL = re.compile(r"https://example\.org/query(\d+)/document(\d+)\.txt")


def _matches(rows, query):
    terms = set(query_tokens_py(query))
    return [r[0] for r in rows if terms & set(doc_tokens_py(r[3]))]


def test_tiny_pages_deterministic_and_self_contained(tmp_path, monkeypatch):
    # no reference checkout: the rows must not depend on one
    monkeypatch.setattr(corpus, "REFERENCE_DIR", tmp_path / "absent")
    rows = corpus.tiny_pages_rows()
    assert rows == corpus.tiny_pages_rows()
    assert len(rows) == 100 == len({r[0] for r in rows})
    qd = sorted(tuple(map(int, _URL.fullmatch(r[0]).groups())) for r in rows)
    assert qd == [(q, d) for q in range(1, 11) for d in range(1, 11)]
    for i, (url, ts, html, text, lang) in enumerate(rows):
        assert ts == corpus._EPOCH + dt.timedelta(seconds=i)
        assert html == text.encode() and lang == "txt"
        assert len(text.splitlines()) > 5  # the REPL preview has text


def test_tiny_pages_every_reference_query_hits():
    rows = corpus.tiny_pages_rows()
    for n, q in enumerate(corpus.REFERENCE_QUERIES, start=1):
        hits = _matches(rows, q)
        own = {f"https://example.org/query{n}/document{d}.txt"
               for d in range(1, 11)}
        assert own <= set(hits), q
        # the next query's leading tokens reach beyond its own ten pages
        assert len(hits) > 10, q
    assert len(_matches(rows, "standard american breakfast")) > 10
