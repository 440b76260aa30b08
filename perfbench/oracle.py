"""Brute-force BM25 oracle over generated pages, and result checks.

The scoring formula is the one in ``tests/reference_model.py``: idf
``ln(1 + (N - df + 0.5) / (df + 0.5))``, k1=1.2, b=0.75, query terms
weighted by their multiplicity, ranking by (score rounded to 6 dp desc,
url asc). It is computed here with numpy over the generator's rank
arrays, so checking a query costs milliseconds, not a corpus pass.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from gen import VOCAB, Pages

K1, B = 1.2, 0.75
_WORD = re.compile(r"\w+")
_WORD_ID = re.compile(r"w(\d+)")


def _query_terms(text: str) -> Counter:
    """Query tokens (``\\w+``, lowercased) with multiplicity."""
    return Counter(m.group(0).lower() for m in _WORD.finditer(text))


class Oracle:
    """Exact BM25 over a fixed set of pages (a corpus snapshot)."""

    def __init__(self, pages: Pages):
        n = len(pages)
        lens = np.diff(pages.offsets)
        doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
        pairs, tfs = np.unique(
            pages.ranks.astype(np.int64) * n + doc_of, return_counts=True
        )
        self._terms = pairs // n
        self._docs = pairs % n
        self._tfs = tfs.astype(np.float64)
        self._bounds = np.searchsorted(self._terms, np.arange(VOCAB + 1))
        self.n = n
        self.dl = lens.astype(np.float64)
        self.avgdl = float(lens.sum()) / n
        self.urls = pages.urls
        self.url_rank = np.argsort(np.argsort(np.array(pages.urls)))
        self.doc_of_url = {u: i for i, u in enumerate(pages.urls)}

    def present_ranks(self) -> np.ndarray:
        return np.flatnonzero(np.diff(self._bounds))

    def n_postings(self) -> int:
        return len(self._docs)

    def scores(self, query: str) -> tuple[np.ndarray, np.ndarray]:
        """(acc, touched): exact score per doc and whether any query
        term occurs in it."""
        acc = np.zeros(self.n)
        touched = np.zeros(self.n, dtype=bool)
        for term, qn in _query_terms(query).items():
            m = _WORD_ID.fullmatch(term)
            if m is None or int(m.group(1)) >= VOCAB:
                continue
            r = int(m.group(1))
            lo, hi = self._bounds[r], self._bounds[r + 1]
            if lo == hi or term != f"w{r}":
                continue
            docs, tf = self._docs[lo:hi], self._tfs[lo:hi]
            df = hi - lo
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            norm = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl)
            )
            acc[docs] += qn * idf * norm
            touched[docs] = True
        return acc, touched

    def topk(self, query: str, k: int) -> list[tuple[str, float]]:
        acc, touched = self.scores(query)
        idx = np.flatnonzero(touched)
        r = np.round(acc[idx], 6)
        top = idx[np.lexsort((self.url_rank[idx], -r))[:k]]
        return [(self.urls[d], round(float(acc[d]), 6)) for d in top]

    def check(
        self,
        query: str,
        got: list[tuple[str, float]],
        k: int,
        tol: float = 1e-5,
        url_ties: bool = True,
    ) -> bool:
        """True iff ``got`` (ranked (url, score) pairs) is the exact
        top-k. Scores may differ from the oracle's by ``tol``
        (floating-point summation order). With ``url_ties`` equal
        6-dp scores must list urls ascending; the TCP wire carries
        millipoints, where that order is not observable."""
        acc, touched = self.scores(query)
        idx = np.flatnonzero(touched)
        want = idx[np.lexsort((self.url_rank[idx], -np.round(acc[idx], 6)))[:k]]
        if len(got) != len(want):
            return False
        seen: set[int] = set()
        prev = None
        for (url, score), w in zip(got, want):
            d = self.doc_of_url.get(url)
            if d is None or d in seen or not touched[d]:
                return False
            seen.add(d)
            if abs(acc[d] - score) > tol or abs(acc[w] - score) > tol:
                return False
            key = round(score, 6)
            if prev is not None:
                if key > prev[0] or (url_ties and key == prev[0] and url < prev[1]):
                    return False
            prev = (key, url)
        return True
