"""Seeded workload inputs: Zipf pages and classed queries.

The generator lives in the benchmark, not in the program, so a change
to the program cannot change the workload. Pages follow a Zipf(s=1.07)
law over a 50k-word vocabulary with lognormal lengths; queries come in
three classes (out-of-vocabulary, single-term, multi-term) whose terms
span head to tail ranks.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.07
LEN_MU, LEN_SIGMA, LEN_MIN, LEN_MAX = 5.5, 0.6, 8, 2000
MAX_TERMS = 5
# query classes by position, so every seed gets the same class mix in
# the same order: 20% out-of-vocabulary, 20% one term, 60% 2-5 terms
CLASS_PATTERN = ("multi", "single", "oov", "multi", "multi", "single", "multi", "oov", "multi", "multi")

_CDF = np.cumsum(1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S)
_CDF /= _CDF[-1]
WORDS = np.array([f"w{r}" for r in range(VOCAB)], dtype=object)


@dataclass(frozen=True)
class Pages:
    """``n`` pages as rank arrays (CSR) plus their urls."""

    urls: list[str]
    ranks: np.ndarray  # flat word ranks, page after page
    offsets: np.ndarray  # len n+1

    def __len__(self) -> int:
        return len(self.urls)

    def texts(self) -> list[str]:
        words = WORDS[self.ranks]
        o = self.offsets
        return [" ".join(words[o[i] : o[i + 1]]) for i in range(len(self))]


def concat(parts: list[Pages]) -> Pages:
    offsets = [np.zeros(1, dtype=np.int64)]
    for p in parts:
        offsets.append(p.offsets[1:] + offsets[-1][-1])
    return Pages(
        [u for p in parts for u in p.urls],
        np.concatenate([p.ranks for p in parts]),
        np.concatenate(offsets),
    )


def make_pages(seed: int, n: int, stream: int = 0) -> Pages:
    """``n`` pages, a pure function of (seed, n, stream)."""
    rng = np.random.default_rng([seed, stream, 0x5A11])
    lens = np.clip(
        np.exp(rng.normal(LEN_MU, LEN_SIGMA, n)).astype(np.int64), LEN_MIN, LEN_MAX
    )
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    ranks = np.searchsorted(_CDF, rng.random(int(offsets[-1])), side="right")
    ranks = np.minimum(ranks, VOCAB - 1).astype(np.int32)
    urls = [f"https://bench.example.org/s{seed}/g{stream}/p{i:06d}" for i in range(n)]
    return Pages(urls, ranks, offsets)


def pages_parquet(pages: Pages, cache_dir: Path, key: str) -> str:
    """Write (url, text) parquet once per key; returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = cache_dir / f"{key}.parquet"
    if not path.exists():
        cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        pq.write_table(
            pa.table({"url": pages.urls, "text": pages.texts()}), tmp
        )
        tmp.rename(path)
    return str(path)


@dataclass(frozen=True)
class Query:
    qid: str
    text: str
    cls: str  # "oov" | "single" | "multi"


def make_queries(
    seed: int, n: int, present_ranks: np.ndarray, stream: int = 0
) -> list[Query]:
    """``n`` classed queries, classes following ``CLASS_PATTERN``.
    In-vocabulary terms are drawn log-uniformly over the ranks that
    occur in the corpus, so head and tail both appear; OOV queries use
    words no page contains."""
    rng = np.random.default_rng([seed, stream, 0x0C1A55])
    present = np.sort(np.asarray(present_ranks))
    out = []
    for i in range(n):
        qid = f"q{stream}-{i:05d}"
        cls = CLASS_PATTERN[i % len(CLASS_PATTERN)]
        if cls == "oov":
            words = [f"zz{int(x)}" for x in rng.integers(0, 10**6, rng.integers(1, 4))]
        else:
            n_terms = 1 if cls == "single" else int(rng.integers(2, MAX_TERMS + 1))
            # log-uniform position in the present-rank list: head and tail
            pos = np.exp(rng.uniform(0.0, np.log(len(present)), n_terms)).astype(np.int64)
            words = WORDS[present[np.minimum(pos, len(present) - 1)]]
        out.append(Query(qid, " ".join(words), cls))
    return out
