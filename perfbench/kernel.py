"""In-process replay of the serving kernel, for its work counters.

After the timed ops of a traced run, the queries of one batch are
replayed through ``query.wand.maxscore_topk`` in this process, bucket by
bucket, over the same index rows (read with pyarrow). The codec calls
the kernel makes are wrapped to count them; nothing in the program is
changed. Every count is reported per query.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

import numpy as np


class _CountingNumpy:
    """numpy, except that ``flatnonzero`` counts what it returns. The
    kernel calls it exactly once per (query, bucket), to form the
    candidate pool it ranks (pruned phase) or all touched docs."""

    def __init__(self, counts: Counter):
        self._counts = counts

    def __getattr__(self, name):
        return getattr(np, name)

    def flatnonzero(self, a):
        out = np.flatnonzero(a)
        self._counts["candidates"] += len(out)
        return out


@contextmanager
def _counting(wand, counts: Counter):
    orig = wand.decode_postings, wand.decode_blocks, wand.np

    def decode_postings(postings, meta):
        t0 = time.monotonic()
        out = orig[0](postings, meta)
        counts["decode_s"] += time.monotonic() - t0
        counts["decode_calls"] += 1
        counts["terms_full"] += 1
        counts["blocks_decoded"] += meta.n_blocks
        return out

    def decode_blocks(postings, meta, blocks):
        t0 = time.monotonic()
        out = orig[1](postings, meta, blocks)
        counts["decode_s"] += time.monotonic() - t0
        counts["decode_calls"] += 1
        counts["blocks_decoded"] += len(blocks)
        return out

    wand.decode_postings, wand.decode_blocks = decode_postings, decode_blocks
    wand.np = _CountingNumpy(counts)
    try:
        yield
    finally:
        wand.decode_postings, wand.decode_blocks, wand.np = orig


def _bucket_rows(index_dir: Path, terms: list[str]):
    """Per bucket: dense dl array and {term: (postings, blockmeta)}."""
    import pyarrow.dataset as ds

    data = ds.dataset(index_dir / "index", format="parquet", partitioning="hive")
    docs = data.to_table(
        columns=["bucket", "doc_idx", "dl"], filter=ds.field("kind") == 0
    ).to_pydict()
    dls: dict[int, np.ndarray] = {}
    by_bucket: dict[int, list] = {}
    for b, i, dl in zip(docs["bucket"], docs["doc_idx"], docs["dl"]):
        by_bucket.setdefault(int(b), []).append((i, dl))
    for b, pairs in by_bucket.items():
        arr = np.zeros(len(pairs), dtype=np.int64)
        for i, dl in pairs:
            arr[i] = dl
        dls[b] = arr
    rows = data.to_table(
        columns=["bucket", "term", "postings", "blockmeta"],
        filter=(ds.field("kind") == 1) & ds.field("term").isin(terms),
    ).to_pydict()
    postings: dict[int, dict] = {b: {} for b in dls}
    for b, t, p, m in zip(rows["bucket"], rows["term"], rows["postings"], rows["blockmeta"]):
        postings[int(b)][t] = (p, m)
    return dls, postings


def replay(index_dir: str, queries: list[str], k: int) -> dict[str, float]:
    """Kernel and codec counters per query over ``queries``."""
    import pyarrow.parquet as pq

    from search_engine_spark.functions.tokenize import query_tokens_py
    from search_engine_spark.index.codec import BlockMeta
    from search_engine_spark.query import wand

    root = Path(index_dir)
    stats = json.loads((root / "stats.json").read_text())
    idf_tab = pq.read_table(root / "termstats", columns=["term", "idf"]).to_pydict()
    idf = dict(zip(idf_tab["term"], idf_tab["idf"]))
    qtfs = [Counter(t for t in query_tokens_py(q) if t in idf) for q in queries]
    dls, postings = _bucket_rows(root, sorted({t for c in qtfs for t in c}))

    counts: Counter = Counter()
    busy = 0.0
    with _counting(wand, counts):
        for qtf in qtfs:
            for b, bucket_terms in postings.items():
                entries = [
                    {"postings": pm[0], "blockmeta": pm[1], "idf": idf[t], "qtf": n}
                    for t, n in qtf.items()
                    if (pm := bucket_terms.get(t)) is not None
                ]
                counts["entries"] += len(entries)
                counts["blocks_total"] += sum(
                    BlockMeta(e["blockmeta"]).n_blocks for e in entries
                )
                t0 = time.monotonic()
                wand.maxscore_topk(
                    entries, dls[b], stats["avgdl"], k, stats["k1"], stats["b"]
                )
                busy += time.monotonic() - t0
    n = max(len(queries), 1)
    return {
        "kernel.busy_s": busy / n,
        "kernel.terms_full": counts["terms_full"] / n,
        "kernel.terms_pruned": (counts["entries"] - counts["terms_full"]) / n,
        "kernel.blocks_decoded": counts["blocks_decoded"] / n,
        "kernel.blocks_total": counts["blocks_total"] / n,
        "kernel.block_decode_ratio": (
            counts["blocks_decoded"] / counts["blocks_total"]
            if counts["blocks_total"]
            else 0.0
        ),
        "kernel.candidates": counts["candidates"] / n,
        "codec.decode_calls": counts["decode_calls"] / n,
        "codec.decode_s": counts["decode_s"] / n,
    }
