"""Small helpers shared by the workloads."""

from __future__ import annotations

import json
import math
import os
import statistics
from pathlib import Path

QUERY_SCHEMA = "query_id string, query_string string"
K = 10


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` at the repo root
    declares them (``end_to_end`` or ``per_layer``)."""
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


E2E_UNITS = _declared("end_to_end")
LAYER_UNITS = _declared("per_layer")


def e2e_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    if set(values) != set(E2E_UNITS):
        raise KeyError(f"end-to-end metrics {sorted(values)} != declared {sorted(E2E_UNITS)}")
    return {k: (values[k], u) for k, u in E2E_UNITS.items()}


def layer_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every declared per-layer metric; a layer a workload does not
    exercise reads 0 there."""
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: (values.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, p: float) -> float:
    """Nearest-rank percentile (0 when there are no samples)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)])


def tree_bytes(path: str | Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def tree_files(path: str | Path) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def ranked(rows) -> dict[str, list[tuple[str, float]]]:
    """Collected (query_id, rank, url, score) rows -> per query, the
    (url, score) list in rank order."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append((r.url, float(r.score)))
    return out


def result(metrics: dict[str, tuple[float, str]], attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def encode_secs(index_dir: str) -> float:
    """Sum of the build's own per-bucket ``encode_secs`` (metrics.parquet)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    return float(pc.sum(pq.read_table(f"{index_dir}/metrics.parquet").column("encode_secs")).as_py())
