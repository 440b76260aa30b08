"""ingest-gens: writes beside reads, through ``streaming.ingest``.

Every cycle starts from an empty directory, so the work is the same
from cycle to cycle. A cycle is a fixed sequence of three ops:

1. ``gen0``: build a 1,000-page generation with
   ``build_segments(n_buckets=4)``, ``merge_generation_stats``, then one
   fresh query: ``query_generations(global_stats=True)`` on an 8-query
   DataFrame, collected.
2. ``gen1``: build and merge the next 1,000 pages.
3. ``compact``: ``compact_generations``, merge the stats, one more
   fresh query.

Ops run for ``--seconds`` and then to the end of the cycle in flight, so
every run does whole cycles and a faster program does the same mix of
ops.

Every fresh query is checked against the oracle over the pages ingested
so far in the cycle, and every merge's global stats (N, avgdl) against
the oracle's. ``gen1`` runs no query: a query over two live generations
costs about two single-generation ones, and the run budget has no room
for it. Set-up starts the session and runs one untimed ``gen0``-shaped
op on separate pages, so the first timed build is not the JVM's cold
one.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import gen
from common import (
    K, QUERY_SCHEMA, e2e_metrics, encode_secs, layer_metrics, median, ranked, result,
    tree_bytes, tree_files,
)
from oracle import Oracle
from spans import HostMeter, JobCounter, Tracer, peak_rss_mb

N_GEN = 1000
GENS = 2
N_BUCKETS = 4
N_QUERIES = 8
QUERY_AFTER = (0, GENS)  # ops followed by a fresh query: gen0 and compact
WARM_STREAM = 9


class _Ingest:
    def __init__(self, ctx, tr: Tracer, jobs: JobCounter):
        from search_engine_spark.index import segments
        from search_engine_spark.streaming import ingest

        self.segments, self.ingest = segments, ingest
        self.spark = ctx.spark
        self.tr, self.jobs = tr, jobs
        self.samples: dict[str, list[float]] = {}

    def _timed(self, name: str, kind: str, fn, *args, **kwargs):
        with self.tr.span(name), self.jobs.group(kind):
            t0 = time.monotonic()
            out = fn(*args, **kwargs)
            self.samples.setdefault(name, []).append(time.monotonic() - t0)
        return out

    def merge(self, out_dir: str, oracle: Oracle) -> bool:
        """Merge the stats; True iff the sidecar's N and avgdl are the
        oracle's."""
        sidecar = self._timed(
            "ingest.merge", "merge", self.ingest.merge_generation_stats, self.spark, out_dir
        )
        stats = json.loads((Path(sidecar) / "stats.json").read_text())
        return stats["n_docs"] == oracle.n and abs(stats["avgdl"] - oracle.avgdl) < 1e-9

    def build(self, path: str, gen_dir: str) -> None:
        self._timed(
            "segments.build", "build", self.segments.build_segments,
            self.spark, self.spark.read.parquet(path), gen_dir,
            n_buckets=N_BUCKETS, run_id="perfbench",
        )

    def compact(self, out_dir: str) -> str:
        return self._timed(
            "ingest.compact", "compact", self.ingest.compact_generations,
            self.spark, out_dir, n_buckets=N_BUCKETS,
        )

    def fresh_query(self, out_dir: str, queries: list[gen.Query], oracle: Oracle) -> bool:
        self.samples.setdefault("live_generations", []).append(
            len(self.ingest.list_generations(out_dir))
        )

        def query():
            qdf = self.spark.createDataFrame([(q.qid, q.text) for q in queries], QUERY_SCHEMA)
            return self.ingest.query_generations(
                self.spark, out_dir, qdf, k=K, global_stats=True
            ).collect()

        got = ranked(self._timed("ingest.query", "query", query))
        return all(oracle.check(q.text, got.get(q.qid, []), K) for q in queries)


def _term_lists(gen_dirs: list[str]) -> int:
    import pyarrow.dataset as ds

    return sum(
        ds.dataset(f"{g}/index", format="parquet", partitioning="hive").count_rows(
            filter=ds.field("kind") == 1
        )
        for g in gen_dirs
    )


def run(ctx) -> dict:
    parts = [gen.make_pages(ctx.seed, N_GEN, stream=g) for g in range(GENS)]
    paths = [
        gen.pages_parquet(p, ctx.cache, f"ingest-s{ctx.seed}-g{g}-n{N_GEN}")
        for g, p in enumerate(parts)
    ]
    oracles = [Oracle(gen.concat(parts[: g + 1])) for g in range(GENS)]
    queries = gen.make_queries(ctx.seed, N_QUERIES, oracles[-1].present_ranks(), stream=5)
    warm_pages = gen.make_pages(ctx.seed, N_GEN, stream=WARM_STREAM)
    warm_path = gen.pages_parquet(warm_pages, ctx.cache, f"ingest-s{ctx.seed}-g{WARM_STREAM}-n{N_GEN}")
    warm_oracle = Oracle(warm_pages)
    warm_queries = gen.make_queries(ctx.seed, N_QUERIES, warm_oracle.present_ranks(), stream=6)
    tr = Tracer(ctx.trace)
    run_host, window_host = HostMeter(), HostMeter()
    run_host.start()

    # ---- set-up: session + one untimed generation ----------------------
    t_setup = time.monotonic()
    with tr.span("session.start"):
        session_s = ctx.start_session()
    jobs = JobCounter(ctx.spark, ctx.trace)
    ing = _Ingest(ctx, tr, jobs)
    warm_dir = str(ctx.work / "ingest-warm")
    ing.build(warm_path, f"{warm_dir}/gen=0")
    ing.merge(warm_dir, warm_oracle)
    ing.fresh_query(warm_dir, warm_queries, warm_oracle)
    setup_s = time.monotonic() - t_setup
    ing.samples.clear()

    # ---- timed ops -----------------------------------------------------
    attempted = failed = 0
    visible: list[float] = []
    update_s = 0.0
    ingested = 0
    compacted_bytes: list[int] = []
    term_lists: list[int] = []
    index_files: list[int] = []
    encode_s: list[float] = []
    window_host.start()
    w0 = time.monotonic()
    cycle = op = 0
    # stop only at a cycle boundary, so every run does whole cycles
    while time.monotonic() - w0 < ctx.seconds or op != 0:
        out_dir = str(ctx.work / f"ingest-c{cycle}")
        with tr.span("op", f"c{cycle}-op{op}"):
            # the benchmark's own reads stay out of the timed calls
            if ctx.trace and op == GENS:
                term_lists.append(_term_lists(ing.ingest.list_generations(out_dir)))
            t0 = time.monotonic()
            if op < GENS:
                gen_dir = f"{out_dir}/gen={op}"
                oracle = oracles[op]
                ing.build(paths[op], gen_dir)
                ok = ing.merge(out_dir, oracle)
                visible.append(time.monotonic() - t0)
                ingested += N_GEN
            else:
                oracle = oracles[-1]
                dest = ing.compact(out_dir)
                ok = ing.merge(out_dir, oracle)
            update_s += time.monotonic() - t0
            if op < GENS:
                if ctx.trace:
                    index_files.append(tree_files(f"{gen_dir}/index"))
                    encode_s.append(encode_secs(gen_dir))
            else:
                compacted_bytes.append(tree_bytes(dest))
            if op in QUERY_AFTER:
                ok = ing.fresh_query(out_dir, queries, oracle) and ok
        attempted += 1
        failed += not ok
        op += 1
        if op > GENS:
            cycle, op = cycle + 1, 0
    window_cpu, _ = window_host.stop()

    e2e = {
        "setup_s": setup_s,
        "query_p50_s": median(ing.samples["ingest.query"]),
        "work_per_s": ingested / update_s,
        "index_bytes_per_posting": compacted_bytes[0] / oracles[-1].n_postings(),
    }
    ctx.info.update(
        ops=attempted,
        session_s=session_s,
        samples={k: [round(x, 4) for x in v] for k, v in ing.samples.items()},
    )
    if not ctx.trace:
        _, ctx.info["host_steal_s"] = run_host.stop()
        return result(e2e_metrics(e2e), attempted, failed)

    # ---- traced run: per-layer numbers ---------------------------------
    layers = {
        "session.start_s": session_s,
        "segments.build_s": median(ing.samples["segments.build"]),
        "segments.encode_s": median(encode_s),
        "segments.index_files": median(index_files),
        "ingest.visible_p50_s": median(visible),
        "ingest.merge_stats_s": median(ing.samples["ingest.merge"]),
        "ingest.compact_s": median(ing.samples["ingest.compact"]),
        "ingest.compact_term_lists": median(term_lists),
        "ingest.live_generations": statistics.mean(ing.samples["live_generations"]),
        "host.cpu_s_per_op": window_cpu / attempted,
        "traced.setup_s": e2e["setup_s"],
        "traced.query_p50_s": e2e["query_p50_s"],
        "traced.work_per_s": e2e["work_per_s"],
    }
    (layers["segments.build_jobs"], layers["segments.build_stages"],
     layers["segments.build_tasks"]) = jobs.per_call("build")
    layers["ingest.compact_jobs"] = jobs.per_call("compact")[0]
    layers["ingest.query_jobs"], layers["ingest.query_stages"], _ = jobs.per_call("query")
    layers["host.peak_rss_mb"] = peak_rss_mb()
    _, layers["host.steal_s"] = run_host.stop()
    ctx.info["host_steal_s"] = layers["host.steal_s"]
    tr.dump(str(ctx.cache.parent / f"spans-ingest-gens-s{ctx.seed}.json"))
    return result(layer_metrics(layers), attempted, failed)
