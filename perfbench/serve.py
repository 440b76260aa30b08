"""serve-zipf: one interactive user, closed loop, over a Zipf index.

The ops come in groups of four: a 320-query ``createDataFrame`` batch
(the plan path a pipeline caller takes), then three single queries in
list form (the REPL / CLI shape). Set-up starts the session, builds a
20,000-page index in 8 buckets with ``index.segments.build_segments``
and warms up without timing with one single query of each class (the
first takes the cold start) and one 320-query batch (with a 32-query
batch in its place, the first timed batch ran 16% slower than the
third). Timed groups run for ``--seconds`` and until at least two are
done; a run stops only at the end of a group, so a faster program does
the same mix of ops. Each op calls ``query.wand.wand_topk(..., k=10)``
and collects the rows; every output is checked against the brute-force
oracle.

A traced run adds spans and Spark job counts per op, replays one batch
through the kernel in this process for its counters, and then drives the
TCP submit/poll front-end with a closed loop of one client per core
from a separate load-generator process.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import gen
from common import (
    K, QUERY_SCHEMA, e2e_metrics, encode_secs, layer_metrics, median, pct, ranked, result,
    tree_bytes, tree_files,
)
from oracle import Oracle
from spans import HostMeter, JobCounter, Tracer, peak_rss_mb

N_PAGES = 20_000
N_BUCKETS = 8
BATCH = 320
BATCH_EVERY = 4
WARM_SINGLES = 3  # pattern positions 0-2: multi, single, oov
MIN_GROUPS = 2
TCP_SECONDS = 10  # client load phase of the traced run


class _Serve:
    def __init__(self, ctx, oracle: Oracle, index_dir: str, tr: Tracer, jobs: JobCounter):
        from search_engine_spark.query import wand

        self.wand = wand
        self.spark = ctx.spark
        self.oracle = oracle
        self.idx = index_dir
        self.tr = tr
        self.jobs = jobs

    def single(self, q: gen.Query, op: str, kind: str) -> tuple[float, bool]:
        with self.tr.span("op.single", op), self.jobs.group(kind):
            t0 = time.monotonic()
            with self.tr.span("wand.plan"):
                df = self.wand.wand_topk(self.spark, self.idx, [(q.qid, q.text)], k=K)
            with self.tr.span("wand.collect"):
                rows = df.collect()
            dt = time.monotonic() - t0
        return dt, self.oracle.check(q.text, ranked(rows).get(q.qid, []), K)

    def batch(self, qs: list[gen.Query], op: str, kind: str) -> tuple[float, bool]:
        with self.tr.span("op.batch", op), self.jobs.group(kind):
            t0 = time.monotonic()
            qdf = self.spark.createDataFrame([(q.qid, q.text) for q in qs], QUERY_SCHEMA)
            rows = self.wand.wand_topk(self.spark, self.idx, qdf, k=K).collect()
            dt = time.monotonic() - t0
        got = ranked(rows)
        return dt, all(self.oracle.check(q.text, got.get(q.qid, []), K) for q in qs)


def run(ctx) -> dict:
    pages = gen.make_pages(ctx.seed, N_PAGES)
    path = gen.pages_parquet(pages, ctx.cache, f"serve-s{ctx.seed}-n{N_PAGES}")
    oracle = Oracle(pages)
    present = oracle.present_ranks()
    singles = gen.make_queries(ctx.seed, 5000, present, stream=0)
    warm = gen.make_queries(ctx.seed, WARM_SINGLES, present, stream=1)
    tr = Tracer(ctx.trace)
    run_host, window_host = HostMeter(), HostMeter()
    run_host.start()

    # ---- set-up: session + index build + warm-up -----------------------
    t_setup = time.monotonic()
    with tr.span("session.start"):
        session_s = ctx.start_session()
    spark = ctx.spark
    jobs = JobCounter(spark, ctx.trace)
    from search_engine_spark.index.segments import build_segments

    idx = str(ctx.work / "index")
    with tr.span("segments.build"), jobs.group("build"):
        t0 = time.monotonic()
        build_segments(spark, spark.read.parquet(path), idx, n_buckets=N_BUCKETS, run_id="perfbench")
        build_s = time.monotonic() - t0
    srv = _Serve(ctx, oracle, idx, tr, jobs)
    warm_s = [srv.single(q, f"warm{i}", "warm")[0] for i, q in enumerate(warm)]
    warm_s.append(srv.batch(gen.make_queries(ctx.seed, BATCH, present, stream=2), "warm-batch", "warm")[0])
    setup_s = time.monotonic() - t_setup
    ctx.info["warmup_s"] = [round(x, 4) for x in warm_s]

    # ---- timed ops -----------------------------------------------------
    single_lat: dict[str, list[float]] = {"oov": [], "single": [], "multi": []}
    batch_walls: list[float] = []
    all_single: list[float] = []
    attempted = failed = 0
    window_host.start()
    w0 = time.monotonic()
    i = j = 0
    # stop only at the end of an op group, after at least MIN_GROUPS
    while (
        time.monotonic() - w0 < ctx.seconds
        or i % BATCH_EVERY
        or len(batch_walls) < MIN_GROUPS
    ):
        if i % BATCH_EVERY == 0:
            qs = gen.make_queries(ctx.seed, BATCH, present, stream=100 + len(batch_walls))
            dt, ok = srv.batch(qs, f"op{i}", "batch")
            if not batch_walls:
                replay_queries = qs  # replayed through the kernel when traced
            batch_walls.append(dt)
        else:
            q = singles[j]
            j += 1
            dt, ok = srv.single(q, f"op{i}", "single")
            single_lat[q.cls].append(dt)
            all_single.append(dt)
        attempted += 1
        failed += not ok
        i += 1
    window_cpu, _ = window_host.stop()

    e2e = {
        "setup_s": setup_s,
        "query_p50_s": median(all_single),
        "work_per_s": BATCH * len(batch_walls) / sum(batch_walls),
        "index_bytes_per_posting": tree_bytes(idx) / oracle.n_postings(),
    }
    ctx.info.update(
        ops=attempted,
        single_s=[round(x, 4) for x in all_single],
        batch_s=[round(x, 4) for x in batch_walls],
        session_s=session_s,
        build_s=build_s,
    )
    if not ctx.trace:
        _, steal = run_host.stop()
        ctx.info["host_steal_s"] = steal
        return result(e2e_metrics(e2e), attempted, failed)

    # ---- traced run: per-layer numbers ---------------------------------
    from kernel import replay

    layers = {
        "session.start_s": session_s,
        "segments.build_s": build_s,
        "segments.encode_s": encode_secs(idx),
        "segments.index_files": tree_files(f"{idx}/index"),
        "wand.plan_s": median(tr.durations("wand.plan", "op")),
        "wand.collect_s": median(tr.durations("wand.collect", "op")),
        "wand.batch_p50_s": median(batch_walls),
        "wand.oov_p50_s": median(single_lat["oov"]),
        "wand.single_p50_s": median(single_lat["single"]),
        "wand.single_p90_s": pct(single_lat["single"], 90),
        "wand.multi_p50_s": median(single_lat["multi"]),
        "wand.multi_p90_s": pct(single_lat["multi"], 90),
        "host.cpu_s_per_op": window_cpu / attempted,
        "traced.setup_s": e2e["setup_s"],
        "traced.query_p50_s": e2e["query_p50_s"],
        "traced.work_per_s": e2e["work_per_s"],
    }
    (layers["segments.build_jobs"], layers["segments.build_stages"],
     layers["segments.build_tasks"]) = jobs.per_call("build")
    (layers["wand.jobs_per_call"], layers["wand.stages_per_call"],
     layers["wand.tasks_per_call"]) = jobs.per_call("single")
    layers.update(replay(idx, [q.text for q in replay_queries], K))
    tcp_layers, tcp_attempted, tcp_failed = _tcp_phase(ctx, srv, gen.make_queries(ctx.seed, 2000, present, stream=3), tr)
    layers.update(tcp_layers)
    layers["host.peak_rss_mb"] = peak_rss_mb()
    _, layers["host.steal_s"] = run_host.stop()
    ctx.info["host_steal_s"] = layers["host.steal_s"]
    tr.dump(str(ctx.cache.parent / f"spans-serve-zipf-s{ctx.seed}.json"))
    return result(
        layer_metrics(layers), attempted + tcp_attempted, failed + tcp_failed
    )


class _TimedCollect:
    """What the wrapped ``wand_topk`` hands the TCP serve loop: the
    real DataFrame, with ``collect`` timed and recorded per batch."""

    def __init__(self, df, qids: list[str], t0: float, batches: list):
        self._df, self._qids, self._t0, self._batches = df, qids, t0, batches

    def collect(self):
        rows = self._df.collect()
        self._batches.append((self._qids, time.monotonic() - self._t0))
        return rows


def _tcp_phase(ctx, srv: _Serve, queries: list[gen.Query], tr: Tracer):
    """Closed-loop TCP clients against ``TcpServingFrontend``."""
    from search_engine_spark.streaming.tcp import TcpServingFrontend

    wand = srv.wand
    orig = wand.wand_topk
    batches: list[tuple[list[str], float]] = []

    def wand_topk(spark, index_dir, queries, *args, **kwargs):
        t0 = time.monotonic()
        df = orig(spark, index_dir, queries, *args, **kwargs)
        return _TimedCollect(df, [q for q, _ in queries], t0, batches)

    # the serve loop looks the name up when its thread starts
    wand.wand_topk = wand_topk
    front = TcpServingFrontend(ctx.spark, srv.idx, k=K)
    qfile = ctx.work / "tcp-queries.json"
    qfile.write_text(json.dumps([q.text for q in queries]))
    try:
        submit_port, poll_port = front.start()
        with tr.span("tcp.load"):
            proc = subprocess.run(
                [sys.executable, str(Path(__file__).with_name("tcp_load.py")),
                 "--submit-port", str(submit_port), "--poll-port", str(poll_port),
                 "--clients", str(ctx.cores), "--seconds", str(TCP_SECONDS),
                 "--queries", str(qfile)],
                capture_output=True, text=True, timeout=TCP_SECONDS + 120, check=True,
            )
    finally:
        front.stop()
        wand.wand_topk = orig
    recs = [json.loads(line) for line in proc.stdout.splitlines() if line.strip()]
    done = [r for r in recs if "error" not in r]
    failed = len(recs) - len(done)
    for r in done:
        q = queries[r["i"]]
        got = [(u, s / 1000.0) for u, s in r["documents"]]
        failed += not (
            r["message"].startswith("Query result:")
            and srv.oracle.check(q.text, got, K, tol=0.0011, url_ties=False)
        )
    serve_of = {qid: s for qids, s in batches for qid in qids}
    done = [r for r in done if r["qid"] in serve_of]
    lat = [r["t_done"] - r["t_submit"] for r in done]
    wall = max(r["t_done"] for r in done) - min(r["t_submit"] for r in done)
    layers = {
        "tcp.query_p50_s": median(lat),
        "tcp.query_p90_s": pct(lat, 90),
        "tcp.queries_per_s": len(done) / wall,
        "tcp.queue_wait_s": median(r["server_s"] - serve_of[r["qid"]] for r in done),
        "tcp.serve_s": median(s for _, s in batches),
        "tcp.batch_size": sum(len(q) for q, _ in batches) / len(batches),
        "tcp.client_overhead_s": median(r["t_done"] - r["t_submit"] - r["server_s"] for r in done),
        "tcp.poll_useful_ratio": len(done) / sum(r["polls"] for r in done),
    }
    return layers, len(recs), failed
