"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-zipf --seed 1 --seconds 1 --trace 0

Runs one seeded workload against the program in the enclosing checkout
and prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
a separate traced run. Everything the run writes stays under
``perfbench/.work``; a per-run record (cores, versions, seed, ops,
steal) is written to ``perfbench/.work/records`` and echoed to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("serve-zipf", "ingest-gens")
DRIVER_MEM = "2g"


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    seed: int
    seconds: float
    trace: bool
    cores: int
    work: Path  # private to this run, removed at exit
    cache: Path  # generated inputs, keyed by (seed, size)
    spark: object = None
    info: dict = field(default_factory=dict)

    def start_session(self) -> float:
        """Start Spark through the program's factory; returns seconds."""
        from search_engine_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            "perfbench",
            cores=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return time.monotonic() - t0


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir, from
    # the launcher JVM (spark-class) or the Spark JVM
    jvm = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    for var, extra in (
        ("SPARK_LAUNCHER_OPTS", jvm),
        ("SPARK_SUBMIT_OPTS", [*jvm, f"-Xms{DRIVER_MEM}"]),
    ):
        os.environ[var] = " ".join(p for p in (os.environ.get(var, ""), *extra) if p)
    os.chdir(work)


def _versions() -> dict:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it runs)
    to exit: the JVM ends when the pipe to its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # same str hashes (dict and set layouts) in every run, in this
        # process and in Spark's Python workers
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    if not (ROOT / "search_engine_spark" / "__init__.py").is_file():
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))  # after perfbench/ itself

    cores = len(os.sched_getaffinity(0))
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    ctx = Ctx(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=cores,
        work=work,
        cache=WORK / "cache",
    )
    _isolate(work)
    if args.workload == "serve-zipf":
        import serve as workload
    else:
        import ingest as workload
    try:
        result = workload.run(ctx)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        **_versions(),
        "attempted": result["attempted"],
        "failed": result["failed"],
        **ctx.info,
    }
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (records / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json").write_text(
        json.dumps({**record, "metrics": result["metrics"]}, indent=1)
    )
    print("perfbench record: " + json.dumps(record), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
