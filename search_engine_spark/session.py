"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every conf here is chosen for the
1000-executor / 100 TB case: AQE on (runtime coalescing + skew-join
splitting), Arrow enabled for every pandas-UDF kernel, shuffle partitions
sized by env so the same code serves local[8]/local[32] scaling runs and a
real cluster (where you'd set it to ~2-3x total cores).

Python workers start through :mod:`search_engine_spark._worker_daemon`
(``spark.python.daemon.module``), always. Under Spark's own daemon a
worker imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and
every task of every pandas-UDF stage then re-reads the directory of that
zip and of the spark-core jar Spark also puts on the path, once per
cached zipimporter (``importlib.invalidate_caches()`` in pyspark's
``setup_spark_files``). On a 4-CPU host that was more than half of a
1-task Python job (0.33-0.37 s -> 0.12-0.17 s without it; a JVM-only
job is 0.05-0.07 s). The module drops the zip from the worker's
``sys.path`` only when the pyspark it would then import has the zip's
exact version (py4j likewise); otherwise the zips stay and workers
import as under Spark's daemon. Archives with no Python module in them,
such as the jar, are always dropped. Workers find the module through
``spark.executorEnv.PYTHONPATH``, which gets this package's root
appended to whatever the caller passes, so they never depend on the
driver's cwd or ``PYTHONPATH``.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

WORKER_DAEMON_MODULE = "search_engine_spark._worker_daemon"
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _worker_pythonpath(given: str | None) -> str:
    """``given`` (a caller's ``spark.executorEnv.PYTHONPATH``) with the
    package root appended unless already there."""
    entries = [p for p in (given or "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in entries:
        entries.append(PACKAGE_ROOT)
    return os.pathsep.join(entries)


def get_spark(
    app_name: str = "search-engine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath(
        conf.get("spark.executorEnv.PYTHONPATH")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
