"""Python workers start through ``search_engine_spark._worker_daemon``.

The path guard is checked on fake archives with no Spark; a
``get_spark`` pandas-UDF stage must import pyspark from outside
``pyspark.zip`` and keep no zipimporter cached; and a driver that found
the package only by ``sys.path.insert``, started from another directory
with ``PYTHONPATH`` unset, must still get working Python workers.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
from pyspark.sql.functions import pandas_udf

from search_engine_spark import session
from search_engine_spark._worker_daemon import zip_free_path

REPO = Path(__file__).resolve().parent.parent


def _archive(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _site(root: Path, pyspark: str, py4j: str) -> str:
    """A directory holding importable pyspark and py4j of these versions."""
    for pkg, version in (("pyspark", pyspark), ("py4j", py4j)):
        (root / pkg).mkdir(parents=True)
        (root / pkg / "__init__.py").write_text("")
        (root / pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def _zips(tmp_path: Path, pyspark: str, py4j: str) -> tuple[str, str]:
    lib = tmp_path / "lib"
    lib.mkdir()
    return (
        _archive(lib / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": f"__version__: str = '{pyspark}'\n",
        }),
        _archive(lib / f"py4j-{py4j}-src.zip", {
            "py4j/__init__.py": "",
            "py4j/version.py": f"__version__ = '{py4j}'\n",
        }),
    )


def test_matching_versions_drop_the_zips(tmp_path):
    site = _site(tmp_path / "site", "4.1.2", "0.10.9.9")
    spark_zip, py4j_zip = _zips(tmp_path, "4.1.2", "0.10.9.9")
    path = [str(tmp_path), spark_zip, py4j_zip, site]
    assert zip_free_path(path) == [str(tmp_path), site]


def test_differing_pyspark_version_leaves_path_unchanged(tmp_path):
    site = _site(tmp_path / "site", "4.1.2", "0.10.9.9")
    path = [*_zips(tmp_path, "4.1.1", "0.10.9.9"), site]
    assert zip_free_path(path) == path


def test_unreadable_installed_version_leaves_path_unchanged(tmp_path):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")  # no version.py
    path = [*_zips(tmp_path, "4.1.2", "0.10.9.9"), str(site)]
    assert zip_free_path(path) == path


def test_differing_py4j_version_keeps_its_zip(tmp_path):
    site = _site(tmp_path / "site", "4.1.2", "0.10.9.9")
    spark_zip, py4j_zip = _zips(tmp_path, "4.1.2", "0.10.9.7")
    assert zip_free_path([spark_zip, py4j_zip, site]) == [py4j_zip, site]


def test_no_zip_on_path_is_a_no_op(tmp_path):
    path = [_site(tmp_path / "site", "4.1.2", "0.10.9.9"), str(tmp_path / "absent.zip")]
    assert zip_free_path(path) == path


def test_archive_without_python_is_dropped(tmp_path):
    # Spark appends its spark-core jar, which holds only JVM classes
    jar = _archive(tmp_path / "spark-core.jar", {"org/apache/Spark.class": "x"})
    site = _site(tmp_path / "site", "4.1.2", "0.10.9.9")
    path = [*_zips(tmp_path, "4.1.1", "0.10.9.9"), site, jar]
    assert zip_free_path(path) == path[:-1]


def test_worker_pythonpath_appends_package_root_once():
    root = session.PACKAGE_ROOT
    assert session._worker_pythonpath(None) == root
    given = os.pathsep.join(["/a", "/b"])
    assert session._worker_pythonpath(given) == os.pathsep.join(["/a", "/b", root])
    assert session._worker_pythonpath(os.pathsep.join([root, "/a"])) == os.pathsep.join([root, "/a"])


def test_get_spark_workers_import_pyspark_outside_the_zip(spark):
    @pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        cached = sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        )
        return s.map(lambda _: f"{pyspark.__file__}|{cached}")

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.WORKER_DAEMON_MODULE
    df = spark.range(4).repartition(4)
    got = {r[0] for r in df.select(origin(df.id.cast("string"))).collect()}
    assert len(got) == 1
    imported_from, cached = got.pop().split("|")
    assert "pyspark.zip" not in imported_from and imported_from.endswith("__init__.py")
    assert cached == "[]"


DRIVER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from search_engine_spark.session import get_spark

    spark = get_spark(
        "worker-daemon-cwd", cores=2,
        extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2]},
    )

    @pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import extra_module
        import pyspark
        return s.map(lambda _: f"{pyspark.__file__}|{extra_module.VALUE}")

    df = spark.range(2).repartition(2)
    for row in df.select(origin(df.id.cast("string"))).distinct().collect():
        print("ORIGIN", row[0])
    spark.stop()
    """
)


def test_driver_outside_repo_without_pythonpath_runs_python_stages(tmp_path):
    # the caller's own executor PYTHONPATH entry must survive the merge
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "extra_module.py").write_text("VALUE = 'from-extra'\n")
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO), str(extra)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("ORIGIN ")]
    assert len(lines) == 1, proc.stdout
    imported_from, value = lines[0].removeprefix("ORIGIN ").split("|")
    assert "pyspark.zip" not in imported_from
    assert value == "from-extra"
