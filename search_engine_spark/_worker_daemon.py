"""Spark's Python worker daemon, started so that workers import pyspark
from site-packages rather than from ``$SPARK_HOME/python/lib/pyspark.zip``.

Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and its spark-core jar on
every Python worker's ``PYTHONPATH``. A worker that imported pyspark from
the zip holds one cached zipimporter per pyspark package it loaded (and
two for the jar, which stdlib ``copy``'s Jython probe looks into), and
every task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
which makes each of them re-read its archive's directory.
``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
which drops those entries from ``sys.path`` (and their cached importers)
before it imports ``pyspark.daemon``, so a task finds no zipimporter to
re-read.

A zip is dropped only when the copy it shadows is the same version:
``pyspark/version.py`` in the zip must equal the one of the pyspark that
is imported once the zip is gone (same for py4j, whose zip goes only with
pyspark's). If either version cannot be read, or they differ, the zips
stay and workers import exactly as under Spark's own daemon. An archive
with no Python module in it, such as the jar, can serve no import and is
always dropped.

The package ``__init__`` imports nothing, so running this module with
``python -m`` loads no pyspark before the path is settled.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _parse_version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zipped_version(archive: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return _parse_version(zf.read(f"{package}/version.py").decode())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return None


def _importable_version(package: str, path: list[str]) -> str | None:
    """Version of the ``package`` an import over ``path`` would load,
    read from its ``version.py`` without importing it."""
    spec = PathFinder.find_spec(package, path)
    loc = next(iter(spec.submodule_search_locations or ()), None) if spec else None
    if loc is None:
        return None
    try:
        with open(os.path.join(loc, "version.py"), encoding="utf-8") as f:
            return _parse_version(f.read())
    except OSError:
        return None


def _drop_matching(path: list[str], package: str, zip_name: str) -> list[str] | None:
    """``path`` without the zips whose file name matches ``zip_name``, if
    every one of them holds the version of ``package`` that the remaining
    path imports; None when there is no such zip or a version differs or
    is unreadable."""
    zips = [p for p in path if re.fullmatch(zip_name, os.path.basename(p))]
    if not zips:
        return None
    kept = [p for p in path if p not in zips]
    installed = _importable_version(package, kept)
    if installed is None or any(_zipped_version(z, package) != installed for z in zips):
        return None
    return kept


def _holds_no_python(entry: str) -> bool:
    """True for an archive file on the path with no Python module in it."""
    if not os.path.isfile(entry):
        return False
    try:
        with zipfile.ZipFile(entry) as zf:
            return not any(n.endswith((".py", ".pyc")) for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without the archives a worker need not search: any with
    no Python module in it (Spark appends its spark-core jar), the
    ``pyspark.zip`` entries when the pyspark behind them has the same
    version, and then the ``py4j-*-src.zip`` entries when the same holds
    for py4j."""
    path = [p for p in path if not _holds_no_python(p)]
    kept = _drop_matching(path, "pyspark", r"pyspark\.zip")
    if kept is None:
        return path
    no_py4j = _drop_matching(kept, "py4j", r"py4j-.*-src\.zip")
    return kept if no_py4j is None else no_py4j


def main() -> None:
    kept = zip_free_path(sys.path)
    for entry in set(sys.path) - set(kept):
        # importing this module already cached a zipimporter per zip entry
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
