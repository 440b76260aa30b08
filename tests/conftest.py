from __future__ import annotations

import itertools
from contextlib import contextmanager

import pytest

from search_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("search-engine-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


_groups = itertools.count()


@pytest.fixture
def job_group(spark):
    """``with job_group() as jobs:`` — ``jobs`` is filled, on exit, with
    the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext

    @contextmanager
    def group():
        name = f"test-jobs-{next(_groups)}"
        sc.setJobGroup(name, name)
        jobs: list[int] = []
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(name))

    return group
