import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from solrtexttagger_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextmanager
def _count_collects():
    # patch the CONCRETE class (pyspark.sql.DataFrame is an ABC in Spark 4)
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    DataFrame.collect = counting
    try:
        yield calls
    finally:
        DataFrame.collect = orig


@pytest.fixture
def count_collects():
    """``with count_collects() as calls: ...`` records one entry in
    ``calls`` per DataFrame.collect made inside the block."""
    return _count_collects


def _build_jobs(spark, build):
    """(relation, Spark jobs run while ``build()`` constructs it). A job
    group sees every job, localCheckpoint ones included."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "relation build")
    try:
        rel = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rel, len(sc.statusTracker().getJobIdsForGroup(group))
