from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from serverless_etl_reporting_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(shuffle_partitions=4, driver_memory="4g")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn) -> (fn(), n)``: n is the number of Spark jobs
    ``fn`` submitted, counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"census-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job census")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
