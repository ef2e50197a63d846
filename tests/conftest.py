import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("cdc-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # as build_session sets it: no Python call-site capture per Column call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` — afterwards ``jobs`` holds the ids
    of the Spark jobs this thread started inside the block (a unique job
    group, read back through ``statusTracker()``)."""
    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        jobs: list[int] = []
        sc.setJobGroup(group, "jobs counted by a test")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # the status store is fed by the async listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return count
