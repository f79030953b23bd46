"""Shared fixtures: one SparkSession per test session, sf dirs."""

from __future__ import annotations

import os
import sys
import time

# Pin the PROCESS timezone before any Spark session exists: PySpark's
# TimestampType.fromInternal converts via datetime.fromtimestamp (OS
# local tz), so collected timestamp columns — hence every oracle
# comparison that returns one raw — are tz-dependent. The engine's own
# epoch math is proven tz-independent by the TZ=America/New_York
# subprocess test; this pin makes the raw-timestamp comparisons
# portable too.
os.environ["TZ"] = "UTC"
time.tzset()

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def cache_manager_empty(spark) -> bool:
    """True when the session's CacheManager holds no cached Dataset.
    Eager ``localCheckpoint`` RDDs belong to Spark's ContextCleaner and
    are never listed here."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``. The count comes from a
    job group of this call alone: the status store keeps only the last
    ``spark.ui.retainedJobs`` jobs, so a session-wide count stops
    growing once a long suite has filled it."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from hadoop_20_warehouse_fix_spark.session import build_session

    # managed tables and the embedded-Derby JDBC log land in per-run
    # temporary directories, never in the working tree
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    derby_home = str(tmp_path_factory.mktemp("derby"))
    spark = build_session(
        app_name="h20wf-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={derby_home}",
        },
    )
    yield spark
    spark.stop()
