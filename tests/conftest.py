import os

import pytest
from pyspark import SparkContext

from etlp_spark.protobuf_vendor import ensure_protobuf
from etlp_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Must run before the JVM starts: TWS python workers inherit the
# JVM's environment, and the vendored protobuf rides in PYTHONPATH.
ensure_protobuf()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etlp-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def spark_jobs(name, fn):
    """Run ``fn`` under Spark job group ``name`` (unique per call) and
    return how many Spark jobs it started, broadcast and adaptive
    stage jobs included."""
    sc = SparkContext.getOrCreate()
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))
