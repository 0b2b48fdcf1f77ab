import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from krnel_graph_spark.runners.spark_runner import get_spark


@pytest.fixture(scope="session")
def spark():
    session = get_spark("krnel-graph-spark-tests")
    session.conf.set("spark.sql.shuffle.partitions", "8")
    yield session


@pytest.fixture()
def runner(spark, tmp_path):
    from krnel_graph_spark import SparkRunner

    return SparkRunner(spark=spark, store_path=str(tmp_path / "store"))


@pytest.fixture()
def lazy_runner(spark):
    """No store: everything stays lazy (used by query-shaped tests)."""
    from krnel_graph_spark import SparkRunner

    return SparkRunner(spark=spark, store_path=None)


def jobs_during(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "ml_models: integration tests that load real model weights "
        "(torch/transformers); skipped automatically where those "
        "libraries are absent",
    )
