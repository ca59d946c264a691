import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _build_session() -> SparkSession:
    return (
        SparkSession.builder.appName("pl-fuzzy-frame-match-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.crossJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


@pytest.fixture(scope="session")
def spark():
    s = _build_session()
    yield s
    s.stop()


@pytest.fixture
def restart_spark(spark):
    """Callable that stops the shared session's SparkContext and starts a
    fresh one with the same settings. The shared ``spark`` object is
    re-pointed at the fresh session, so later tests keep using it."""

    def restart() -> SparkSession:
        spark.stop()
        fresh = _build_session()
        # drop cached properties too (conf, catalog bind the old session)
        spark.__dict__.clear()
        spark.__dict__.update(fresh.__dict__)
        return spark

    return restart


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
