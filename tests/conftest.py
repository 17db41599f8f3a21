import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder
        .master("local[4]")
        .appName("sleeper_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_plan():
    """``with spark_plan(): ...`` reads every query and batch get inside
    with the Spark plan, never on the driver: the oracle a driver read is
    compared with, and the plan whose shape the plan tests check."""
    from unittest import mock

    from sleeper_spark.query import QueryExecutor

    return lambda: mock.patch.object(
        QueryExecutor, "_driver_plan", lambda self, query, files: (None, {}))
