import pytest
from pyspark.sql import SparkSession

from kryptone_spark.session import CODEGEN_CONF


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kryptone-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        # the engine's codegen settings; the cache size is static, so
        # it is set here, before the session's first query
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    yield s
    s.stop()
