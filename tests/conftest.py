import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from framequery_spark.plans.tuning import CODEGEN_CACHE_ENTRIES

    session = (
        SparkSession.builder
        .master("local[4]")
        .appName("framequery_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.warehouse.dir", "/tmp/fq_test_warehouse")
        # static: the JVM-wide Janino class cache is sized at the first
        # codegen, so it must be set here, not by configure_session
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="session")
def tpch_scope(spark):
    from framequery_spark.sources.testdata import load_tables

    return load_tables(spark, SF_DIR)


def rows(df):
    """Order-insensitive row normalization (the reference conformance trick,
    tests/test__postgres_conformance.py:303-311)."""
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))
