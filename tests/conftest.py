import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("presto-bloomfilter-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def semi_joins(spark, tmp_path) -> dict:
    """The four sketch-backed semi joins, each as ``(probe, probe_col,
    build, build_col, **kw) -> DataFrame`` with small filter geometry;
    the sharded one persists its family under ``tmp_path / "fam"``."""
    from presto_bloomfilter_spark.operators.probe import bloom_semi_join
    from presto_bloomfilter_spark.operators.sharded import sharded_bloom_semi_join
    from presto_bloomfilter_spark.operators.staticfilter import xor_semi_join

    return {
        "bloom": lambda *a, **kw: bloom_semi_join(spark, *a, expected_insertions=100, **kw),
        "sbbf": lambda *a, **kw: bloom_semi_join(spark, *a, expected_insertions=100,
                                                 kind="sbbf", **kw),
        "xor": lambda *a, **kw: xor_semi_join(spark, *a, **kw),
        "sharded": lambda *a, **kw: sharded_bloom_semi_join(
            spark, *a, str(tmp_path / "fam"), shards=2, expected_insertions_per_shard=100, **kw),
    }
