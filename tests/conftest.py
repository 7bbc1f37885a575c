"""Shared Spark session and token-table fixtures for pipeline tests."""

import pytest


@pytest.fixture(scope="session")
def spark():
    import os
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("orc-format-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture(scope="module")
def token_parquet(spark, tmp_path_factory):
    from jobs.synth import write_token_table
    path = str(tmp_path_factory.mktemp("input") / "tokens.parquet")
    write_token_table(spark, path, rows=4000, partitions=4, seed=42)
    return path
