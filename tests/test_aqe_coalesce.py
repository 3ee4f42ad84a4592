"""AQE partition coalescing: runtime right-sizing of shuffle width.

spark.sql.shuffle.partitions is a static guess (the test session pins
8; the session default is 32); at 100 TB the same job runs with
thousands. AQE replaces the guess with runtime sizes — a small aggregate
must NOT come back as that many near-empty partitions (each would be a
task + a file on write)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_small_aggregate_coalesces_below_static_width(spark):
    static = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert static >= 8  # the point: static width is much larger
    agg = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # materialize, then inspect the executed plan's output partitioning
    n_parts = agg.rdd.getNumPartitions()
    assert n_parts < static, (n_parts, static)
    assert agg.count() == 3


def test_coalescing_preserves_results(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    a = (
        df.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .collect()
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        b = (
            df.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
