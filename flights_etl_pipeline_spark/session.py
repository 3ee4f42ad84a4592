"""SparkSession factory.

Encodes the physical tuning the reference did by hand (SURVEY.md section 4)
as session defaults instead:

- AQE (adaptive.enabled + coalescePartitions + skewJoin) replaces the
  reference's ``repartition(10000)`` anti-pattern (updateToGold.py:41,52;
  loadToWarehouse.py:29 -- defect D9) with runtime partition coalescing and
  skew-join splitting. On a 1000-executor cluster this is the difference
  between 10k tiny files per write and right-sized output.
- UTC session timezone pins timestamp-cast semantics (the reference's
  iso_to_timestamp UDF, transformToSilver.py:30-34) so results are
  deterministic across driver hosts.
- Arrow execution is on for the Pandas-UDF surface (the designated slow
  path; everything hot stays JVM-side).
- ``spark.sql.shuffle.partitions`` defaults to 32, a width picked for a
  32-core host. perfbench runs ``local[nproc]`` with that default; the
  test session pins 8. On a real cluster set it to 2-3x total cores
  (AQE coalesces down, it cannot split a too-coarse shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flights-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``; on a real deployment pass the cluster master URL or let
    spark-submit inject it. ``extra_conf`` entries override the defaults
    below (a ``spark-submit --conf`` of the same key does not).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local-mode JVM heap defaults to 1g regardless of host RAM; size
        # it for the host (effective only when this builder launches the
        # JVM -- a pre-existing session keeps its own setting)
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
