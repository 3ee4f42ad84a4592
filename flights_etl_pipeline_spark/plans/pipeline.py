"""Medallion pipeline runner: bronze -> silver -> gold -> warehouse.

Replaces the reference's Airflow DAG + four spark-submit jobs
(mnt/airflow/dags/flight_pipeline.py:26-95) with an in-process call graph:
orchestration added no query semantics, so each stage is a plain function
and the DAG is Python control flow. Every stage remains a pure
``DataFrame -> DataFrame`` transform; this module owns all IO, and every
lake write goes through ``sources.sinks``.

One call reads bronze once and builds silver once. Silver is persisted
before its write, so the write fills the cache that gold and the
warehouse read (the reference persists silver for the same reason,
updateToGold.py:28). Each stage returns row counts taken from its write
jobs, so no table is re-opened after it is written.

Layout under ``lake_root``:
    bronze/flights/      raw + year/month/day partitions (append)
    silver/flights/      cleaned/typed with arrays       (overwrite)
    gold/<table>/        business aggregates             (overwrite)
    warehouse/<dim>      star-schema dims                (append new keys)
    warehouse/fact_*     fact table                      (overwrite)
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.operators import gold, silver, warehouse
from flights_etl_pipeline_spark.sources.readers import (
    high_watermark,
    path_exists,
    read_parquet_table,
)
from flights_etl_pipeline_spark.sources.sinks import write_partitioned_parquet

DATE_PARTS = ("year", "month", "day")


@dataclass
class PipelineResult:
    bronze_rows: int
    silver_rows: int
    gold_revenue_rows: int
    gold_fbc_rows: int
    dim_date_rows: int
    dim_airline_rows: int
    dim_airport_rows: int
    fact_rows: int


def _write(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = (), mode: str = "overwrite"
) -> int:
    """Write ``df`` through the sink; return the rows written, counted by
    the write job itself."""
    obs = Observation()
    # observe only at the root of the written frame: observed lower down,
    # on the existing side of a dim's left-anti join, the metrics went
    # unreported on a re-run that added no rows, and reading them failed
    # in PythonSQLUtils.toPyRow
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_partitioned_parquet(observed, path, partition_cols, mode)
    return obs.get["rows"]


def run_bronze(spark: SparkSession, source: DataFrame, lake_root: str) -> int:
    """Bronze: land raw rows with partition columns; incremental via
    high-watermark on ``index`` (ingestToBronze.py:59-84, defects D1
    fixed by construction -- no stale-bound loop). Returns the table's
    rows: those the watermark probe counted plus those written."""
    path = f"{lake_root}/bronze/flights"
    incoming, rows_before = source, 0
    if path_exists(spark, path):
        wm, rows_before = high_watermark(read_parquet_table(spark, path), "index")
        if wm is not None:
            incoming = source.filter(F.col("index") > F.lit(int(wm)))
    staged = silver.with_partition_cols(
        incoming.withColumn("searchDate", F.to_date("searchDate", "yyyy-MM-dd")),
        "searchDate",
    ).withColumn("searchDate", F.col("searchDate").cast("string"))
    return rows_before + _write(staged, path, DATE_PARTS, mode="append")


def run_silver(spark: SparkSession, lake_root: str) -> tuple[DataFrame, int]:
    """Silver: clean/type/arrays over all of bronze, written as a
    partitioned overwrite (transformToSilver.py rebuilt; single write,
    no chunk loop). Returns the silver frame, persisted and filled by
    its write, with its row count; the caller unpersists it."""
    bronze = read_parquet_table(spark, f"{lake_root}/bronze/flights")
    out = silver.to_silver(bronze.drop(*DATE_PARTS))
    out = silver.with_partition_cols(out, "searchDate").persist()
    try:
        rows = _write(out, f"{lake_root}/silver/flights", DATE_PARTS)
    except BaseException:
        out.unpersist()
        raise
    return out, rows


def run_gold(sil: DataFrame, lake_root: str, as_of: dt.date) -> tuple[int, int]:
    """Gold: the two business aggregates (updateToGold.py rebuilt;
    overwrite -- they are full recomputes, and AQE sizes the output
    instead of repartition(10000)). Returns their row counts."""
    return (
        _write(
            gold.revenue_by_year_month_airline(sil, as_of),
            f"{lake_root}/gold/revenue_n_seat_remain_ym",
        ),
        _write(gold.fare_basis_duration(sil), f"{lake_root}/gold/fbc_travel_duration_relation"),
    )


def run_warehouse(spark: SparkSession, sil: DataFrame, lake_root: str) -> dict[str, int]:
    """Warehouse: incremental dims (left-anti vs existing, append) + fact
    overwrite. Returns each table's row count: for a dim, its existing
    rows plus the rows written."""
    out: dict[str, int] = {}
    for name, build, key in (
        ("dim_date", warehouse.build_dim_date, "date"),
        ("dim_airline", warehouse.build_dim_airline, "airline_code"),
        ("dim_airport", warehouse.build_dim_airport, "airport_code"),
    ):
        path = f"{lake_root}/warehouse/{name}"
        existing = read_parquet_table(spark, path) if path_exists(spark, path) else None
        rows_before = existing.count() if existing is not None else 0
        new_rows = warehouse.incremental_new_rows(build(sil), existing, key)
        out[name] = rows_before + _write(new_rows, path, mode="append")
    out["fact_flight_activities"] = _write(
        warehouse.build_fact(sil), f"{lake_root}/warehouse/fact_flight_activities"
    )
    return out


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    lake_root: str,
    as_of: dt.date,
) -> PipelineResult:
    """Full bronze -> silver -> gold -> warehouse run (the DAG's edges,
    flight_pipeline.py:94-95, as plain sequencing)."""
    bronze_rows = run_bronze(spark, source, lake_root)
    sil, silver_rows = run_silver(spark, lake_root)
    try:
        rev_rows, fbc_rows = run_gold(sil, lake_root, as_of)
        wh = run_warehouse(spark, sil, lake_root)
    finally:
        sil.unpersist()
    return PipelineResult(
        bronze_rows=bronze_rows,
        silver_rows=silver_rows,
        gold_revenue_rows=rev_rows,
        gold_fbc_rows=fbc_rows,
        dim_date_rows=wh["dim_date"],
        dim_airline_rows=wh["dim_airline"],
        dim_airport_rows=wh["dim_airport"],
        fact_rows=wh["fact_flight_activities"],
    )
