"""End-to-end medallion pipeline test on the synthetic flights fixture.

Expected values come from an *independent* DuckDB implementation of the
intended semantics (SURVEY.md section 2.10 -- intent, not the reference's
bugs), never from the code under test. Also asserts idempotence: a second
run with the same source must not change bronze (watermark) or the dims
(left-anti incremental), that every ``PipelineResult`` count matches the
lake and the oracle across full, delta, replayed and empty calls, and how
many Spark jobs a call launches.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import math

import duckdb
import pytest

from flights_etl_pipeline_spark.plans.pipeline import run_pipeline
from tests.flights_fixture import make_flights

AS_OF = dt.date(2022, 12, 31)

# PipelineResult field -> its table under the lake root
TABLES = {
    "bronze_rows": "bronze/flights",
    "silver_rows": "silver/flights",
    "gold_revenue_rows": "gold/revenue_n_seat_remain_ym",
    "gold_fbc_rows": "gold/fbc_travel_duration_relation",
    "dim_date_rows": "warehouse/dim_date",
    "dim_airline_rows": "warehouse/dim_airline",
    "dim_airport_rows": "warehouse/dim_airport",
    "fact_rows": "warehouse/fact_flight_activities",
}


def _oracle(raw_pdf) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("raw", raw_pdf)
    con.sql(
        """
        CREATE VIEW silver_o AS
        SELECT *,
               string_split(segmentsAirlineCode, '||') AS codes,
               string_split(segmentsAirlineName, '||') AS names,
               CAST(searchDate AS DATE) AS searchD,
               CAST(flightDate AS DATE) AS flightD
        FROM raw
        WHERE baseFare <= totalFare AND seatsRemaining >= 0
        """
    )
    return con


def _oracle_counts(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    """Every ``PipelineResult`` field, computed in DuckDB."""
    sql = {
        "bronze_rows": "SELECT COUNT(*) FROM raw",
        "silver_rows": "SELECT COUNT(*) FROM silver_o",
        "gold_revenue_rows": f"""
            SELECT COUNT(*) FROM (
              SELECT 1 FROM silver_o
              WHERE LEN(LIST_DISTINCT(codes)) = 1
                AND flightD < DATE '{AS_OF.isoformat()}' + INTERVAL 1 DAY
              GROUP BY YEAR(flightD), MONTH(flightD), codes[1])
            """,
        "gold_fbc_rows": """
            SELECT COUNT(*) FROM (SELECT 1 FROM silver_o GROUP BY TRIM(fareBasisCode))
            """,
        "dim_date_rows": """
            SELECT COUNT(DISTINCT d) FROM (SELECT UNNEST([searchD, flightD]) AS d FROM silver_o)
            """,
        "dim_airline_rows": """
            SELECT COUNT(*) FROM (
              SELECT DISTINCT UNNEST(codes) AS c, UNNEST(names) AS n FROM silver_o)
            """,
        "dim_airport_rows": """
            SELECT COUNT(DISTINCT a) FROM (
              SELECT UNNEST(string_split(segmentsArrivalAirportCode, '||')) AS a
              FROM silver_o
              UNION ALL
              SELECT UNNEST(string_split(segmentsDepartureAirportCode, '||'))
              FROM silver_o)
            """,
        "fact_rows": "SELECT COUNT(*) FROM silver_o",
    }
    return {k: con.sql(q).fetchone()[0] for k, q in sql.items()}


@pytest.fixture(scope="module")
def raw_pdf():
    return make_flights(n=1500, seed=42)


@pytest.fixture(scope="module")
def oracle(raw_pdf):
    return _oracle(raw_pdf)


@pytest.fixture(scope="module")
def result(spark, raw_pdf, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    source = spark.createDataFrame(raw_pdf)
    res = run_pipeline(spark, source, lake, AS_OF)
    return res, lake, source


def test_bronze_and_silver_counts(result, oracle, raw_pdf):
    res, _, _ = result
    assert res.bronze_rows == len(raw_pdf)
    want_silver = oracle.sql("SELECT COUNT(*) FROM silver_o").fetchone()[0]
    assert res.silver_rows == want_silver
    assert res.fact_rows == want_silver


def test_gold_revenue_matches_oracle(result, oracle, spark):
    _, lake, _ = result
    got = {
        (r.year, r.month, r.airline): (r.sum_total_fare, r.avg_seats_remaining)
        for r in spark.read.parquet(
            f"{lake}/gold/revenue_n_seat_remain_ym"
        ).collect()
    }
    want = {
        (y, m, a): (s, av)
        for y, m, a, s, av in oracle.sql(
            f"""
            SELECT YEAR(flightD), MONTH(flightD), codes[1],
                   CAST(SUM(CAST(totalFare AS DECIMAL(18,2))) AS DOUBLE),
                   FLOOR(AVG(CAST(seatsRemaining AS DOUBLE)) * 100 + 0.5) / 100
            FROM silver_o
            WHERE LEN(LIST_DISTINCT(codes)) = 1
              AND flightD < DATE '{AS_OF.isoformat()}' + INTERVAL 1 DAY
            GROUP BY 1, 2, 3
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for k, (s, av) in want.items():
        assert math.isclose(got[k][0], s, rel_tol=1e-9), k
        assert math.isclose(got[k][1], av, rel_tol=1e-9, abs_tol=1e-9), k


def test_fbc_gold_matches_oracle(result, oracle, spark):
    _, lake, _ = result
    got = {
        r.fareBasisCode: (r.avg_travel_duration, r.n_itineraries)
        for r in spark.read.parquet(
            f"{lake}/gold/fbc_travel_duration_relation"
        ).collect()
    }
    want = {
        fbc: (avg, n)
        for fbc, avg, n in oracle.sql(
            """
            SELECT TRIM(fareBasisCode),
                   FLOOR(AVG(CASE WHEN regexp_matches(travelDuration,
                               '^PT(\\d+H)?(\\d+M)?$')
                        THEN COALESCE(TRY_CAST(regexp_extract(travelDuration,
                               '^PT(?:(\\d+)H)?(?:(\\d+)M)?$', 1) AS INT), 0) * 60
                           + COALESCE(TRY_CAST(regexp_extract(travelDuration,
                               '^PT(?:(\\d+)H)?(?:(\\d+)M)?$', 2) AS INT), 0)
                        END * 1.0) * 100 + 0.5) / 100,
                   COUNT(*)
            FROM silver_o GROUP BY 1
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for k, (avg, n) in want.items():
        assert got[k][1] == n, k
        assert math.isclose(got[k][0], avg, rel_tol=1e-9, abs_tol=1e-9), k


def test_dims_match_oracle(result, oracle):
    res, _, _ = result
    want = _oracle_counts(oracle)
    assert res.dim_date_rows == want["dim_date_rows"]
    assert res.dim_airline_rows == want["dim_airline_rows"]
    assert res.dim_airport_rows == want["dim_airport_rows"]


def test_fact_has_count_segments(result, spark):
    _, lake, _ = result
    fact = spark.read.parquet(f"{lake}/warehouse/fact_flight_activities")
    assert "count_segments" in fact.columns  # defect D7 fixed
    assert fact.filter("count_segments >= 1").count() > 0
    arrays_left = [f for f in fact.schema.fields if "Array" in f.name]
    assert not arrays_left


def test_second_run_is_idempotent(result, spark):
    res1, lake, source = result
    res2 = run_pipeline(spark, source, lake, AS_OF)
    # watermark blocks re-ingest; dims stay stable under the left-anti load
    assert res2.bronze_rows == res1.bronze_rows
    assert res2.silver_rows == res1.silver_rows
    assert res2.dim_date_rows == res1.dim_date_rows
    assert res2.dim_airline_rows == res1.dim_airline_rows
    assert res2.dim_airport_rows == res1.dim_airport_rows
    assert res2.fact_rows == res1.fact_rows


@pytest.fixture(scope="module")
def days_pdf():
    """The fixture ordered by search date with ``index`` reassigned in that
    order, so the last search day is a one-day delta past the watermark of
    the days before it."""
    pdf = make_flights(n=1200, seed=7).sort_values("searchDate", kind="stable")
    pdf["index"] = range(len(pdf))
    return pdf.reset_index(drop=True)


def _split_last_day(pdf):
    last = pdf["searchDate"] == pdf["searchDate"].max()
    return pdf[~last], pdf[last]


def test_counts_match_lake_and_oracle_across_calls(spark, days_pdf, tmp_path):
    """Full load, one-day delta, the delta replayed, then an empty source:
    after every call each ``PipelineResult`` field, counted by the write
    jobs and the watermark probe, equals a re-read of its table and the
    DuckDB oracle over the rows landed so far. The replay and the empty
    source write zero rows, so their observed counts must read 0 without
    raising."""
    base, delta = _split_last_day(days_pdf)
    assert len(delta) > 0
    lake = str(tmp_path / "lake")
    full = spark.createDataFrame(base)
    calls = [
        ("full", full, base),
        ("delta", spark.createDataFrame(delta), days_pdf),
        ("replay", spark.createDataFrame(delta), days_pdf),
        ("empty", spark.createDataFrame([], full.schema), days_pdf),
    ]
    for label, source, landed in calls:
        got = dataclasses.asdict(run_pipeline(spark, source, lake, AS_OF))
        on_lake = {k: spark.read.parquet(f"{lake}/{t}").count() for k, t in TABLES.items()}
        assert got == on_lake, label
        assert got == _oracle_counts(_oracle(landed)), label


def _jobs_of_call(spark, source, lake: str, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, source, lake, AS_OF)
    finally:
        # clears the group's description too, which would otherwise
        # name every later job on this thread
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_spark_job_count(spark, days_pdf, tmp_path):
    """Guard on the fixed cost of a call, in Spark jobs. Before silver was
    built once and counts came from the write jobs, a full load into an
    empty lake launched 42 jobs and a one-day delta onto it 51, on this
    fixture as on the benchmark's 5k-row lake (``local[4]``); now 14 and
    29. Of the delta's 29, the three dims take 18: a schema read, a count
    of the existing rows and a left-anti load each."""
    base, delta = _split_last_day(days_pdf)
    lake = str(tmp_path / "lake")
    full = _jobs_of_call(spark, spark.createDataFrame(base), lake, "jobs-full-load")
    one_day = _jobs_of_call(spark, spark.createDataFrame(delta), lake, "jobs-one-day-delta")
    assert full <= 14
    assert one_day <= 29


def test_compaction_reduces_file_count(spark, tmp_path):
    """Many tiny appended files -> one compacted generation, same rows."""
    from pyspark.sql import functions as F

    from flights_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    path = str(tmp_path / "smallfiles")
    for batch in range(6):  # simulate drip appends: 6 writes x 4 files
        (
            spark.range(batch * 400, (batch + 1) * 400)
            .repartition(4)
            .select(F.col("id"), (F.col("id") % 7).alias("g"))
            .write.mode("append")
            .parquet(path)
        )
    expected = spark.read.parquet(path).agg(F.sum("id")).first()[0]
    before, after = compact_parquet_dir(spark, path, target_records_per_file=10_000)
    assert before >= 24
    assert after < before
    assert after <= 4  # 2400 rows at 10k/file -> a handful of AQE splits
    got = spark.read.parquet(path).agg(F.sum("id")).first()[0]
    assert got == expected
