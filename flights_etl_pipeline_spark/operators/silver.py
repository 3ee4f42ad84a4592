"""Silver transform: clean/type the raw flights itineraries table
(rebuild of transformToSilver.py, SURVEY.md sections 1.3, 2.2-2.3).

Pure ``DataFrame -> DataFrame`` -- no paths, no collects, no chunk loops
(the reference's 1M-row re-slicing loop, transformToSilver.py:100-122, is
obsolete: a partitioned write streams per task). Every step is a codegen'd
column expression; the whole transform is one narrow stage until the sink.

Reference defects fixed here (SURVEY.md section 2.10): D2 (builtin min),
D3 (timestamp cast instead of unregistered UDF), D8 (double money, not
float16).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.functions.arrays import (
    normalize_int_array,
    split_segments,
    timestamp_array,
)
from flights_etl_pipeline_spark.functions.scalar import duration_to_minutes

# raw ``segments*`` columns -> silver array columns
# (transformToSilver.py:56-72; casing of CabinCodeArray kept as reference)
STRING_SEGMENT_COLS = {
    "segmentsArrivalAirportCode": "arrivalAirportArray",
    "segmentsDepartureAirportCode": "departureAirportArray",
    "segmentsAirlineCode": "airlineCodeArray",
    "segmentsAirlineName": "airlineNameArray",
    "segmentsEquipmentDescription": "equipDescriptionArray",
    "segmentsCabinCode": "CabinCodeArray",
}
TS_SEGMENT_COLS = {
    "segmentsDepartureTimeRaw": "departureTimeArray",
    "segmentsArrivalTimeRaw": "arrivalTimeArray",
}
INT_SEGMENT_COLS = {
    "segmentsDurationInSeconds": "durationSecondsArray",
    "segmentsDistance": "distanceArray",
}


def to_silver(bronze: DataFrame) -> DataFrame:
    """Raw/bronze flights -> silver: typed scalars, quality filter,
    segments arrays, raw segment columns dropped."""
    df = (
        bronze
        # P2: string -> date; a malformed date is NULL, as it was under
        # the reference's non-ANSI Spark 2.4
        .withColumn("searchDate", F.try_to_date("searchDate", "yyyy-MM-dd"))
        .withColumn("flightDate", F.try_to_date("flightDate", "yyyy-MM-dd"))
        # P3: trim code columns
        .withColumn("startingAirport", F.trim("startingAirport"))
        .withColumn("destinationAirport", F.trim("destinationAirport"))
        .withColumn("fareBasisCode", F.trim("fareBasisCode"))
        # U1: ISO-8601 PT#H#M -> minutes (builtin regexp, no UDF)
        .withColumn("travelDuration", duration_to_minutes("travelDuration"))
        # D8: money as double
        .withColumn("baseFare", F.col("baseFare").cast("double"))
        .withColumn("totalFare", F.col("totalFare").cast("double"))
        .withColumn("seatsRemaining", F.col("seatsRemaining").cast("int"))
    )
    # P4: data-quality filter (transformToSilver.py:53)
    df = df.filter(
        (F.col("baseFare") <= F.col("totalFare")) & (F.col("seatsRemaining") >= 0)
    )
    # P5: ||-delimited segments -> arrays (null -> empty array)
    for raw, arr in STRING_SEGMENT_COLS.items():
        df = df.withColumn(arr, split_segments(raw))
    # P8/U2: per-element timestamp cast
    for raw, arr in TS_SEGMENT_COLS.items():
        df = df.withColumn(arr, timestamp_array(split_segments(raw)))
    # P7: string-encoded nulls -> 0, cast int
    for raw, arr in INT_SEGMENT_COLS.items():
        df = df.withColumn(arr, normalize_int_array(split_segments(raw)))
    # P9: drop all raw segment* columns
    seg_cols = [c for c in df.columns if c.startswith("segments")]
    return df.drop(*seg_cols)


def with_partition_cols(df: DataFrame, date_col: Column | str = "searchDate") -> DataFrame:
    """P1: derive year/month/day partition columns
    (ingestToBronze.py:79-81)."""
    return (
        df.withColumn("year", F.year(date_col))
        .withColumn("month", F.month(date_col))
        .withColumn("day", F.dayofmonth(date_col))
    )
