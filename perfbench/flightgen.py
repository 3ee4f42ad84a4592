"""Seeded, vectorised raw-flights generator (FIXTURES.md spec B) and the
one-day delta slicer.

The table is Kaggle-itineraries shaped: ``segments*`` columns are
``||``-joined strings carrying the reference's quirks -- padded codes,
malformed ``travelDuration``, literal ``None``/``null`` elements,
whole-NULL segment columns, ~4% quality-filter rejects (2% base > total
fare, 2% negative seats) and ~30% mixed-airline itineraries.

Every column is built with numpy array ops (no per-row Python), so 200k
rows take well under a second. ``index`` is assigned after ordering by
``searchDate``, which makes every search day a contiguous ``index`` range:
slicing the last days off the table yields one-day deltas whose indexes
all lie past the watermark of the days before them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FIRST_SEARCH_DATE = dt.date(2022, 4, 16)
AIRPORTS = np.array([
    "ATL", "BOS", "CLT", "DEN", "DFW", "DTW", "EWR", "IAD",
    "JFK", "LAX", "LGA", "MIA", "OAK", "ORD", "PHL", "SFO",
], dtype=object)
AIRLINE_CODES = np.array(["AA", "DL", "UA", "B6", "NK", "F9", "AS", "WN"], dtype=object)
AIRLINE_NAMES = np.array([
    "American Airlines", "Delta Air Lines", "United Airlines",
    "JetBlue Airways", "Spirit Airlines", "Frontier Airlines",
    "Alaska Airlines", "Southwest Airlines",
], dtype=object)
CABINS = np.array(["coach", "premium coach", "business", "first"], dtype=object)
EQUIPMENT = np.array(
    ["Boeing 737-800", "Airbus A321", "Embraer 175", "Airbus A320", ""], dtype=object
)
MAX_SEGMENTS = 4
SEGMENT_MIX = (3 / 7, 2 / 7, 1 / 7, 1 / 7)  # P(1..4 segments)

_S = StringType()
SCHEMA = StructType([
    StructField("index", LongType()),
    StructField("legId", _S),
    StructField("searchDate", _S),
    StructField("flightDate", _S),
    StructField("startingAirport", _S),
    StructField("destinationAirport", _S),
    StructField("fareBasisCode", _S),
    StructField("travelDuration", _S),
    StructField("elapsedDays", IntegerType()),
    StructField("isBasicEconomy", BooleanType()),
    StructField("isRefundable", BooleanType()),
    StructField("isNonStop", BooleanType()),
    StructField("baseFare", DoubleType()),
    StructField("totalFare", DoubleType()),
    StructField("seatsRemaining", IntegerType()),
    StructField("totalTravelDistance", DoubleType()),
    StructField("segmentsDepartureTimeRaw", _S),
    StructField("segmentsArrivalTimeRaw", _S),
    StructField("segmentsArrivalAirportCode", _S),
    StructField("segmentsDepartureAirportCode", _S),
    StructField("segmentsAirlineCode", _S),
    StructField("segmentsAirlineName", _S),
    StructField("segmentsEquipmentDescription", _S),
    StructField("segmentsCabinCode", _S),
    StructField("segmentsDurationInSeconds", _S),
    StructField("segmentsDistance", _S),
])

# DuckDB column types for the oracle's independent read of the same CSV
DUCKDB_TYPES = {
    f.name: {
        LongType(): "BIGINT", IntegerType(): "INTEGER", BooleanType(): "BOOLEAN",
        DoubleType(): "DOUBLE",
    }.get(f.dataType, "VARCHAR")
    for f in SCHEMA.fields
}


def _join(parts: np.ndarray, n_seg: np.ndarray) -> np.ndarray:
    """Row-wise ``'||'.join(parts[i, :n_seg[i]])`` over an (n, 4) object
    array, as four vectorised concatenations."""
    out = parts[:, 0].copy()
    for j in range(1, MAX_SEGMENTS):
        longer = n_seg > j
        out[longer] = out[longer] + "||" + parts[longer, j]
    return out


def _int_elements(rng, lo: int, hi: int, shape) -> np.ndarray:
    """Integer strings with ~3% literal 'None' and ~2% literal 'null'."""
    vals = rng.integers(lo, hi, size=shape).astype(str).astype(object)
    r = rng.random(shape)
    vals[r < 0.05] = "null"
    vals[r < 0.03] = "None"
    return vals


def make_flights(n: int, n_days: int, seed: int) -> pa.Table:
    """``n`` raw itineraries over ``n_days`` search dates from
    :data:`FIRST_SEARCH_DATE`, ordered by search date (``index`` 0..n-1)."""
    rng = np.random.default_rng(seed)
    # the same number of rows (to within one) on every search date, so a
    # one-day delta has the same size for every seed
    per_day = np.diff(np.arange(n_days + 1) * n // n_days)
    search = np.repeat(np.arange(n_days), per_day) + np.datetime64(FIRST_SEARCH_DATE, "D")
    elapsed = rng.integers(0, 61, n)
    flight = search + elapsed
    n_seg = rng.choice(np.arange(1, MAX_SEGMENTS + 1), size=n, p=SEGMENT_MIX)

    # leg-consistent chain of distinct airports
    chain = rng.random((n, len(AIRPORTS))).argsort(axis=1)[:, : MAX_SEGMENTS + 1]
    dep_codes = AIRPORTS[chain[:, :MAX_SEGMENTS]]
    arr_codes = AIRPORTS[chain[:, 1:]]
    starting = dep_codes[:, 0].copy()
    padded = rng.random(n) < 0.05
    starting[padded] = "  " + starting[padded] + "  "
    destination = arr_codes[np.arange(n), n_seg - 1]

    # one airline per itinerary; ~30% of all itineraries mix airlines
    airline = np.repeat(rng.integers(0, len(AIRLINE_CODES), (n, 1)), MAX_SEGMENTS, axis=1)
    mixed = (n_seg > 1) & (rng.random(n) < 0.53)
    airline[mixed, 1] = (airline[mixed, 0] + rng.integers(1, 8, mixed.sum())) % 8
    airline[mixed, 2:] = rng.integers(0, 8, (mixed.sum(), MAX_SEGMENTS - 2))

    hours = rng.integers(0, 14, n).astype(str).astype(object)
    mins = rng.integers(0, 60, n).astype(str).astype(object)
    duration = "PT" + hours + "H" + mins + "M"
    r = rng.random(n)
    duration[r < 0.09] = ("PT" + mins + "M")[r < 0.09]
    duration[r < 0.05] = ("PT" + hours + "H")[r < 0.05]
    duration[r < 0.01] = "garbage-duration"

    base_fare = np.round(rng.uniform(20, 4000, n), 2)
    total_fare = np.round(base_fare + rng.uniform(0, 400, n), 2)
    bad_fare = rng.random(n) < 0.02
    total_fare[bad_fare] = np.round(base_fare[bad_fare] - 10.0, 2)
    seats = rng.integers(0, 11, n)
    seats[rng.random(n) < 0.02] = -1
    distance = rng.integers(100, 3000, n).astype(float)
    distance_null = rng.random(n) < 0.08

    t0 = flight.astype("datetime64[s]")[:, None] + rng.integers(5, 20, (n, 1)) * np.timedelta64(1, "h")
    dep_t = t0 + np.arange(MAX_SEGMENTS) * np.timedelta64(3, "h")
    arr_t = dep_t + rng.integers(45, 240, (n, MAX_SEGMENTS)) * np.timedelta64(1, "m")
    dep_s = np.datetime_as_string(dep_t, unit="s").astype(object)
    zone = np.where(rng.random((n, MAX_SEGMENTS)) < 0.2, "-04:00", "Z").astype(object)
    dep_s = dep_s + zone
    arr_s = np.datetime_as_string(arr_t, unit="s").astype(object) + "Z"

    seg_shape = (n, MAX_SEGMENTS)
    durations = _join(_int_elements(rng, 2700, 14400, seg_shape), n_seg)
    distances = _join(_int_elements(rng, 100, 2900, seg_shape), n_seg)
    whole_null = rng.random(n) < 0.02  # -> empty arrays in silver

    fbc = "FB" + np.char.zfill(rng.integers(0, 50, n).astype(str), 2).astype(object)
    fbc_pad = rng.random(n) < 0.1
    fbc[fbc_pad] = fbc[fbc_pad] + "  "

    def col_or_null(values, null_mask, typ):
        return pa.array(values, type=typ, mask=null_mask)

    cols = {
        "index": pa.array(np.arange(n), pa.int64()),
        "legId": pa.array(np.char.mod("%08x", rng.integers(0, 2**31, n)), pa.string()),
        "searchDate": pa.array(search.astype(str), pa.string()),
        "flightDate": pa.array(flight.astype(str), pa.string()),
        "startingAirport": pa.array(starting, pa.string()),
        "destinationAirport": pa.array(destination, pa.string()),
        "fareBasisCode": pa.array(fbc, pa.string()),
        "travelDuration": pa.array(duration, pa.string()),
        "elapsedDays": pa.array(elapsed, pa.int32()),
        "isBasicEconomy": pa.array(rng.random(n) < 0.3),
        "isRefundable": pa.array(rng.random(n) < 0.1),
        "isNonStop": pa.array(n_seg == 1),
        "baseFare": pa.array(base_fare, pa.float64()),
        "totalFare": pa.array(total_fare, pa.float64()),
        "seatsRemaining": pa.array(seats, pa.int32()),
        "totalTravelDistance": col_or_null(distance, distance_null, pa.float64()),
        "segmentsDepartureTimeRaw": pa.array(_join(dep_s, n_seg), pa.string()),
        "segmentsArrivalTimeRaw": pa.array(_join(arr_s, n_seg), pa.string()),
        "segmentsArrivalAirportCode": pa.array(_join(arr_codes, n_seg), pa.string()),
        "segmentsDepartureAirportCode": pa.array(_join(dep_codes, n_seg), pa.string()),
        "segmentsAirlineCode": pa.array(_join(AIRLINE_CODES[airline], n_seg), pa.string()),
        "segmentsAirlineName": pa.array(_join(AIRLINE_NAMES[airline], n_seg), pa.string()),
        "segmentsEquipmentDescription": pa.array(
            _join(EQUIPMENT[rng.integers(0, len(EQUIPMENT), seg_shape)], n_seg), pa.string()
        ),
        "segmentsCabinCode": pa.array(
            _join(CABINS[rng.integers(0, len(CABINS), seg_shape)], n_seg), pa.string()
        ),
        "segmentsDurationInSeconds": col_or_null(durations, whole_null, pa.string()),
        "segmentsDistance": col_or_null(distances, whole_null, pa.string()),
    }
    assert list(cols) == SCHEMA.fieldNames()
    return pa.table(cols)


def day_slices(table: pa.Table, first_day: int) -> tuple[pa.Table, list[pa.Table]]:
    """Split ``table`` at search day ``first_day`` (0-based from
    :data:`FIRST_SEARCH_DATE`): the rows before it, and one table per later
    search day in date order -- the one-day deltas."""
    dates = table.column("searchDate").to_numpy(zero_copy_only=False).astype("datetime64[D]")
    day = (dates - np.datetime64(FIRST_SEARCH_DATE, "D")).astype(int)
    bounds = np.searchsorted(day, np.arange(first_day, day.max() + 2))
    base = table.slice(0, bounds[0])
    deltas = [table.slice(lo, hi - lo) for lo, hi in zip(bounds[:-1], bounds[1:])]
    return base, deltas


def write_csv(table: pa.Table, path: str) -> int:
    """Header + rows, strings quoted only where needed, NULL as an empty
    field; returns the file's size in bytes."""
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
    return os.path.getsize(path)


def properties(table: pa.Table) -> dict:
    """Input properties the pipeline's cost depends on."""
    codes = table.column("segmentsAirlineCode").to_numpy(zero_copy_only=False)
    n_seg = np.char.count(codes.astype(str), "||") + 1
    mixed = np.array([len(set(c.split("||"))) > 1 for c in codes])
    return {
        "rows": table.num_rows,
        "distinct_search_dates": len(set(table.column("searchDate").to_pylist())),
        "segments_mix": {
            str(k): round(float((n_seg == k).mean()), 3) for k in range(1, MAX_SEGMENTS + 1)
        },
        "mixed_airline_frac": round(float(mixed.mean()), 3),
    }
