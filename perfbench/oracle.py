"""Independent DuckDB oracle for the medallion pipeline.

Reads the generated raw CSVs with DuckDB's own reader and recomputes what
``run_pipeline`` must produce -- bronze/silver/fact counts, both gold
tables and the three dim cardinalities -- from the intended semantics
(FIXTURES.md spec B), never from the code under test.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

from perfbench.flightgen import DUCKDB_TYPES

_DURATION = r"^PT(?:(\d+)H)?(?:(\d+)M)?$"


class PipelineOracle:
    def __init__(self, as_of: dt.date):
        self.as_of = as_of
        self.con = duckdb.connect()

    def load(self, csv_paths: list[str]) -> None:
        """Point the oracle at the union of ``csv_paths`` -- the source
        rows loaded into the lake so far."""
        files = ", ".join(f"'{p}'" for p in csv_paths)
        cols = ", ".join(f"'{k}': '{v}'" for k, v in DUCKDB_TYPES.items())
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE raw AS
            SELECT * FROM read_csv([{files}], header = true, columns = {{{cols}}})
            """
        )
        self.con.execute(
            """
            CREATE OR REPLACE VIEW silver AS
            SELECT *,
                   string_split(segmentsAirlineCode, '||') AS codes,
                   string_split(segmentsAirlineName, '||') AS names,
                   CAST(searchDate AS DATE) AS searchD,
                   CAST(flightDate AS DATE) AS flightD
            FROM raw
            WHERE baseFare <= totalFare AND seatsRemaining >= 0
            """
        )
        self.con.execute(
            f"""
            CREATE OR REPLACE VIEW gold_revenue AS
            SELECT YEAR(flightD) AS year, MONTH(flightD) AS month,
                   codes[1] AS airline,
                   CAST(SUM(CAST(totalFare AS DECIMAL(18,2))) AS DOUBLE) AS sum_total_fare,
                   FLOOR(AVG(CAST(seatsRemaining AS DOUBLE)) * 100 + 0.5) / 100
                       AS avg_seats_remaining
            FROM silver
            WHERE LEN(LIST_DISTINCT(codes)) = 1
              AND flightD < DATE '{self.as_of.isoformat()}' + INTERVAL 1 DAY
            GROUP BY 1, 2, 3
            """
        )
        self.con.execute(
            f"""
            CREATE OR REPLACE VIEW gold_fbc AS
            SELECT TRIM(fareBasisCode) AS fareBasisCode,
                   FLOOR(AVG(CASE WHEN regexp_matches(travelDuration, '^PT(\\d+H)?(\\d+M)?$')
                         THEN COALESCE(TRY_CAST(regexp_extract(travelDuration, '{_DURATION}', 1) AS INT), 0) * 60
                            + COALESCE(TRY_CAST(regexp_extract(travelDuration, '{_DURATION}', 2) AS INT), 0)
                         END * 1.0) * 100 + 0.5) / 100 AS avg_travel_duration,
                   COUNT(*) AS n_itineraries
            FROM silver GROUP BY 1
            """
        )

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def counts(self) -> dict[str, int]:
        """Expected ``PipelineResult`` fields."""
        silver = self._one("SELECT COUNT(*) FROM silver")
        return {
            "bronze_rows": self._one("SELECT COUNT(*) FROM raw"),
            "silver_rows": silver,
            "gold_revenue_rows": self._one("SELECT COUNT(*) FROM gold_revenue"),
            "gold_fbc_rows": self._one("SELECT COUNT(*) FROM gold_fbc"),
            "dim_date_rows": self._one(
                "SELECT COUNT(DISTINCT d) FROM (SELECT UNNEST([searchD, flightD]) AS d FROM silver)"
            ),
            "dim_airline_rows": self._one(
                "SELECT COUNT(*) FROM (SELECT DISTINCT UNNEST(codes) AS c, UNNEST(names) AS n FROM silver)"
            ),
            "dim_airport_rows": self._one(
                """
                SELECT COUNT(DISTINCT a) FROM (
                  SELECT UNNEST(string_split(segmentsArrivalAirportCode, '||')) AS a FROM silver
                  UNION ALL
                  SELECT UNNEST(string_split(segmentsDepartureAirportCode, '||')) FROM silver)
                """
            ),
            "fact_rows": silver,
        }

    def gold_revenue(self) -> dict[tuple, tuple]:
        return {
            (y, m, a): (s, av)
            for y, m, a, s, av in self.con.execute("SELECT * FROM gold_revenue").fetchall()
        }

    def gold_fbc(self) -> dict[str, tuple]:
        return {
            f: (avg, n) for f, avg, n in self.con.execute("SELECT * FROM gold_fbc").fetchall()
        }

    def top_airlines(self, k: int) -> list[tuple[str, float]]:
        return self.con.execute(
            f"""
            SELECT airline, SUM(sum_total_fare) AS total FROM gold_revenue
            GROUP BY 1 ORDER BY total DESC, airline LIMIT {k}
            """
        ).fetchall()

    def close(self) -> None:
        self.con.close()


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def table_mismatches(got: dict, want: dict) -> int:
    """Keys missing on either side plus values that differ."""
    if set(got) != set(want):
        return max(len(set(got) ^ set(want)), 1)
    return sum(
        not all(_same(g, w) for g, w in zip(got[k], want[k])) for k in want
    )
