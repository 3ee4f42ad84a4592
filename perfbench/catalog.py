"""The catalog queries the benchmark runs, and their DuckDB output check.

The catalog's 57 ``bench=True`` queries cost about 46 s a pass on 4 cores
even over the smallest tables -- per-query planning and scheduling
dominate, not data. A benchmark run has room for about 10 s of catalog
work, so the timed runs repeat a pass over ``TIMED_SET``: per family that
an end-to-end ``catalog_*_s`` metric reports, one of its cheapest bench
queries (about 2 s a pass; three warm-up and four timed passes a run).

``TRACE_ONLY`` covers every ``plans.queries_*`` module the timed set
misses, with one of the module's cheapest bench queries. The traced run
times each once, as a per-layer ``catalog.<query>.s`` metric; no family
total includes them. ``multimodal_features`` also exercises shipping
the package to the Python workers.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

TIMED_SET = {
    "relational": ("pricing_summary",),  # queries_core
    "text_dedup": ("doc_quality",),  # queries_text
    "vector": ("ann_bruteforce_topk",),  # queries_simsearch
    "ml": ("train_test_split",),  # queries_ml
    "events": ("events_sessionize",),  # queries_events
}
FAMILY_OF = {q: fam for fam, qs in TIMED_SET.items() for q in qs}
TRACE_ONLY = (
    "q18_large_volume_customers",  # queries_tpch
    "table_profile",  # queries_profile
    "snapshot_expire",  # queries_incremental
    "dedup_exact",  # queries_dedup
    "copurchase_linkpred_lsh",  # queries_graph
    "multimodal_features",  # queries_multimodal
    "events_dedup_stream",  # queries_streaming
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm(v):
    """Engine-neutral value: floats as floats, dates as ISO strings,
    lists as tuples, NaN as None."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _sorted_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


class OracleChecker:
    """DuckDB views over the catalog tables; compares a query's collected
    Spark rows with its ``oracle_sql()`` result, order-insensitively."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        # one thread: checks run between timed queries, which should not
        # share the cores with DuckDB's workers
        self.con = duckdb.connect(config={"threads": 1})
        self.oracle_sql = oracle_sql
        self._want: dict[str, tuple[list[str], list[tuple]]] = {}
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def mismatch(self, name: str, cols: list[str], rows) -> str | None:
        """None when the rows match the oracle, else a one-line reason."""
        if name not in self._want:  # the inputs never change within a run
            rel = self.con.sql(self.oracle_sql[name])
            want_cols = list(rel.columns)
            self._want[name] = want_cols, _sorted_rows(want_cols, rel.fetchall())
        want_cols, want = self._want[name]
        if sorted(want_cols) != sorted(cols):
            return f"columns {sorted(cols)} != oracle {sorted(want_cols)}"
        got = _sorted_rows(cols, rows)
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        bad = sum(not _close(g, w) for g, w in zip(got, want))
        return f"{bad} of {len(got)} rows differ" if bad else None

    def close(self) -> None:
        self.con.close()
