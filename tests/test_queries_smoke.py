"""The one pass over the query registry: every registered query runs at
sf0.001 with a schema and rows, passes the plan lint on every plan it
executed, and leaves no cached intermediate behind (a leak accumulates
across the driver's one-session correctness sweep).

Full value-level verification against DuckDB lives in tools/check_parity.py
(and the driver's own gate at sf0.01).
"""

from __future__ import annotations

import pytest

from flights_etl_pipeline_spark.plans.queries import oracle_sql, queries
from flights_etl_pipeline_spark.plans.registry import REGISTRY
from tests.test_plans import run_registered_query


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    violations, leaked = run_registered_query(spark, name)
    assert not violations, "\n".join(violations)
    assert not leaked, f"{name} left cached intermediates: {leaked}"


def test_oracle_keys_subset_of_queries():
    assert set(oracle_sql()) <= set(queries())


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.columns) >= 2
    assert df.count() > 0
