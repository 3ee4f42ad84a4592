"""Aggregates every registered query module into the driver contract.

Importing this module populates ``REGISTRY`` (each domain module registers
its queries at import time). ``__spark_entry__.py`` delegates here.
Registry order is import order: the modules in ``_MODULES`` order, each
module's queries in the order it registers them.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import flights_etl_pipeline_spark.plans.queries_text  # noqa: F401
from flights_etl_pipeline_spark.plans.registry import REGISTRY

# Domain modules in contract order. Each registers its queries at import
# time; a module that fails to import is skipped so entry() stays green.
_MODULES = (
    "queries_text",
    "queries_dedup",
    "queries_simsearch",
    "queries_multimodal",
    "queries_streaming",
    "queries_incremental",
    "queries_ml",
    "queries_graph",
    "queries_profile",
    "queries_synth",
    "queries_tpch",
    "queries_core",
    "queries_arrays",
    "queries_events",
)
for _name in _MODULES[1:]:
    try:
        importlib.import_module(f"flights_etl_pipeline_spark.plans.{_name}")
    except ImportError:
        pass

# A caller may import a domain module before this one, so insertion order
# alone would depend on import history. Sort by module (stably, so each
# module keeps its registration order) to fix the contract order.
_RANK = {f"flights_etl_pipeline_spark.plans.{m}": i for i, m in enumerate(_MODULES)}
_ordered = sorted(REGISTRY.items(), key=lambda kv: _RANK[kv[1].fn.__module__])
REGISTRY.clear()
REGISTRY.update(_ordered)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items() if spec.bench}
