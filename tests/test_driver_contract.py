"""Driver-contract regression: the grading driver imports
``__spark_entry__.py`` by file path from an arbitrary cwd with no
PYTHONPATH. Queries whose functions execute on Python workers
(mapInPandas, applyInPandasWithState, custom Python DataSource) are
cloudpickled BY REFERENCE to the package, so the package must reach the
workers via addPyFile -- a driver-side sys.path fix is not enough. This
test runs one such query in a clean subprocess to pin the contract.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

# Imported ahead of plans.queries on purpose: a domain module registered
# out of contract order must not change the order queries() returns.
import flights_etl_pipeline_spark.plans.queries_events  # noqa: F401

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {entry!r})
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
qs = mod.queries()
# a mapInPandas query: fails with ModuleNotFoundError on the workers
# unless the entry adapter ships the package zip
n = qs["multimodal_features"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("WORKER_IMPORT_OK", n)
"""


def test_python_worker_queries_run_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(entry=os.path.join(REPO, "__spark_entry__.py"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),  # NOT the repo
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "WORKER_IMPORT_OK" in proc.stdout


_SCRIPT_R2 = """
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {entry!r})
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
qs = mod.queries()
# round-2 surfaces with extra session coupling: WITH RECURSIVE through
# the SQL parser + createOrReplaceTempView, and semi/anti-join chains --
# all under the driver's DEFAULT session (ANSI on, no custom confs)
for name in ("loyalty_balance_recursive", "q21_single_return_supplier",
             "llm_corpus_pipeline", "revenue_holt_winters_recursive",
             "merge_apply_changelog"):
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, (name, n)
print("R2_CONTRACT_OK")
"""


def test_round2_query_styles_run_under_driver_session(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT_R2.format(entry=os.path.join(REPO, "__spark_entry__.py"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "R2_CONTRACT_OK" in proc.stdout


_SCRIPT_ORDER = """
import importlib.util, json
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {entry!r})
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
print(json.dumps([list(mod.queries()), list(mod.oracle_sql())]))
"""


def test_contract_order_is_independent_of_cwd_and_import_history(tmp_path):
    """The driver imports the entry by path from a foreign cwd. Its query
    order must equal this process's, where a domain module was imported
    first, and both must be the registry's insertion order: neither the
    cwd nor the import history may change it."""
    from flights_etl_pipeline_spark.plans.queries import oracle_sql, queries
    from flights_etl_pipeline_spark.plans.registry import REGISTRY

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT_ORDER.format(entry=os.path.join(REPO, "__spark_entry__.py"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    names, oracle_names = json.loads(proc.stdout.strip().splitlines()[-1])
    assert names == list(queries()) == list(REGISTRY)
    assert set(oracle_names) <= set(names)
    assert set(oracle_sql()) <= set(queries())


# Queries registered only when an optional dependency is present; the
# driver record may name them in environments where they don't register.
_ENV_GATED = {"events_user_stats_stream"}  # needs protobuf (Spark 4 tws)


def test_driver_green_names_exist_in_registry():
    """Renaming or deleting a query the driver has already graded must
    fail here. A CORRECTNESS_r*.json row is green when its hash matched,
    or when the query has no oracle and its rows-only run produced rows."""
    from flights_etl_pipeline_spark.plans.queries import queries

    green = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            rows = json.load(fh)
        green |= {
            name
            for name, row in rows.items()
            if row.get("hash_match") is True
            or (row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0)
        }
    assert green, "no CORRECTNESS_r*.json records found"
    unknown = sorted(green - set(queries()) - _ENV_GATED)
    assert not unknown, f"driver-graded queries absent from the registry: {unknown}"
