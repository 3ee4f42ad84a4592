"""Query registry: one entry per implemented operator (SURVEY.md section 2).

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle string DuckDB can run over the same parquet
tables. The driver hash-compares the two at sf=0.01 (order-insensitive), so
column names/aliases MUST match on both sides; genuinely non-SQL ops set
``oracle=None`` and get a rows-only check.

Registration is decentralized: each domain module calls ``register`` at
import time; ``plans.queries`` imports them all and exposes the dict.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def rebalance(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism,
    for ARITHMETIC-BOUND row-local stages (K x dim decimal/double
    argmin folds, moment outer products) whose input scan may carry
    fewer splits than the cluster has cores — locally, every test
    table is a single-row-group parquet file, so without this the
    whole per-row fold serializes on ONE task (pca_projection's r6
    rationale, helper added r12). The exchange moves each skinny row
    exactly once, trivial next to the per-row work it parallelizes,
    and scale-adaptively: the width follows defaultParallelism, never
    a constant.

    Deliberately NOT applied to the string/tokenize pipelines
    (minhash, simhash, chunk scrub, tfidf, NB, Gopher gates): r12
    interleaved A/B measured the exchange NEGATIVE there — it
    serializes the same string bytes the single scan task would just
    process, so the move costs more than the parallelism recovers
    (OPTIMIZATION_r12.md, "rebalance sweep")."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def model_channel(df: DataFrame, max_rows: int, why: str) -> list:
    """Collect a driver-side MODEL channel (frozen centroids, score
    histograms, gamma-pattern counts, top-M serve candidates...) with
    its size bound enforced at RUNTIME: fetches at most ``max_rows + 1``
    rows and raises if the declared bound is exceeded, so a fixture or
    upstream-plan change can never silently turn a model-sized channel
    into a data-sized collect (VERDICT r9 item 4 — these bounds
    previously lived only in docstrings).

    The ``limit(max_rows + 1)`` is part of the plan, so even on a
    breach the driver transfer stays bounded — the failure is a clean
    AssertionError, not an OOM. Every ``.collect()`` under ``plans/``
    must flow through this helper or carry a ``naked-collect-ok``
    exemption comment (enforced by tests/test_plans.py)."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise AssertionError(
            f"model channel exceeded its declared bound of {max_rows} "
            f"rows ({why}) — this collect is sized by the MODEL, not "
            f"the data; the input no longer satisfies that invariant"
        )
    return rows


def register(
    name: str,
    oracle: str | None = None,
    survey: tuple[str, ...] | list[str] = (),
    bench: bool = False,
) -> Callable:
    """Decorator: add a query to the registry under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn, oracle, tuple(survey), bench)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet scan, S3).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS). Depending on the
    Spark build this surfaces as bigint (``nanosAsLong``) or, on Spark
    4.1+, natively as TIMESTAMP_NTZ with nanos truncated to micros — the
    same truncation DuckDB applies. Either way, normalize to a session-tz
    TIMESTAMP so ``unix_micros``/window functions work downstream; the
    NTZ→LTZ cast is instant-preserving because every session here runs
    with ``spark.sql.session.timeZone=UTC`` (asserted below) and the NTZ
    wall clock *is* the epoch-UTC rendering of the stored nanos.
    """
    df = None
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "timestamp_ntz":
            if spark.conf.get("spark.sql.session.timeZone") != "UTC":
                spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
