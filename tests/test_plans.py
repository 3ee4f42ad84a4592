"""Physical-plan assertions (SURVEY.md section 5.5): the scale claims —
pushdown, pruning, broadcast, codegen, no row-at-a-time Python — must
survive refactors, so they are pinned here rather than trusted.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

# Importing plans.queries fills the FULL registry: REGISTRY fills as query
# modules import, so a sweep over it would otherwise cover only whatever
# earlier tests happened to import.
import flights_etl_pipeline_spark.plans.queries  # noqa: F401
from flights_etl_pipeline_spark.plans.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@contextlib.contextmanager
def executed_plans(spark):
    """Yield a list that, on exit, holds ``(description, plan)`` for
    every SQL execution the block ran, in execution order.

    Spark's SQL status store keeps each execution's physical plan even
    with the UI off; under ``spark.sql.ui.explainMode=simple`` it is the
    text of ``explain("simple")``. Of an AQE plan we keep the ``Initial
    Plan``, the form a lazily explained query gives (the final plan puts
    ShuffleQueryStage/AQEShuffleRead lines between the nodes)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).apply(0).executionId()

    prev_mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    out: list[tuple[str, str]] = []
    try:
        mark = last_id()
        yield out
        for i in range(mark + 1, last_id() + 1):
            e = store.execution(i)
            if e.isEmpty():  # id taken by a run that never reached the store
                continue
            plan = e.get().physicalPlanDescription()
            _, sep, initial = plan.partition("\n+- == Initial Plan ==\n")
            out.append((e.get().description(), initial if sep else plan))
    finally:
        spark.conf.set("spark.sql.ui.explainMode", prev_mode)


def last_checkpoint_plan(spark, fn):
    """Run query ``fn``; return its DataFrame and the plan of the last
    ``localCheckpoint`` job it ran."""
    with executed_plans(spark) as ran:
        df = fn(spark, SF_DIR)
    plans = [p for d, p in ran if d.startswith("localCheckpoint")]
    assert plans, f"{fn.__name__} ran no localCheckpoint"
    return df, plans[-1]


def test_parquet_filter_pushdown(spark):
    from flights_etl_pipeline_spark.plans.queries_core import filtered_revenue

    plan = plan_str(filtered_revenue(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the quantity/discount predicates reach the scan, not just the Filter node
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark):
    from flights_etl_pipeline_spark.plans.queries_core import pricing_summary

    plan = plan_str(pricing_summary(spark, SF_DIR))
    scan_schema = plan.split("ReadSchema")[1].splitlines()[0]
    # lineitem has 16 columns; the scan must read only what Q1 needs
    assert "l_comment" not in scan_schema
    assert "l_orderkey" not in scan_schema
    assert "l_quantity" in scan_schema


def test_small_dim_join_broadcasts(spark):
    from flights_etl_pipeline_spark.plans.queries_core import revenue_by_nation

    plan = plan_str(revenue_by_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nation/customer dims must not SMJ


def test_hot_path_stays_in_codegen(spark):
    from flights_etl_pipeline_spark.plans.queries_core import pricing_summary

    # AQE shows only the placeholder in simple mode pre-execution; codegen
    # mode compiles the current plan and reports its codegen subtrees
    plan = plan_str(pricing_summary(spark, SF_DIR), mode="codegen")
    assert "WholeStageCodegen" in plan


# Queries allowed to put a Sort/Window over an Exchange SinglePartition,
# because the single partition holds AGGREGATE OUTPUT bounded by a group
# domain, never table-sized raw rows. Adding a name here requires the
# same justification in the query's docstring.
_SINGLE_PARTITION_SANCTIONED = {
    "event_type_shares",  # window over 5 event-type aggregate rows
    "orders_price_histogram",  # window over fixed histogram buckets
    "revenue_mom_change",  # window over per-month revenue (months-bounded)
    "revenue_seasonal_decomposition",  # per-month series, months-bounded
    "revenue_ewma_recursive",  # spine ROW_NUMBER over ~80-row month spine
    "revenue_holt_recursive",  # spine ROW_NUMBER over ~80-row month spine
    "revenue_holt_winters_recursive",  # same ~80-row month spine
    "customer_km_survival",  # spine ROW_NUMBER over distinct lifetimes
    # in months (~80 rows, months-bounded)
    "table_profile",  # sort over one row per profiled column
    "customer_rfm_segments",  # documented trade: NTILE over the customer
    # dim aggregate; at 1e9 customers becomes the histogram-offset rank
    # (see docstring's scale note)
    "quality_gate_auc",  # window over the score histogram, domain
    # bounded by the 1e-6 sigmoid quantization (<= 1,000,001 rows
    # regardless of corpus size)
    "vocab_growth_curve",  # the two-level prefix sum's bucket-offset
    # window runs over the 1000x-reduced bucket-total spine
    # (n_docs/1000 rows, 2 longs each), not raw docs; the per-doc
    # cumulation is key-partitioned (see docstring's scale note)
    "events_cusum_changepoint",  # same two-level construction: the
    # only unpartitioned window is over per-DAY deviation totals
    # (spine-length/24 rows); hourly cumulation partitions by day
    "events_ks_binned",  # ECDF cumulation over the FIXED 32-bucket
    # log-histogram spine — bounded by construction, not by data
    "brand_abc_classes",  # ranked cumulation over the BRAND spine
    # (~25 rows at any SF — category-bounded, not data-bounded)
    "range_partition_plan",  # rank window over the FIXED 1024-row
    # boundary sample (a global top-k heap's output) — bounded by
    # construction at any SF; the table-sized pass is window-free
    "orders_priority_sample",  # tau = min window over the top-(k+1)
    # heap's own 201-row output — bounded by construction; avoids
    # duplicating the TakeOrdered subtree (a second table scan)
    "unimax_mixture_allocation",  # waterfill rank/prefix-sum window
    # over the per-SOURCE token aggregate (~20 rows, source-bounded
    # at any SF — the corpus-sized pass is one window-free agg)
    "hybrid_retrieval_rrf",  # rank windows over each retrieval leg's
    # own top-20 heap output (TakeOrdered result — bounded by
    # construction at any SF); the corpus-sized passes are window-free
    "events_uplift_by_decile",  # decile rank over the per-USER
    # aggregate (one row per user -- customer_rfm_segments precedent;
    # docstring documents the histogram-offset swap at scale)
    "orders_runs_test",  # rank/lag windows over the DAILY revenue
    # spine (calendar-bounded rows, corpus-independent -- the
    # revenue_mom_change precedent)
    "order_value_hill_tail",  # rank window over the global top-101
    # heap's own output (TakeOrdered result -- bounded by construction
    # at any SF; hybrid_retrieval_rrf precedent)
    "revenue_bootstrap_ci",  # rank window over the 40-row replicate
    # aggregate (B-bounded by construction at any SF); the corpus-
    # sized pass is one window-free generate+aggregate
    "vocab_build",  # class-offset prefix sum over the (freq, first-
    # char) histogram — bounded by distinct-freqs x alphabet, never
    # corpus- or vocab-sized; replaced the O(H^2) BNLJ the r5 plan
    # audit flagged. The vocab-sized rank is key-partitioned.
    "tokenizer_apply",  # composes vocab_build, inheriting its bounded
    # histogram prefix sum (the encode stages themselves are window-free)
    "orders_repeat_purchase_curve",  # survival cumulation over the
    # 10-bucket capped order-count aggregate — domain-bounded by
    # construction; the corpus-sized pass is the window-free rollup
    "events_disorder_profile",  # cumulative share over the ~45-row
    # log2 lateness-bucket aggregate — domain-bounded by construction;
    # the corpus-sized pass is the keyed running-max window
    "quality_isotonic_calibration",  # prefix/minimax windows over the
    # 101-bucket probability aggregate — domain-bounded by construction;
    # the corpus-sized pass is the one window-free bucket aggregate
    "exact_percentiles_two_pass",  # prefix sums over the pass-1
    # bucket spine (domain/65536 rows — domain-bounded, data-size
    # independent) and the <=65536-row pass-2 per-rank refinement;
    # the data itself is touched only by two window-free aggregates
}

_STREAMING_PREFIXES = ("events_hourly_stream", "events_sessionize_stream")


def _node_depth(line: str) -> int:
    """Tree depth of a simple-mode explain line (length of the drawing
    prefix: spaces, ':', '+', '-', '|')."""
    import re

    return len(re.match(r"^[\s:+\-|]*", line).group(0))


_BOUNDING_NODE = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
)
# Broadcast joins are PASS-THROUGH: a bounded subtree crossed with a
# broadcast scalar (median, max-date) stays bounded — the walk continues
# into the streamed side, which must still aggregate before its scan.
# Shuffle joins and cartesian products are breakers: their output can be
# table-sized no matter what feeds them.
_UNBOUNDED_NODE = (
    "FileScan",
    "Scan parquet",
    "Scan ExistingRDD",
    "Generate",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
)


def _single_partition_input_is_bounded(lines: list[str], i: int) -> bool:
    """True iff the Exchange SinglePartition at ``lines[i]`` feeds from
    a BOUNDED subtree: walking its child subtree top-down, a bounding
    node (aggregate partial/final, top-k heap, limit) appears before
    any scan/generate/join — i.e. the single partition only ever holds
    post-aggregate or post-heap rows, never table-sized input. This is
    the STRUCTURAL form of the _SINGLE_PARTITION_SANCTIONED contract
    (VERDICT r9 item 5): a refactor can keep a name on the list, but
    it cannot un-bound the window's input without failing here."""
    d = _node_depth(lines[i])
    for ln in lines[i + 1 :]:
        if not ln.strip():
            continue
        if _node_depth(ln) <= d:
            break  # left the exchange's subtree
        if any(b in ln for b in _BOUNDING_NODE):
            return True
        if any(u in ln for u in _UNBOUNDED_NODE):
            return False
    return True  # subtree exhausted without hitting a data source


def _lint_plan(name: str, plan: str) -> list[str]:
    """The two repo-wide scale invariants on one simple-mode plan."""
    violations = []
    if "BatchEvalPython" in plan:
        violations.append(f"{name}: row-wise Python UDF")
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        above = " ".join(lines[max(0, i - 3) : i])
        funnels_sort_or_window = (
            "Window" in above or "Sort" in above
        ) and "Aggregate" not in above
        if not funnels_sort_or_window:
            continue
        if name not in _SINGLE_PARTITION_SANCTIONED:
            violations.append(
                f"{name}: Sort/Window over Exchange SinglePartition"
            )
            break
        # sanctioned: the name alone is not enough — the exchange's
        # input subtree must STILL be bounded by construction
        # (aggregate or top-k before any scan/generate/join)
        if not _single_partition_input_is_bounded(lines, i):
            violations.append(
                f"{name}: SANCTIONED single-partition window, but "
                f"its input subtree is no longer bounded (no "
                f"aggregate/top-k between the exchange and a data "
                f"source) — the sanction no longer holds"
            )
            break
    return violations


_DATA_SOURCES = ("FileScan", "Scan parquet", "InMemoryRelation")


def _plain_persisted_rdds(spark) -> dict[int, str]:
    """The persistent RDDs that are not local checkpoints, by id: a
    checkpoint RDD legitimately stays registered while it backs a
    returned result, a plain persisted intermediate must not."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    rdds = {}
    while it.hasNext():
        rdd = it.next()._2()
        if not rdd.isLocallyCheckpointed():
            rdds[rdd.id()] = rdd.toString()
    return rdds


# sf0.001's supplier table is too sparse for any |Δbal| < 10 pair to
# exist (the band predicate is the point of the query, not its hit
# rate); sf0.01 — the driver's correctness SF — yields 7 matched rows
MAY_BE_EMPTY = {"acctbal_band_pairs"}

_RUNS: dict[str, tuple[list[str], list[str]]] = {}


def run_registered_query(spark, name: str) -> tuple[list[str], list[str]]:
    """Run a registered query at sf0.001, once per session, and return
    ``(violations, leaked)``; a later caller gets the recorded result.

    Inside ``executed_plans``: clear the cache and note the plain
    persisted RDDs, build the query, explain the returned plan (simple),
    ``collect()`` it. A violation is a missing schema, 0 rows (unless in
    ``MAY_BE_EMPTY``), or a breach of the two repo-wide scale invariants
    of ``_lint_plan`` on the returned plan OR on the plan of any SQL
    execution the query ran: result and loop-body checkpoints,
    model-channel collects and the collect itself. A checkpoint-backed
    result shows only ``Scan ExistingRDD``; the work behind it is in
    those executed plans.

    1. No BatchEvalPython anywhere — row-at-a-time Python UDFs are the
       forbidden slow path; ArrowEvalPython / MapInPandas /
       FlatMapGroupsInPandas are the sanctioned Python surface.
    2. No Sort/Window sitting on an Exchange SinglePartition unless the
       query is in the sanctioned list above — a global window over
       table-sized input is the classic funnel-everything-through-one-
       task scale killer (the round-1 vocab_build defect). Final global
       scalar aggregates (HashAggregate over SinglePartition) are fine:
       their input is per-partition partials, not raw rows.

    ``leaked`` lists the plain persisted RDDs the query left behind.
    """
    if name in _RUNS:
        return _RUNS[name]
    spark.catalog.clearCache()
    persisted_before = _plain_persisted_rdds(spark)
    with executed_plans(spark) as ran:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = plan_str(df, mode="simple")
        rows = df.collect()

    violations = [] if df.columns else [f"{name}: no columns"]
    if not rows and name not in MAY_BE_EMPTY:
        violations.append(f"{name} returned 0 rows at sf0.001")
    if not name.startswith(_STREAMING_PREFIXES):  # they execute on call
        for p in [plan] + [p for _, p in ran]:
            violations += _lint_plan(name, p)
        # non-vacuity: a stub result (checkpoint-backed or assembled on
        # the driver) must be linted through executed plans that really
        # read data, or the lint sees nothing of the query's work
        stub = "Scan ExistingRDD" in plan and not any(
            src in plan for src in _DATA_SOURCES
        )
        if stub and not any(src in p for _, p in ran for src in _DATA_SOURCES):
            violations.append(f"{name}: no executed plan read a data source")

    leaked = [
        rdd for i, rdd in _plain_persisted_rdds(spark).items()
        if i not in persisted_before
    ]
    _RUNS[name] = (violations, leaked)
    return _RUNS[name]


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    """A year=/month= filter must prune partitions at scan time (the
    reference's whole lake layout depends on this, ingestToBronze.py:79-84)."""
    from flights_etl_pipeline_spark.sources.sinks import write_partitioned_parquet

    df = spark.range(100).select(
        F.col("id"),
        (F.lit(2022) + F.col("id") % 2).cast("int").alias("year"),
        (F.col("id") % 12 + 1).cast("int").alias("month"),
        (F.col("id") % 28 + 1).cast("int").alias("day"),
    )
    path = str(tmp_path / "lake")
    write_partitioned_parquet(df, path, mode="overwrite")
    scan = spark.read.parquet(path).filter((F.col("year") == 2022) & (F.col("month") == 3))
    plan = plan_str(scan)
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "year" in pf and "month" in pf


# --- plan shapes of the training-pipeline / newer operators -----------------


def test_doc_top_terms_broadcasts_idf(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import doc_top_terms

    plan = plan_str(doc_top_terms(spark, SF_DIR))
    # idf + corpus-count sides are explicitly broadcast; the big tf side
    # must never sort-merge against them
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_assign_is_shuffle_free(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import split_assign
    from flights_etl_pipeline_spark.plans.registry import load

    df = load(spark, SF_DIR, "documents").withColumn(
        "split", split_assign("doc_id")
    )
    plan = plan_str(df)
    assert "Exchange" not in plan  # pure projection, no shuffle


def test_ohlc_single_aggregate_no_sort(spark):
    from flights_etl_pipeline_spark.plans.queries_events import (
        events_ohlc_hourly,
    )

    plan = plan_str(events_ohlc_hourly(spark, SF_DIR))
    assert "Sort" not in plan  # min_by/max_by replace the window sorts
    # one group-keyed exchange only (formatted mode lists each node once
    # in the tree as "Exchange (n)")
    assert plan.count("Exchange (") == 1


def test_zorder_key_stays_in_codegen_no_python(spark):
    from flights_etl_pipeline_spark.plans.queries_core import zorder_clustering

    plan = plan_str(zorder_clustering(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_text_ops_no_python_udfs(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import (
        boilerplate_ngrams,
        split_contamination,
    )
    from flights_etl_pipeline_spark.plans.queries_text import (
        bpe_token_stats,
        doc_pii_scrub,
    )

    for fn in (split_contamination, boilerplate_ngrams, bpe_token_stats,
               doc_pii_scrub):
        plan = plan_str(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__


def test_funnel_stages_copartition_on_user(spark):
    from flights_etl_pipeline_spark.plans.queries_events import events_funnel

    # all three stage aggregates and both joins key on user_id; Spark must
    # not introduce a sort-merge join between the small per-user frontiers
    plan = plan_str(events_funnel(spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan


def test_embedding_quantize_is_pure_projection(spark):
    from flights_etl_pipeline_spark.plans.queries_simsearch import (
        embedding_quantize,
    )

    plan = plan_str(embedding_quantize(spark, SF_DIR))
    assert "Exchange" not in plan  # row-local: no shuffle at any scale
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seq_packing_single_exchange(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import seq_packing

    plan = plan_str(seq_packing(spark, SF_DIR))
    # window cumsum and the pack aggregate share the source partitioning:
    # one exchange, one per-partition sort, nothing global
    assert plan.count("Exchange (") == 1
    assert plan.count("Sort (") == 1


def test_inverted_index_bounded_two_exchange(spark):
    from flights_etl_pipeline_spark.plans.queries_text import inverted_index

    plan = plan_str(inverted_index(spark, SF_DIR))
    # pair-tf hash aggregate shuffle + token-keyed window shuffle; the
    # final head aggregate reuses the window's token partitioning
    assert plan.count("Exchange (") == 2
    # no unbounded posting-set aggregation buffer: collect_list runs
    # only on the rn<=5 rows, downstream of the window
    assert "collect_set" not in plan


def test_smallqty_broadcasts_part_dim(spark):
    from flights_etl_pipeline_spark.plans.queries_core import (
        smallqty_part_revenue,
    )

    plan = plan_str(smallqty_part_revenue(spark, SF_DIR))
    # the brand lookup must not shuffle lineitem a second time
    assert "BroadcastHashJoin" in plan


def test_winsorized_broadcasts_percentile_bounds(spark):
    from flights_etl_pipeline_spark.plans.queries_core import (
        winsorized_order_stats,
    )

    plan = plan_str(winsorized_order_stats(spark, SF_DIR))
    # the 5-row percentile table broadcasts back onto the orders scan
    assert "BroadcastHashJoin" in plan


def test_doc_chunks_no_shuffle_no_python(spark):
    from flights_etl_pipeline_spark.plans.queries_text import doc_chunks

    plan = plan_str(doc_chunks(spark, SF_DIR))
    assert "Exchange" not in plan  # generator + projection only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_pairs_jvm_side_levenshtein(spark):
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        fuzzy_customer_pairs,
    )

    plan = plan_str(fuzzy_customer_pairs(spark, SF_DIR))
    # edit distance stays in codegen; no per-pair Python round trip
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan


def test_embedding_zscore_single_exchange(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import embedding_zscore

    plan = plan_str(embedding_zscore(spark, SF_DIR))
    # posexplode is map-side; one (label, dim) shuffle with partial aggs
    assert plan.count("Exchange (") == 1
    assert "partial_" in plan.lower() or "partial" in plan


def test_label_median_uses_grouped_map_arrow(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import (
        label_median_embedding,
    )

    plan = plan_str(label_median_embedding(spark, SF_DIR))
    # the one sanctioned Python surface: Arrow grouped-map, not row-wise
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_kfold_assign_map_side_only(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import kfold_assign

    plan = plan_str(kfold_assign(spark, SF_DIR))
    # fold assignment is a projection; only the k-group summary exchanges
    assert plan.count("Exchange (") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_rebalance_broadcasts_factors(spark):
    from flights_etl_pipeline_spark.plans.queries_ml import label_rebalance

    plan = plan_str(label_rebalance(spark, SF_DIR))
    # per-class factors broadcast back onto the scan; replication is a
    # generator, not a shuffle
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_salted_join_splits_hot_keys_without_broadcast(spark):
    """events_salted_join must execute as a non-broadcast join keyed on
    (event_type, salt): the dim side replicated by an explode, no
    BroadcastHashJoin anywhere (the pattern exists precisely for dims
    too big to broadcast)."""
    from flights_etl_pipeline_spark.plans.queries_events import (
        events_salted_join,
    )

    df = events_salted_join(spark, SF_DIR)
    plan = plan_str(df, mode="simple")
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    # salt participates in the join key
    join_line = [
        ln for ln in plan.splitlines()
        if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln
    ][0]
    assert "salt" in join_line
    # dim replication is a generator, not a crossJoin
    assert "Generate explode" in plan


def test_semantic_dedup_row_local_assignment_no_window(spark):
    """semantic_dedup's cluster assignment must be row-local (argmax
    over the centroid literal — no join, no groupBy(vec_id) reshuffle
    of the corpus), no Window (sort-based rank) and no row-wise Python
    anywhere; the only corpus exchange is the cid-keyed pair join."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import semantic_dedup

    plan = plan_str(semantic_dedup(spark, SF_DIR), mode="simple")
    # the old shape shuffled the corpus on vec_id carrying the embedding
    # via first(embedding); row-local assignment has no such aggregate
    # (the final drop_id grouping keys on vec_id but carries scalars only)
    assert "first(embedding" not in plan, (
        "assignment regressed to a corpus-wide groupBy(vec_id) exchange "
        "carrying the embedding array"
    )
    assert "array_max(transform(" in plan  # the row-local argmax fold
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    """VERDICT r5 item 1: the centroid-assignment stage of the IVF /
    SemDeDup family must plan ZERO exchange between the embeddings scan
    and the cid probe-join. The argmax folds row-locally over a
    broadcast centroid literal, so no `Exchange hashpartitioning(vec_id`
    (the old corpus-wide reshuffle carrying the embedding array) may
    appear anywhere in these plans."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import (
        ann_ivf_index_delta,
        ann_ivf_topk,
        ann_ivfpq_topk,
        ann_serve_with_delta,
    )

    for fn in (ann_ivf_topk, ann_serve_with_delta, ann_ivf_index_delta):
        plan = plan_str(fn(spark, SF_DIR), mode="simple")
        assert "hashpartitioning(vec_id" not in plan, fn.__name__
        assert "first(embedding" not in plan, fn.__name__
        assert "array_max(transform(" in plan, fn.__name__
    # ivf_topk / serve_with_delta (r7): probes are selected driver-side
    # against the frozen quantizer, so each query is scan-stage passes
    # only — scan -> row-local cid filter -> cosine project ->
    # TakeOrdered (serve unions the brute-forced delta segment in). No
    # join, no exchange of any kind.
    for fn in (ann_ivf_topk, ann_serve_with_delta):
        plan = plan_str(fn(spark, SF_DIR), mode="simple")
        assert "Exchange" not in plan, fn.__name__
        assert "Join" not in plan, fn.__name__
        assert "TakeOrderedAndProject" in plan, fn.__name__
    # ivfpq (r7): probe + encode + ADC scoring fuse into one row-local
    # scan pass; the ONLY exchange in the whole query is the
    # shortlist's BroadcastExchange feeding the keyed rerank fetch
    plan = plan_str(ann_ivfpq_topk(spark, SF_DIR), mode="simple")
    assert "first(embedding" not in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange") == 1
    assert "BroadcastHashJoin [vec_id" in plan
    assert "hashpartitioning" not in plan


def test_pq_encode_is_one_projection(spark):
    """VERDICT r6 item 2 + r12: ann_pq_codes encodes the corpus in ONE
    projection — per-subvector row-local two-phase argmin over the
    codebook literal. No codebook join, no (vec_id[, m])-keyed hash
    exchange; the only exchange is the round-robin rebalance that
    detaches the compute-bound encode's parallelism from the scan's
    split count (pca_projection's rationale, added r12)."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import ann_pq_codes

    plan = plan_str(ann_pq_codes(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan  # no posexplode: the M loop unrolls
    assert "array_min(transform(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_assignment_is_shuffle_free(spark):
    """VERDICT r6 item 1: kmeans_embeddings must assign row-locally
    (no crossJoin+groupBy(vec_id) — no vec_id-keyed exchange anywhere,
    nothing shuffles corpus vectors) and update join-free (the only
    exchanges key on the K x dim (cid, pos) space with map-side partial
    aggregation)."""
    from flights_etl_pipeline_spark.plans.queries_ml import kmeans_embeddings

    plan = plan_str(kmeans_embeddings(spark, SF_DIR), mode="simple")
    assert "hashpartitioning(vec_id" not in plan
    assert "Join" not in plan  # assignment rides a literal, not a join
    assert "array_min(transform(" in plan  # the row-local argmin fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_logprob_broadcasts_total_no_python(spark):
    """doc_unigram_logprob: the 1-row corpus total broadcasts; the whole
    scoring pipeline is aggregates + one token join, with no Window, no
    global sort, and no Python evaluation."""
    from flights_etl_pipeline_spark.plans.queries_text import doc_unigram_logprob

    plan = plan_str(doc_unigram_logprob(spark, SF_DIR), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total crossJoin
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_disjunctive_predicate_pushes_both_sides(spark):
    """Q19 shape: Catalyst must extract each side's disjunct envelope out
    of the OR-of-conjuncts and push it below the join into BOTH scans."""
    from flights_etl_pipeline_spark.plans.queries_core import (
        disjunctive_promo_revenue,
    )

    plan = plan_str(disjunctive_promo_revenue(spark, SF_DIR))
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert any("l_quantity" in ln for ln in pushed), pushed
    assert any("p_brand" in ln for ln in pushed), pushed
    assert "BroadcastHashJoin" in plan


def test_checkpoint_returning_queries_expose_real_plans(spark):
    """The checkpoint-returning LSH queries: the returned DF is
    checkpoint-backed (lineage truncated, which is what lets the
    signature cache unpersist safely), and the checkpoint job that
    actually ran is the banded self-join, not a stub."""
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        minhash_lsh_pairs,
    )
    from flights_etl_pipeline_spark.plans.queries_graph import (
        copurchase_linkpred_lsh,
    )

    for fn in (minhash_lsh_pairs, copurchase_linkpred_lsh):
        df, plan = last_checkpoint_plan(spark, fn)
        assert "Scan ExistingRDD" in plan_str(df, mode="simple")
        assert "Scan ExistingRDD" not in plan, fn.__name__
        # the banded candidate self-join and its key exchange are visible
        assert "Join" in plan, fn.__name__
        assert "bsig" in plan, fn.__name__
        # ... and the repo-wide invariants actually bite on it
        assert "BatchEvalPython" not in plan, fn.__name__


def test_ann_batch_serve_two_pass_shape(spark):
    """ann_batch_serve's scale contract: the refine pass's only exchange
    is the qid-keyed one over THRESHOLD SURVIVORS (downstream of the
    filter), the exact decimal fold runs only above that filter (the
    corpus-wide scoring is the cheap double fold), and Spark's
    WindowGroupLimit kicks in so even the survivor sort is top-k-
    limited map-side before the exchange."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import (
        ann_batch_serve,
    )

    plan = plan_str(ann_batch_serve(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(qid" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the decimal fold must sit above the threshold filter: below it the
    # corpus-wide scoring stays double-only (decimal(38,14) appears in
    # the rescore projection, which the plan orders after Filter)
    scan_to_filter = plan.split("Filter")[-1]  # text BELOW the filter node
    assert "decimal(38,14)" not in scan_to_filter


def test_two_stage_rerank_pool_sized_stage2(spark):
    """ann_two_stage_rerank's scale contract: stage 2's joins put the
    pool and the query-token rows on the BROADCAST side of the
    documents scan (a shuffle join would drag the corpus through an
    exchange for Q x pool rows), the only shuffle exchanges are the
    two qid-keyed ones (stage-1 survivor rank + final rerank window),
    and both rank windows are WindowGroupLimit-bounded."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import (
        ann_two_stage_rerank,
    )

    plan = plan_str(ann_two_stage_rerank(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("hashpartitioning(qid") == 2
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_isolation_read_single_shuffle(spark):
    """snapshot_isolation_read's scale contract: the reconstruction is
    ONE hash exchange keyed (snapshot_id, c_custkey) with a
    WindowGroupLimit rank; the snapshot spine rides a broadcast
    nested-loop cross join (2-row constant side), never a shuffle."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        snapshot_isolation_read,
    )

    plan = plan_str(snapshot_isolation_read(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(snapshot_id" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_cascade_bounded_exchanges(spark):
    """ann_cascade_topk's scale contract (r12, tightened r13): the only
    shuffle exchanges are the three bounded qid-keyed ones — the
    (qid, ham) histogram (<= Q x 65 groups), the ADC shortlist rank,
    and the final rerank window — both ranks WindowGroupLimit-bounded;
    the model tiers (centroid assignment, probe filter, PQ encode, ADC
    lookups) are row-local literals, thresholds/queries/survivors ride
    broadcasts (r13: the embedding column attaches to tier-0 survivors
    by a broadcast join against one corpus scan — never a shuffle),
    and nothing corpus-sized sorts, shuffle-joins, or leaves the JVM.
    r13 also checkpoints the result to release the skinny mask-table
    cache, so the plan read is that checkpoint job's (minhash
    precedent)."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import (
        ann_cascade_topk,
    )

    _, plan = last_checkpoint_plan(spark, ann_cascade_topk)
    assert plan.count("Exchange hashpartitioning") == 3
    assert plan.count("hashpartitioning(qid") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_expire_no_sort_ledger(spark):
    """snapshot_expire's scale contract (r12): the compaction ledger is
    ONE c_custkey-keyed hash exchange (the manifest aggregate); the
    base-image join-back broadcasts, and — unlike the read path's
    window rank — NO sort, window, or object aggregate exists
    anywhere."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        snapshot_expire,
    )

    plan = plan_str(snapshot_expire(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("hashpartitioning(c_custkey") == 1
    assert "SortMergeJoin" not in plan and "SortAggregate" not in plan
    assert "Sort " not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_changes_single_election_exchange(spark):
    """snapshot_changes' scale contract (r12): BOTH window endpoints
    are elected in one c_custkey-keyed map-combinable aggregate (two
    conditional MAXes — the only hash exchange); the two endpoint
    image fetches are (key, gen) equi-joins with no sort-merge, and no
    sort or window appears anywhere."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        snapshot_changes,
    )

    plan = plan_str(snapshot_changes(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("hashpartitioning(c_custkey") == 1
    assert "SortMergeJoin" not in plan and "SortAggregate" not in plan
    assert "Sort " not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivm_changefeed_one_feed_pass_no_sort(spark):
    """ivm_maintain_changefeed's scale contract (r12): the changefeed
    plan is instantiated ONCE (its endpoint election plus the standing
    view's base election are the only two c_custkey-keyed exchanges —
    a second feed copy would add a third), the signed retract/insert
    split is a row-local explode, every remaining exchange is
    group-key (view-)sized, and the maintain path has no sort, window,
    or object aggregate."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        ivm_maintain_changefeed,
    )

    plan = plan_str(ivm_maintain_changefeed(spark, SF_DIR), mode="simple")
    assert plan.count("hashpartitioning(c_custkey") == 2
    assert plan.count("Exchange hashpartitioning") <= 5
    assert plan.count("Generate explode") == 1
    assert "SortMergeJoin" not in plan and "SortAggregate" not in plan
    assert "Sort " not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compaction_plan_single_manifest_exchange(spark):
    """compaction_plan_binpack's scale contract (r12): the whole plan
    is manifest-plane — ONE part_month-keyed exchange feeds both the
    prefix-sum window (bounded per-partition sort of file entries) and
    the task aggregate, which reuses the same partitioning (its
    grouping key is a superset) with no second exchange; the scan is
    pruned to the three manifest columns."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        compaction_plan_binpack,
    )

    plan = plan_str(compaction_plan_binpack(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("hashpartitioning(part_month") == 1
    assert "WindowGroupLimit" not in plan and plan.count("Window ") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    fplan = plan_str(compaction_plan_binpack(spark, SF_DIR))
    read = fplan.split("ReadSchema")[1].splitlines()[0]
    assert all(c in read for c in ("o_orderkey", "o_totalprice", "o_orderdate"))
    assert "o_custkey" not in read


def test_mor_deletes_broadcast_anti_joins(spark):
    """mor_equality_deletes_read's scale contract (r12): delete files
    are deltas, so BOTH delete applications must be broadcast
    anti-joins (the data scan never shuffles to meet them — exactly
    how Spark's Iceberg reader executes v2 MOR); the only exchanges
    are the segment-sized distinct-aggregate pair, and nothing
    sorts."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        mor_equality_deletes_read,
    )

    plan = plan_str(mor_equality_deletes_read(spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("LeftAnti") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Sort " not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partition_evolution_scan_manifest_plane_only(spark):
    """partition_evolution_scan's scale contract (r12): the pruning
    verdict is a row-local predicate over per-file transform bounds —
    the ONLY exchange is the (spec, partition-value)-keyed manifest
    aggregate; no join, sort, or window anywhere."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        partition_evolution_scan,
    )

    plan = plan_str(partition_evolution_scan(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("hashpartitioning(spec_id") == 1
    assert "Join" not in plan and "Sort " not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wap_audit_single_state_election(spark):
    """wap_audit_publish's scale contract (r12): the state side is
    elected ONCE — exactly two c_custkey-keyed exchanges exist (the
    liveness election over the pre-log and the delta-sized batch
    distinct), the orphan check rides a broadcast marker join instead
    of a second state pass, scalar metrics meet on 1-row
    nested-loop cross joins, and nothing sorts."""
    from flights_etl_pipeline_spark.plans.queries_incremental import (
        wap_audit_publish,
    )

    plan = plan_str(wap_audit_publish(spark, SF_DIR), mode="simple")
    assert plan.count("hashpartitioning(c_custkey") == 2
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "Sort " not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rag_retrieve_broadcasts_topk_side(spark):
    """The k-row ANN cut must be the broadcast side of the document join
    (a shuffle join here would drag the whole corpus through an
    exchange for 10 rows)."""
    from flights_etl_pipeline_spark.plans.queries_simsearch import rag_retrieve

    plan = plan_str(rag_retrieve(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_naked_collects_in_plans():
    """Every ``.collect()`` under plans/ must flow through
    registry.model_channel — the helper that enforces a declared
    row-count bound at runtime — or carry an explicit
    ``naked-collect-ok: <reason>`` exemption comment within the three
    preceding lines (VERDICT r9 item 4: driver-channel bounds used to
    live only in docstrings, where a fixture change could silently
    break them). ``.first()``/``limit(1)`` are exempt by construction
    (the transfer is one row by plan shape)."""
    import os
    import re

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flights_etl_pipeline_spark",
        "plans",
    )
    offenders = []
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py") or fname == "registry.py":
            continue
        lines = open(os.path.join(plans_dir, fname)).read().splitlines()
        for i, ln in enumerate(lines):
            if ".collect()" not in ln or ln.lstrip().startswith("#"):
                continue
            ctx = "\n".join(lines[max(0, i - 3): i + 1])
            if "naked-collect-ok" in ctx:
                continue
            offenders.append(f"{fname}:{i + 1}: {ln.strip()}")
    assert not offenders, (
        "naked .collect() in plans/ — route through "
        "registry.model_channel(df, max_rows, why) or add a "
        "'# naked-collect-ok: <reason>' comment:\n" + "\n".join(offenders)
    )

    # registry.py itself must contain exactly the helper's collect,
    # INSIDE model_channel's body. AST-based (ADVICE r10): the old
    # line-prefix heuristic could be flipped by a comment/docstring
    # mentioning .collect() -- Call nodes can't.
    import ast

    tree = ast.parse(open(os.path.join(plans_dir, "registry.py")).read())
    hits = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "collect"
    ]
    mc = next(
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "model_channel"
    )
    inside = [ln for ln in hits if mc.lineno <= ln <= mc.end_lineno]
    outside = [ln for ln in hits if not (mc.lineno <= ln <= mc.end_lineno)]
    assert len(inside) == 1 and not outside, (
        f"registry.py collect() calls: {len(inside)} in model_channel "
        f"(want exactly 1), {outside} outside (want none)"
    )


def test_model_channel_raises_on_bound_breach(spark):
    from flights_etl_pipeline_spark.plans.registry import model_channel

    df = spark.range(100)
    rows = model_channel(df, 100, "all rows fit")
    assert len(rows) == 100
    with pytest.raises(AssertionError, match="declared bound of 10"):
        model_channel(df, 10, "too many")


def test_single_partition_bound_checker_mechanics():
    """The structural checker itself: bounded subtrees (aggregate or
    top-k before any scan, broadcast-scalar cross joins pass through)
    accept; a raw scan or shuffle join under the exchange rejects."""
    bounded = """Window [x]
+- Sort [x ASC]
   +- Exchange SinglePartition
      +- HashAggregate(keys=[d], functions=[sum(v)])
         +- Exchange hashpartitioning(d, 8)
            +- FileScan parquet [d,v]""".splitlines()
    assert _single_partition_input_is_bounded(bounded, 2)

    via_bcast = """Window [x]
+- Sort [x ASC]
   +- Exchange SinglePartition
      +- Project [a, b]
         +- BroadcastNestedLoopJoin BuildRight, Cross
            :- HashAggregate(keys=[k], functions=[max(d)])
            :  +- FileScan parquet [k,d]
            +- BroadcastExchange IdentityBroadcastMode
               +- HashAggregate(keys=[], functions=[max(d)])""".splitlines()
    assert _single_partition_input_is_bounded(via_bcast, 2)

    raw_scan = """Window [x]
+- Sort [x ASC]
   +- Exchange SinglePartition
      +- Project [a]
         +- Filter isnotnull(a)
            +- FileScan parquet [a]""".splitlines()
    assert not _single_partition_input_is_bounded(raw_scan, 2)

    shuffle_join = """Window [x]
+- Sort [x ASC]
   +- Exchange SinglePartition
      +- SortMergeJoin [a], [b], Inner
         :- HashAggregate(keys=[a], functions=[count(1)])
         +- FileScan parquet [b]""".splitlines()
    assert not _single_partition_input_is_bounded(shuffle_join, 2)

    # sibling subtree beyond the exchange must NOT leak into the walk:
    # the exchange's subtree ends at the depth-decrease, and an
    # aggregate in a sibling branch cannot vouch for this exchange
    sibling = """Union
:- Window [x]
:  +- Exchange SinglePartition
:     +- FileScan parquet [a]
+- HashAggregate(keys=[], functions=[count(1)])""".splitlines()
    assert not _single_partition_input_is_bounded(sibling, 2)
