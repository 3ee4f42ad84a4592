"""Generate COVERAGE.md: SURVEY.md section-2 operator inventory mapped to
implementation sites, plus the auto-generated registry table (query name,
oracle strength, bench flag, survey tags).

Run: python tools/gen_coverage.py   (rewrites COVERAGE.md at repo root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (survey id, reference behavior, implementation site(s), exercised by)
STATIC_MAP = [
    ("§2.1 scans / sources / sinks", None, None, None),
    ("S1 JDBC range scan", "chunked BETWEEN subquery loop", "sources/readers.py::read_jdbc_partitioned (parallel partitionColumn read)", "tests/test_jdbc_roundtrip.py (live Derby round-trip + pushdown)"),
    ("S2 high-watermark resume", "max(index) restart", "sources/readers.py::high_watermark", "query `high_watermark`"),
    ("S3 parquet scan", "spark.read.parquet", "plans/registry.py::load (+ ns-timestamp handling)", "every query"),
    ("S4 partitioned parquet append", "year/month/day hive layout", "sources/sinks.py::write_partitioned_parquet", "tests/test_pipeline_e2e.py, tests/test_plans.py::test_partition_pruning"),
    ("S5 saveAsTable sink", "Hive external tables", "sources/sinks.py::save_as_table", "tests/test_pipeline_e2e.py + tests/test_hive_warehouse.py (real Derby metastore)"),
    ("S6 CSV ingest", "5-hour pandas loop", "sources/readers.py::read_csv_table (one distributed read)", "tests/test_pipeline_e2e.py + tests/test_formats.py (ORC/JSON/CSV round-trips)"),
    ("S7 path probe", "py4j FileSystem.exists", "sources/readers.py::path_exists", "tests/test_fs_helpers.py; tests/test_pipeline_e2e.py (via run_pipeline)"),
    ("S8 filesystem DDL", "hdfs mkdir -p", "sources/sinks.py::mkdirs", "tests/test_fs_helpers.py"),
    ("S9 catalog DDL", "CREATE DATABASE", "sources/sinks.py::ensure_database", "tests/test_hive_warehouse.py, tests/test_bucketed_join.py"),
    ("S10 temp view + SQL", "createOrReplaceTempView", "plans/queries_core.py::sql_between_slice", "query `sql_between_slice`"),
    ("§2.2 projections / filters / scalars", None, None, None),
    ("P1-P3, P9-P10 derive/cast/trim/drop", "withColumn suite", "operators/silver.py::to_silver", "tests/test_pipeline_e2e.py"),
    ("P4 data-quality filter", "baseFare<=totalFare & seats>=0", "operators/silver.py::to_silver (quality predicate)", "e2e + query `filtered_revenue` (same shape)"),
    ("P6 date-arithmetic filter", "flightDate < today+1 (param'd)", "operators/gold.py::revenue_by_year_month_airline (as_of param, defect P6 determinism fix)", "tests/test_pipeline_e2e.py"),
    ("P11 schema-driven projection", "non-array fact columns", "operators/warehouse.py::build_fact (D7 fixed)", "tests/test_pipeline_e2e.py"),
    ("P12 struct field access", "zipped-struct explode", "operators/warehouse.py::build_dim_airline", "query `distinct_segments`, e2e"),
    ("P13 date-part suite", "dim_date attrs (D5 fixed)", "operators/warehouse.py::build_dim_date", "query `dim_date`"),
    ("P14 rounding", "round(avg,2)", "functions/scalar.py::dround (engine-portable)", "queries `duration_agg`, `priority_avg_price`, ..."),
    ("§2.3 array layer", None, None, None),
    ("A1/A2/P5 null-safe split", "||-delimited -> array", "functions/arrays.py::split_segments", "query `segments_normalize`, property tests"),
    ("A3-A7, A9 distinct/size/element_at/zip/explode", "gold + dims", "functions/arrays.py, operators/warehouse.py", "queries `distinct_segments`, `zip_token_lengths`, `token_positions`"),
    ("A8/P7/P8 higher-order transform", "per-element cast/normalize", "functions/arrays.py::normalize_int_array, timestamp_array", "queries `segments_normalize`, `ts_segments`"),
    ("§2.4 joins", None, None, None),
    ("J1 left-anti incremental", "right-join + isNull (D5 intent)", "operators/warehouse.py::incremental_new_rows (left-anti incremental dims)", "queries `orders_without_lineitems`, `customers_with_orders`; e2e idempotence"),
    ("general equi-joins (star schema consumer)", "fact<->dim design", "plans/queries_core.py", "queries `revenue_by_nation`, `revenue_by_month`, `top_orders`"),
    ("§2.5 aggregation", None, None, None),
    ("G1/G2 global max/min", "watermark scalars", "sources/readers.py::high_watermark", "query `high_watermark`"),
    ("G3/G4 multi-key aggs", "gold tables", "operators/gold.py", "queries `pricing_summary`, `revenue_by_month`, `duration_agg`"),
    ("G5 distinct", "dim dedup", "operators/warehouse.py", "queries `dim_date`, `distinct_segments`"),
    ("§2.6 window / sort / limit / set ops (absent in reference; exposed for the star schema)", None, None, None),
    ("window functions", "—", "plans/queries_core.py", "queries `rank_orders_per_customer`, `running_revenue`, `event_type_shares`"),
    ("top-k / sort", "—", "plans/queries_core.py", "queries `top_orders`, `token_freq_topk`"),
    ("set ops", "—", "plans/queries_core.py", "query `nation_set_ops`"),
    ("rollup / pivot", "—", "plans/queries_core.py", "queries `rollup_revenue`, `pivot_returnflag`"),
    ("exact percentiles", "—", "plans/queries_core.py::price_percentiles", "oracle-checked"),
    ("as-of join", "—", "plans/queries_events.py::events_asof_join (tag + last-ignore-nulls window)", "oracle-checked"),
    ("range join", "—", "plans/queries_events.py::events_range_join_pairs (time-bucketed equi-join)", "oracle-checked"),
    ("§2.7 SQL surface", None, None, None),
    ("Q1 SQL over temp view", "BETWEEN re-slice", "plans/queries_core.py::sql_between_slice", "query `sql_between_slice`"),
    ("Q2 DDL", "HiveQL database create", "sources/sinks.py::ensure_database", "tests/test_hive_warehouse.py, tests/test_bucketed_join.py"),
    ("§2.8 UDF surface", None, None, None),
    ("U1 duration parser", "Python UDF (intent)", "functions/scalar.py::duration_to_minutes (native) + pandas_udf variant", "query `duration_agg`, property tests"),
    ("U2 ISO-8601 -> timestamp", "broken UDF, builtin intent (D3)", "functions/scalar.py::iso_to_timestamp", "query `ts_segments`"),
    ("§2.9 streaming (absent in reference; batch-chunking rebuilt on the real API)", None, None, None),
    ("tumbling event-time windows", "batch @daily DAG", "streaming/jobs.py::events_hourly_stream (complete mode)", "query `events_hourly_stream` (exact oracle)"),
    ("watermark + append emission", "—", "streaming/jobs.py::events_hourly_stream_append", "query `events_hourly_stream_append` (exact oracle)"),
    ("custom stateful operator", "—", "streaming/jobs.py::sessionize_state_fn (applyInPandasWithState, event-time timeouts)", "query `events_sessionize_stream` (exact oracle)"),
    ("batch twins", "—", "plans/queries_events.py", "queries `events_hourly`, `events_sessionize`"),
    ("north-star: dedup", None, None, None),
    ("exact dedup", "—", "plans/queries_dedup.py::dedup_exact", "oracle-checked"),
    ("MinHash + LSH", "—", "plans/queries_dedup.py::minhash_lsh_pairs (1 md5/shingle + universal-hash family)", "oracle-checked"),
    ("SimHash", "—", "plans/queries_dedup.py::simhash_docs", "oracle-checked"),
    ("n-gram Jaccard", "—", "plans/queries_dedup.py::ngram_jaccard_pairs", "oracle-checked"),
    ("embedding near-dup", "—", "plans/queries_simsearch.py::embedding_neardup", "oracle-checked"),
    ("north-star: similarity search", None, None, None),
    ("brute-force cosine top-k", "—", "plans/queries_simsearch.py::ann_bruteforce_topk (exact decimal folds)", "oracle-checked, bench"),
    ("hyperplane LSH buckets + top-k", "—", "plans/queries_simsearch.py::lsh_bucket_sizes, ann_lsh_topk", "oracle-checked"),
    ("IVF probed search", "—", "plans/queries_simsearch.py::ann_ivf_topk (seeded centroids, max_by argmax)", "oracle-checked, bench"),
    ("north-star: multimodal", None, None, None),
    ("binary payload + typed metadata", "—", "functions/multimodal.py::with_blob", "query `multimodal_meta` (oracle-checked)"),
    ("decode / feature extraction", "—", "functions/multimodal.py::blob_features (mapInPandas; codecs stubbed via decode_media)", "query `multimodal_features` (rows-only) + tests/test_multimodal.py value checks"),
    ("frame sampling", "—", "functions/multimodal.py::sample_frames (mapInPandas fan-out)", "query `video_frames` (oracle-checked)"),
    ("north-star: text analysis", None, None, None),
    ("language ID", "—", "plans/queries_text.py::doc_lang_id", "oracle-checked"),
    ("quality scoring", "—", "plans/queries_text.py::doc_quality", "oracle-checked"),
    ("token counting / stats", "—", "plans/queries_text.py (token_counts, doc_stats, token_freq_topk)", "oracle-checked"),
    ("fingerprinting", "—", "functions/text.py::fingerprint (md5), rolling_hash (Rabin-Karp)", "queries `dedup_exact`, `doc_rolling_fingerprint`"),
    ("skew mitigation", "—", "plans/queries_events.py::events_salted_agg (salt 16-way two-phase agg); session.py AQE skew-join", "oracle-checked"),
]



def _driver_green_rounds() -> dict[str, list[str]]:
    """Map query name -> rounds with a green driver CORRECTNESS row.

    Green = hash_match true, or (for queries whose oracle is absent,
    where the driver records a rows-only check) rows_match true with
    no error."""
    import glob
    import json

    out: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path).replace("CORRECTNESS_", "").replace(
            ".json", ""
        ).lstrip("r0") or "0"
        try:
            rows = json.load(open(path))
        except Exception:
            continue
        for name, row in rows.items():
            # green: hash-verified; or the oracle-less rows-only form
            # (err == 'no_oracle' with spark rows produced) -- the
            # strongest check the driver records for those queries
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            )
            if ok:
                out.setdefault(name, []).append(f"r{rnd}")
    return out


def main() -> None:
    from flights_etl_pipeline_spark.plans.registry import REGISTRY
    import flights_etl_pipeline_spark.plans.queries  # noqa: F401  (populates)

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → implementation",
        "",
        "Generated by tools/gen_coverage.py. Every row of the reference's",
        "operator inventory (SURVEY.md §2) with where this repo implements it",
        "and which oracle-checked query / test exercises it.",
        "",
        "| Operator | Reference behavior | Implementation | Exercised by |",
        "|---|---|---|---|",
    ]
    for sid, ref, impl, ex in STATIC_MAP:
        if ref is None:
            lines.append(f"| **{sid}** | | | |")
        else:
            lines.append(f"| {sid} | {ref} | `{impl}` | {ex} |")

    driver_rounds = _driver_green_rounds()
    n_green = sum(1 for n in REGISTRY if driver_rounds.get(n))
    lines += [
        "",
        f"## Registered queries ({len(REGISTRY)})",
        "",
        "Each has a PySpark implementation; `oracle` = hash-compared against",
        "DuckDB at sf0.01 by the driver, `rows-only` = driver row-count check",
        "(non-SQL-expressible), `bench` = in the sf0.1 headline set.",
        "`Driver` = rounds whose CORRECTNESS_r*.json recorded this query",
        "green (hash_match, or rows_match for the oracle-less); blank =",
        "no driver record (the local parity gate, tools/check_parity.py,",
        "covers every query).",
        f"Driver-green so far: {n_green}/{len(REGISTRY)}.",
        "",
        "| Query | Check | Bench | Driver | Survey tags |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        check = "oracle" if spec.oracle else "rows-only"
        bench = "yes" if spec.bench else ""
        drv = ",".join(driver_rounds.get(name, []))
        lines.append(
            f"| `{name}` | {check} | {bench} | {drv} | {', '.join(spec.survey)} |"
        )

    # Registrations gated on optional dependencies absent from THIS
    # environment still belong in the table (the driver record may hold
    # green rows for them from environments where they register).
    from flights_etl_pipeline_spark.plans.queries_streaming import UNREGISTERED

    for name in sorted(UNREGISTERED):
        if name in REGISTRY:
            continue
        reason, impl, tags = UNREGISTERED[name]
        drv = ",".join(driver_rounds.get(name, []))
        lines.append(
            f"| `{name}` (env-gated: {reason}; `{impl}`) | oracle | | "
            f"{drv} | {', '.join(tags)} |"
        )
    lines.append("")

    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
