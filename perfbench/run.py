"""Repository benchmark: one closed-loop client session over the medallion
pipeline, its gold-table dashboards and the catalog queries.

    python3 perfbench/run.py --workload etl_full_load --seed 1 --seconds 25 --trace 0

Every workload runs the same three kinds of operation on ``local[nproc]``,
one at a time, so every end-to-end metric is measured on every workload:

1. ``run_pipeline`` calls (bronze -> silver -> gold -> warehouse),
2. rounds of dashboard reads (``consumption``) after each call,
3. passes over the timed catalog set (``plans.queries_*``).

The workload decides what dominates: ``etl_full_load`` times full loads
of a large raw CSV, each into an empty lake; ``etl_daily_delta`` preloads
a lake and times a sequence of one-day deltas. Inputs are generated from
``--seed``; every output is checked against an independent DuckDB oracle,
untimed. Every time is wall time less the CPU time the hypervisor of a
shared host stole from the run while it had work (``/proc/stat``).

The last stdout line is the result JSON. With ``--trace 1`` the run
times a short untraced session and then one with spans around every
layer call, and prints the per-layer metrics instead; spans go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import catalog, catalogdata, flightgen  # noqa: E402
from perfbench.oracle import PipelineOracle, table_mismatches  # noqa: E402
from perfbench.trace import Tracer, patched  # noqa: E402

WORKLOADS = {
    # `calls` full loads of `rows` over `days` search dates, each into an empty lake
    "etl_full_load": {"rows": 10_000, "days": 30, "calls": 2, "preload": False},
    # a lake preloaded with `rows` in set-up, then `calls` one-day deltas
    "etl_daily_delta": {"rows": 5_000, "days": 30, "calls": 2, "preload": True},
}
SESSION_SECONDS = 25  # nominal length of one timed session
# A session is, per pipeline call: the call, READ_ROUNDS rounds of all
# four dashboard reads, then the call's share of the session's catalog
# queries (CATALOG_SAMPLES passes over the timed set, split evenly over the
# calls). For a few seconds after a pipeline call a catalog query costs up
# to 1.5x as much, and the reads take about that long: a query's samples
# would otherwise fall into two clusters, and their median would jump
# between them. The reads measure the dashboard right after the write, as
# its users see it. Reads and queries sample the whole session, and each
# metric is a median over them: the shared host slows down for seconds to
# minutes at a time, and a slow spell that covers part of a run then moves
# its medians little. The JVM is still warming up during the session, so
# the order is the same in every run: each query sits at the same place on
# that slope.
READ_ROUNDS = 5
CATALOG_SAMPLES = 4
# Warm-up, in set-up: the first pipeline call in a fresh JVM costs about
# 4x a warm one (class loading, codegen), so etl_full_load first loads
# WARM_ROWS into a throwaway lake (on etl_daily_delta the preload plays
# this part), then reads the dashboard WARM_READ_ROUNDS times. A catalog
# query's first call costs up to 8x its third, so WARM_PASSES catalog
# passes run meanwhile, on a second thread: the cold pipeline call leaves
# most cores idle, so this costs little set-up time.
WARM_ROWS, WARM_DAYS, WARM_PASSES, WARM_READ_ROUNDS = 2_000, 4, 3, 2
CATALOG_SF = 0.001
DRIVER_MEMORY = "2g"
TOP_K = 5
GOLD_VIEW = "perfbench_gold_revenue"
READS = ("revenue_trend", "top_airlines", "airline_options", "render_dashboard_html")
LAYERS = ("readers", "pipeline", "sinks", "silver", "gold", "warehouse", "consumption", "catalog")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _split(xs: list, n: int) -> list[list]:
    """``xs`` in ``n`` consecutive parts whose sizes differ by at most one."""
    return [xs[len(xs) * i // n:len(xs) * (i + 1) // n] for i in range(n)]


def _pctl(xs, q):
    """Inclusive-method percentile (q in 0..100)."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _busy_and_steal() -> tuple[int, int]:
    """CPU ticks since boot, summed over all CPUs: those the guest spent
    running, and those the hypervisor gave to other guests while this
    one had work to run (steal), from ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def _unstolen(seconds: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``seconds`` of wall time less the share the host stole: the time
    the work would have taken had the guest kept its CPUs (see README)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, work: Path):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        # whole sessions, so the amount of work never depends on how fast a run goes
        self.sessions = max(1, round(seconds / SESSION_SECONDS))
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # time spent checking outputs, kept out of every timing
        self._count_lock = threading.Lock()  # set-up runs operations on two threads
        self.raw_s: dict[str, list[float]] = defaultdict(list)  # wall times, steal kept
        self.tracer: Tracer | None = None

    # ------------------------------------------------------------ helpers
    def _op(self, label: str, fn, *args, check=None):
        """Run and time one operation. It counts as one failure if it
        raises or if ``check(result)`` (untimed) returns a reason.
        Returns ``(result or None, seconds)``, the seconds without the
        host's steal; the plain wall time goes to ``raw_s[label]``."""
        with self._count_lock:
            self.attempted += 1
        ticks = _busy_and_steal()
        t = time.perf_counter()
        try:
            result = fn(*args)
        except Exception as e:  # every failure is reported, not fatal
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return None, time.perf_counter() - t
        raw = time.perf_counter() - t
        elapsed = _unstolen(raw, ticks, _busy_and_steal())
        self.raw_s[label].append(raw)
        if check is not None:
            tc = time.perf_counter()
            try:
                why = check(result)
            except Exception as e:
                why = f"check raised {type(e).__name__}: {str(e)[:200]}"
            self.check_s += time.perf_counter() - tc
            if why:
                self.failures.append(f"{label}: {why}")
        return result, elapsed

    def _span(self, name: str, layer: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        with self.tracer.span(name, layer):
            return fn(*args)

    # ------------------------------------------------------------- set-up
    def setup(self, trace: bool) -> None:
        t0, ticks0 = time.perf_counter(), _busy_and_steal()
        from flights_etl_pipeline_spark.session import get_spark

        ts = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.driver.extraJavaOptions":
                    # a fixed-size heap keeps the JVM's resident memory comparable
                    f"-Duser.timezone=UTC -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.work / 'tmp'}",
            },
        )
        self.session_s = time.perf_counter() - ts
        self.phases = {"session_s": self.session_s}
        self.jvm = self.spark.sparkContext._gateway.proc

        from flights_etl_pipeline_spark import consumption
        from flights_etl_pipeline_spark.plans import pipeline
        from flights_etl_pipeline_spark.sources import readers

        self.pipeline, self.readers, self.consumption = pipeline, readers, consumption
        spec = importlib.util.spec_from_file_location("__spark_entry__", ROOT / "__spark_entry__.py")
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        self.queries = entry.queries()

        # inputs: the base and enough one-day deltas for every pipeline call
        t = time.perf_counter()
        cfg = self.cfg
        n_calls = 2 if trace else cfg["calls"] * self.sessions
        n_deltas = n_calls if cfg["preload"] else 0
        table = flightgen.make_flights(
            cfg["rows"] * (cfg["days"] + n_deltas) // cfg["days"], cfg["days"] + n_deltas, self.seed
        )
        base, deltas = flightgen.day_slices(table, cfg["days"])
        self.input_props = flightgen.properties(base)
        self.base_csv = str(self.work / "base.csv")
        self.base_bytes = self.input_props["raw_bytes"] = flightgen.write_csv(base, self.base_csv)
        self.as_of = flightgen.FIRST_SEARCH_DATE + dt.timedelta(days=cfg["days"] + 20)
        self.cat_dir = str(self.work / "catalog")
        catalogdata.write_tables(catalogdata.make_tables(CATALOG_SF, self.seed), self.cat_dir)
        delta_csvs = []
        for i, d in enumerate(deltas):
            path = str(self.work / f"delta{i}.csv")
            delta_csvs.append((path, d.num_rows, flightgen.write_csv(d, path)))
        self.input_props["delta_rows"] = [d.num_rows for d in deltas]
        if not cfg["preload"]:
            warm = flightgen.make_flights(WARM_ROWS, WARM_DAYS, self.seed + 1)
            warm_csv = str(self.work / "warm.csv")
            flightgen.write_csv(warm, warm_csv)
        self.phases["inputs_s"] = time.perf_counter() - t

        # the expected lake after every timed pipeline call (untimed)
        tc = time.perf_counter()
        oracle = PipelineOracle(self.as_of)
        try:
            loaded = [self.base_csv]
            oracle.load(loaded)
            want_base = self._expected(oracle)
            if cfg["preload"]:
                self.calls = []
                for path, rows, nbytes in delta_csvs:
                    loaded.append(path)
                    oracle.load(loaded)
                    self.calls.append(("delta", path, rows, nbytes, self._expected(oracle)))
            else:
                self.calls = [
                    ("full", self.base_csv, base.num_rows, self.base_bytes, want_base)
                ] * n_calls
        finally:
            oracle.close()
        self.checker = catalog.OracleChecker(self.cat_dir, entry.oracle_sql())
        self.check_s += time.perf_counter() - tc

        # warm-up: catalog passes on a second thread, meanwhile the
        # warm-up load (or the preload that stands in for it) and reads
        t = time.perf_counter()
        warm_catalog = threading.Thread(target=self._warm_catalog)
        warm_catalog.start()
        self.lake = self.work / "lake"
        if cfg["preload"]:
            self._op("preload", self._pipeline, self.base_csv, str(self.lake),
                     check=lambda r: self._check_lake(r, want_base))
            self.loaded_bytes = self.base_bytes
            gold = self.lake
        else:
            gold = self.work / "warm-lake"
            self._op("warmup.pipeline", self._pipeline, warm_csv, str(gold))
        self._op("warmup.register", self._register_gold, str(gold))
        for _ in range(WARM_READ_ROUNDS):
            for read in READS:
                self._op(f"warmup.{read}", self._read, read)
        warm_catalog.join()
        self.spark.catalog.clearCache()
        self.phases["warmup_s"] = time.perf_counter() - t
        self.setup_raw_s = time.perf_counter() - t0 - self.check_s
        self.setup_s = _unstolen(self.setup_raw_s, ticks0, _busy_and_steal())

    def _expected(self, oracle: PipelineOracle) -> dict:
        return {
            "counts": oracle.counts(),
            "gold_revenue": oracle.gold_revenue(),
            "gold_fbc": oracle.gold_fbc(),
            "top": oracle.top_airlines(TOP_K),
        }

    # ---------------------------------------------------------- operations
    def _pipeline(self, csv: str, lake: str):
        source = self._span(
            "readers.read_csv_table", "readers",
            self.readers.read_csv_table, self.spark, csv, flightgen.SCHEMA,
        )
        return self._span(
            "pipeline.run_pipeline", "pipeline",
            self.pipeline.run_pipeline, self.spark, source, lake, self.as_of,
        )

    def _register_gold(self, lake: str) -> None:
        self.spark.read.parquet(f"{lake}/gold/revenue_n_seat_remain_ym").createOrReplaceTempView(
            GOLD_VIEW
        )

    def _read(self, read: str):
        c, s = self.consumption, self.spark
        fn = {
            "revenue_trend": lambda: c.revenue_trend(s, GOLD_VIEW).collect(),
            "top_airlines": lambda: c.top_airlines(s, GOLD_VIEW, k=TOP_K).collect(),
            "airline_options": lambda: c.airline_options(s, GOLD_VIEW),
            "render_dashboard_html": lambda: c.render_dashboard_html(s, GOLD_VIEW, k=TOP_K),
        }[read]
        return self._span(f"consumption.{read}", "consumption", fn)

    def _collect_query(self, q: str):
        """One catalog query, collected to the driver for its check."""
        def run():
            df = self.queries[q](self.spark, self.cat_dir)
            return df.columns, df.collect()

        return self._span(f"catalog.{q}", "catalog", run)

    # -------------------------------------------------------------- checks
    def _check_lake(self, result, want: dict) -> str | None:
        got = vars(result)
        bad = [f"{k} {got.get(k)} != {v}" for k, v in want["counts"].items() if got.get(k) != v]
        if bad:
            return "counts differ from oracle: " + ", ".join(bad)
        lake = self.lake
        rev = {
            (r["year"], r["month"], r["airline"]): (r["sum_total_fare"], r["avg_seats_remaining"])
            for r in pq.read_table(f"{lake}/gold/revenue_n_seat_remain_ym").to_pylist()
        }
        fbc = {
            r["fareBasisCode"]: (r["avg_travel_duration"], r["n_itineraries"])
            for r in pq.read_table(f"{lake}/gold/fbc_travel_duration_relation").to_pylist()
        }
        if table_mismatches(rev, want["gold_revenue"]) or table_mismatches(fbc, want["gold_fbc"]):
            return "gold tables differ from oracle"
        return None

    def _check_read(self, read: str, out, want: dict) -> str | None:
        rev, top = want["gold_revenue"], want["top"]
        if read == "revenue_trend":
            got = {(r["year"], r["month"], r["airline"]): (r["sum_total_fare"],) for r in out}
            ok = len(got) == len(out) and not table_mismatches(
                got, {k: v[:1] for k, v in rev.items()}
            )
        elif read == "top_airlines":
            ok = [(r["airline"], round(r["total_revenue"], 2)) for r in out] == [
                (a, round(t, 2)) for a, t in top
            ]
        elif read == "airline_options":
            ok = out == sorted({k[2] for k in rev})
        else:
            ok = out.startswith("<!doctype html>") and all(a in out for a, _ in top)
        return None if ok else "output differs from oracle"

    # ------------------------------------------------------------- session
    def _warm_catalog(self) -> None:
        """Warm-up passes: unchecked, and the cache is left alone, as the
        warm-up load runs at the same time (cleared once both end)."""
        t = time.perf_counter()
        for _ in range(WARM_PASSES):
            for q in catalog.FAMILY_OF:
                self._op(f"warmup.catalog.{q}", self._collect_query, q)
        self.phases["warm_catalog_thread_s"] = time.perf_counter() - t

    def _catalog_query(self, q: str, walls: dict) -> float:
        """One checked catalog query; appends its wall time to
        ``walls[q]`` and returns the untimed time spent resetting state."""
        _, s = self._op(f"catalog.{q}", self._collect_query, q,
                        check=lambda o: self.checker.mismatch(q, *o))
        walls[q].append(s)
        t = time.perf_counter()
        self.spark.catalog.clearCache()  # every query starts from the same state
        return time.perf_counter() - t

    def session(self, calls: list, queries: list = ()) -> dict:
        """Pipeline calls, each followed by READ_ROUNDS rounds of
        dashboard reads and its share of ``queries``; returns the timings.
        Output checks are untimed."""
        out = {"full": [], "delta": [], "reads": [], "catalog": defaultdict(list), "results": []}
        lake = str(self.lake)
        checks_before = self.check_s
        t_session = time.perf_counter()
        per_call = _split(list(queries), len(calls))
        for (kind, csv, rows, nbytes, want), call_queries in zip(calls, per_call):
            if kind == "full":
                t = time.perf_counter()
                shutil.rmtree(self.lake, ignore_errors=True)
                self.loaded_bytes = 0
                t_session += time.perf_counter() - t  # resetting state is not work
            result, s = self._op(f"pipeline.{kind}", self._pipeline, csv, lake,
                                 check=lambda r, w=want: self._check_lake(r, w))
            out[kind].append((s, rows))
            out["results"].append(result)
            self.loaded_bytes += nbytes
            self._op("consumption.register", self._register_gold, lake)
            for _ in range(READ_ROUNDS):
                for read in READS:
                    _, s = self._op(f"consumption.{read}", self._read, read,
                                    check=lambda o, r=read, w=want: self._check_read(r, o, w))
                    out["reads"].append(s)
            for q in call_queries:
                t_session += self._catalog_query(q, out["catalog"])
        out["wall_s"] = time.perf_counter() - t_session - (self.check_s - checks_before)
        out["lake_bytes_per_input_byte"] = sum(
            _dir_bytes(self.lake / layer) for layer in ("bronze", "silver", "gold", "warehouse")
        ) / self.loaded_bytes
        return out

    def timed(self) -> list[dict]:
        n = self.cfg["calls"]
        self.raw_s.clear()
        return [
            self.session(self.calls[i * n:(i + 1) * n], list(catalog.FAMILY_OF) * CATALOG_SAMPLES)
            for i in range(self.sessions)
        ]

    # ------------------------------------------------------------- metrics
    def end_to_end(self, sessions: list[dict]) -> dict:
        full = [x for s in sessions for x in s["full"]]
        delta = [x for s in sessions for x in s["delta"]]
        reads = [x * 1000 for s in sessions for x in s["reads"]]
        loads = full or delta
        walls = defaultdict(list)
        for s in sessions:
            for q, xs in s["catalog"].items():
                walls[q] += xs
        # a family's total is the sum of its queries' median wall times
        fam = {f: sum(_median(walls[q]) for q in qs) for f, qs in catalog.TIMED_SET.items()}
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self.jvm.pid)
        m = {
            "setup_s": (self.setup_s, "s"),
            "etl_rows_per_s": (_median([r / t for t, r in loads]), "rows/s"),
            "delta_p50_s": (_median([t for t, _ in delta or full]), "s"),
            "dashboard_p50_ms": (_median(reads), "ms"),
            "dashboard_p90_ms": (_pctl(reads, 90), "ms"),
            "catalog_relational_s": (fam["relational"], "s"),
            "catalog_text_dedup_s": (fam["text_dedup"], "s"),
            "catalog_vector_s": (fam["vector"], "s"),
            "catalog_ml_s": (fam["ml"], "s"),
            "catalog_events_s": (fam["events"], "s"),
            "lake_bytes_per_input_byte": (
                _median([s["lake_bytes_per_input_byte"] for s in sessions]), "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
        self.info = {
            "setup_phases_s": {k: round(v, 3) for k, v in self.phases.items()},
            "sessions": len(sessions),
            "samples": {"full": len(full), "delta": len(delta), "reads": len(reads),
                        "catalog_samples": len(next(iter(walls.values())))},
            "session_wall_s": [round(s["wall_s"], 3) for s in sessions],
            "uncorrected": self._uncorrected(),
            "check_s": round(self.check_s, 3),
            "catalog_s": {q: [round(x, 3) for x in xs] for q, xs in walls.items()},
            "reads_ms": [round(x) for x in reads],
            "loads_s": [round(t, 3) for t, _ in loads],
        }
        return m

    def _uncorrected(self) -> dict:
        """The wall-time metrics without the steal correction."""
        raw = self.raw_s
        reads = [x * 1000 for r in READS for x in raw[f"consumption.{r}"]]
        loads = raw["pipeline.full"] + raw["pipeline.delta"]
        out = {
            "setup_s": self.setup_raw_s,
            "delta_p50_s": _median(loads),
            "dashboard_p50_ms": _median(reads),
            "dashboard_p90_ms": _pctl(reads, 90),
        }
        for f, qs in catalog.TIMED_SET.items():
            out[f"catalog_{f}_s"] = sum(_median(raw[f"catalog.{q}"]) for q in qs)
        return {k: round(v, 4) for k, v in out.items()}

    # --------------------------------------------------------------- trace
    def per_layer(self) -> dict:
        """An untraced session, then a traced one, each one pipeline call
        and its read rounds; the traced one also runs a catalog pass over
        the timed and trace-only queries. The tracing overhead is the
        traced wall time without those queries minus the untraced one.
        The JVM is still warming up, so it reads low, often below zero;
        the time spent inside the tracer is reported too. Then untimed probes on
        the final lake."""
        from flights_etl_pipeline_spark.operators import gold, silver, warehouse

        before = self.session(self.calls[:1])
        tracer = self.tracer = Tracer(self.spark.sparkContext)
        pl = self.pipeline
        targets = [
            (pl, f"run_{s}", f"pipeline.run_{s}", "pipeline")
            for s in ("bronze", "silver", "gold", "warehouse")
        ] + [
            (pl, "high_watermark", "readers.high_watermark", "readers"),
            (pl, "path_exists", "readers.path_exists", "readers"),
            (pl, "read_parquet_table", "readers.read_parquet_table", "readers"),
            (silver, "with_partition_cols", "silver.with_partition_cols", "silver"),
            (gold, "revenue_by_year_month_airline", "gold.revenue_by_year_month_airline", "gold"),
            (gold, "fare_basis_duration", "gold.fare_basis_duration", "gold"),
        ] + [
            (warehouse, f, f"warehouse.{f}", "warehouse")
            for f in ("build_dim_date", "build_dim_airline", "build_dim_airport",
                      "incremental_new_rows", "build_fact")
        ]
        orig_sink, orig_to_silver = pl.write_partitioned_parquet, silver.to_silver
        pl.write_partitioned_parquet = self._traced_sink(orig_sink)
        silver.to_silver = self._traced_to_silver(orig_to_silver)
        try:
            with patched(targets, tracer):
                traced = self.session(self.calls[1:2], [*catalog.FAMILY_OF, *catalog.TRACE_ONLY])
        finally:
            pl.write_partitioned_parquet, silver.to_silver = orig_sink, orig_to_silver
            self.tracer = None
        untraced_wall = before["wall_s"]
        traced_wall = traced["wall_s"] - sum(sum(self.raw_s[f"catalog.{q}"]) for q in traced["catalog"])
        tracer.resolve_spark_counts()
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"trace-{self.name}-seed{self.seed}.json"))
        prev = before["results"][-1] if self.cfg["preload"] else None
        m = self._layer_metrics(tracer, traced, prev)
        m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
        self.info = {"untraced_wall_s": untraced_wall, "traced_wall_s": traced_wall}
        return m

    def _traced_sink(self, orig):
        def parquet_files(path: str) -> dict[str, int]:
            p = Path(path)
            return {str(f): f.stat().st_size for f in p.rglob("*.parquet")} if p.exists() else {}

        def traced(df, path, *args, **kwargs):
            t = time.perf_counter()
            before = parquet_files(path)
            self.tracer.bookkeeping_s += time.perf_counter() - t
            with self.tracer.span("sinks.write_partitioned_parquet", "sinks") as rec:
                orig(df, path, *args, **kwargs)
            t = time.perf_counter()
            new = {f: b for f, b in parquet_files(path).items() if before.get(f) != b}
            rec.update(
                path=path, files=len(new), bytes=sum(new.values()),
                rows=sum(pq.read_metadata(f).num_rows for f in new),
            )
            self.tracer.bookkeeping_s += time.perf_counter() - t

        return traced

    def _traced_to_silver(self, orig):
        def traced(bronze):
            with self.tracer.span("silver.to_silver", "silver"):
                df = orig(bronze)
                df.schema  # analysis is part of the planning cost
                return df

        return traced

    def _watermark_s(self, bronze_path: str) -> float:
        t = time.perf_counter()
        self.readers.high_watermark(self.readers.read_parquet_table(self.spark, bronze_path), "index")
        return time.perf_counter() - t

    def _noop_s(self, df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def _layer_metrics(self, tracer: Tracer, traced: dict, prev) -> dict:
        from flights_etl_pipeline_spark.operators import gold, silver, warehouse

        def total(name, key=None):
            recs = tracer.by_name(name)
            if key is None:
                return sum(r["end"] - r["start"] for r in recs)
            return sum(r["spark"][key] for r in recs)

        sinks = tracer.by_name("sinks.write_partitioned_parquet")
        # rows the traced call pushed: a delta, or a full load
        src_rows = sum(r for _, r in traced["full"] + traced["delta"])
        last = traced["results"][-1]

        # probes over the final lake, outside every session
        sp, lake = self.spark, str(self.lake)
        bronze = sp.read.parquet(f"{lake}/bronze/flights").drop("year", "month", "day")
        sil = sp.read.parquet(f"{lake}/silver/flights")
        dims = (warehouse.build_dim_date, warehouse.build_dim_airline, warehouse.build_dim_airport)
        candidates = sum(b(sil).count() for b in dims)
        new_dim_rows = sum(
            getattr(last, k) - (getattr(prev, k) if prev else 0)
            for k in ("dim_date_rows", "dim_airline_rows", "dim_airport_rows")
        )
        m = {
            "session.get_spark.s": (self.session_s, "s"),
            "readers.read_csv_table.s": (
                self._noop_s(self.readers.read_csv_table(sp, self.base_csv, flightgen.SCHEMA)), "s"),
            "readers.high_watermark.s": (self._watermark_s(f"{lake}/bronze/flights"), "s"),
            "readers.high_watermark.calls": (len(tracer.by_name("readers.high_watermark")), "count"),
            "readers.path_exists.calls": (len(tracer.by_name("readers.path_exists")), "count"),
            "sinks.write_partitioned_parquet.s": (total("sinks.write_partitioned_parquet"), "s"),
            "sinks.files_written": (sum(r["files"] for r in sinks), "count"),
            "sinks.bytes_written": (sum(r["bytes"] for r in sinks), "bytes"),
            "sinks.rows_written": (sum(r["rows"] for r in sinks), "count"),
            "sinks.rows_written_per_delta_row": (
                sum(r["rows"] for r in sinks) / src_rows, "ratio"),
            "silver.to_silver.plan_s": (total("silver.to_silver"), "s"),
            "silver.compute_s": (self._noop_s(silver.to_silver(bronze)), "s"),
            "silver.keep_ratio": (last.silver_rows / last.bronze_rows, "ratio"),
            "silver.rows_rewritten_per_delta_row": (
                sum(r["rows"] for r in sinks if "/silver/" in r["path"]) / src_rows, "ratio"),
            "gold.compute_s": (
                self._noop_s(gold.revenue_by_year_month_airline(sil, self.as_of))
                + self._noop_s(gold.fare_basis_duration(sil)), "s"),
            "gold.rows_out": (last.gold_revenue_rows + last.gold_fbc_rows, "count"),
            "warehouse.dims_compute_s": (sum(self._noop_s(b(sil)) for b in dims), "s"),
            "warehouse.fact_compute_s": (self._noop_s(warehouse.build_fact(sil)), "s"),
            "warehouse.dim_new_row_ratio": (new_dim_rows / candidates, "ratio"),
            "warehouse.fact_rows_rewritten_per_delta_row": (last.fact_rows / src_rows, "ratio"),
        }
        for s in ("bronze", "silver", "gold", "warehouse"):
            m[f"pipeline.run_{s}.s"] = (total(f"pipeline.run_{s}"), "s")
            m[f"pipeline.run_{s}.spark_jobs"] = (total(f"pipeline.run_{s}", "jobs"), "count")
            m[f"pipeline.run_{s}.spark_tasks"] = (total(f"pipeline.run_{s}", "tasks"), "count")
        for read in READS:
            recs = tracer.by_name(f"consumption.{read}")
            m[f"consumption.{read}.ms"] = (_median([(r["end"] - r["start"]) * 1000 for r in recs]), "ms")
            m[f"consumption.{read}.spark_jobs"] = (
                statistics.mean(r["spark"]["jobs"] for r in recs), "count")
        for q in sorted([*catalog.FAMILY_OF, *catalog.TRACE_ONLY]):
            m[f"catalog.{q}.s"] = (total(f"catalog.{q}"), "s")
        self_time = tracer.self_time_by_layer()
        for layer in LAYERS:
            m[f"layer.{layer}.self_s"] = (self_time.get(layer, 0.0), "s")
        m["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
        m["trace.spans"] = (len(tracer.spans), "count")
        return m

    # ------------------------------------------------------------ teardown
    def close(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it."""
        if getattr(self, "checker", None) is not None:
            self.checker.close()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    # keep every temp file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = str(work / "tmp")

    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        bench.setup(trace=bool(args.trace))
        metrics = bench.per_layer() if args.trace else bench.end_to_end(bench.timed())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            work.parent.rmdir()

    failed = len(bench.failures)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": bench.input_props, "op_fail_frac": failed / bench.attempted,
        "failures": bench.failures[:20], **bench.info,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
