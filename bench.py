"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: the full record {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ..., "sf1_spot": ...}
followed by a compact summary (total + worst-3 + sf1 scaleups) sized to
survive the driver's ~2 KB stdout-tail capture.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect -- the number measures the distributed plan, not the
driver's result transfer). Session startup is excluded: the clock starts
after a warmup action.
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flights_etl_pipeline_spark.plans.queries import bench_queries
from flights_etl_pipeline_spark.session import get_spark

# Queries whose 100 TB claims most deserve a measured slope: the three
# round-2 flags (fixed cost vs slope) plus — per the round-3 verdict —
# the dedup/ANN family's banded/bucketed plans, re-timed at 10x volume
# to show the scaling exponent. Spots read only the _SF1_TABLES set
# (documents/embeddings, plus orders/lineitem since r6), so the scaled
# fixture replicates just those files.
# Note the replicated corpus is an EXTREME-duplication workload for the
# dedup spots (every doc appears _SF1_REPLICAS times): candidate sets
# grow ~replicas^2 per bucket, which is the adversarial case for LSH —
# a scaleup near data_ratio there is a strong result, not a weak one.
_SF1_SPOT = (
    "vocab_build",
    "doc_quality",
    "multimodal_features",
    "minhash_lsh_pairs",
    "chunk_dedup_scrub",
    "ann_ivf_topk",
    # the composed dedup->gate->shard pipeline: its slope is the sum of
    # its stages' slopes, so a blow-up in any one shows here first
    "training_shard_manifest",
    # index maintenance: 10x the vectors against the SAME 8 frozen
    # centroids -- the slope of the O(|delta|) assignment path
    "ann_ivf_index_delta",
    # the release funnel: gate -> dedup window -> shingle decontam ->
    # one aggregate; on the replicated fixture every fingerprint group
    # is 10x denser (extreme-duplication, like the LSH spot) so a
    # near-linear slope here covers the whole funnel's stages at once
    "corpus_release_pipeline",
    # the two heaviest headline queries (r5 verdict item 5): the
    # 4-stage curation pipeline and the basket-bounded pair generator
    # need a measured slope, not just a local wall number
    "curation_pipeline_v2",
    "association_rules",
    # the two r6-verdict rewrites (r7): kmeans's join-free update — the
    # per-round exchange carries K x dim partials regardless of corpus
    # size — and the one-projection PQ encode. (Through r11 the PQ base
    # wall was a single-split serialization artifact and slope < 1 was
    # expected; r12 rebalances the encode, so base and 10x now
    # parallelize alike and the honest expectation is ~linear.)
    "kmeans_embeddings",
    "ann_pq_codes",
    # the LSH link-prediction escalation (r6): scheme v2 shifts
    # o_custkey / l_suppkey so the copurchase graph is 10 disjoint
    # replicas — signatures, banding, bucket joins, and exact verify
    # all see a genuinely 10x graph (the exact wedge join would bill
    # 10x its ~8x-slower sf0.1 wall here; the LSH path's slope is the
    # crossover evidence)
    "copurchase_linkpred_lsh",
    # the two r7 serialization-wall fixes now in the headline set (r8):
    # pca's 64-col moment fold is corpus-linear compute behind a
    # rebalance, and phrase_search's let-bound bigram scan rides the
    # documents scan — both read only replicated spot tables, so their
    # slopes guard the fixes at 10x, not just the sf0.1 wall
    "pca_projection",
    "phrase_search",
    # r9 flagship additions: the two-pass batch serve (scan-bound; its
    # domain-bounded histogram channel must not grow with rows) and
    # CDC chunking (row-local projection + one hash-keyed agg; on the
    # replicated fixture every chunk is 10x denser -- extreme-dup,
    # like the LSH spots)
    "ann_batch_serve",
    "cdc_chunk_dedup",
    # r10 post-close hand-measured candidates, promoted (VERDICT r10
    # item 3): the binary-Hamming serving tier (expect FLAT -- the
    # bounded histogram cut leaves only the row-local popcount scan
    # corpus-sized) and the NB train+apply pass (honest-linear; the
    # replicated fixture multiplies df but not model breadth)
    "ann_binary_hamming_topk",
    "naive_bayes_lang_classifier",
    # the bench's most expensive query finally gets its own slope
    # (VERDICT r10 item 4): customer replicas shift c_nationkey by its
    # domain, so the SymSpell canopy blocks -- keyed on (nation,
    # variant) -- are disjoint per replica and the pair graph is 10
    # disjoint copies of the base graph (copurchase scheme-v2
    # precedent). Measured r11: band ~[2.9, 3.3] with the propagation
    # ROUND COUNT invariant at 4 for base and 10x (SCALE.md) — the
    # slope is per-round linear edge work, not extra iterations.
    "fuzzy_customer_clusters",
    # r11 post-close hand-measured candidates, promoted (VERDICT r11
    # item 4): two-stage rerank (hand band [0.5, 1.04, 1.08], expect
    # FLAT — stage 2 cross-scoring is pool-sized, corpus-independent)
    # and the snapshot-isolation read (hand band [1.73, 2.11, 2.57],
    # honest-linear behind the loop's fixed scheduling floor).
    "ann_two_stage_rerank",
    "snapshot_isolation_read",
    # r12 build-wave operators with hand-measured SCALE.md bands only,
    # promoted so the bench records driver-visible bands (VERDICT r12
    # item 5 — "the expensive ones"): the snapshot/CDC-log family reads
    # the replicated customer table (c_custkey shifts by its domain, so
    # each replica is a disjoint 7-commit log: honest 10x log volume),
    # the cascade reads the replicated embeddings against the same
    # frozen model. Hand bands at promotion: snapshot_expire
    # [2.58, 2.61, 3.0], snapshot_changes [1.88, 2.85, 3.57],
    # ivm_maintain_changefeed [1.59, 2.44, 2.61], ann_cascade_topk
    # [0.89, 0.94, 0.95] (FLAT — tier budgets bound every stage past
    # the mask scan).
    "snapshot_expire",
    "snapshot_changes",
    "ivm_maintain_changefeed",
    "ann_cascade_topk",
)
_SF1_REPLICAS = 10
# Bump when the replication rule below changes in ANY way: the tag is
# folded into the /tmp cache fingerprint, so a scheme change can never
# silently reuse a fixture built under the previous rule (ADVICE r6).
_SF1_SCHEME_VERSION = 3
# table -> list of (column, key-domain source) shifts. Each replica
# shifts every listed column by rep * domain (max key + 1 — equals row
# count for the dense doc/vec ids), so id uniqueness and id-derived
# modular properties hold. lineitem's l_orderkey shifts by the ORDERS
# key domain so the l_orderkey -> o_orderkey join stays consistent
# across replicas. o_custkey / l_suppkey shift by their own domains so
# the copurchase GRAPH genuinely grows 10x (disjoint replica
# subgraphs: same degree distribution, 10x the vertices) — without
# this, `distinct()` would collapse the replicas back to the sf0.1
# graph and the linkpred slope would measure only the ingest join.
_SF1_TABLES = {
    "documents": [("doc_id", None)],
    "embeddings": [("vec_id", None)],
    "orders": [("o_orderkey", None), ("o_custkey", None)],
    "lineitem": [("l_orderkey", ("orders", "o_orderkey")), ("l_suppkey", None)],
    # c_nationkey shifts by its own domain so the fuzzy-match canopy
    # blocks (keyed on nation + deletion variant) are disjoint across
    # replicas: names repeat verbatim between replicas, but no
    # cross-replica pair can form, so the entity graph is 10 disjoint
    # copies of the base graph — a genuine 10x workload for the
    # propagation loop, not a replicas^2 clique blow-up.
    "customer": [("c_custkey", None), ("c_nationkey", None)],
}

# Every query (headline and sf1 spot) runs _N_RUNS times and reports
# the MEDIAN: the round-4/5 verdicts found timings moving +-15-50%
# round-over-round with no code change — min-of-two lets a one-off
# GC/compile spike through on long plans and a lucky cache hit through
# on short ones, while a median trends stably. The first run also pays
# the one-time Janino codegen compile for the plan shape.
_N_RUNS = 3

# The 10x spot slopes swing ~2x between same-code runs at median-of-3
# (VERDICT r7 item 2: association_rules recorded 1.82 / 2.88 / 4.38 for
# identical code). Root cause, measured this round: the box's
# throughput drifts ~2x on a multi-minute scale, and the old slope
# divided a spot median by a base median captured ~20 minutes earlier
# in the headline phase — both sides wobble independently and the
# ratio compounds them. Spots therefore re-time their BASE at spot
# time and run INTERLEAVED (base, spot) pairs: each pair's ratio is
# taken seconds apart, so slow multiplicative drift cancels, and the
# recorded band is [min, median, max] of the per-pair ratios.
# Regression reasoning uses the band floor: spikes only push single
# walls up, so the smallest paired ratio is the closest observable to
# the plan shape's true slope.
_N_PAIRS_SPOT = 3

# A recovered baseline must carry at least this many per-query timings to
# outrank an older-but-complete round in _baseline().
_MIN_BASELINE_QUERIES = 5

# The driver keeps only the last ~2000 chars of combined stdout+stderr;
# the FINAL compact line must fit inside that window whole or its head
# falls off and nothing parses (the BENCH_r02-r04 failure shape). Budget
# below the hard 2000 so a handful of promoted queries can't tip it.
_TAIL_BUDGET = 1900


def _sf1_docs_dir(spark, sf_dir: str) -> str:
    """The spot tables at 10x the bench scale factor (sf0.1 ->
    sf1-equivalent): each replica shifts the id column by a multiple of
    its key DOMAIN size (see _SF1_TABLES), so id uniqueness, id-derived
    modular properties, and cross-table key joins all hold. Built once,
    cached in /tmp, reused across runs."""
    from pyspark.sql import functions as F

    # Version the cache by the source files' identity: the driver
    # regenerates the corpus per round, and an unversioned cache could
    # keep a stale table from the previous corpus next to a fresh one
    # (documents old, embeddings new), silently invalidating the
    # scaleup exponents.
    import hashlib

    fp = hashlib.md5(f"scheme_v{_SF1_SCHEME_VERSION};".encode())
    for table in sorted(_SF1_TABLES):
        p = os.path.join(sf_dir, f"{table}.parquet")
        st = os.stat(p)
        fp.update(f"{table}:{st.st_mtime_ns}:{st.st_size};".encode())
    out = (
        f"/tmp/spark_graft_bench_sf1_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{fp.hexdigest()[:10]}"
    )
    domain_size: dict[tuple[str, str], int] = {}

    def _domain(table: str, idcol: str) -> int:
        key = (table, idcol)
        if key not in domain_size:
            src = spark.read.parquet(
                os.path.join(sf_dir, f"{table}.parquet")
            )
            domain_size[key] = (
                src.agg(F.max(idcol)).collect()[0][0] or 0
            ) + 1
        return domain_size[key]

    for table, shifts in _SF1_TABLES.items():
        target = os.path.join(out, f"{table}.parquet")
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            continue
        src = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        shift_for = {
            idcol: _domain(*(domain or (table, idcol)))
            for idcol, domain in shifts
        }
        reps = spark.range(_SF1_REPLICAS).select(F.col("id").alias("rep"))
        cols = [
            (F.col(c) + F.col("rep") * shift_for[c]).alias(c)
            if c in shift_for
            else c
            for c in src.columns
        ]
        src.crossJoin(reps).select(*cols).repartition(32).write.mode(
            "overwrite"
        ).parquet(target)
    return out


def _sf1_organic_docs_dir(spark, sf_dir: str) -> str:
    """documents at 10x WITHOUT replicated similarity: each replica
    permutes every doc's word order with a position-keyed deterministic
    shuffle (md5 of (position, replica)), so a doc and its copy in
    another replica share almost no word k-shingles -- cross-replica
    MinHash similarity collapses to background. Within a replica the
    permutation is shared by same-length docs, so exact dups stay exact
    and near-dups keep their overlap: the ORGANIC dup-rate of the base
    corpus at 10x the rows. This is the fixture for the organic LSH
    slope; the plain replicated fixture (_sf1_docs_dir) remains the
    adversarial extreme-duplication case (candidates ~ replicas^2)."""
    from pyspark.sql import functions as F
    import hashlib

    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    fp = hashlib.md5(f"organic:{st.st_mtime_ns}:{st.st_size}".encode())
    out = (
        f"/tmp/spark_graft_bench_org_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{fp.hexdigest()[:10]}"
    )
    target = os.path.join(out, "documents.parquet")
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return out
    src = spark.read.parquet(p)
    n = src.count()
    reps = spark.range(_SF1_REPLICAS).select(F.col("id").alias("rep"))
    shuffled = F.expr(
        "concat_ws(' ', transform(array_sort(transform(split(text, ' '), "
        "(w, i) -> struct(md5(concat(CAST(i AS STRING), ':', "
        "CAST(rep AS STRING))) AS k, w AS v))), s -> s.v))"
    )
    cols = []
    for c in src.columns:
        if c == "doc_id":
            cols.append((F.col("doc_id") + F.col("rep") * n).alias("doc_id"))
        elif c == "text":
            cols.append(
                F.when(F.col("rep") == 0, F.col("text"))
                .otherwise(shuffled)
                .alias("text")
            )
        else:
            cols.append(F.col(c))
    src.crossJoin(reps).select(*cols).repartition(32).write.mode(
        "overwrite"
    ).parquet(target)
    return out


def _sf1_vocab_docs_dir(spark, sf_dir: str) -> str:
    """documents at 10x with replica-suffixed VOCABULARY: every word in
    a rep>0 doc gets a 'zr<rep>' suffix, so each replica carries its
    own disjoint vocabulary. That preserves the PER-TERM df
    distribution exactly while the corpus grows 10x -- the Heaps-law
    organic-growth model for DF-capped lexical plans (tfidf_cosine_
    topk): new content brings new terms, a surviving term's df stays
    bounded, and candidate pairs grow linearly with the corpus. The
    plain replicated fixture is the opposite extreme for this query:
    it multiplies every df by the replica count, which the fixed
    df-cap either cuts (df*10 > cap: work vanishes) or quadratically
    inflates (pairs ~ df^2) -- neither is the organic slope (VERDICT
    r9 item 3). Word suffixing keeps doc length, token counts, and
    within-replica term statistics identical to the base corpus."""
    from pyspark.sql import functions as F
    import hashlib

    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    fp = hashlib.md5(f"vocab:{st.st_mtime_ns}:{st.st_size}".encode())
    out = (
        f"/tmp/spark_graft_bench_voc_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{fp.hexdigest()[:10]}"
    )
    target = os.path.join(out, "documents.parquet")
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return out
    src = spark.read.parquet(p)
    n = src.count()
    # Disjointness precondition (ADVICE r10): a BASE word already
    # ending in zr<digits> would equal another replica's suffixed form
    # and silently break the exact df-histogram preservation this
    # fixture exists to provide. Fail loudly instead of measuring a
    # corrupted slope.
    collide = (
        src.filter(
            F.expr("exists(split(text, ' '), w -> w rlike 'zr[0-9]+$')")
        )
        .limit(1)
        .count()
    )
    if collide:
        raise AssertionError(
            "vocab fixture: base corpus contains a word ending in "
            "zr<digits>; replica vocabularies would not be disjoint"
        )
    reps = spark.range(_SF1_REPLICAS).select(F.col("id").alias("rep"))
    suffixed = F.expr(
        "concat_ws(' ', transform(split(text, ' '), "
        "w -> concat(w, 'zr', CAST(rep AS STRING))))"
    )
    cols = []
    for c in src.columns:
        if c == "doc_id":
            cols.append((F.col("doc_id") + F.col("rep") * n).alias("doc_id"))
        elif c == "text":
            cols.append(
                F.when(F.col("rep") == 0, F.col("text"))
                .otherwise(suffixed)
                .alias("text")
            )
        else:
            cols.append(F.col(c))
    src.crossJoin(reps).select(*cols).repartition(32).write.mode(
        "overwrite"
    ).parquet(target)
    return out


def _timed_runs(spark, fn, sf_dir: str, n: int) -> list[float]:
    """Sorted wall seconds over n end-to-end noop-sink runs.

    The cache clear between runs keeps queries that persist
    intermediates (minhash signatures, shingle tables) from bleeding
    executor memory into the next measurement."""
    runs: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    runs.sort()
    return runs


def _timed(spark, fn, sf_dir: str) -> float:
    runs = _timed_runs(spark, fn, sf_dir, _N_RUNS)
    return round(runs[len(runs) // 2], 3)


def _spot_entry(
    spark, qs, timings: dict[str, float], sf_dir: str, name: str,
    data_dir: str,
) -> dict:
    """One spot measurement: _N_PAIRS_SPOT interleaved (base, 10x)
    pairs for query `name`, base at sf_dir, 10x at data_dir."""
    ratios, bigs, bases = [], [], []
    for _ in range(_N_PAIRS_SPOT):
        base = _timed_runs(spark, qs[name], sf_dir, 1)[0]
        big = _timed_runs(spark, qs[name], data_dir, 1)[0]
        bases.append(base)
        bigs.append(big)
        if base:
            ratios.append(big / base)
    ratios.sort()
    bigs.sort()
    bases.sort()
    band = (
        [round(ratios[0], 2), round(ratios[len(ratios) // 2], 2),
         round(ratios[-1], 2)]
        if ratios
        else None
    )
    return {
        "sec": round(bigs[len(bigs) // 2], 3),
        # base re-timed AT SPOT TIME (interleaved with the 10x
        # runs), not the headline-phase number from minutes
        # earlier — see the _N_PAIRS_SPOT drift note
        "sec_base": round(bases[len(bases) // 2], 3),
        "sec_base_headline": timings[name],
        # median paired ratio (the headline slope) + [floor,
        # median, max] band of per-pair ratios; regression checks
        # belong on the FLOOR (SCALE.md reading guide)
        "scaleup": band[1] if band else None,
        "scaleup_band": band,
    }


def _sf1_spot(
    spark, sf_dir: str, timings: dict[str, float]
) -> tuple[dict, dict[str, tuple[str, str]]]:
    """Time the spot queries on the 10x fixture; scaleup is the wall
    ratio vs the same query's sf0.1 number this run (1.0 = pure fixed
    cost, ~10 = linear in data, >>10 = superlinear slope).

    Also returns {spot_key: (query_name, data_dir)} so a drift-flagged
    spot can be re-measured in isolation at the end of the run."""
    big_dir = _sf1_docs_dir(spark, sf_dir)
    qs = bench_queries()

    out = {}
    sources: dict[str, tuple[str, str]] = {}
    for name in _SF1_SPOT:
        if name not in qs or name not in timings:
            continue
        sources[name] = (name, big_dir)
        out[name] = _spot_entry(spark, qs, timings, sf_dir, name, big_dir)
    # Organic 10x slope for the LSH query: same data volume as the
    # replicated fixture but with the base corpus's natural dup-rate
    # (round-4 verdict item 5 -- separates the adversarial replicas^2
    # candidate growth from the organic scaling exponent).
    if "minhash_lsh_pairs" in qs and "minhash_lsh_pairs" in timings:
        org_dir = _sf1_organic_docs_dir(spark, sf_dir)
        sources["minhash_lsh_pairs_organic"] = ("minhash_lsh_pairs", org_dir)
        out["minhash_lsh_pairs_organic"] = _spot_entry(
            spark, qs, timings, sf_dir, "minhash_lsh_pairs", org_dir
        )
    # Organic 10x slope for the DF-capped TF-IDF pair query: disjoint
    # per-replica vocabulary preserves the df distribution, so the cap
    # cuts the same stopword fraction and candidates grow linearly --
    # the replicated fixture cannot measure this plan (see
    # _sf1_vocab_docs_dir; VERDICT r9 item 3).
    if "tfidf_cosine_topk" in qs and "tfidf_cosine_topk" in timings:
        voc_dir = _sf1_vocab_docs_dir(spark, sf_dir)
        sources["tfidf_cosine_topk_organic"] = ("tfidf_cosine_topk", voc_dir)
        out["tfidf_cosine_topk_organic"] = _spot_entry(
            spark, qs, timings, sf_dir, "tfidf_cosine_topk", voc_dir
        )
    return {"data_ratio": _SF1_REPLICAS, "queries": out}, sources


def _episode_remeasure(
    spark,
    qs,
    sf_dir: str,
    timings: dict[str, float],
    spot: dict,
    spot_sources: dict[str, tuple[str, str]],
    flagged: list[str],
    drifted: list[str],
) -> dict[str, dict]:
    """Self-adjudication (VERDICT r10 item 2): every flagged reading
    gets an isolated re-measure at the END of the same run, recorded
    next to the in-run number — a machine-state episode shows up as
    isolated << run and no longer needs a judge to hand-re-measure.
    Headline flags re-time the sf wall (floats); drifted spots re-run
    a fresh interleaved pair set on their own fixture (bands). Keys
    are namespaced ``name:wall`` / ``key:slope`` so a query that is
    BOTH headline-flagged and slope-drifted keeps both adjudication
    entries instead of one overwriting the other (ADVICE r11)."""
    episode: dict[str, dict] = {}
    for name in flagged:
        episode[f"{name}:wall"] = {
            "run": timings[name],
            "isolated": _timed(spark, qs[name], sf_dir),
        }
    for key in drifted:
        if key not in spot_sources:
            continue
        qname, data_dir = spot_sources[key]
        iso = _spot_entry(spark, qs, timings, sf_dir, qname, data_dir)
        episode[f"{key}:slope"] = {
            "run": spot["queries"][key]["scaleup_band"],
            "isolated": iso["scaleup_band"],
        }
    return episode


def _quiet_ref(worst3: dict[str, float]) -> dict | None:
    """The latest committed quiet-machine record (BENCH_LOCAL_r{N}.json,
    committed by the retired round process): its headline total + its
    walls for THIS run's worst3 queries. Emitted in both output records so a
    judge can read hot-vs-quiet from BENCH_r{N}.json alone (VERDICT
    r11 item 3 — driver runs can carry machine-episode walls, and a
    naive round-over-round diff of driver records shows phantom
    swings the committed quiet records already adjudicate)."""
    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict] | None = None
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", f)
        if not m:
            continue
        try:
            doc = json.load(open(os.path.join(here, f)))
        except Exception:
            continue
        if not isinstance(doc.get("queries"), dict):
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            best = (rnd, doc)
    if best is None:
        return None
    rnd, doc = best
    return {
        "total": doc.get("value"),
        "source": f"BENCH_LOCAL_r{rnd}",
        "worst3": {
            k: doc["queries"][k] for k in worst3 if k in doc["queries"]
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    spark = get_spark("bench")

    # warmup: JVM + parquet footer reads + Python/Arrow worker pool spawn
    # (pandas-UDF queries otherwise pay worker startup on first use),
    # excluded from timings
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    qs = bench_queries()
    timings: dict[str, float] = {}
    for name, fn in sorted(qs.items()):
        timings[name] = _timed(spark, fn, sf_dir)

    spot, spot_sources = _sf1_spot(spark, sf_dir, timings)
    # Output order matters: the driver records only a ~2 KB TAIL of the
    # combined stdout+stderr, so the delta report (stderr, long) goes
    # first, the full JSON second, and a compact summary line LAST --
    # the compact line always survives truncation and stays parseable
    # (BENCH_r02-r04 all recorded parsed=null because the full JSON's
    # head fell off the tail).
    flagged, drifted = _report_deltas(timings, spot)
    episode = _episode_remeasure(
        spark, qs, sf_dir, timings, spot, spot_sources, flagged, drifted
    )
    if episode:
        print(f"episode re-measures: {json.dumps(episode)}", file=sys.stderr)
    worst3 = _worst3(timings)
    quiet = _quiet_ref(worst3)
    full = {
        "metric": "bench_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "sf1_spot": spot,
    }
    if episode:
        full["episode"] = episode
    if quiet:
        full["quiet_ref"] = quiet
    sys.stderr.flush()
    print(json.dumps(full))
    for line in _compact_lines(timings, full, worst3, quiet, spot, episode):
        print(line)
    sys.stdout.flush()


def _compact_lines(
    timings: dict[str, float],
    full: dict,
    worst3: dict[str, float],
    quiet: dict | None,
    spot: dict,
    episode: dict,
) -> list[str]:
    """The driver-facing compact output (VERDICT r12 items 1-2). The
    driver records only the LAST ~2 KB of stdout+stderr and parses the
    final JSON line, so:

    - The FINAL line now carries the contract's full shape — metric,
      value, unit, sf AND the per-query ``queries`` map — so the
      driver's PERF can compute per-query speedups and per-query
      8-vs-32-core scaling ratios (through r12 the map lived only in
      the full record, whose head always fell off the tail and left
      PERF's ``per_query`` empty). Values are the same medians as the
      full record, rounded to ms.
    - The slope bands move to a SECOND-TO-LAST ``bench_slopes`` line:
      the 2 KB window cannot hold both the per-query map (~1.5 KB) and
      the full band map (~1 KB), and per-query visibility is the
      higher-leverage record (VERDICT r12 item 1). Whatever tail of
      the slopes line fits still lands in the driver record; the
      authoritative band record is the full JSON above plus the
      committed BENCH_LOCAL quiet record, and slope drift is
      self-adjudicated in-run (episode re-measures, stderr report).
    - Episode adjudication entries stay in the full record and stderr;
      the final line keeps only ``episode_n`` as the flag.

    Self-sizing: if the final line would overflow the tail window
    (growth headroom), per-query values degrade to centiseconds, then
    ``worst3`` drops (derivable from ``queries``), then ``quiet_ref``
    — never the contract fields or the per-query map itself.
    """
    slopes_line = json.dumps(
        {
            "metric": "bench_slopes",
            # [floor, median, max] per spot; regression checks read
            # the FLOOR (spikes only push walls up)
            "sf1_scaleup": {
                k: v.get("scaleup_band") or v.get("scaleup")
                for k, v in spot.get("queries", {}).items()
            },
        },
        separators=(",", ":"),
    )
    quiet_short = (
        {"total": quiet["total"], "source": quiet["source"]} if quiet else None
    )

    def _final(ndigits: int, with_worst3: bool, with_quiet: bool) -> str:
        return json.dumps(
            {
                "metric": "bench_total",
                "value": full["value"],
                "unit": "sec",
                "sf": full["sf"],
                "n_queries": len(timings),
                "queries": {k: round(v, ndigits) for k, v in timings.items()},
                **({"worst3": worst3} if with_worst3 else {}),
                # committed quiet-machine reference: hot-vs-quiet
                # readable from this record alone (VERDICT r11 item 3);
                # the quiet record's own walls are in the file it names
                **({"quiet_ref": quiet_short} if with_quiet and quiet else {}),
                **({"episode_n": len(episode)} if episode else {}),
            },
            separators=(",", ":"),
        )

    final_line = _final(2, False, False)  # minimal fallback
    for nd, w3, qr in [(3, True, True), (2, True, True), (2, False, True)]:
        candidate = _final(nd, w3, qr)
        if len(candidate) <= _TAIL_BUDGET:
            final_line = candidate
            break
    return [slopes_line, final_line]


def _worst3(timings: dict[str, float]) -> dict[str, float]:
    """Slowest three queries; equal timings tie-break by name so
    round-over-round worst3 diffs are stable (VERDICT r10 item 6:
    ann_pq_codes/pca_projection both reported 2.985 and the selection
    was dict-order-dependent)."""
    return dict(sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:3])


def _baseline() -> tuple[int, dict[str, float]] | None:
    """Latest usable (round, per-query timings) from the recorded
    BENCH_r{N}.json / BENCH_LOCAL_r{N}.json files at the repo root —
    the internal ``best`` candidate carries extra ranking elements
    that are dropped before returning.

    A committed BENCH_LOCAL record (the full quiet-machine record
    committed by the retired round process) outranks the driver record
    for the same round: the driver record can carry machine-episode walls (r10:
    kmeans 11.8 s vs 2.95 s quiet), and comparing a new run against
    episode numbers hides genuine >2x regressions — and genuine
    episodes (r11 cycle 1 went unflagged against r10's episode
    baseline).

    The driver sometimes records ``parsed: null`` with the JSON line
    only inside the truncated ``tail`` string (BENCH_r03 did); fall
    back to extracting the queries object from the tail so deltas
    compare against the latest round, not a stale earlier one."""
    here = os.path.dirname(os.path.abspath(__file__))
    # (round, queries, usable-size tier, local-pref); tier 1 means the
    # recovered dict carries at least _MIN_BASELINE_QUERIES entries, so
    # the newest round wins only when it actually has a comparable
    # query set.
    best: tuple[int, dict[str, float], int, int] | None = None
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH(_LOCAL)?_r(\d+)\.json", f)
        if not m:
            continue
        try:
            doc = json.load(open(os.path.join(here, f)))
        except Exception:
            continue
        qs = None
        if m.group(1):  # full local record: queries at top level
            if isinstance(doc.get("queries"), dict):
                qs = doc["queries"]
        elif isinstance(doc.get("parsed"), dict) and isinstance(
            doc["parsed"].get("queries"), dict
        ):
            qs = doc["parsed"]["queries"]
        else:
            tail = doc.get("tail") or ""
            jm = re.search(r'\{"metric":.*', tail)
            if jm:
                try:
                    qs = json.loads(jm.group(0).splitlines()[0])["queries"]
                except Exception:
                    qs = None
            if qs is None and '"sf":' in tail:
                # tail truncated mid-queries-dict (r2/r3 shape: the
                # opening brace is cut off): recover the surviving
                # per-query pairs before the '}, "sf":' terminator —
                # a PARTIAL baseline from the newest round still beats
                # a complete one from a stale round for delta checks
                frag = tail.split('"sf":')[0]
                pairs = re.findall(
                    r'"([a-z0-9_]+)":\s*([0-9.]+(?:[eE][+-]?[0-9]+)?)',
                    frag,
                )
                recovered = {
                    k: float(v)
                    for k, v in pairs
                    if k not in ("metric", "value", "sf")
                }
                qs = recovered or None
        if qs is None:
            continue
        rnd = int(m.group(2))
        pref = 1 if m.group(1) else 0  # quiet local record outranks
        # a heavily-truncated recovery (r3's tail yields 1 pair) is a
        # worse baseline than an older complete one: rank by
        # (usable-size tier, round, local-pref) so the newest round
        # wins only when it actually carries a comparable query set
        tier = 1 if len(qs) >= _MIN_BASELINE_QUERIES else 0
        if best is None or (tier, rnd, pref) > (best[2], best[0], best[3]):
            best = (rnd, qs, tier, pref)
    return (best[0], best[1]) if best else None


# Same-code slope-band medians wobble up to ~1.12x between quiet-machine
# runs (documented in SCALE.md); a median drift beyond that is either a
# plan change or a machine-state problem and deserves a look either way
# (VERDICT r9 item 2b: the r9 copurchase band drift went unflagged and
# cost a judge re-measure to attribute to noise).
_SLOPE_DRIFT_BAR = 1.12


def _baseline_slopes() -> tuple[int, dict[str, list[float]]] | None:
    """Latest committed (round, {spot: scaleup_band}) record. Prefers
    the full BENCH_LOCAL_r{N}.json committed by the retired round process;
    falls back to a driver BENCH_r{N}.json whose parsed compact line
    carries sf1_scaleup bands."""
    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, int, dict[str, list[float]]] | None = None
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH(_LOCAL)?_r(\d+)\.json", f)
        if not m:
            continue
        try:
            doc = json.load(open(os.path.join(here, f)))
        except Exception:
            continue
        bands: dict[str, list[float]] = {}
        spot = doc.get("sf1_spot")
        if isinstance(spot, dict):  # full (BENCH_LOCAL) shape
            for k, v in (spot.get("queries") or {}).items():
                if isinstance(v, dict) and isinstance(
                    v.get("scaleup_band"), list
                ):
                    bands[k] = v["scaleup_band"]
        else:  # driver compact shape
            parsed = doc.get("parsed")
            if isinstance(parsed, dict):
                for k, v in (parsed.get("sf1_scaleup") or {}).items():
                    if isinstance(v, list) and len(v) == 3:
                        bands[k] = v
        if not bands:
            continue
        rnd = int(m.group(2))
        pref = 1 if m.group(1) else 0  # full local record outranks
        if best is None or (rnd, pref) > (best[0], best[1]):
            best = (rnd, pref, bands)
    return (best[0], best[2]) if best else None


def _report_deltas(
    timings: dict[str, float], spot: dict | None = None
) -> tuple[list[str], list[str]]:
    """Per-query regression report vs the latest recorded round, plus a
    slope-band MEDIAN drift check vs the latest committed band record
    (stderr only -- stdout stays the single JSON line).

    Returns (headline queries flagged >2x, spot keys with slope-band
    median drift beyond _SLOPE_DRIFT_BAR) so the caller can re-measure
    them in isolation and record both readings (VERDICT r10 item 2:
    two judges in a row had to hand-adjudicate machine episodes the
    committed record carried without a marker)."""
    flagged: list[str] = []
    base = _baseline()
    if base is not None:
        rnd, prev = base
        for name, sec in sorted(timings.items()):
            p = prev.get(name)
            if p is None:
                print(
                    f"bench-delta r{rnd}: {name} NEW {sec:.3f}s",
                    file=sys.stderr,
                )
                continue
            ratio = sec / p if p else float("inf")
            mark = "  <-- REGRESSION >2x" if ratio > 2.0 else ""
            print(
                f"bench-delta r{rnd}: {name} {p:.3f}s -> {sec:.3f}s "
                f"({ratio:.2f}x){mark}",
                file=sys.stderr,
            )
            if ratio > 2.0:
                flagged.append(name)
        if flagged:
            print(f"bench-delta r{rnd}: FLAGGED {flagged}", file=sys.stderr)
    drifted: list[str] = []
    if spot is None:
        return flagged, drifted
    slopes = _baseline_slopes()
    if slopes is None:
        return flagged, drifted
    srnd, prev_bands = slopes
    for name, entry in sorted((spot.get("queries") or {}).items()):
        band = entry.get("scaleup_band") if isinstance(entry, dict) else None
        pband = prev_bands.get(name)
        if not band or not pband:
            continue
        med, pmed = band[1], pband[1]
        if not pmed:
            continue
        drift = med / pmed
        mark = (
            f"  <-- SLOPE DRIFT >{_SLOPE_DRIFT_BAR}x"
            if drift > _SLOPE_DRIFT_BAR or drift < 1 / _SLOPE_DRIFT_BAR
            else ""
        )
        print(
            f"slope-delta r{srnd}: {name} median {pmed:.2f} -> {med:.2f} "
            f"({drift:.2f}x){mark}",
            file=sys.stderr,
        )
        if mark:
            drifted.append(name)
    if drifted:
        print(
            f"slope-delta r{srnd}: DRIFTED {drifted} -- re-measure on a "
            f"quiet machine before attributing to code",
            file=sys.stderr,
        )
    return flagged, drifted


if __name__ == "__main__":
    main()
