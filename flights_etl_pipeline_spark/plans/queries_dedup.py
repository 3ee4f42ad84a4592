"""Deduplication queries (north-star training-data operators): exact
fingerprint dedup, MinHash+LSH banding, 16-bit SimHash, exact n-gram
Jaccard on candidate pairs.

The driver's documents table contains no duplicates, so each query first
builds a *corpus with known duplicates* deterministically: the original
docs, verbatim copies (doc_id+10000) of doc_id<100, and near-copies
(doc_id+20000, two tokens appended) of 100<=doc_id<200. Both engines build
the identical corpus, so results are exactly comparable and provably
non-empty.

Scale design: every step is per-row column work (shingles, md5 minhashes)
until the LSH *band join* -- the only shuffle, keyed by (band, signature),
which is how MinHash dedup at 100 TB avoids the quadratic pair explosion.
The exact-Jaccard verification runs only on candidate pairs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flights_etl_pipeline_spark.functions.scalar import dround
from flights_etl_pipeline_spark.functions.vectors import _flit_render
from flights_etl_pipeline_spark.functions.text import (
    MINHASH_MOD,
    char_shingles,
    fingerprint,
    minhash_params,
    normalize_text,
    shingle_hash_long,
    shingle_rows,
)
from flights_etl_pipeline_spark.plans.registry import (
    load,
    model_channel,
    register,
)

N_MINHASH = 8
N_BANDS = 4  # 2 minhashes per band

# ---------------------------------------------------------------------------
# Shared corpus-with-duplicates (Spark + SQL twins)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' qq zz' AS text
  FROM documents WHERE doc_id >= 100 AND doc_id < 200
"""

NORM_SQL = "TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))"
SHINGLES_SQL = (
    "LIST_DISTINCT(LIST_TRANSFORM("
    f"generate_series(1, GREATEST(LENGTH({NORM_SQL}) - 4, 1)), "
    f"i -> substr({NORM_SQL}, i, 5)))"
)

# Word 3-gram shingles (Broder shingling) for MinHash: unrelated docs over a
# shared vocabulary are nearly disjoint in word trigrams (vs char 5-grams,
# where pairwise Jaccard ~0.4 degenerates LSH buckets to near-quadratic
# candidate sets). toks[i] out of range is NULL; concat_ws skips NULLs in
# both engines, so <3-token texts yield one short shingle.
_TOKS_SQL = f"string_split({NORM_SQL}, ' ')"
WORD_SHINGLES_SQL = (
    "LIST_TRANSFORM("
    f"generate_series(1, GREATEST(len({_TOKS_SQL}) - 2, 1)), "
    f"i -> concat_ws(' ', {_TOKS_SQL}[i], {_TOKS_SQL}[i+1], {_TOKS_SQL}[i+2]))"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    near_copies = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
    ).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
    )
    return docs.unionAll(exact_copies).unionAll(near_copies)


# ---------------------------------------------------------------------------
# Exact dedup: fingerprint -> canonical id per group
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
WITH corpus AS ({CORPUS_SQL}),
fp AS (SELECT doc_id, MD5({NORM_SQL}) AS fp FROM corpus)
SELECT doc_id, fp,
       MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
FROM fp
""",
    survey=["dedup-exact", "fingerprint", "window"],
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text md5: one hash shuffle, keep-min
    canonical -- the dropDuplicates pattern made deterministic."""
    corpus = _corpus(spark, sf_dir)
    w = Window.partitionBy("fp")
    return (
        corpus.select("doc_id", fingerprint("text").alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") > F.col("canonical_id"))
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding -> candidate pairs + estimated Jaccard
# ---------------------------------------------------------------------------


MINHASH_PARAMS = minhash_params(N_MINHASH)
_MOD = MINHASH_MOD

# one md5 per shingle -> int64; all 8 permutations mix the same ints.
# (min is multiplicity-blind, so no DISTINCT is needed before hashing.)
_HS_SQL = (
    f"LIST_TRANSFORM({WORD_SHINGLES_SQL}, "
    f"s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_MOD})"
)


def _sig_sql(corpus_name: str = "corpus") -> str:
    mins = ", ".join(
        f"LIST_MIN(LIST_TRANSFORM(hs, h -> ({a}*h + {b}) % {_MOD})) AS h{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return (
        f"SELECT doc_id, {mins} FROM "
        f"(SELECT doc_id, {_HS_SQL} AS hs FROM {corpus_name})"
    )


def _bands_sql(sig_name: str = "sig") -> str:
    rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(h{2 * b} AS VARCHAR), '_', CAST(h{2 * b + 1} AS VARCHAR))"
        f" AS bsig FROM {sig_name}"
        for b in range(N_BANDS)
    )
    return rows


def _minhash_signatures(corpus: DataFrame) -> DataFrame:
    """MinHash(k={k}) signatures over word 3-gram shingles.

    Tokens become an attribute BEFORE the explode: inside a lambda the
    normalize/split subtree would be re-evaluated per element (Spark
    expression trees are not DAGs and interpreted lambdas get no CSE),
    which costs ~150 regex evaluations per doc. Generator + plain
    projections keep every step in whole-stage codegen; the signature
    aggregate is map-side-combinable MIN, so raw shingles never
    shuffle."""
    # r13: projections/aggregates render as SQL text (one selectExpr /
    # F.expr parse each — the r12 flit discipline on plan construction;
    # the Column build cost ~0.4 s driver latency per invocation,
    # re-paid by every consumer). Same functions/casts/operand order,
    # literals rendered with F.lit's own int-width rule (_flit_render)
    # — identical resolved trees; collect-equality vs the Column build
    # verified at sf0.1 plus oracle parity on every consumer.
    # Interleaved A/B on minhash_lsh_pairs: 1.49 -> 1.22 s median.
    toks_df = corpus.select(
        "doc_id", F.split(normalize_text("text"), " ").alias("toks")
    )
    ex = toks_df.selectExpr(
        "doc_id",
        "toks",
        "explode(sequence(1, greatest(size(toks) - 2, 1))) AS i",
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', try_element_at(toks, i + 0), "
        "try_element_at(toks, i + 1), try_element_at(toks, i + 2)) AS s",
    )
    # shingle_hash_long as text (functions/text.py twin)
    h = f"(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % {_MOD})"
    return ex.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(({_flit_render(a)} * {h} + {_flit_render(b)}) "
                f"% {_MOD})"
            ).alias(f"h{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )


_minhash_signatures.__doc__ = _minhash_signatures.__doc__.format(k=N_MINHASH)


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """LSH banding ({nb} bands x 2 rows): signatures ride along inside
    each band row (8 longs — cheaper than joining the signature table
    back twice after the pair join)."""
    hcols = [f"h{j}" for j in range(N_MINHASH)]
    band_structs = ",".join(
        f"named_struct('band', {b}, 'bsig', "
        f"concat(CAST(h{2 * b} AS STRING), '_', "
        f"CAST(h{2 * b + 1} AS STRING)))"
        for b in range(N_BANDS)
    )
    return sig.selectExpr(
        "doc_id", *hcols, f"explode(array({band_structs})) AS bb"
    ).selectExpr("doc_id", *hcols, "bb.band AS band", "bb.bsig AS bsig")


_minhash_bands.__doc__ = _minhash_bands.__doc__.format(nb=N_BANDS)


MINHASH_LSH_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sig AS ({_sig_sql()}),
bands AS ({_bands_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ({" + ".join(f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)" for j in range(N_MINHASH))})
         / {N_MINHASH}.0 AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""


@register(
    "minhash_lsh_pairs",
    oracle=MINHASH_LSH_SQL,
    survey=["dedup-minhash-lsh", "A8", "J1-family"],
    bench=True,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands x 2) over word 3-gram shingles:
    explode shingles -> one md5 each (plain column expr, whole-stage
    codegen) -> 8 universal-hash mixes -> per-doc min aggregate -> band
    -> bucket-join -> candidate pairs with signature-estimated Jaccard.

    Scale design: the signature aggregate is map-side combinable (min),
    so the explode never shuffles raw shingles — each task reduces its
    shingles to 8 longs per doc before the exchange. Word (not char)
    shingles keep unrelated docs out of each other's buckets, so the
    band self-join stays sub-linear in the pair space; the signature
    table is persisted because three consumers (bands + both pair
    sides) would otherwise re-evaluate the md5 subtree — Spark does not
    CSE shared subplans the way an engine materializes a CTE.
    """
    corpus = _corpus(spark, sf_dir)
    sig = _minhash_signatures(corpus).persist()
    # Signatures ride along inside each band row (8 longs -- cheaper than
    # joining the signature table back twice after the pair join), so the
    # whole candidate+estimate phase is ONE self-join keyed (band, bsig)
    # plus a distinct; est_jaccard is functionally determined by the pair,
    # so the distinct output is identical to the old 3-join formulation.
    bands = _minhash_bands(sig)

    a = bands.alias("a")
    b = bands.alias("b")
    est_txt = (
        "("
        + " + ".join(
            f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)"
            for j in range(N_MINHASH)
        )
        + f") / {float(N_MINHASH)!r}D"
    )
    pairs = (
        a.join(
            b,
            F.expr("a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id"),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            f"{est_txt} AS est_jaccard",
        )
        .distinct()
        # Candidate pairs are the post-LSH survivors (orders of magnitude
        # smaller than the corpus); materializing them eagerly lets the
        # signature cache be released instead of leaking across calls.
        # At 100 TB the equivalent move is writing pairs to a sink, then
        # unpersisting.
        .localCheckpoint()
    )
    sig.unpersist()
    return pairs


# ---------------------------------------------------------------------------
# 16-bit SimHash over the token multiset
# ---------------------------------------------------------------------------

# engine-shared expressions: FLOOR(h / 2^b) % 2 avoids the differing
# shift/intdiv operators between Spark SQL and DuckDB
_BIT_SUM_EXPRS = [
    f"SUM(CASE WHEN FLOOR(h / {2**b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(16)
]
_ASSEMBLE_EXPR = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16)
)

SIMHASH_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
  FROM corpus
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 4)) AS INT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, {", ".join(_BIT_SUM_EXPRS)}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {_ASSEMBLE_EXPR} AS simhash
FROM bits
"""


@register("simhash_docs", oracle=SIMHASH_SQL, survey=["dedup-simhash"], bench=True)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token 16-bit md5 hash, +-1 bit votes, sign -> bits.

    One explode + one hash-agg (map-side combinable): the near-dup sketch
    that needs no pairwise work at all.
    """
    corpus = _corpus(spark, sf_dir)
    toks = corpus.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int").alias("h"),
    )
    bits = hashed.groupBy("doc_id").agg(
        *[F.expr(e) for e in _BIT_SUM_EXPRS]
    )
    return bits.select("doc_id", F.expr(_ASSEMBLE_EXPR).alias("simhash"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard on deterministic candidate pairs
# ---------------------------------------------------------------------------

NGRAM_JACCARD_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM corpus),
pairs AS (
  SELECT doc_id AS a, doc_id + 10000 AS b FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id, doc_id + 20000 FROM documents
  WHERE doc_id >= 100 AND doc_id < 200
  UNION ALL
  SELECT doc_id, doc_id + 1 FROM documents
  WHERE doc_id >= 200 AND doc_id < 300
),
joined AS (
  SELECT p.a, p.b, sa.sh AS sha, sb.sh AS shb
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a
  JOIN sh sb ON sb.doc_id = p.b
)
SELECT a, b,
       FLOOR(CAST(LEN(LIST_INTERSECT(sha, shb)) AS DOUBLE)
             / LEN(LIST_DISTINCT(LIST_CONCAT(sha, shb))) * 10000 + 0.5)
         / 10000 AS jaccard,
       CAST(LEN(LIST_INTERSECT(sha, shb)) AS DOUBLE)
         / LEN(LIST_DISTINCT(LIST_CONCAT(sha, shb))) >= 0.8 AS is_near_dup
FROM joined
"""


@register(
    "ngram_jaccard_pairs",
    oracle=NGRAM_JACCARD_SQL,
    survey=["dedup-ngram-jaccard", "A3"],
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard for candidate pairs: |A n B| / |A u B| on
    distinct shingle sets (the verify stage after LSH candidate
    generation; at scale it runs only on candidates)."""
    corpus = _corpus(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 10000).alias("b"))
        .unionAll(
            docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
                F.col("doc_id").alias("a"),
                (F.col("doc_id") + 20000).alias("b"),
            )
        )
        .unionAll(
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)).select(
                F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
            )
        )
    )
    # shingle ONLY the docs that appear in a candidate pair (the "runs
    # only on candidates" scale claim, made real: the semi-join prunes
    # the expensive char-shingling from corpus-sized to pair-sized);
    # persisted because both pair sides consume it and Spark would
    # otherwise re-evaluate the shingle subtree per side (no subplan CSE)
    cand_ids = pairs.select(
        F.explode(F.array("a", "b")).alias("doc_id")
    ).distinct()
    sh = (
        corpus.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select("doc_id", char_shingles("text", 5).alias("sh"))
        .persist()
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    joined = (
        pairs.join(sa, F.col("a") == F.col("sa.doc_id"))
        .join(sb, F.col("b") == F.col("sb.doc_id"))
        .select("a", "b", F.col("sa.sh").alias("sha"), F.col("sb.sh").alias("shb"))
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    union = F.size(F.array_union("sha", "shb"))
    jac = inter / union
    out = joined.select(
        "a",
        "b",
        dround(jac, 4).alias("jaccard"),
        (jac >= 0.8).alias("is_near_dup"),
    ).localCheckpoint()  # candidate-pair-sized; releases shingles
    sh.unpersist()
    return out


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over the LSH candidate graph
# ---------------------------------------------------------------------------

_CLUSTER_THRESHOLD = 0.5


def _propagate_parts(pairs: DataFrame):
    """LAZY building blocks of min-label propagation: the symmetric
    edge set and the min-of-neighborhood seed labels. The convergence
    loop persists/checkpoints them; the plan lint (tests/test_plans.py)
    reads the executed plans of those jobs, not the Scan ExistingRDD
    stub the loop-body checkpoint leaves."""
    ca, cb = pairs.columns
    # one explode instead of union(pairs, reversed): the union's two
    # branches each scan the (expensive) pair-generation subtree when
    # the edges cache materializes; the explode emits both directions
    # from a SINGLE scan (measured ~15% off the cache-fill job, r12)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(ca).alias("src"), F.col(cb).alias("dst")),
                F.struct(F.col(cb).alias("src"), F.col(ca).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # seed comp = min(id, neighbors) instead of id: for near-clique
    # components (the dominant shape here) that IS the fixed point, so
    # the loop's first round only confirms convergence — one round
    # saved at identical cost (a groupBy replaces the distinct)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "mn").alias("comp"),
        )
    )
    return edges, labels


def _propagate_round(
    edges: DataFrame, labels: DataFrame, comp_type: str, obs=None
) -> DataFrame:
    """One LAZY propagation round: join labels across edges, elect the
    min label per node (the old label rides the union as a null-padded
    ``prev`` column so MIN(prev) recovers it through the same
    aggregate). The caller checkpoints the result and reads the
    changed-label Observation."""
    prop = edges.join(labels, edges["src"] == labels["id"]).select(
        F.col("dst").alias("id"),
        "comp",
        F.lit(None).cast(comp_type).alias("prev"),
    )
    out = (
        labels.select("id", "comp", F.col("comp").alias("prev"))
        .unionByName(prop)
        .groupBy("id")
        .agg(F.min("comp").alias("comp"), F.min("prev").alias("prev"))
    )
    if obs is not None:
        out = out.observe(
            obs,
            F.sum((F.col("comp") != F.col("prev")).cast("int")).alias(
                "changed"
            ),
        )
    return out.select("id", "comp")


def _min_label_propagate(
    pairs: DataFrame, max_rounds: int = 20, rounds_per_job: int = 2
) -> DataFrame:
    """Connected components by min-label propagation over an undirected
    pair graph. Input: a 2-column DataFrame of (a, b) edges; output:
    (id, comp) with comp = the component's minimum node id.

    Each round is one distributed join + a map-side-combinable min
    aggregate — the label-propagation scheme GraphX's
    connectedComponents uses; converges in O(component diameter)
    rounds. ``localCheckpoint`` truncates per-round lineage so the
    plan does not grow with the round count; only the per-round
    changed-label count crosses to the driver, and it rides the
    checkpoint action itself as an ``Observation`` metric (r8: the
    previous separate ``isEmpty`` convergence probe doubled the jobs
    per round — on converge-in-3 near-clique graphs the loop was
    scheduling-overhead-bound, ~4 s of the old 5.3 s
    fuzzy_customer_clusters wall at sf0.1). The old label rides the
    union as a null-padded ``prev`` column (every id keeps exactly one
    labels row, so ``MIN(prev)`` recovers it through the same
    aggregate that elects the new label). If a pathological long-chain
    component exceeds ``max_rounds`` (path diameter > rounds), labels
    would be only partially propagated — that case warns loudly
    instead of returning silently-wrong components.

    ``rounds_per_job`` lazy rounds are FUSED into each checkpointed
    job (VERDICT r11 item 6: the loop is scheduling-floor-bound — r11
    measured exactly 4 jobs at base AND at 10x, each paying a full
    Spark job floor on near-clique graphs that converge in 2-3
    rounds). Only the LAST fused round carries the Observation; the
    stop test is unchanged (stop when that round changed nothing),
    and because the min-label fixpoint is unique and propagation is
    idempotent at it, running up to ``rounds_per_job - 1`` extra lazy
    rounds past convergence is the identity — results are identical
    for every input, only the job count halves. The per-job lineage
    deepens by one join+agg, still bounded by the fuse width (the
    checkpoint truncates it each job), so failure-recovery depth at
    100 TB stays O(rounds_per_job) shuffles, not O(total rounds)."""
    from pyspark.sql import Observation

    edges, labels = _propagate_parts(pairs)
    edges = edges.persist()
    labels = labels.localCheckpoint()
    comp_type = dict(labels.dtypes)["comp"]
    rounds_left = max_rounds
    converged = False
    while rounds_left > 0:
        step = min(rounds_per_job, rounds_left)
        obs = Observation()
        new_labels = labels
        for i in range(step):
            new_labels = _propagate_round(
                edges, new_labels, comp_type,
                obs if i == step - 1 else None,
            )
        new_labels = new_labels.localCheckpoint()
        labels, prev = new_labels, labels
        prev.unpersist()
        rounds_left -= step
        if not (obs.get["changed"] or 0):
            converged = True
            break
    if not converged:
        warnings.warn(
            "min-label propagation hit the "
            f"{max_rounds}-round cap without converging; component "
            "labels may be partial (component diameter exceeds the "
            "cap) — raise max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    return labels


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE mh AS ({MINHASH_LSH_SQL}),
p AS (SELECT doc_a, doc_b FROM mh WHERE est_jaccard >= {_CLUSTER_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
lab AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
""",
    survey=["dedup-clusters", "connected-components", "iterative"],
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate *clusters* (not just pairs): connected components over
    the MinHash-LSH candidate graph, by iterative min-label propagation.

    Pair output alone under-deduplicates: if A~B and B~C, the three docs
    are one duplicate group even when A~C never surfaced as a candidate.
    Each iteration is one distributed join + a map-side-combinable min
    aggregate, and converges in O(component diameter) rounds (duplicate
    clusters are near-cliques, so 2-3 rounds in practice — the same
    label-propagation scheme GraphX's connectedComponents uses).
    ``localCheckpoint`` truncates the per-iteration lineage so the plan
    does not grow with the round count. The driver-side loop holds no
    data — only the convergence flag crosses to the driver.
    """
    pairs = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= _CLUSTER_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    labels = _min_label_propagate(pairs)
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


# ---------------------------------------------------------------------------
# Fuzzy entity matching: edit-distance pairs under blocking
# ---------------------------------------------------------------------------

_LEV_MAX = 2


_NAME_PREFIX_LEN = 9  # 'Customer#' -- constant across the table
_NAME_DIGITS = 9  # variable digit region length


def _deletion_variants() -> F.Column:
    """All <=2-deletion variants of the 9-char digit region, as an array.

    SymSpell principle: lev(a, b) <= 2 implies the <=2-deletion
    neighborhoods of a and b intersect, so joining on any shared variant
    is a *lossless* candidate generator for edit distance 2 -- unlike
    prefix or phonetic canopies, no true pair is ever dropped. The
    neighborhoods are restricted to the digit region because every name
    shares the constant 'Customer#' prefix (common-prefix lemma: equal
    prefixes never participate in an optimal edit script).
    """
    # Rendered as ONE Spark-SQL text parse (r12): the 46-variant tree is
    # ~150 substring/concat operators, ~0.4 s of driver gateway latency
    # per query build at ~3 ms/operator (vectors.sp_double_dot note).
    # Same functions, same arguments — identical resolved tree, so the
    # canopy is bit-identical (parity-gated). The text is static, built
    # once at module import.
    d = f"substring(c_name, {_NAME_PREFIX_LEN + 1}, {_NAME_DIGITS})"

    def drop2(i: int, j: int) -> str:  # i < j, 1-based
        return (
            f"concat(substring({d}, 1, {i - 1}), "
            f"substring({d}, {i + 1}, {j - i - 1}), "
            f"substring({d}, {j + 1}, {_NAME_DIGITS - j}))"
        )

    def drop1(i: int) -> str:
        return (
            f"concat(substring({d}, 1, {i - 1}), "
            f"substring({d}, {i + 1}, {_NAME_DIGITS - i}))"
        )

    variants = [d]
    variants += [drop1(i) for i in range(1, _NAME_DIGITS + 1)]
    variants += [
        drop2(i, j)
        for i in range(1, _NAME_DIGITS + 1)
        for j in range(i + 1, _NAME_DIGITS + 1)
    ]
    # Join keys are variant *values* only: the theorem's matching
    # variants may arise from different deletion positions on each side
    # (indel pairs delete at different offsets), so tagging by position
    # would lose pairs. Variants of different deletion counts have
    # different lengths and can never collide. array_distinct collapses
    # duplicates (deleting any of k equal adjacent chars yields one
    # variant), shrinking the explode well below 46 rows/name.
    return F.expr(f"array_distinct(array({', '.join(variants)}))")


@register(
    "fuzzy_customer_pairs",
    oracle=f"""
SELECT a.c_nationkey,
       a.c_custkey AS custkey_a,
       b.c_custkey AS custkey_b,
       levenshtein(a.c_name, b.c_name) AS lev_dist,
       (FLOOR((1 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
               / GREATEST(LEN(a.c_name), LEN(b.c_name))) * 10000 + 0.5)
        / 10000) AS name_sim
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {_LEV_MAX}
""",
    survey=["fuzzy-match", "entity-resolution", "levenshtein", "blocking"],
)
def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: customer pairs whose names are within edit
    distance 2, found via a *deletion-neighborhood canopy* (SymSpell):
    each name emits its 46 <=2-deletion variants of the digit region;
    candidates are pairs sharing (nation, variant); exact levenshtein
    then verifies. Lossless for lev<=2, so the oracle remains the plain
    blocked all-pairs formulation and results are identical.

    Scale design: the previous canopy (nation only, 25 blocks) made
    within-block work O(|block|^2) -- quadratic blowup at 100x data.
    Deletion variants of a high-cardinality key are near-unique, so
    block sizes stay O(1) as the table grows: candidate volume is
    ~46 rows/name through an equi-join instead of |nation-block|^2
    comparisons. The per-pair levenshtein (JVM codegen, no Python) runs
    only on canopy survivors, and the distinct dedupes multi-variant
    matches before the verify filter."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # the 46-variant expression tree (~100 substring/concat nodes)
    # exceeds the codegen method limit and evaluates interpreted, so
    # variant generation is COMPUTE-bound: rebalance the skinny base
    # rows first (pca_projection rationale) so its parallelism doesn't
    # depend on the scan's split count — and both join branches reuse
    # the one exchange
    keyed = cust.repartition(spark.sparkContext.defaultParallelism).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.explode(_deletion_variants()).alias("vv"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.vv") == F.col("b.vv"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_nationkey").alias("c_nationkey"),
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    sim = F.lit(1) - dist.cast("double") / F.greatest(
        F.length("name_a"), F.length("name_b")
    )
    return (
        cand.filter(dist <= _LEV_MAX)
        .select(
            "c_nationkey",
            "custkey_a",
            "custkey_b",
            dist.alias("lev_dist"),
            dround(sim, 4).alias("name_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup resolution policy: keep the best document per duplicate cluster
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE mh AS ({MINHASH_LSH_SQL}),
p AS (SELECT doc_a, doc_b FROM mh WHERE est_jaccard >= {_CLUSTER_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
lab AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
ranked AS (
  SELECT l.cluster_id, l.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
  FROM lab l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS dropped_chars
FROM ranked
GROUP BY cluster_id
""",
    survey=["dedup-policy", "keep-best", "dedup-clusters"],
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RESOLUTION: after cluster discovery, pick the survivor per
    duplicate cluster by a deterministic quality key (longest document,
    doc_id tiebreak) and account for what gets dropped -- the policy
    step that turns a cluster map into an actual deduplicated corpus
    (and the numbers a data-card reports: docs and chars removed).

    Scale shape: the cluster map is node-sized (already small relative
    to the corpus); one equi-join to the documents table fetches the
    quality key, and the survivor choice is a max_by aggregate -- no
    window over the corpus, no shuffle beyond the cluster-keyed agg.
    """
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = clusters.join(quality, "doc_id")
    # survivor = arg-max of (n_chars asc, doc_id desc) inverted -> struct
    # ordering makes max_by pick highest n_chars, then LOWEST doc_id
    pref = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    return keyed.groupBy("cluster_id").agg(
        F.max_by("doc_id", pref).alias("kept_doc_id"),
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") - F.max_by("n_chars", pref)).alias("dropped_chars"),
    )


# ---------------------------------------------------------------------------
# Dedup QA rollup: per-source duplication rate
# ---------------------------------------------------------------------------

DEDUP_RATE_SQL = f"""
WITH corpus AS (
  SELECT source, doc_id, text FROM documents
  UNION ALL
  SELECT source, doc_id + 10000 AS doc_id, text
  FROM documents WHERE doc_id < 100
),
fp AS (SELECT source, MD5({NORM_SQL}) AS fp FROM corpus),
g AS (SELECT source, fp, COUNT(*) AS n FROM fp GROUP BY source, fp)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
         AS n_redundant,
       FLOOR(CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS DOUBLE)
             / SUM(n) * 1000000 + 0.5) / 1000000 AS dup_rate
FROM g
GROUP BY source
"""


@register(
    "dedup_rate_by_source",
    oracle=DEDUP_RATE_SQL,
    survey=["dedup-exact", "data-quality", "rollup"],
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA rollup: per-source document counts, unique-fingerprint
    counts, redundant-copy counts, and the duplication rate -- the
    monitoring metric a curation pipeline tracks per crawl/source to
    catch a feed that started re-sending content. Uses the shared
    corpus-with-known-duplicates so the rate is provably non-zero.

    Scale shape: two cascaded hash aggregates ((source, fp) then
    source), both map-side combinable; no window, no join, no sort.
    The (source, fp) grain is the dedup shuffle the pipeline already
    pays -- this rollup rides it for free as a second-stage rollup."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") < 100).select(
            "source", (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    g = (
        corpus.select("source", fingerprint("text").alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    red = F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
    return g.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        red.alias("n_redundant"),
        (F.floor(red.cast("double") / F.sum("n") * 1000000 + 0.5) / 1000000).alias(
            "dup_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Dedup quality evaluation: LSH candidate recall vs exact Jaccard truth
# ---------------------------------------------------------------------------

DEDUP_RECALL_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
shd AS (
  SELECT doc_id, LIST_DISTINCT({WORD_SHINGLES_SQL}) AS sh FROM corpus
),
ex AS (SELECT doc_id, LEN(sh) AS n_sh, UNNEST(sh) AS s FROM shd),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MAX(a.n_sh) AS na, MAX(b.n_sh) AS nb, COUNT(*) AS ninter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  WHERE ninter * 2 >= na + nb - ninter
),
mh AS ({MINHASH_LSH_SQL}),
cand AS (SELECT DISTINCT doc_a, doc_b FROM mh),
hits AS (
  SELECT COUNT(*) AS n_hits
  FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       h.n_hits,
       CAST(h.n_hits AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) AS recall
FROM hits h
"""


@register(
    "dedup_recall_eval",
    oracle=DEDUP_RECALL_SQL,
    survey=["dedup-eval", "recall", "inverted-index"],
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash+LSH candidate generator against exact
    ground truth: true near-dup pairs are (Jaccard >= 0.5) over the
    same word-3-gram shingle space, computed WITHOUT an all-pairs scan
    via an inverted-index self-join (docs sharing at least one shingle
    are the only pairs with nonzero intersection). The 0.5 threshold is
    the integer-exact test 2*|Anb| >= |AuB|, so no float compare
    decides membership.

    Scale: the inverted-index join shuffles on the shingle -- hot
    shingles (stopword trigrams) are the skew risk; production prunes
    shingles with document frequency above a cutoff (they cannot
    certify a 0.5-Jaccard pair on their own but dominate join fan-out).
    The LSH side reuses the banded candidate pipeline unchanged; this
    evaluation is the tuning loop for (bands, rows-per-band).
    """
    corpus = _corpus(spark, sf_dir)
    toks_df = corpus.select(
        "doc_id", F.split(normalize_text("text"), " ").alias("toks")
    )
    ex = (
        toks_df.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - 2, F.lit(1)))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.try_element_at("toks", F.col("i") + j) for j in range(3)]
            ).alias("s"),
        )
        .distinct()
        .persist()
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("ninter") * 2 >= F.col("na") + F.col("nb") - F.col("ninter"))
        .select("doc_a", "doc_b")
    )
    cand = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").distinct()
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = (
        truth.join(cand, ["doc_a", "doc_b"])
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hits)
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_true")).alias("recall"),
        )
    )
    ex.unpersist()
    return out


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (suffix-style dedup, Lee et al. 2022 class)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # tokens per span
_SPAN_MIN_SHARED = 3  # pair survives with >= this many shared spans
_SPAN_MAX_DF = 50  # spans in more docs than this are boilerplate, not dup


@register(
    "substring_dup_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + {_SPAN_K - 1}), ' ') AS span
  FROM toks, UNNEST(range(1, len(t) - {_SPAN_K - 2})) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
keep AS (
  SELECT span FROM spans GROUP BY span
  HAVING COUNT(*) <= {_SPAN_MAX_DF} AND COUNT(*) >= 2
),
hits AS (SELECT s.doc_id, s.span FROM spans s JOIN keep k ON s.span = k.span)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_spans
FROM hits a
JOIN hits b ON a.span = b.span AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_SPAN_MIN_SHARED}
""",
    survey=["exact-substring-dedup", "ngram", "bucketed-join", "dedup"],
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection: document pairs sharing at
    least {min_shared} verbatim {k}-token spans — the contiguous-overlap
    signal suffix-array dedup pipelines use (vs MinHash's bag-of-shingles
    similarity), found without any suffix structure: each doc emits its
    distinct {k}-gram spans and pairs form through a span-keyed
    equi-join.

    Scale design: span emission is row-local (split + slice/transform,
    no shuffle); the only wide operations key on the span itself — a
    doc-frequency aggregate and the pair join — i.e. bucketed by
    content-hash exactly like MinHash banding, never all-pairs. The
    doc-frequency gate (df in [2, {max_df}]) drops both singleton spans
    (cannot form a pair; typically ~95% of volume) *and* boilerplate
    spans — the skew defense: a span shared by thousands of docs would
    otherwise contribute O(df^2) join rows. At 100 TB the span string
    would be replaced by its 128-bit hash before the shuffle (same
    join, fixed-width key); here the string keeps the oracle exact.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _SPAN_K
    )
    span_arr = F.expr(
        f"transform(sequence(1, size(t) - {_SPAN_K - 1}), "
        f"i -> array_join(slice(t, i, {_SPAN_K}), ' '))"
    )
    spans = (
        toks.select("doc_id", F.explode(span_arr).alias("span")).distinct()
    )
    keep = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") <= _SPAN_MAX_DF) & (F.col("df") >= 2))
        .select("span")
    )
    hits = spans.join(keep, "span")
    a = hits.select(
        F.col("doc_id").alias("doc_a"), F.col("span").alias("span_a")
    )
    b = hits.select(
        F.col("doc_id").alias("doc_b"), F.col("span").alias("span_b")
    )
    return (
        a.join(
            b,
            (F.col("span_a") == F.col("span_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= _SPAN_MIN_SHARED)
    )


substring_dup_spans.__doc__ = substring_dup_spans.__doc__.format(
    k=_SPAN_K, min_shared=_SPAN_MIN_SHARED, max_df=_SPAN_MAX_DF
)


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: nibble banding + hamming verify (closes the loop)
# ---------------------------------------------------------------------------

_SIMHASH_MAX_HAMMING = 2  # banding into 4 nibbles is LOSSLESS for <= 3


@register(
    "simhash_neardup_pairs",
    oracle=f"""
WITH sig AS ({SIMHASH_SQL}),
nib AS (
  SELECT doc_id, simhash, j,
         CAST(FLOOR(simhash / POWER(16, j)) % 16 AS INT) AS v
  FROM sig, UNNEST(range(0, 4)) AS t(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM nib a JOIN nib b
    ON a.j = b.j AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_MAX_HAMMING}
""",
    survey=["dedup-simhash", "banding", "hamming", "near-dup"],
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash taken all the way to PAIRS: band each 16-bit signature
    into 4 nibbles, candidate pairs share any (band, nibble), verify
    with exact hamming distance <= 2. Pigeonhole makes the banding
    LOSSLESS here: <= 3 differing bits can touch at most 3 of the 4
    nibbles, so every qualifying pair shares one intact nibble — no
    recall loss, unlike probabilistic MinHash banding.

    Scale shape: the signature is one hash-agg per doc (simhash_docs);
    banding explodes 4 small rows per doc and the candidate join keys
    on (band, nibble) — the only wide operation, content-bucketed like
    LSH, never all-pairs. The verify (xor + bit_count) is a pure
    integer op on candidate survivors. At 64-bit signatures the same
    plan uses 8-bit bands; skewed bands (a nibble value shared by a
    huge doc population) salt exactly like any hot join key."""
    corpus = _corpus(spark, sf_dir)
    toks = corpus.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int").alias("h"),
    )
    sig = (
        hashed.groupBy("doc_id")
        .agg(*[F.expr(e) for e in _BIT_SUM_EXPRS])
        .select("doc_id", F.expr(_ASSEMBLE_EXPR).alias("simhash"))
        .persist()
    )
    nib = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
    ).select(
        "doc_id",
        "j",
        (
            F.floor(F.col("simhash") / F.pow(F.lit(16), F.col("j"))) % 16
        ).cast("int").alias("v"),
    )
    a = nib.select(
        F.col("doc_id").alias("doc_a"),
        F.col("j").alias("ja"),
        F.col("v").alias("va"),
    )
    b = nib.select(
        F.col("doc_id").alias("doc_b"),
        F.col("j").alias("jb"),
        F.col("v").alias("vb"),
    )
    cand = (
        a.join(
            b,
            (F.col("ja") == F.col("jb"))
            & (F.col("va") == F.col("vb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    )
    ham = F.expr("bit_count(sh_a ^ sh_b)").cast("int")
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .localCheckpoint()
    )
    sig.unpersist()
    return out


# ---------------------------------------------------------------------------
# Entity-resolution clusters: connected components over fuzzy-match pairs
# ---------------------------------------------------------------------------


@register(
    "fuzzy_customer_clusters",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM customer a
  JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {_LEV_MAX}
),
edges AS (
  SELECT ka AS src, kb AS dst FROM p
  UNION ALL
  SELECT kb, ka FROM p
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
lab AS (SELECT id AS c_custkey, MIN(comp) AS entity_id FROM reach GROUP BY id)
SELECT c_custkey, entity_id,
       COUNT(*) OVER (PARTITION BY entity_id) AS entity_size
FROM lab
""",
    survey=[
        "entity-resolution", "connected-components", "fuzzy-match",
        "iterative",
    ],
    bench=True,
)
def fuzzy_customer_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution taken to RESOLVED ENTITIES: connected
    components over the fuzzy-match pair graph
    (fuzzy_customer_pairs' SymSpell canopy + levenshtein verify), so
    A≈B and B≈C collapse into one entity even when A≈C never matched
    directly — the transitive-closure step every MDM/dedup system runs
    after pairwise scoring. Same min-label propagation loop as
    dedup_clusters (one join + a min agg per round, lineage truncated,
    only the convergence flag reaches the driver); components here are
    near-cliques, so it converges in 2-3 rounds.

    Scale shape: edge generation inherits the lossless deletion-
    neighborhood canopy (O(1) block sizes); the propagation joins key
    on node id — uniform; entity_size comes from a window over the
    final labels (entity-count-sized)."""
    pairs = fuzzy_customer_pairs(spark, sf_dir).select(
        F.col("custkey_a").alias("ka"), F.col("custkey_b").alias("kb")
    )
    labels = _min_label_propagate(pairs)
    w = Window.partitionBy("entity_id")
    return labels.select(
        F.col("id").alias("c_custkey"), F.col("comp").alias("entity_id")
    ).withColumn("entity_size", F.count(F.lit(1)).over(w))


# ---------------------------------------------------------------------------
# Global chunk-level scrub: remove repeated verbatim chunks corpus-wide
# ---------------------------------------------------------------------------

_SCRUB_CHUNK = 8  # tokens per non-overlapping chunk
_SCRUB_POS_BASE = 1000000  # cidx < 1e6 by construction (docs are bounded)

CHUNK_SCRUB_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
  SELECT doc_id, i AS cidx,
         array_to_string(
           list_slice(t, i * {_SCRUB_CHUNK} + 1, (i + 1) * {_SCRUB_CHUNK}),
           ' ') AS chunk
  FROM toks,
       UNNEST(range(0, CAST(CEIL(len(t) / {_SCRUB_CHUNK}.0) AS BIGINT)))
         AS u(i)
),
keep AS (
  SELECT chunk,
         MIN(doc_id * {_SCRUB_POS_BASE} + cidx) AS keeper
  FROM chunks GROUP BY chunk
),
kept AS (
  SELECT c.doc_id, c.cidx, c.chunk
  FROM chunks c JOIN keep k
    ON c.chunk = k.chunk
   AND c.doc_id * {_SCRUB_POS_BASE} + c.cidx = k.keeper
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(k.cidx) AS BIGINT) AS n_kept,
       COALESCE(
         string_agg(k.chunk, ' ' ORDER BY c.cidx), '') AS text_scrubbed
FROM chunks c
LEFT JOIN kept k ON c.doc_id = k.doc_id AND c.cidx = k.cidx
GROUP BY c.doc_id
"""


@register(
    "chunk_dedup_scrub",
    oracle=CHUNK_SCRUB_SQL,
    survey=["exact-substring-dedup", "scrub", "dedup", "corpus-rewrite"],
    bench=True,
)
def chunk_dedup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring removal (the scrub variant of Lee et
    al. 2022's dedup: not just DETECTING repeated spans — substring_
    dup_spans does that — but REWRITING the corpus): every verbatim
    {k}-token chunk keeps exactly its globally-first occurrence
    (smallest (doc_id, position)) and later repeats are dropped; each
    doc is reassembled from its surviving chunks in order. Emits the
    rewritten text plus before/after chunk counts per doc.

    Determinism: the keeper is the MIN of an integer (doc_id *
    {base} + position) encoding, and reassembly sorts the surviving
    struct array by position before joining — no order-sensitive
    collect anywhere.

    Scale shape: chunk emission is row-local (split + slice, no
    shuffle); the keeper election is ONE map-side-combinable MIN
    aggregate keyed on the chunk string — content-hash bucketing,
    identical to the exact-dedup shape, boilerplate chunks cost one
    MIN row no matter their frequency (contrast pair-joins, which are
    O(df^2) and need a df cap). The keep-test joins back on the chunk
    key (same partitioning, AQE-reused exchange), and reassembly is
    one doc_id-keyed aggregate over bounded arrays. At 100 TB chunk
    strings can be replaced by 128-bit fingerprints to shrink the
    shuffle payload; the plan is unchanged."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks_col = F.ceil(F.size("t") / F.lit(float(_SCRUB_CHUNK))).cast(
        "int"
    )
    chunks = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks_col - 1)).alias("cidx"),
        "t",
    ).select(
        "doc_id",
        "cidx",
        F.array_join(
            F.slice(
                "t",
                F.col("cidx") * _SCRUB_CHUNK + 1,
                F.lit(_SCRUB_CHUNK),
            ),
            " ",
        ).alias("chunk"),
    )
    keep = chunks.groupBy("chunk").agg(
        F.min(F.col("doc_id") * _SCRUB_POS_BASE + F.col("cidx")).alias(
            "keeper"
        )
    )
    flagged = chunks.join(keep, "chunk").select(
        "doc_id",
        "cidx",
        "chunk",
        (
            F.col("doc_id") * _SCRUB_POS_BASE + F.col("cidx")
            == F.col("keeper")
        ).alias("is_kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_kept"),
                            F.struct("cidx", "chunk"),
                        )
                    )
                ),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("text_scrubbed"),
    )


chunk_dedup_scrub.__doc__ = chunk_dedup_scrub.__doc__.format(
    k=_SCRUB_CHUNK, base=_SCRUB_POS_BASE
)


# ---------------------------------------------------------------------------
# Incremental ingest: dedup a delta batch against a historical index
# ---------------------------------------------------------------------------

_IDX_SPLIT = 400  # doc_id < 400 -> historical index; rest -> delta
_DELTA_COPY_N = 50  # delta re-crawls of indexed docs (exact + near dups)
# Synthetic delta doc_ids are offset far above any generated corpus's
# doc_id range (sf1 ~50k docs; 10M is safe at any plausible SF) so the
# 'recrawl'/'near-dup' ids can never collide with real documents —
# round-3 ADVICE: +40000/+50000 collided with real ids at sf1.
_RECRAWL_OFFSET = 10_000_000
_NEARDUP_OFFSET = 20_000_000

IDX_SQL = f"SELECT doc_id, text FROM documents WHERE doc_id < {_IDX_SPLIT}"
DELTA_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id >= {_IDX_SPLIT}
  UNION ALL
  SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id < {_DELTA_COPY_N}
  UNION ALL
  SELECT doc_id + {_NEARDUP_OFFSET} AS doc_id, text || ' qq zz' AS text
  FROM documents WHERE doc_id < {_DELTA_COPY_N}
"""

INCR_INGEST_SQL = f"""
WITH idx AS ({IDX_SQL}),
delta AS ({DELTA_SQL}),
ifp AS (SELECT DISTINCT MD5({NORM_SQL}) AS fp FROM idx),
dfp AS (SELECT doc_id, MD5({NORM_SQL}) AS fp FROM delta),
dd AS (
  SELECT d.doc_id, d.fp,
         i.fp IS NOT NULL AS in_index,
         MIN(d.doc_id) OVER (PARTITION BY d.fp) AS first_in_delta
  FROM dfp d LEFT JOIN ifp i ON d.fp = i.fp
)
SELECT doc_id, fp,
       CASE WHEN in_index THEN 'dup_of_index'
            WHEN doc_id > first_in_delta THEN 'dup_in_delta'
            ELSE 'new' END AS status
FROM dd
"""


def _idx_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _IDX_SPLIT)
        .select("doc_id", "text")
    )


def _delta_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fresh = docs.filter(F.col("doc_id") >= _IDX_SPLIT).select(
        "doc_id", "text"
    )
    recrawl = docs.filter(F.col("doc_id") < _DELTA_COPY_N).select(
        (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") < _DELTA_COPY_N).select(
        (F.col("doc_id") + _NEARDUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
    )
    return fresh.unionAll(recrawl).unionAll(near)


@register(
    "incremental_corpus_ingest",
    oracle=INCR_INGEST_SQL,
    survey=["incremental-dedup", "dedup-exact", "ingest", "J1-family"],
)
def incremental_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest exact dedup: classify every delta document against
    the historical fingerprint index — 'dup_of_index' (already
    crawled), 'dup_in_delta' (repeated within today's batch, keep the
    first), or 'new'. This is the shape that makes dedup INCREMENTAL
    at 100 TB: the petabyte-scale history is touched only through its
    fingerprint column (read once, joined by hash), never re-deduped.

    Scale shape: the index side projects to ONE md5 column before the
    join (column pruning reaches the scan); the join keys on the
    fingerprint — uniform by construction. Within-delta keep-first is
    a window over the same fp key, so it rides the join's exchange.
    In production the index fp column is a bucketed table on fp; the
    join is then co-located and shuffle-free."""
    ifp = _idx_corpus(spark, sf_dir).select(
        fingerprint("text").alias("ifp")
    ).distinct()
    dfp = _delta_corpus(spark, sf_dir).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    w = Window.partitionBy("fp")
    dd = (
        dfp.join(ifp, F.col("fp") == F.col("ifp"), "left")
        .withColumn("in_index", F.col("ifp").isNotNull())
        .withColumn("first_in_delta", F.min("doc_id").over(w))
    )
    return dd.select(
        "doc_id",
        "fp",
        F.when(F.col("in_index"), F.lit("dup_of_index"))
        .when(
            F.col("doc_id") > F.col("first_in_delta"), F.lit("dup_in_delta")
        )
        .otherwise(F.lit("new"))
        .alias("status"),
    )


INCR_NEARDUP_SQL = f"""
WITH idx AS ({IDX_SQL}),
delta AS ({DELTA_SQL}),
sig_i AS ({_sig_sql('idx')}),
sig_d AS ({_sig_sql('delta')}),
bands_i AS ({_bands_sql('sig_i')}),
bands_d AS ({_bands_sql('sig_d')}),
pairs AS (
  SELECT DISTINCT i.doc_id AS index_id, d.doc_id AS delta_id
  FROM bands_i i JOIN bands_d d
    ON i.band = d.band AND i.bsig = d.bsig
)
SELECT index_id, delta_id,
       ({" + ".join(f"(CASE WHEN si.h{j} = sd.h{j} THEN 1 ELSE 0 END)" for j in range(N_MINHASH))})
         / {N_MINHASH}.0 AS est_jaccard
FROM pairs
JOIN sig_i si ON si.doc_id = index_id
JOIN sig_d sd ON sd.doc_id = delta_id
"""


@register(
    "incremental_neardup_probe",
    oracle=INCR_NEARDUP_SQL,
    survey=["incremental-dedup", "dedup-minhash-lsh", "probe-join"],
)
def incremental_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PROBE of a delta batch against a historical MinHash/LSH
    index: today's documents are signed and banded, then joined against
    the (pre-materialized, in production) index bands — an asymmetric
    build/probe join, NOT the corpus self-join the batch
    minhash_lsh_pairs runs. Emits (index doc, delta doc) candidates
    with signature-estimated Jaccard; re-crawled and lightly-edited
    pages surface, genuinely new pages don't.

    Scale shape: the history contributes 8 longs + {nb} band rows per
    doc (the index table), never text; the probe joins on (band, bsig)
    — content-bucketed, sub-linear in the pair space exactly like the
    self-join variant, but the per-day cost is O(delta) signatures
    plus a delta-vs-index bucket join instead of re-banding the whole
    corpus. Signature tables persist only for the duration of the
    probe (both sides feed the join once and the estimate re-reads
    them — same CSE rationale as minhash_lsh_pairs)."""
    sig_i = _minhash_signatures(_idx_corpus(spark, sf_dir)).persist()
    sig_d = _minhash_signatures(_delta_corpus(spark, sf_dir)).persist()
    bands_i = _minhash_bands(sig_i).alias("a")
    bands_d = _minhash_bands(sig_d).alias("b")
    est = sum(
        F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        for j in range(N_MINHASH)
    ) / float(N_MINHASH)
    pairs = (
        bands_i.join(
            bands_d,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig")),
        )
        .select(
            F.col("a.doc_id").alias("index_id"),
            F.col("b.doc_id").alias("delta_id"),
            est.alias("est_jaccard"),
        )
        .distinct()
        .localCheckpoint()
    )
    sig_i.unpersist()
    sig_d.unpersist()
    return pairs


incremental_neardup_probe.__doc__ = incremental_neardup_probe.__doc__.format(
    nb=N_BANDS
)


# ---------------------------------------------------------------------------
# LSH banding design table: all (bands x rows) configs from ONE signature set
# ---------------------------------------------------------------------------

# (bands, rows-per-band) with bands*rows = N_MINHASH; '8x1' is the most
# permissive (highest recall, most candidates), '1x8' the strictest.
_LSH_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]


def _tuning_bands_sql(sig_name: str = "sig") -> str:
    branches = []
    for bands, rows in _LSH_CONFIGS:
        cfg = f"{bands}x{rows}"
        for b in range(bands):
            cols = [f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)]
            bsig = " || '_' || ".join(cols)
            branches.append(
                f"SELECT doc_id, '{cfg}' AS cfg, {b} AS band, "
                f"{bsig} AS bsig FROM {sig_name}"
            )
    return " UNION ALL ".join(branches)


LSH_TUNING_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sig AS MATERIALIZED ({_sig_sql()}),
allbands AS ({_tuning_bands_sql()}),
buckets AS (
  SELECT cfg, band, bsig, CAST(COUNT(*) AS BIGINT) AS n
  FROM allbands GROUP BY cfg, band, bsig
)
SELECT cfg,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singleton_buckets,
       CAST(MAX(n) AS BIGINT) AS max_bucket_size,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
FROM buckets
GROUP BY cfg
"""


@register(
    "lsh_banding_design",
    oracle=LSH_TUNING_SQL,
    survey=["minhash-lsh", "dedup", "tuning", "candidate-accounting"],
)
def lsh_banding_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table: for every (bands x rows) split of the
    SAME {k}-minhash signature set — 8x1, 4x2, 2x4, 1x8 — the bucket
    census and the exact candidate-pair bill (sum of C(n,2) over
    buckets). This is the table you read before fixing a banding for a
    100 TB dedup run: recall rises with more/narrower bands while the
    candidate count (the join's cost driver) rises with it, and the
    crossing point depends on the corpus's actual near-dup density,
    not the textbook S-curve.

    One signature pass serves every config: each doc emits its
    {nb15} (cfg, band, bsig) rows from one generator expression, then
    a single (cfg, band, bsig) count — map-side combinable — and a
    per-cfg rollup. No pair materialization anywhere: C(n,2) is
    computed from bucket sizes, so the most permissive config is
    costed WITHOUT paying for its pairs."""
    corpus = _corpus(spark, sf_dir)
    sig = _minhash_signatures(corpus)
    band_structs = []
    for bands, rows in _LSH_CONFIGS:
        cfg = f"{bands}x{rows}"
        for b in range(bands):
            band_structs.append(
                F.struct(
                    F.lit(cfg).alias("cfg"),
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"h{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    ).alias("bsig"),
                )
            )
    allbands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.cfg", "bb.band", "bb.bsig")
    buckets = allbands.groupBy("cfg", "band", "bsig").agg(
        F.count(F.lit(1)).alias("n")
    )
    return buckets.groupBy("cfg").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singleton_buckets"),
        F.max("n").cast("long").alias("max_bucket_size"),
        F.expr("SUM(n * (n - 1) DIV 2)")
        .cast("long")
        .alias("n_candidate_pairs"),
    )


lsh_banding_design.__doc__ = lsh_banding_design.__doc__.format(
    k=N_MINHASH, nb15=sum(b for b, _ in _LSH_CONFIGS)
)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: windowed-hash boundaries (round 9)
# ---------------------------------------------------------------------------

from flights_etl_pipeline_spark.functions.text import (  # noqa: E402
    ROLLING_BASE,
    ROLLING_MOD,
)

_CDC_W = 8  # boundary decision window (chars)
_CDC_DIV = 64  # boundary density: ~1/64 eligible positions => ~64-char chunks
_CDC_POWS = [ROLLING_BASE**j for j in range(_CDC_W)]
_CDC_TOPK = 100


def _cdc_whash_sql(i: str) -> str:
    """Window hash at 1-based char position ``i`` (DuckDB side): the
    Rabin-Karp hash of the last _CDC_W chars, expanded positionally —
    no per-position fold, one mod at the end (powers*255*W < 2^63)."""
    terms = " + ".join(
        f"a[{i} - {j}] * {p}" for j, p in enumerate(_CDC_POWS)
    )
    return f"(({terms}) % {ROLLING_MOD})"


CDC_CHUNK_SQL = f"""
WITH prep AS (
  SELECT doc_id,
         text,
         LENGTH(text) AS n,
         list_transform(string_split(text, ''),
                        c -> CAST(ascii(c) AS BIGINT)) AS a
  FROM documents
  WHERE text IS NOT NULL
),
bounded AS (
  SELECT doc_id, text,
         list_concat(list_concat([CAST(0 AS BIGINT)],
           list_filter(range(CAST({_CDC_W} AS BIGINT), CAST(n AS BIGINT)),
                       i -> {_cdc_whash_sql('i')} % {_CDC_DIV} = 0)),
           [CAST(n AS BIGINT)]) AS bounds
  FROM prep
),
chunks AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, LEN(bounds)),
                k -> substr(text, CAST(bounds[k] + 1 AS INT),
                            CAST(bounds[k + 1] - bounds[k] AS INT)))) AS chunk
  FROM bounded
)
SELECT md5(chunk) AS chunk_hash,
       CAST(MIN(LENGTH(chunk)) AS BIGINT) AS chunk_len,
       COUNT(*) AS n_occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM chunks
GROUP BY md5(chunk)
HAVING COUNT(*) > 1
ORDER BY n_occ DESC, chunk_hash
LIMIT {_CDC_TOPK}
"""


@register(
    "cdc_chunk_dedup",
    oracle=CDC_CHUNK_SQL,
    survey=["dedup-cdc", "content-defined-chunking", "rolling-hash"],
    bench=True,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the rsync/LBFS/backup-store
    technique corpus pipelines use where FIXED chunks fail: a chunk
    boundary falls after char i whenever the Rabin-Karp hash of the
    trailing {w}-char window divides {d}, so boundaries are a function
    of LOCAL content only. An insertion re-chunks just its neighborhood
    (every later chunk hash is unchanged), unlike `chunk_dedup_scrub`'s
    fixed windows where one inserted byte shifts every downstream chunk.

    Engine-portable by construction: the window hash is the positional
    expansion of functions.text.rolling_hash over the last {w} chars
    (powers of {b} mod {m}; max term sum < 2^63, one mod at the end) —
    NO sequential per-position fold. Average chunk length ≈ {d} chars;
    no min/max chunk clamps (they would reintroduce the sequential
    dependence — production CDC accepts the geometric size
    distribution instead).

    The boundary scan is a vectorized Arrow stage (mapInPandas), not a
    JVM higher-order filter: the hash at every position is {w} SHIFTED
    VECTOR multiply-adds over the codepoint array in numpy int64 —
    bit-identical integer math to the oracle's positional expansion
    (codepoints via utf-32 decode == ascii()/DuckDB code points; max
    term sum < 2^63 so int64 never wraps). The interpreted-HOF
    formulation this replaced evaluated 8 element_at ops per char per
    doc (~21 s single-task at sf0.1 — the r9 bench flagged it); the
    vectorized stage is ~20x cheaper and identical in output.

    Scale: chunking is embarrassingly row-local (scan → Arrow-batched
    project — the same shape at 100 TB); the only exchange is the
    chunk-hash aggregate, map-side combinable, keyed on the hash (the
    natural dedup shuffle key). Output: the top duplicated chunks with
    occurrence and document counts — the manifest a scrub pass feeds
    on (cf. reference transformToSilver.py's dedup intent, rebuilt
    at chunk granularity).
    """
    import numpy as np

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pows = np.array(_CDC_POWS, dtype=np.int64)
    w, div, mod = _CDC_W, _CDC_DIV, ROLLING_MOD

    def _chunks(batches):
        import pandas as pd

        for pdf in batches:
            out_ids, out_chunks = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                a = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(a)
                if n >= w + 1:
                    # h[t] = sum_j a[i-j]*31^j for boundary position
                    # i in [w .. n-1] (1-based), i.e. windows ending at
                    # 0-based index i-1 in [w-1 .. n-2]
                    h = np.zeros(n - w, dtype=np.int64)
                    for j in range(w):
                        h += a[w - 1 - j : n - 1 - j] * pows[j]
                    cut = np.nonzero(h % mod % div == 0)[0] + w
                else:
                    cut = np.empty(0, dtype=np.int64)
                bounds = np.concatenate(([0], cut, [n]))
                for lo, hi in zip(bounds[:-1], bounds[1:]):
                    out_ids.append(doc_id)
                    out_chunks.append(text[lo:hi])
            yield pd.DataFrame({"doc_id": out_ids, "chunk": out_chunks})

    chunks = docs.select("doc_id", "text").mapInPandas(
        _chunks, schema="doc_id LONG, chunk STRING"
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.min(F.length("chunk")).cast("long").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") > 1)
        .orderBy(F.col("n_occ").desc(), "chunk_hash")
        .limit(_CDC_TOPK)
    )


cdc_chunk_dedup.__doc__ = cdc_chunk_dedup.__doc__.format(
    w=_CDC_W, d=_CDC_DIV, b=ROLLING_BASE, m=ROLLING_MOD
)


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage: EM-fitted m/u weights (round 9)
# ---------------------------------------------------------------------------

_FS_ITERS = 3
_FS_INIT = (0.05, 0.9, 0.1)  # p0, m0 (all features), u0 (all features)
_FS_Q = 10**12  # parameter/weight quantization (exact-int M-steps)
_FS_FEATURES = ("name_eq", "seg_eq", "bal_exact", "bal_close")

_FS_BASE_SQL = """
SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat, c_mktsegment AS seg,
       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
FROM customer
"""
# deterministic twin injection (the _corpus pattern): custkey < 100
# re-enters at +1e6 with identical name/segment; every second twin's
# balance shifts by 50 cents so the match class spans both bal patterns
_FS_TWINS_SQL = """
SELECT c_custkey + 1000000 AS k, c_name AS nm, c_nationkey AS nat,
       c_mktsegment AS seg,
       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
         + CASE WHEN c_custkey % 2 = 0 THEN 50 ELSE 0 END AS cents
FROM customer WHERE c_custkey < 100
"""

_FS_PATTERN_SQL = f"""
WITH ent AS MATERIALIZED ({_FS_BASE_SQL} UNION ALL {_FS_TWINS_SQL}),
pairs AS (
  SELECT CASE WHEN a.nm = b.nm THEN 1 ELSE 0 END AS g1,
         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g2,
         CASE WHEN a.cents = b.cents THEN 1 ELSE 0 END AS g3,
         CASE WHEN ABS(a.cents - b.cents) <= 100 THEN 1 ELSE 0 END AS g4
  FROM ent a JOIN ent b ON a.nat = b.nat AND a.k < b.k
)
SELECT g1, g2, g3, g4, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY g1, g2, g3, g4
"""


def _fs_em_sql() -> str:
    """EM unrolled over the 16-row gamma-pattern table. Every w and
    every parameter is quantized to 1e-12 units immediately, so all
    M-step sums are EXACT integers and the fit is bit-identical across
    engines and aggregation orders (pagerank's quantized-contribution
    discipline applied to EM)."""
    p0, m0, u0 = _FS_INIT
    params = (
        f"SELECT {p0!r} AS p, "
        + ", ".join(f"{m0!r} AS m{j}, {u0!r} AS u{j}" for j in range(1, 5))
    )
    stages = [f"pat AS MATERIALIZED ({_FS_PATTERN_SQL})", f"par0 AS ({params})"]
    for it in range(1, _FS_ITERS + 1):
        prev = f"par{it - 1}"
        ma = " * ".join(
            f"(CASE WHEN g{j} = 1 THEN m{j} ELSE 1 - m{j} END)"
            for j in range(1, 5)
        )
        ub = " * ".join(
            f"(CASE WHEN g{j} = 1 THEN u{j} ELSE 1 - u{j} END)"
            for j in range(1, 5)
        )
        stages.append(
            f"""e{it} AS MATERIALIZED (
  SELECT g1, g2, g3, g4, n,
         CAST(FLOOR(p * {ma} / (p * {ma} + (1 - p) * {ub})
              * {_FS_Q} + 0.5) AS BIGINT) AS wq
  FROM pat CROSS JOIN {prev})"""
        )
        msums = ", ".join(
            f"SUM(n * wq * g{j}) AS sm{j}, "
            f"SUM(n * ({_FS_Q} - wq) * g{j}) AS su{j}"
            for j in range(1, 5)
        )
        # clamp into [1/Q, 1-1/Q]: a feature never seen in one class
        # (e.g. no NON-match pair shares a name) would otherwise drive
        # u to exactly 0 and the log2 weight to infinity
        clamp = (
            "LEAST(GREATEST(FLOOR({{num}} / {{den}} * {q} + 0.5), 1), {qm1})"
            " / {q}"
        ).format(q=_FS_Q, qm1=_FS_Q - 1)
        newparams = ", ".join(
            clamp.format(num=f"CAST(sm{j} AS DOUBLE)", den="CAST(sw AS DOUBLE)")
            + f" AS m{j}, "
            + clamp.format(
                num=f"CAST(su{j} AS DOUBLE)", den="CAST(snw AS DOUBLE)"
            )
            + f" AS u{j}"
            for j in range(1, 5)
        )
        stages.append(
            f"""par{it} AS MATERIALIZED (
  SELECT FLOOR(CAST(sw AS DOUBLE) / (CAST(sn AS DOUBLE) * {_FS_Q})
         * {_FS_Q} + 0.5) / {_FS_Q} AS p, {newparams}
  FROM (SELECT SUM(n * wq) AS sw, SUM(n * ({_FS_Q} - wq)) AS snw,
               SUM(n) AS sn, {msums}
        FROM e{it}))"""
        )
    last = f"par{_FS_ITERS}"
    outs = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, m{j} AS m, u{j} AS u, "
        f"FLOOR(LOG2(m{j} / u{j}) * 1000000 + 0.5) / 1000000 AS weight, "
        f"p AS p_match FROM {last}"
        for j, name in enumerate(_FS_FEATURES, start=1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + outs


@register(
    "fellegi_sunter_em",
    oracle=_fs_em_sql(),
    survey=["record-linkage", "fellegi-sunter", "em", "entity-resolution"],
)
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage a la Fellegi-Sunter: fit per-feature
    match/non-match agreement probabilities (m, u) and the match prior
    p by unsupervised EM over candidate-pair agreement patterns, then
    emit each feature's log2(m/u) agreement weight -- the score table a
    production linker (Splink-style) thresholds pairs with. Features:
    exact name, market segment, exact balance cents, balance within a
    dollar; deterministic twin injection (the _corpus pattern) plants a
    true-match class.

    The EM NEVER iterates over pairs: with 4 binary features there are
    only 16 gamma patterns, so ONE corpus-scale aggregate compresses
    all pairs to pattern counts and every EM iteration is arithmetic
    over <= 16 rows -- Spark collects that O(1) channel and fits
    driver-side (frozen-model precedent); the oracle unrolls the SAME
    schedule as SQL stages. Every E-step weight and every parameter is
    quantized at 1e-12 before any sum, so M-step sums are exact
    integers and the fit is bit-identical across engines and
    aggregation orders regardless of float summation order.

    Scale: the only corpus-sized work is the blocked self-join and one
    map-combinable 16-group aggregate; nation blocking is the DEMO
    choice (block sizes grow with the table -- production swaps in the
    fuzzy_customer_pairs deletion canopy, which keeps blocks O(1));
    EM cost is independent of data size."""
    import math

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("nm"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        cents.alias("cents"),
    )
    twins = cust.filter(F.col("c_custkey") < 100).select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.col("c_name").alias("nm"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (
            cents
            + F.when(F.col("c_custkey") % 2 == 0, 50).otherwise(0)
        ).alias("cents"),
    )
    ent = base.unionAll(twins)
    a, b = ent.alias("a"), ent.alias("b")
    g = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    pat = (
        a.join(
            b,
            (F.col("a.nat") == F.col("b.nat"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            g(F.col("a.nm") == F.col("b.nm")).alias("g1"),
            g(F.col("a.seg") == F.col("b.seg")).alias("g2"),
            g(F.col("a.cents") == F.col("b.cents")).alias("g3"),
            g(F.abs(F.col("a.cents") - F.col("b.cents")) <= 100).alias("g4"),
        )
        .groupBy("g1", "g2", "g3", "g4")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pat = model_channel(
        pat, 16, "fellegi-sunter gamma patterns: 4 binary agreement "
        "fields -> at most 2^4 groups regardless of pair count"
    )
    patterns = [
        ((r["g1"], r["g2"], r["g3"], r["g4"]), r["n"]) for r in pat
    ]

    def _q(x: float) -> float:
        return math.floor(x * _FS_Q + 0.5) / _FS_Q

    p, m0, u0 = _FS_INIT
    m = [m0] * 4
    u = [u0] * 4
    for _ in range(_FS_ITERS):
        sw = snw = sn = 0
        sm = [0] * 4
        su = [0] * 4
        for gam, n in patterns:
            ma = 1.0
            ub = 1.0
            for j in range(4):
                ma = ma * (m[j] if gam[j] == 1 else 1 - m[j])
                ub = ub * (u[j] if gam[j] == 1 else 1 - u[j])
            wq = math.floor(p * ma / (p * ma + (1 - p) * ub) * _FS_Q + 0.5)
            sw += n * wq
            snw += n * (_FS_Q - wq)
            sn += n
            for j in range(4):
                sm[j] += n * wq * gam[j]
                su[j] += n * (_FS_Q - wq) * gam[j]
        p = _q(float(sw) / (float(sn) * _FS_Q))
        # clamp into [1/Q, 1-1/Q] -- mirrors the oracle (see _fs_em_sql)
        _c = lambda num, den: (
            min(max(math.floor(num / den * _FS_Q + 0.5), 1), _FS_Q - 1)
            / _FS_Q
        )  # noqa: E731
        m = [_c(float(sm[j]), float(sw)) for j in range(4)]
        u = [_c(float(su[j]), float(snw)) for j in range(4)]
    rows = [
        (
            name,
            m[j],
            u[j],
            math.floor(math.log2(m[j] / u[j]) * 1e6 + 0.5) / 1e6,
            p,
        )
        for j, name in enumerate(_FS_FEATURES)
    ]
    return spark.createDataFrame(
        rows,
        "feature STRING, m DOUBLE, u DOUBLE, weight DOUBLE, p_match DOUBLE",
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup: doc-in-doc detection (round 10)
# ---------------------------------------------------------------------------

_CONT_DF_MIN = 2  # df=1 shingles cannot pair
_CONT_DF_CAP = 100  # posting cap: bounds self-join fan-out per shingle
_CONT_THRESHOLD = 0.9
_CONT_TOPK = 100

CONTAINMENT_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id, UNNEST({WORD_SHINGLES_SQL}) AS s FROM corpus)
),
keep AS (
  SELECT s FROM sh GROUP BY s
  HAVING COUNT(*) BETWEEN {_CONT_DF_MIN} AND {_CONT_DF_CAP}
),
post AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM post GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_shared,
       na.n_sh AS n_a, nb.n_sh AS n_b,
       FLOOR(CAST(i.n_shared AS DOUBLE) / LEAST(na.n_sh, nb.n_sh)
             * 1000000 + 0.5) / 1000000 AS containment,
       CASE WHEN na.n_sh < nb.n_sh THEN i.doc_a
            WHEN nb.n_sh < na.n_sh THEN i.doc_b
            ELSE LEAST(i.doc_a, i.doc_b) END AS contained_doc
FROM inter i
JOIN sizes na ON i.doc_a = na.doc_id
JOIN sizes nb ON i.doc_b = nb.doc_id
WHERE CAST(i.n_shared AS DOUBLE) / LEAST(na.n_sh, nb.n_sh)
      >= {_CONT_THRESHOLD}
ORDER BY containment DESC, doc_a, doc_b
LIMIT {_CONT_TOPK}
"""


@register(
    "shingle_containment_pairs",
    oracle=CONTAINMENT_SQL,
    survey=["dedup-containment", "doc-in-doc", "inverted-index"],
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A,B) = |S(A) n S(B)| / min(|S(A)|,
    |S(B)|) over distinct word-trigram shingle sets -- the doc-IN-doc
    detector. Jaccard misses a short document quoted verbatim inside a
    long one (union-normalized similarity collapses), but containment
    of the SMALLER side stays ~1; a training corpus keeps the superset
    and drops the contained doc (``contained_doc`` names it). The
    planted near-copies (base text + 2 tokens) are the fixture's
    contained pairs: the original's shingles are a subset of its copy's.

    Engine-exactness: intersection and set sizes are exact integers
    over the SAME df-capped shingle universe on both sides; containment
    is one int->double divide, quantized at 1e-6 before the ordered
    top-{topk} with full (doc_a, doc_b) tie-break.

    Scale shape: same sub-quadratic discipline as tfidf_cosine_topk --
    the DF cut (df > {cap} stopword-like shingles are pair-explosive:
    d(d-1)/2 candidates each) runs BEFORE the inverted-index self-join,
    bounding fan-out per shingle at {cap}^2; postings are persisted
    because three plan legs consume them (two join sides + sizes). One
    explode -> two map-combinable aggregates; the top-k is a
    TakeOrdered, never a global sort."""
    corpus = _corpus(spark, sf_dir)
    sh = shingle_rows(corpus, ["doc_id"]).distinct()
    keep = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= _CONT_DF_MIN) & (F.col("df") <= _CONT_DF_CAP)
        )
        .select("sh")
    )
    post = sh.join(keep, "sh", "left_semi").persist()
    sizes = post.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a, b = post.alias("a"), post.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    ratio = F.col("n_shared").cast("double") / F.least("n_a", "n_b")
    out = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(ratio >= _CONT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_a",
            "n_b",
            dround(ratio, 6).alias("containment"),
            F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a"))
            .when(F.col("n_b") < F.col("n_a"), F.col("doc_b"))
            .otherwise(F.least("doc_a", "doc_b"))
            .alias("contained_doc"),
        )
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(_CONT_TOPK)
        .localCheckpoint()  # top-k-sized; releases postings
    )
    post.unpersist()
    return out


shingle_containment_pairs.__doc__ = shingle_containment_pairs.__doc__.format(
    topk=_CONT_TOPK, cap=_CONT_DF_CAP
)
