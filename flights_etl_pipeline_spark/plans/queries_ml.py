"""Training-data preparation operators: deterministic splits/sampling,
per-class embedding centroids, and rarity-weighted term extraction.

The reference has no ML-prep surface (SURVEY.md section 2.9: batch
medallion only); these are the north-star training-pipeline ops layered
on the same engine. Everything here is engine-portable by construction:

- Sampling/splitting hashes a key with md5 (identical hex output in
  every engine) instead of ``rand()``/``TABLESAMPLE`` (engine-private
  RNG streams). Hash-based splits are also the *production* answer at
  100 TB: the assignment is a map-side projection -- no shuffle, no
  global ordering, stable under reruns, backfills, and repartitioning,
  and a row's split never changes when the dataset grows.
- Float reductions go through exact decimal sums (scalar.dsum
  rationale), so centroid values hash-match bit-for-bit.
- tf-idf uses a log-free rational idf (tf * N / df): libm ``log``
  implementations legitimately differ in the last ulp across engines,
  while integer-derived division is one IEEE op. Ranking order is the
  same as log-idf for fixed tf (monotone in 1/df).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.functions.scalar import dround, dsum
from flights_etl_pipeline_spark.functions.vectors import _flit_render, flit
from flights_etl_pipeline_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    normalize_text,
    shingle_hash_long,
    shingle_rows,
    stopword_score,
    tokenize,
)
from flights_etl_pipeline_spark.plans.registry import (
    load,
    model_channel,
    register,
)
from flights_etl_pipeline_spark.plans.sqlfrag import sql_dround, sql_dsum

# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-bucketed, shuffle-free)
# ---------------------------------------------------------------------------

# md5 hex compares lexicographically uniform: h < '0a' is 10/256 ~ 3.9 %,
# '0a' <= h < '14' the next 3.9 %, the rest trains.
_SPLIT_CASE_SQL = """
CASE WHEN MD5(CAST(doc_id AS VARCHAR)) < '0a' THEN 'test'
     WHEN MD5(CAST(doc_id AS VARCHAR)) < '14' THEN 'val'
     ELSE 'train' END
"""


def split_assign(key) -> F.Column:
    """'train' / 'val' / 'test' from a stable key column -- md5-bucketed,
    so the same row lands in the same split in any engine, any run, any
    partitioning. Map-side only; never shuffles."""
    h = F.md5(F.col(key).cast("string") if isinstance(key, str) else key.cast("string"))
    return (
        F.when(h < "0a", "test").when(h < "14", "val").otherwise("train")
    )


@register(
    "train_test_split",
    oracle=f"""
SELECT {_SPLIT_CASE_SQL} AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
""",
    survey=["train-test-split", "sampling", "hash-bucket"],
    bench=True,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~4/4/92 test/val/train split of the documents table,
    summarized per (split, lang) to show the split is unbiased across
    strata. The assignment column is a pure projection: at 100 TB this
    is a zero-shuffle pass, and writing `.partitionBy("split")` gives
    partition-pruned training reads for free."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_assign("doc_id"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling (per-class deterministic fraction, one pass)
# ---------------------------------------------------------------------------


@register(
    "stratified_sample",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE MD5(CAST(event_id AS VARCHAR)) < '1a')
         AS n_sampled,
       {sql_dsum("CASE WHEN MD5(CAST(event_id AS VARCHAR)) < '1a' "
                 "THEN value END", 4)} AS sampled_value,
       {sql_dround("CAST(COUNT(*) FILTER (WHERE MD5(CAST(event_id AS VARCHAR))"
                   " < '1a') AS DOUBLE) / COUNT(*)", 4)} AS sample_rate
FROM events
GROUP BY event_type
""",
    survey=["stratified-sample", "sampling", "hash-bucket"],
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class ~10 % sample (md5(event_id) < '1a' = 26/256) with
    per-stratum achieved rates, in ONE scan via conditional aggregation
    -- the deterministic stand-in for ``df.sampleBy``. Unlike sampleBy,
    the selected *rows* (not just the rate) are reproducible across
    engines and cluster sizes, which is what training-data lineage
    needs."""
    sampled = F.md5(F.col("event_id").cast("string")) < "1a"
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(sampled, 1)).alias("n_sampled"),
            dsum(F.when(sampled, F.col("value")), 4).alias("sampled_value"),
            dround(
                F.count(F.when(sampled, 1)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("sample_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Per-class embedding centroids (the "average vector" reduction)
# ---------------------------------------------------------------------------


@register(
    "label_centroids",
    oracle="""
WITH e AS (
  SELECT label,
         UNNEST(LIST_ZIP(embedding, generate_series(1, LEN(embedding)))) AS z
  FROM embeddings
)
SELECT label,
       z[2] AS pos,
       FLOOR((CAST(SUM(CAST(CAST(z[1] AS DOUBLE) AS DECIMAL(38,14)))
                   AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS centroid_val,
       COUNT(*) AS n_vecs
FROM e
GROUP BY label, z[2]
""",
    survey=["embedding-centroid", "simsearch", "A7-pos"],
    bench=True,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one output row per
    (label, dimension). posexplode -> hash aggregate keyed (label, pos):
    the shuffle carries (label, pos, partial decimal sum) -- 10 labels x
    64 dims of partial aggregates per map task, NOT the vectors -- so
    this reduces 100 TB of embeddings to kilobytes on the wire. The
    exact decimal sum makes the centroid order-independent (float
    addition is not associative; see scalar.dsum). Feeds IVF seeding
    and per-class drift monitoring."""
    e = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    )
    return (
        e.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            dround(
                F.sum(
                    F.col("val").cast("double").cast("decimal(38,14)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Rarity-weighted top terms per document (log-free tf-idf)
# ---------------------------------------------------------------------------

_TOPK_TERMS = 3


@register(
    "doc_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
idf AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / idf.df AS score
  FROM tf JOIN idf USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk
FROM ranked WHERE rnk <= {_TOPK_TERMS}
""",
    survey=["tfidf", "text", "window"],
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 rarity-weighted terms per document: tf * (N / df), a
    log-free idf that keeps cross-engine bit-exactness (libm log differs
    in the last ulp between engines; N/df is a single IEEE division) and
    ranks identically to log-idf at fixed tf.

    Plan shape: tokenize+explode (map-only) -> tf hash agg keyed
    (doc_id, term) -> df hash agg keyed term -> join df back on term
    UNHINTED: the vocabulary grows with the corpus (Heaps' law), so
    like the SF-linear dims it must stay under AQE's size check —
    broadcast at bench scale, shuffled (on the tf exchange's own term
    partitioning) at a 10^8-term corpus. The corpus size N arrives via
    a 1-row cross join, not a driver ``.count()`` round-trip, so the
    whole plan is one job."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_TERMS)
    )


# ---------------------------------------------------------------------------
# Train/test decontamination (n-gram overlap between splits)
# ---------------------------------------------------------------------------

# word-trigram shingles, DuckDB side (mirrors functions.text.word_shingles)
_NORM_SQL = "TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
_SHINGLES_SQL = (
    "LIST_TRANSFORM("
    f"generate_series(1, GREATEST(len({_TOKS_SQL}) - 2, 1)), "
    f"i -> concat_ws(' ', {_TOKS_SQL}[i], {_TOKS_SQL}[i+1], {_TOKS_SQL}[i+2]))"
)


@register(
    "split_contamination",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLES_SQL}) AS sh,
         {_SPLIT_CASE_SQL} AS split
  FROM documents
)
SELECT t.doc_id AS test_doc_id,
       COUNT(DISTINCT t.sh) AS n_shared_shingles,
       COUNT(DISTINCT tr.doc_id) AS n_train_docs
FROM sh t JOIN sh tr ON t.sh = tr.sh
WHERE t.split = 'test' AND tr.split = 'train'
GROUP BY t.doc_id
""",
    survey=["decontamination", "dedup-ngram-jaccard", "train-test-split"],
    bench=True,
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test DECONTAMINATION check: for every test-split document,
    how many of its word-trigram shingles also appear in the train
    split, and in how many distinct train documents. Nonzero rows are
    eval-set leaks a training pipeline must drop or rewrite before
    training (the n-gram-overlap decontamination used for LLM eval
    hygiene).

    Plan shape: one shingle-explode projection (map-side), distinct per
    (doc, shingle), self-join keyed on the shingle -- the join shuffles
    shingle-hash-partitioned, so it scales linearly with corpus size
    and never materializes the doc x doc pair space; only shingles
    shared across splits produce join matches. At 100 TB the train side
    would be pre-aggregated to distinct (shingle, doc) and bucketed on
    shingle so nightly eval checks skip its shuffle entirely."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "split", split_assign("doc_id")
    )
    sh = shingle_rows(docs, ["doc_id", "split"]).distinct()
    test = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "sh"
    )
    train = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "sh"
    )
    return (
        test.join(train, "sh")
        .groupBy("test_doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("train_doc_id").alias("n_train_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate detection: most-repeated n-grams across the corpus
# ---------------------------------------------------------------------------

_BOILERPLATE_TOPK = 20


@register(
    "boilerplate_ngrams",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLES_SQL}) AS sh FROM documents
)
SELECT sh AS shingle, COUNT(*) AS n_docs
FROM sh
GROUP BY sh
HAVING COUNT(*) > 1
ORDER BY n_docs DESC, shingle ASC
LIMIT {_BOILERPLATE_TOPK}
""",
    survey=["boilerplate", "text", "sort", "limit"],
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: the word-trigrams shared by the most
    documents (headers, footers, license blurbs in a real crawl).
    Training pipelines strip or down-weight these before dedup so
    boilerplate doesn't glue unrelated documents into near-dup
    clusters. explode -> per-doc distinct -> count -> TakeOrdered
    top-k (no global sort; each partition keeps only its local top-20
    and the driver merges k-sized heaps)."""
    docs = load(spark, sf_dir, "documents")
    sh = (
        shingle_rows(docs, ["doc_id"])
        .withColumnRenamed("sh", "shingle")
        .distinct()
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
        .limit(_BOILERPLATE_TOPK)
    )


# ---------------------------------------------------------------------------
# Sequence packing (fill fixed-size context windows from ordered docs)
# ---------------------------------------------------------------------------

PACK_CAPACITY = 512  # tokens per training sequence


@register(
    "seq_packing",
    oracle=f"""
WITH d AS (
  SELECT source, doc_id, LEN(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM d
)
SELECT source,
       CAST(FLOOR(CAST(tokens_before AS DOUBLE) / {PACK_CAPACITY}) AS BIGINT)
         AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY source, pack_id
""",
    survey=["seq-packing", "window", "training-prep"],
)
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: stream each source's documents in stable doc_id
    order into {PACK_CAPACITY}-token context windows (pack_id = cumulative
    tokens before this doc, integer-divided by capacity) and report the
    per-pack manifest -- the standard pretraining step that turns ragged
    documents into fixed-length training sequences with minimal padding.

    Scale shape: one window cumsum partitioned by source (range-partition
    + per-partition sort, no global sort), then a hash aggregate on the
    same key -- the sort output feeds the aggregate without a second
    exchange. Deterministic order means reruns/backfills produce the
    same packs, which training-data lineage requires."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.withColumn(
            "pack_id",
            F.floor(before.cast("double") / PACK_CAPACITY).cast("long"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Packing-capacity sweep (the curve behind the context-length choice)
# ---------------------------------------------------------------------------

_PACK_CURVE_CAPS = (256, 512, 1024, 2048)

_PACK_CURVE_SQL = f"""
WITH d AS (
  SELECT source, doc_id, LEN(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM d
),
caps AS (SELECT UNNEST([{", ".join(str(c) for c in _PACK_CURVE_CAPS)}])
         AS capacity)
SELECT source, capacity,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(tokens_before // capacity) + 1 AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN tokens_before // capacity
                     <> (tokens_before + n_tokens - 1) // capacity
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
       CAST(SUM(n_tokens) * 1000
            // ((MAX(tokens_before // capacity) + 1) * capacity)
         AS BIGINT) AS util_milli
FROM c CROSS JOIN caps
GROUP BY source, capacity
"""


@register(
    "packing_curve",
    oracle=_PACK_CURVE_SQL,
    survey=["seq-packing", "capacity-sweep", "training-prep"],
)
def packing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capacity sweep behind the context-length decision:
    ``seq_packing``\'s deterministic spillover packing evaluated at
    {caps} tokens per sequence IN ONE PASS, reporting per
    (source, capacity) the pack count, utilization (milli), and —
    the number that actually drives the choice — how many documents
    STRADDLE a pack boundary (straddling docs either get split across
    training sequences or need cross-boundary attention masking, so
    the curve trades padding waste at small capacities against
    boundary contamination at large ones).

    Scale shape: the token cumsum is computed ONCE (the same
    source-partitioned window as seq_packing — range partition +
    per-key sort, no global sort); the 4 capacities ride a literal
    explode of the cumsum output (4x row growth of (source, 2 longs)
    triples, never of the text); everything downstream is one
    map-side-combinable aggregate on (source, capacity). All integer
    arithmetic (`div`), so both engines agree exactly."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    rows = docs.withColumn("tokens_before", before).select(
        "source",
        "n_tokens",
        "tokens_before",
        F.explode(
            F.array(*[F.lit(c) for c in _PACK_CURVE_CAPS])
        ).alias("capacity"),
    )
    pid = F.expr("tokens_before div capacity")
    pid_end = F.expr("(tokens_before + n_tokens - 1) div capacity")
    return (
        rows.groupBy("source", "capacity")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.max(pid) + 1).cast("long").alias("n_packs"),
            F.sum(F.when(pid != pid_end, 1).otherwise(0))
            .cast("long")
            .alias("n_straddle"),
        )
        .withColumn(
            "util_milli",
            F.expr(
                "CAST(total_tokens * 1000 div (n_packs * capacity) AS BIGINT)"
            ),
        )
    )


packing_curve.__doc__ = packing_curve.__doc__.format(caps=_PACK_CURVE_CAPS)


# ---------------------------------------------------------------------------
# Source-mixture sampling (per-source configured keep rates)
# ---------------------------------------------------------------------------

# Mixture spec: md5-hex threshold per source tier ('80' = 128/256 = 50 %,
# '40' = 25 %, '20' = 12.5 %). Tiers stand in for the quality/priority
# weighting a real mixture config assigns per corpus.
_MIX_TIERS = (
    (("src0", "src1", "src2", "src3", "src4"), "80", 0.5),
    (("src5", "src6", "src7", "src8", "src9"), "40", 0.25),
)
_MIX_DEFAULT = ("20", 0.125)


def _mix_threshold_sql() -> str:
    cases = " ".join(
        "WHEN source IN ({}) THEN '{}'".format(
            ", ".join(f"'{s}'" for s in srcs), thr
        )
        for srcs, thr, _ in _MIX_TIERS
    )
    return f"CASE {cases} ELSE '{_MIX_DEFAULT[0]}' END"


def mix_threshold() -> F.Column:
    """Per-source md5-hex keep threshold from the mixture spec."""
    expr = None
    for srcs, thr, _ in _MIX_TIERS:
        cond = F.col("source").isin(*srcs)
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    return expr.otherwise(_MIX_DEFAULT[0])


@register(
    "source_mixture_sample",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE MD5(CAST(doc_id AS VARCHAR))
                        < {_mix_threshold_sql()}) AS n_kept,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE MD5(CAST(doc_id AS VARCHAR))
                        < {_mix_threshold_sql()}), 0) AS BIGINT) AS kept_chars,
       {_mix_threshold_sql()} AS threshold
FROM documents
GROUP BY source
""",
    survey=["mixture", "sampling", "hash-bucket", "training-prep"],
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture downsampling: each source corpus keeps a configured
    fraction of documents (50 % / 25 % / 12.5 % tiers) via the same
    engine-portable md5-threshold trick as train_test_split, summarized
    per source. This is the 'mixture weights' step of corpus curation:
    reweighting sources without materializing an intermediate copy.

    The keep decision is a row-local projection -- at 100 TB the sampled
    write is one filter-and-write pass, no shuffle; the summary here
    aggregates once on source (20 groups) with map-side combine."""
    kept = F.md5(F.col("doc_id").cast("string")) < mix_threshold()
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_chars"))), F.lit(0)
            ).alias("kept_chars"),
            F.max(mix_threshold()).alias("threshold"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label feature standardization (z-score stats per embedding dimension)
# ---------------------------------------------------------------------------


@register(
    "embedding_zscore",
    oracle="""
WITH x AS (
  SELECT label, u.dim, u.x
  FROM (
    SELECT label,
           UNNEST(list_transform(
             generate_series(1, LEN(embedding)),
             i -> {'dim': i, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM embeddings
  )
),
m AS (
  SELECT label, dim,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x * x AS DECIMAL(38,14))) AS DOUBLE) AS sxx
  FROM x GROUP BY label, dim
)
SELECT label, dim,
       CAST(n AS BIGINT) AS n_vecs,
       FLOOR((sx / n) * 1000000 + 0.5) / 1000000 AS mean,
       FLOOR(SQRT((sxx - sx * sx / n) / (n - 1)) * 1000000 + 0.5) / 1000000
         AS std
FROM m
""",
    survey=["standardization", "zscore", "feature-scaling", "training-prep"],
)
def embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension standardization statistics (mean/std) for
    the embedding matrix -- the fit step of a z-score feature scaler,
    computed from exact decimal moments so every engine and every
    partitioning produces the identical scaler (scalar.dsum rationale;
    same closed-form as corr_price_qty).

    Scale shape: posexplode fans each vector into (label, dim, value)
    rows -- 64x growth, but the groupBy(label, dim) aggregate is
    map-side combinable, so each task reduces its rows to (10 labels x
    64 dims) partials before the one exchange; the final state is tiny
    regardless of row count. The transform step (apply the scaler) is
    then a broadcast join + row-local arithmetic, never a shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("x")
    )
    m = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(28,8)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,14)"))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return m.select(
        "label",
        "dim",
        n.cast("bigint").alias("n_vecs"),
        dround(sx / n, 6).alias("mean"),
        dround(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("std"),
    )


# ---------------------------------------------------------------------------
# Grouped-map UDAF surface: per-label median vector via applyInPandas
# ---------------------------------------------------------------------------


@register(
    "label_median_embedding",
    oracle="""
SELECT label, CAST(u.dim AS INTEGER) AS dim, MEDIAN(u.x) AS median_val
FROM (
  SELECT label,
         UNNEST(list_transform(
           generate_series(1, LEN(embedding)),
           i -> {'dim': i, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
  FROM embeddings
)
GROUP BY label, u.dim
""",
    survey=["applyInPandas", "grouped-map-udaf", "robust-centroid"],
)
def label_median_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label median embedding vector (the outlier-robust centroid)
    via ``applyInPandas`` -- the grouped-map UDAF surface (SURVEY.md
    section 2.8): each label's vectors arrive as one Arrow-backed pandas
    frame and numpy computes the per-dimension median in a single
    vectorized call.

    Exactness despite Python: median is order-independent (it sorts),
    and with float32-exact doubles the even-n midpoint (a+b)/2 is an
    exact double, so numpy and DuckDB's interpolating MEDIAN agree
    bit-for-bit -- no rounding needed. Scale shape: one shuffle keyed by
    label; each group must fit one worker's memory (fine for per-class
    stats; for billions-per-class, switch to approx_percentile per dim,
    which is sketch-mergeable and never materializes a group)."""

    def _median(pdf):
        import numpy as np
        import pandas as pd

        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        med = np.median(mat, axis=0)
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": np.arange(1, mat.shape[1] + 1, dtype="int32"),
                "median_val": med,
            }
        )

    emb = load(spark, sf_dir, "embeddings").select("label", "embedding")
    return emb.groupBy("label").applyInPandas(
        _median, schema="label int, dim int, median_val double"
    )


# ---------------------------------------------------------------------------
# Class rebalancing: oversample minority classes to the majority count
# ---------------------------------------------------------------------------


@register(
    "label_rebalance",
    oracle="""
WITH c AS (SELECT lang, COUNT(*) AS n_orig FROM documents GROUP BY lang),
t AS (SELECT MAX(n_orig) AS target FROM c),
f AS (
  SELECT lang, n_orig,
         CAST(CEIL(CAST(t.target AS DOUBLE) / n_orig) AS BIGINT)
           AS repeat_factor
  FROM c, t
),
r AS (
  SELECT d.lang
  FROM documents d
  JOIN f USING (lang), UNNEST(generate_series(1, f.repeat_factor)) AS u
)
SELECT f.lang, f.n_orig, f.repeat_factor,
       (SELECT COUNT(*) FROM r WHERE r.lang = f.lang) AS n_emitted
FROM f
""",
    survey=["rebalance", "oversampling", "training-prep", "A7"],
)
def label_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by deterministic oversampling: every language's
    documents are replicated ceil(majority_count / class_count) times so
    each class reaches at least the majority class's size -- the
    imbalance fix applied before training a classifier (here summarized
    per class; the replicated rows themselves are what a real run would
    write).

    Scale shape: class counts are a tiny aggregate; the target and
    per-class factors broadcast back onto the scan, and replication is a
    row-local generator explode (no shuffle) -- the write amplification
    IS the operation, and it streams straight to the sink."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_orig"))
    target = counts.agg(F.max("n_orig").alias("target"))
    factors = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        "n_orig",
        F.ceil(F.col("target").cast("double") / F.col("n_orig")).alias(
            "repeat_factor"
        ),
    )
    replicated = (
        docs.select("lang")
        .join(F.broadcast(factors), "lang")
        .select(
            "lang",
            "n_orig",
            "repeat_factor",
            F.explode(F.sequence(F.lit(1), F.col("repeat_factor"))).alias("rep"),
        )
    )
    return replicated.groupBy("lang", "n_orig", "repeat_factor").agg(
        F.count(F.lit(1)).alias("n_emitted")
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation assignment (hash-bucketed, shuffle-free)
# ---------------------------------------------------------------------------

N_FOLDS = 5


@register(
    "kfold_assign",
    oracle=f"""
SELECT CAST(CAST(concat('0x', substr(md5('fold|' || CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) % 1000000007 % {N_FOLDS} AS INT)
         AS fold,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY fold
""",
    survey=["kfold", "cross-validation", "hash-bucket", "training-prep"],
)
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment: fold = md5(doc key) mod k --
    the same engine-portable hash-bucket trick as train_test_split, so a
    document's fold is stable across engines, reruns, and dataset
    growth. The assignment is a map-side projection (never shuffles);
    only this summary aggregates, on k groups."""
    docs = load(spark, sf_dir, "documents")
    fold = (
        shingle_hash_long(F.concat(F.lit("fold|"), F.col("doc_id").cast("string")))
        % N_FOLDS
    ).cast("int")
    return (
        docs.select(fold.alias("fold"), "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training pairs)
# ---------------------------------------------------------------------------

N_NEG = 4


@register(
    "negative_sampling",
    oracle=f"""
WITH a AS (SELECT vec_id, label FROM embeddings),
m AS (SELECT MAX(vec_id) + 1 AS n_vecs FROM embeddings),
cand AS (
  SELECT a.vec_id, a.label, t.j,
         CAST(concat('0x', substr(md5(CAST(a.vec_id AS VARCHAR) || '|neg|'
                                      || CAST(t.j AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000007 % (SELECT n_vecs FROM m) AS neg_id
  FROM a CROSS JOIN range(1, {N_NEG + 1}) t(j)
)
SELECT c.vec_id, CAST(c.j AS INT) AS neg_slot, c.neg_id,
       c.label, b.label AS neg_label
FROM cand c
JOIN embeddings b ON b.vec_id = c.neg_id
WHERE b.label <> c.label AND c.neg_id <> c.vec_id
""",
    survey=["negative-sampling", "contrastive", "training-prep", "hash-bucket"],
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor derives N_NEG pseudo-random candidate ids by hashing
    (anchor, slot), joins them back to the table, and keeps candidates
    whose label differs -- in-batch-negatives made reproducible (a rerun
    or backfill regenerates the identical pairs, which hash-based
    derivation guarantees and an RNG does not).

    Scale shape: candidate generation is a generator explode (row-local);
    the only shuffle is the equi-join of k*N candidate rows against the
    table on its key -- and when the negative pool is a curated subset
    (the common case), that side broadcasts."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", "label")
    # Candidate id space derived from the table itself (1-row broadcast
    # aggregate), not a hard-coded constant: the sampler stays unbiased
    # when the table grows to any scale factor.
    mod_df = emb.agg((F.max("vec_id") + F.lit(1)).alias("_n_vecs"))
    cand = a.crossJoin(F.broadcast(mod_df)).select(
        "vec_id",
        "label",
        "_n_vecs",
        F.explode(F.sequence(F.lit(1), F.lit(N_NEG))).alias("j"),
    ).select(
        "vec_id",
        "label",
        F.col("j").cast("int").alias("neg_slot"),
        (
            shingle_hash_long(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit("|neg|"),
                    F.col("j").cast("string"),
                )
            )
            % F.col("_n_vecs")
        ).alias("neg_id"),
    )
    b = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return (
        cand.join(b, "neg_id")
        .filter(
            (F.col("neg_label") != F.col("label"))
            & (F.col("neg_id") != F.col("vec_id"))
        )
        .select("vec_id", "neg_slot", "neg_id", "label", "neg_label")
    )


# ---------------------------------------------------------------------------
# Feature hashing (hashing-trick vectorizer)
# ---------------------------------------------------------------------------

_FH_DIM = 128


def _fh_sql(expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"
    )


def _fh(col: F.Column) -> F.Column:
    """Spark mirror of _fh_sql: 60-bit md5 prefix as a non-negative long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _fh_sql_spark(expr: str) -> str:
    """Spark-SQL TEXT twin of :func:`_fh` (r13, the vectors.sp_* pattern:
    same functions/casts for a single F.expr parse instead of per-call
    Column construction). NOT the DuckDB oracle twin — that is
    :func:`_fh_sql` above."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


FEATURE_HASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS token
  FROM documents
),
h AS (
  SELECT doc_id,
         {_fh_sql('token')} % {_FH_DIM} AS bucket,
         CASE WHEN {_fh_sql("concat('s:', token)")} % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
)
SELECT doc_id, bucket,
       CAST(SUM(sgn) AS BIGINT) AS val,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM h
GROUP BY doc_id, bucket
"""


@register(
    "feature_hashing",
    oracle=FEATURE_HASH_SQL,
    survey=["feature-hashing", "vectorize", "ml-prep"],
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization: project each document's token counts
    into a fixed {_FH_DIM}-dim space via md5 bucket hashing with a
    second sign hash (the HashingVectorizer construction -- the sign
    cancels collision bias in expectation). Emits the sparse (doc,
    bucket, signed-count) triples a downstream linear model consumes.

    The point of the trick at 100 TB: NO vocabulary pass, no global
    id-assignment, no dictionary to broadcast -- vectorization is a
    stateless per-row projection, so new data streams through without
    coordinating with any fitted state.

    Scale shape: explode -> one map-side-combinable (doc, bucket) hash
    aggregate; md5 bucket/sign hashes are codegen'd column expressions
    (identical literals in the oracle); output is bounded by
    {_FH_DIM} buckets/doc."""
    docs = load(spark, sf_dir, "documents")
    tok = F.explode(tokenize(F.lower(F.col("text")))).alias("token")

    def fh(col: F.Column) -> F.Column:
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    toks = docs.select("doc_id", tok)
    h = toks.select(
        "doc_id",
        (fh(F.col("token")) % _FH_DIM).alias("bucket"),
        F.when(
            fh(F.concat(F.lit("s:"), F.col("token"))) % 2 == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").alias("val"),
        F.count(F.lit(1)).alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# Weighted systematic sampling (size-proportional, integer-exact)
# ---------------------------------------------------------------------------

_SYS_SAMPLE_K = 50

SYS_SAMPLE_SQL = f"""
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
), tot AS (SELECT SUM(n_chars) AS total FROM documents)
SELECT doc_id, n_chars,
       CAST(((cum - n_chars) * {_SYS_SAMPLE_K}) // total AS BIGINT)
         AS stratum
FROM c, tot
WHERE ((cum - n_chars) * {_SYS_SAMPLE_K}) // total
      < (cum * {_SYS_SAMPLE_K}) // total
"""


@register(
    "weighted_systematic_sample",
    oracle=SYS_SAMPLE_SQL,
    survey=["sampling", "weighted", "training-prep", "window"],
)
def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-proportional systematic sample: lay documents end-to-end on
    a line scaled by n_chars, cut the line into K equal strata, and keep
    every document that crosses a stratum boundary -- selection
    probability proportional to length, exactly K boundaries, all
    integer arithmetic (no RNG, no floats), so the pick set is
    bit-identical in any engine.

    Scale shape: the only global state is an ordered prefix sum over
    doc_id. Computed here with the same histogram-offset pattern as
    vocab_build -- a per-class windowed cumsum (class = doc_id range
    bucket, parallel) plus broadcast class offsets from a bounded
    non-equi self-join -- so no dataset-sized single-partition window
    exists; the grand total rides the same offset table instead of a
    second scan.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # class key: doc_id range bucket (prefix of the global doc_id order)
    cls = (F.col("doc_id") / 64).cast("bigint")
    d = docs.withColumn("cls", cls)
    wloc = (
        Window.partitionBy("cls")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("lcum", F.sum("n_chars").over(wloc))
    hist = d.groupBy("cls").agg(F.sum("n_chars").alias("cls_sum"))
    x, y = hist.alias("x"), hist.alias("y")
    off = (
        x.join(F.broadcast(y), F.col("y.cls") < F.col("x.cls"), "left")
        .groupBy(F.col("x.cls").alias("cls"))
        .agg(F.coalesce(F.sum("y.cls_sum"), F.lit(0)).alias("off"))
    )
    total = hist.agg(F.sum("cls_sum").alias("total"))
    return (
        local.join(F.broadcast(off), "cls")
        .crossJoin(F.broadcast(total))
        .filter(F.expr(f"((lcum + off - n_chars) * {_SYS_SAMPLE_K}) div total")
                < F.expr(f"((lcum + off) * {_SYS_SAMPLE_K}) div total"))
        .select(
            "doc_id",
            "n_chars",
            F.expr(
                f"((lcum + off - n_chars) * {_SYS_SAMPLE_K}) div total"
            ).alias("stratum"),
        )
    )


_PRI_SAMPLE_K = 200

PRIORITY_SAMPLE_SQL = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS w_cents,
         CAST(concat('0x', substr(md5(concat('ps|',
              CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) + 1 AS u
  FROM orders
),
p AS (
  SELECT o_orderkey, w_cents,
         CAST(w_cents AS DOUBLE)
           / (CAST(u AS DOUBLE) / 1152921504606846976.0) AS pri
  FROM base
),
topk AS (
  SELECT * FROM p ORDER BY pri DESC, o_orderkey LIMIT {_PRI_SAMPLE_K + 1}
),
wt AS (SELECT *, MIN(pri) OVER () AS tau FROM topk)
SELECT o_orderkey, w_cents,
       CAST(FLOOR(GREATEST(CAST(w_cents AS DOUBLE), tau) * 1000)
            AS BIGINT) AS est_milli
FROM wt
WHERE pri > tau
"""


@register(
    "orders_priority_sample",
    oracle=PRIORITY_SAMPLE_SQL,
    survey=["sampling", "priority-sampling", "weighted", "top-k",
            "training-prep"],
)
def orders_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup, JACM 2007): weight-
    proportional without-replacement sample with an unbiased subset-sum
    estimator. Each order draws priority w/u (u uniform on (0,1]); the
    k highest priorities form the sample, and every sampled item's
    weight estimate is max(w, tau) with tau the (k+1)-th priority --
    E[sum of estimates] equals the true total weight, so downstream
    aggregations over the 200-row sample stand in for the full table.

    Engine-portable randomness: u is the 60-bit md5 prefix of the
    salted key (+1, never zero) -- same construction as
    train_test_split; priority is ONE IEEE division of exactly-derived
    operands, bit-identical in any engine, and the estimate is floored
    to integer milli-units before output so no raw double is compared.
    The (k+1)-th row is removed by the strict `pri > tau` filter (no
    window needed); a boundary tie would drop identically on both
    engines, keeping the pick set deterministic.

    Scale shape: one scan computing (w, u, pri) in codegen -> global
    top-(k+1) plans as TakeOrderedAndProject (each task keeps a k+1
    heap, driver merges k+1-sized partials -- O(k) memory at any input
    size, no shuffle of raw rows); tau is a windowed min over the
    heap's own 201-row output, so the table is scanned ONCE. At 100 TB
    this is THE way to cut a weighted subsample without a weight-sum
    pass or a global sort.

    Headroom note: est_milli fits int64 while tau < 9.2e15, i.e. while
    fewer than k+1 rows draw u01 below w/9.2e15 (~6e-9) -- holds with
    huge margin through ~1e10 rows; a larger corpus should emit cents
    (or keep tau as a double) instead of milli-units.
    """
    k = _PRI_SAMPLE_K
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ps|"), F.col("o_orderkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    # u01 in (0, 2^60]/2^60 = (0,1]: two correctly-rounded IEEE ops
    # (cast, divide), bit-identical in any engine
    u01 = u.cast("double") / F.lit(float(2**60))
    base = orders.select(
        "o_orderkey",
        w.alias("w_cents"),
        (w.cast("double") / u01).alias("pri"),
    )
    top = base.orderBy(F.desc("pri"), F.asc("o_orderkey")).limit(k + 1)
    # tau via a window over the heap's own k+1-row output: referencing
    # `top` twice (separate min aggregate + join) would duplicate the
    # TakeOrdered subtree and scan orders a second time; the window
    # funnels only 201 rows (bounded by construction -- sanctioned in
    # the plan lint), keeping the whole query ONE scan
    tau = F.min("pri").over(Window.partitionBy())
    return (
        top.withColumn("tau", tau)
        .where(F.col("pri") > F.col("tau"))
        .select(
            "o_orderkey",
            "w_cents",
            F.floor(
                F.greatest(F.col("w_cents").cast("double"), F.col("tau"))
                * 1000
            )
            .cast("bigint")
            .alias("est_milli"),
        )
    )


@register(
    "decontaminated_train",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLES_SQL}) AS sh,
         {_SPLIT_CASE_SQL} AS split
  FROM documents
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE {_SPLIT_CASE_SQL.replace('doc_id', 'd.doc_id')} = 'train'
  AND NOT EXISTS (
    SELECT 1 FROM sh t
    JOIN sh tr ON t.sh = tr.sh
    WHERE tr.doc_id = d.doc_id AND t.split = 'test' AND tr.split = 'train'
  )
""",
    survey=["decontamination", "left-anti", "J1-family", "training-prep"],
)
def decontaminated_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of decontamination (split_contamination is the
    report): train-split documents that share NO word-trigram shingle
    with any test document survive; contaminated ones are dropped via a
    left-anti join -- the same J1 anti-join family as the reference's
    incremental dim load, applied to eval hygiene.

    Plan: shingle explode -> distinct -> shingle-keyed semi-join from
    train to test shingles (contaminated ids), then a broadcast-able
    anti-join back to the train docs. Never doc x doc; linear in the
    shingle space like split_contamination."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "split", split_assign("doc_id")
    )
    sh = shingle_rows(docs, ["doc_id", "split"]).distinct()
    test_sh = sh.filter(F.col("split") == "test").select("sh")
    contaminated = (
        sh.filter(F.col("split") == "train")
        .join(test_sh, "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("split") == "train")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Embedding drift: per-label centroid shift between data halves
# ---------------------------------------------------------------------------

CENTROID_SHIFT_SQL = """
WITH e AS (
  SELECT label,
         CASE WHEN vec_id < (SELECT (MAX(vec_id) + 1) // 2 FROM embeddings)
              THEN 'a' ELSE 'b' END AS half,
         UNNEST(LIST_ZIP(embedding, generate_series(1, LEN(embedding)))) AS z
  FROM embeddings
),
cent AS (
  SELECT label, half, z[2] AS pos,
         FLOOR((CAST(SUM(CAST(CAST(z[1] AS DOUBLE) AS DECIMAL(38,14)))
                     AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c,
         COUNT(*) AS n
  FROM e GROUP BY label, half, z[2]
),
pivoted AS (
  SELECT a.label, a.pos, a.c AS ca, b.c AS cb,
         a.n AS n_a, b.n AS n_b
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.pos = b.pos
   AND a.half = 'a' AND b.half = 'b'
)
SELECT label,
       CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(SUM(CAST(FLOOR((ca - cb) * (ca - cb) * 1000000000 + 0.5)
                     AS BIGINT)) AS BIGINT) AS dist_sq_nano
FROM pivoted
GROUP BY label
"""


@register(
    "embedding_centroid_shift",
    oracle=CENTROID_SHIFT_SQL,
    survey=["drift-monitoring", "embedding-centroid", "eval"],
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: squared L2 distance between each label's
    centroid computed on the first and second half of the id range (a
    stand-in for yesterday-vs-today snapshots). Centroids use exact
    decimal means quantized to micro-units; per-dimension squared gaps
    are quantized to integer nano-units before the final sum, so the
    drift score is bit-identical in any engine and under any
    partitioning.

    Scale: same wire profile as label_centroids -- the shuffle carries
    (label, half, pos) partial sums, never vectors; the distance join
    is label x dim sized (tiny)."""
    emb = load(spark, sf_dir, "embeddings")
    mid = emb.agg(((F.max("vec_id") + 1) / 2).cast("bigint").alias("mid"))
    e = emb.crossJoin(F.broadcast(mid)).select(
        "label",
        F.when(F.col("vec_id") < F.col("mid"), "a").otherwise("b").alias("half"),
        F.posexplode("embedding").alias("pos0", "val"),
    )
    cent = (
        e.groupBy("label", "half", (F.col("pos0") + 1).alias("pos"))
        .agg(
            dround(
                F.sum(
                    F.col("val").cast("double").cast("decimal(38,14)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    a = cent.filter(F.col("half") == "a").select(
        "label", "pos", F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = cent.filter(F.col("half") == "b").select(
        "label", "pos", F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    gap_nano = F.floor(
        (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")) * 1_000_000_000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum(gap_nano).cast("bigint").alias("dist_sq_nano"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed K-means (Lloyd's algorithm, fixed rounds, engine-exact)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ROUNDS = 3

_EMB_POS_SQL = (
    "SELECT vec_id, z[2] AS pos, CAST(z[1] AS DOUBLE) AS v FROM "
    "(SELECT vec_id, UNNEST(LIST_ZIP(embedding, "
    "generate_series(1, LEN(embedding)))) AS z FROM embeddings)"
)


def _sqdist_micro_sql(a: str, b: str) -> str:
    diff = f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        f"CAST(FLOOR(CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
        f"p -> CAST({diff} * {diff} AS DECIMAL(38,14)))) AS DOUBLE) "
        f"* 1000000 + 0.5) AS BIGINT)"
    )


def _km_round_sql(r: int) -> str:
    """CTEs for one Lloyd round: assignment under c{r}, then c{r+1}."""
    dm = _sqdist_micro_sql("e.embedding", "c.cv")
    return f"""
cl{r} AS (SELECT cid, LIST(val ORDER BY pos) AS cv FROM c{r} GROUP BY cid),
a{r} AS (
  SELECT vec_id, cid, dm FROM (
    SELECT e.vec_id, c.cid, {dm} AS dm,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {dm}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cl{r} c
  ) WHERE rn = 1
),
n{r + 1} AS (
  SELECT a.cid, ep.pos,
         FLOOR((CAST(SUM(CAST(ep.v AS DECIMAL(38,14))) AS DOUBLE)
                / COUNT(*)) * 1000000 + 0.5) / 1000000 AS val
  FROM a{r} a JOIN ({_EMB_POS_SQL}) ep ON ep.vec_id = a.vec_id
  GROUP BY a.cid, ep.pos
),
c{r + 1} AS (
  SELECT p.cid, p.pos, COALESCE(n.val, p.val) AS val
  FROM c{r} p LEFT JOIN n{r + 1} n ON n.cid = p.cid AND n.pos = p.pos
)"""


KMEANS_SQL = (
    f"""
WITH c0 AS (
  SELECT vec_id AS cid, z[2] AS pos, CAST(z[1] AS DOUBLE) AS val
  FROM (SELECT vec_id, UNNEST(LIST_ZIP(embedding,
          generate_series(1, LEN(embedding)))) AS z
        FROM embeddings WHERE vec_id < {_KM_K})
),"""
    + ",".join(_km_round_sql(r) for r in range(_KM_ROUNDS))
    + f""",
clF AS (SELECT cid, LIST(val ORDER BY pos) AS cv
        FROM c{_KM_ROUNDS} GROUP BY cid),
aF AS (
  SELECT vec_id, cid, dm FROM (
    SELECT e.vec_id, c.cid,
           {_sqdist_micro_sql("e.embedding", "c.cv")} AS dm,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sqdist_micro_sql("e.embedding", "c.cv")}, c.cid) AS rn
    FROM embeddings e CROSS JOIN clF c
  ) WHERE rn = 1
)
SELECT cid, COUNT(*) AS n_vecs,
       CAST(SUM(dm) AS BIGINT) AS inertia_micro,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM aF GROUP BY cid
"""
)


def _km_sqdist_micro(v, cv) -> "F.Column":
    diffs = F.zip_with(
        v,
        cv,
        lambda x, y: ((x.cast("double") - y) * (x.cast("double") - y)).cast(
            "decimal(38,14)"
        ),
    )
    total = F.aggregate(
        diffs,
        F.lit(0).cast("decimal(38,14)"),
        lambda acc, x: (acc + x).cast("decimal(38,14)"),
    ).cast("double")
    return F.floor(total * 1_000_000 + F.lit(0.5)).cast("bigint")


# Two-phase prune margin for the row-local k-means argmin, in RAW
# squared-distance units: floor(x*1e6 + 0.5) is monotone, so a
# candidate whose exact sqdist exceeds the minimum by more than 1e-6
# can NEVER win after micro-quantization; the double fold's drift vs
# the exact decimal fold is < dim * 1e-13. 2e-6 covers both with 10x
# headroom, so the exact micro-argmin winner is always a survivor.
_KM_MARGIN = 2e-6


def _km_assign_rowlocal(cents: list[tuple]) -> F.Column:
    """Row-LOCAL two-phase argmin assignment for Lloyd's k-means:
    phase 1 scores all K centroids with a cheap double sqdist fold,
    phase 2 re-scores ONLY the survivors within ``_KM_MARGIN`` of the
    double minimum with the exact decimal micro fold
    (:func:`_km_sqdist_micro`) and picks min by (dm, cid) — exactly the
    oracle's ``ROW_NUMBER() OVER (ORDER BY dm, cid)`` tie-break.

    Returns struct(cid INT, dm BIGINT). Replaces the
    ``crossJoin(broadcast(cdf)).groupBy("vec_id").agg(min_by...)``
    shape (VERDICT r6 item 1): the centroids ride as TRUE array
    literals (one cached Literal node, see _nearest_centroid's
    rationale), assignment is per-row column work fused into the scan,
    and NOTHING shuffles on vec_id. The winner's dm is always the
    exact decimal micro value — it feeds the inertia sum unchanged.
    """
    # Rendered as ONE Spark-SQL text parse (r12): the Column-API build
    # of this tree cost ~0.5 s of pure driver gateway latency per call
    # (~3 ms/operator), paid 4x per k-means run. Same functions, same
    # casts, same operand order as the old Column build — the analyzer
    # resolves the identical tree, so results are bit-for-bit (parity-
    # gated). The only structural delta: the winning struct is
    # let-bound through a 1-element transform so array_min(rescored)
    # evaluates once instead of once per output field — pure evaluation
    # count, values unchanged.
    cids = _flit_render([int(c[0]) for c in cents])
    cvecs = _flit_render([[float(v) for v in c[1]] for c in cents])
    idx = _flit_render(list(range(1, len(cents) + 1)))
    dec = "DECIMAL(38,14)"

    def _dsq(v: str, cv: str) -> str:
        return (
            f"aggregate(zip_with({v}, {cv}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    def _micro(v: str, cv: str) -> str:
        # _km_sqdist_micro as text: exact decimal fold of squared
        # diffs, then floor-quantized to integer micro-units
        return (
            f"CAST(FLOOR(CAST(aggregate(zip_with({v}, {cv}, (x, y) -> "
            f"CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
            f"AS {dec})), CAST(0 AS {dec}), "
            f"(acc, x) -> CAST(acc + x AS {dec})) AS DOUBLE) "
            f"* 1000000 + 0.5D) AS BIGINT)"
        )

    dscored = (
        f"transform({idx}, i -> named_struct("
        f"'ds', {_dsq('embedding', f'element_at({cvecs}, i)')}, 'i', i))"
    )
    rescored = (
        f"transform(filter(ds, s -> s.ds <= array_min(ds).ds "
        f"+ {_KM_MARGIN!r}D), s -> named_struct("
        f"'dm', {_micro('embedding', f'element_at({cvecs}, s.i)')}, "
        f"'cid', element_at({cids}, s.i)))"
    )
    pick = (
        f"element_at(transform(array(array_min({rescored})), "
        f"best -> named_struct('cid', best.cid, 'dm', best.dm)), 1)"
    )
    return F.expr(
        f"element_at(transform(array({dscored}), ds -> {pick}), 1)"
    )


@register(
    "kmeans_embeddings",
    oracle=KMEANS_SQL,
    survey=["kmeans", "clustering", "iterative", "simsearch"],
    bench=True,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's K-means (K=8, 3 update rounds) over the embeddings --
    the iterative-ML flagship alongside PageRank. Determinism across
    engines, the hard part, comes from (a) squared distances folded as
    exact decimals and QUANTIZED to integer micro-units before the
    argmin (ties break on cid), and (b) centroid updates as exact
    decimal means quantized to micro-units -- so every round's state is
    bit-identical in Spark and in the oracle's unrolled CTE chain.
    Empty clusters keep their previous centroid (COALESCE in both
    engines).

    Scale shape: centroids are a K x dim literal that rides the driver
    (collected once per round -- K*dim scalars, the sanctioned scalar
    channel, exactly how production KMeans broadcasts its model);
    assignment is a row-local two-phase argmin fused into the scan
    (:func:`_km_assign_rowlocal` -- NO cross join, NO groupBy(vec_id),
    no vector shuffle anywhere); each round's update aggregates
    ``(cid, posexplode(embedding))`` directly, so the only exchange per
    round carries K x dim partial decimal sums per task (map-side
    combine), never corpus rows. Rounds are fixed (3), so the oracle
    unrolls like PageRank's."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init = model_channel(
        emb.filter(F.col("vec_id") < _KM_K).select(
            "vec_id", F.posexplode("embedding").alias("pos0", "val")
        ),
        _KM_K * 64,
        "kmeans init centroids: K vectors x 64 dims",
    )
    # assignment is COMPUTE-bound (K x dim double folds + a dim-way
    # posexplode per row): rebalance the raw rows so each round's pass
    # parallelizes independently of the scan's split count
    # (pca_projection rationale; the per-round (cid, pos) exchange
    # exists regardless, this one moves each skinny row once). The
    # rebalanced input is PERSISTED across the _KM_ROUNDS + 1 jobs —
    # the standard iterative-ML input-cache discipline (MLlib's KMeans
    # caches too): each round is its own action, so without the cache
    # every round re-scans and re-shuffles the corpus (measured 1.06 s
    # -> 0.60 s per round at sf0.1). At 100 TB this is a
    # MEMORY_AND_DISK corpus cache sized by the executor fleet —
    # or drop the persist and pay a re-scan per round, a config
    # choice, not a plan change. Released before return via the
    # localCheckpoint pattern (the result is K rows).
    emb = emb.repartition(spark.sparkContext.defaultParallelism).persist()
    # centroid state: {cid: {pos(1-based): double}}
    cents: dict[int, dict[int, float]] = {}
    for row in init:
        cents.setdefault(row["vec_id"], {})[row["pos0"] + 1] = float(row["val"])

    def cent_list():
        return [
            (cid, [vals[p] for p in sorted(vals)]) for cid, vals in sorted(cents.items())
        ]

    for _ in range(_KM_ROUNDS):
        cid = _km_assign_rowlocal(cent_list())["cid"]
        # The (cid, posexplode) -> groupBy(cid, pos) shape is KEPT: the
        # r12 attempt to fold the 64 dims as 64 decimal-sum COLUMNS of
        # one cid-keyed aggregate measured ~2x SLOWER at sf0.1 (64
        # wide decimal agg buffers defeat the hash-agg codegen),
        # while the explode's 64x row inflation feeds a cheap
        # two-column map-side combine. Values are identical either
        # way; this is the faster physical shape.
        new_rows = (
            # cid projects BEFORE the generator select: ExtractGenerator
            # mangles struct-field names inside HOF lambdas when a
            # posexplode shares the projection (FIELD_NOT_FOUND on the
            # lambda structs), and as a plain attribute the assignment
            # still computes once per row, not per exploded element
            emb.select(cid.alias("cid"), "embedding")
            .select("cid", F.posexplode("embedding").alias("pos0", "v"))
            .groupBy("cid", (F.col("pos0") + 1).alias("pos"))
            .agg(
                dround(
                    F.sum(
                        F.col("v").cast("double").cast("decimal(38,14)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("val")
            )
        )
        new_rows = model_channel(
            new_rows,
            _KM_K * 64,
            "kmeans round update: K centroids x 64 dims of partial "
            "means — the per-round model exchange",
        )
        for row in new_rows:  # empty clusters keep previous centroids
            cents[row["cid"]][row["pos"]] = float(row["val"])
    final = emb.select(
        "vec_id", _km_assign_rowlocal(cent_list()).alias("best")
    )
    # unpersist BEFORE returning the lazy final plan: the three update
    # rounds (driver-side collect actions above) were the cache's
    # consumers; the caller's final action recomputes the rebalance
    # from lineage — the same single scan+shuffle the uncached version
    # paid — and the plan stays visible for the shuffle-free pin in
    # tests/test_plans.py (a localCheckpoint here would truncate it to
    # an ExistingRDD scan)
    emb.unpersist()
    return final.groupBy(F.col("best.cid").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("best.dm").cast("bigint").alias("inertia_micro"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


# ---------------------------------------------------------------------------
# End-to-end LLM corpus pipeline: quality filter -> exact dedup -> split
# ---------------------------------------------------------------------------


@register(
    "llm_corpus_pipeline",
    oracle=None,  # set just below (composed from the stage oracles)
    survey=[
        "llm-pipeline", "composition", "quality-filter", "dedup",
        "train-split", "training-prep",
    ],
)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM pretraining data pipeline END-TO-END as ONE lazy plan:
    corpus (with known duplicates) → quality filter (drop 'low') →
    exact dedup (keep-first per normalized-md5 fingerprint) →
    deterministic md5 train/val/test split → per-(split, bucket) corpus
    accounting. Every stage is the same column logic its standalone
    query uses (doc_quality, dedup_exact, train_test_split), proving
    the operators COMPOSE — a user chains them exactly like this.

    Scale shape: quality scoring and split assignment are row-local
    projections; the only shuffles are the fingerprint window (keyed by
    content hash — uniform) and the final tiny aggregate. Catalyst
    fuses the whole chain into one job: filter pushdown runs quality
    pruning before the dedup shuffle, so duplicate-heavy low-quality
    mass never reaches the exchange. Decontamination and sequence
    packing chain on the same way (see decontaminated_train,
    seq_packing)."""
    from flights_etl_pipeline_spark.plans.queries_dedup import _corpus

    corpus = _corpus(spark, sf_dir)
    toks = tokenize("text")
    lower_toks = tokenize(F.lower(F.col("text")))
    n_tokens = F.size(toks)
    stop_ratio = stopword_score(lower_toks, STOPWORDS["en"]).cast(
        "double"
    ) / n_tokens
    bucket = (
        F.when(
            (n_tokens >= 40) & (stop_ratio >= 0.02) & (stop_ratio <= 0.6),
            F.lit("high"),
        )
        .when(n_tokens >= 15, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    scored = corpus.select(
        "doc_id",
        "text",
        n_tokens.alias("n_tokens"),
        bucket.alias("quality_bucket"),
    ).filter(F.col("quality_bucket") != "low")
    w = Window.partitionBy("fp")
    deduped = (
        scored.withColumn("fp", fingerprint("text"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canonical_id"))
    )
    return (
        deduped.withColumn("split", split_assign("doc_id"))
        .groupBy("split", "quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def _llm_pipeline_oracle() -> str:
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        CORPUS_SQL,
        NORM_SQL,
    )

    return f"""
WITH corpus AS ({CORPUS_SQL}),
m AS (
  SELECT doc_id, text,
         LEN(string_split_regex(text, '\\s+')) AS n_tokens,
         LEN(LIST_FILTER(string_split_regex(LOWER(text), '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
  FROM corpus
),
b AS (
  SELECT doc_id, text, n_tokens,
         CASE WHEN n_tokens >= 40
                AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.02 AND 0.6
              THEN 'high'
              WHEN n_tokens >= 15 THEN 'medium'
              ELSE 'low' END AS quality_bucket
  FROM m
),
f AS (SELECT * FROM b WHERE quality_bucket <> 'low'),
d AS (
  SELECT doc_id, n_tokens, quality_bucket,
         MIN(doc_id) OVER (PARTITION BY MD5({NORM_SQL})) AS canonical_id
  FROM f
),
k AS (
  SELECT doc_id, n_tokens, quality_bucket FROM d
  WHERE doc_id = canonical_id
)
SELECT {_SPLIT_CASE_SQL} AS split, quality_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM k
GROUP BY 1, 2
"""


# late-bind the composed oracle (CORPUS_SQL/NORM_SQL live in queries_dedup)
from flights_etl_pipeline_spark.plans import registry as _registry  # noqa: E402

_registry.REGISTRY["llm_corpus_pipeline"] = _registry.QuerySpec(
    fn=_registry.REGISTRY["llm_corpus_pipeline"].fn,
    oracle=_llm_pipeline_oracle(),
    survey=_registry.REGISTRY["llm_corpus_pipeline"].survey,
    bench=True,
)


# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed n-gram likelihood ratio)
# ---------------------------------------------------------------------------

_DSIR_DIM = 256
_DSIR_TARGET_LANG = "en"

DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         {_fh_sql('tok')} % {_DSIR_DIM} AS bucket
  FROM (
    SELECT doc_id, lang,
           UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
    FROM documents
  )
),
raw AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY bucket
),
tgt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM toks
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket
),
tots AS (
  SELECT (SELECT SUM(cr) FROM raw) AS nr,
         (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
),
lr AS (
  SELECT r.bucket,
         CAST(FLOOR(LN(
             CAST((COALESCE(t.ct, 0) + 1) * (tots.nr + {_DSIR_DIM}) AS DOUBLE)
             / CAST((r.cr + 1) * (tots.nt + {_DSIR_DIM}) AS DOUBLE)
           ) * 1000000 + 0.5) AS BIGINT) AS lr_micro
  FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket, tots
)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(l.lr_micro) AS BIGINT) AS weight_micro
FROM toks k JOIN lr l ON k.bucket = l.bucket
GROUP BY k.doc_id
"""


@register(
    "dsir_importance_weights",
    oracle=DSIR_SQL,
    survey=["dsir", "importance-resampling", "data-selection", "ml-prep"],
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by the log-likelihood ratio of a target-domain
    unigram model over the raw-corpus model, both estimated on hashed
    token buckets (dim {dim}, add-one smoothed). Docs whose token mix
    resembles the target (here: the '{lang}'-labeled slice) get
    positive weight; downstream selection samples proportionally. The
    per-bucket log-ratio is quantized to integer micro-units before
    the per-doc sum (BM25/pagerank discipline), so the sum is
    associative and bit-identical across engines and partitionings.

    Scale shape: the two bucket histograms are ONE pass over the
    exploded tokens (the target count is a conditional branch of the
    same aggregate at 100 TB; here a filtered second agg over the same
    shuffle, AQE-reused), both {dim}-row tables broadcast back; the
    per-doc weight is one map-side-combinable integer aggregate keyed
    on doc_id. No vocabulary pass, no dictionary state — the hashing
    trick keeps model estimation O(dim) per executor."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize(F.lower(F.col("text")))).alias("tok"),
    ).select("doc_id", "lang", (_fh(F.col("tok")) % _DSIR_DIM).alias("bucket"))
    raw = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tots = raw.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        * (F.col("nr") + _DSIR_DIM)
                    ).cast("double")
                    / ((F.col("cr") + 1) * (F.col("nt") + _DSIR_DIM)).cast(
                        "double"
                    )
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return (
        toks.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").alias("weight_micro"),
        )
    )


dsir_importance_weights.__doc__ = dsir_importance_weights.__doc__.format(
    dim=_DSIR_DIM, lang=_DSIR_TARGET_LANG
)


# ---------------------------------------------------------------------------
# Quality-classifier inference: linear model over hashed token features
# ---------------------------------------------------------------------------

_QLR_DIM = 128
_QLR_INTERCEPT_MILLI = -100

QLR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {_fh_sql('tok')} % {_QLR_DIM} AS bucket
  FROM (
    SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
    FROM documents
  )
),
w AS (
  SELECT bucket,
         ({_fh_sql("concat('w:', CAST(bucket AS VARCHAR))")} % 2001) - 1000
           AS w_milli
  FROM (SELECT DISTINCT bucket FROM toks)
),
agg AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST({_QLR_INTERCEPT_MILLI} + SUM(w.w_milli) AS BIGINT)
           AS logit_sum_milli
  FROM toks t JOIN w ON t.bucket = w.bucket
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, logit_sum_milli,
       CAST(FLOOR(1000000.0 / (1.0 + EXP(
         -(CAST(logit_sum_milli AS DOUBLE) / (1000.0 * n_tokens))
       )) + 0.5) AS BIGINT) AS prob_micro
FROM agg
"""


@register(
    "quality_logreg_score",
    oracle=QLR_SQL,
    survey=["quality-classifier", "inference", "fasttext-style", "ml-prep"],
)
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference (the fastText/CCNet-style gate LLM
    pipelines run over every crawled page): a linear model over hashed
    token features, scored as mean token weight + intercept through a
    sigmoid. Weights here are derived deterministically from the
    bucket hash (a stand-in for fitted coefficients — the container
    has no model artifact), which keeps the oracle exact while
    exercising the real inference plan: broadcast weight vector,
    integer-milli dot product, one transcendental per doc.

    Scale shape: inference is embarrassingly parallel — explode →
    bucket hash (codegen'd md5) → ONE map-side-combinable integer
    aggregate per doc_id; the {dim}-row weight table broadcasts. The
    per-doc logit sum is exact integer milli-units, so only the final
    per-row sigmoid touches floats (quantized to 1e-6, BM25
    discipline). At 100 TB this is a single pass with no state but
    the broadcast weights — the shape a real fitted model would use
    verbatim."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
    ).select("doc_id", (_fh(F.col("tok")) % _QLR_DIM).alias("bucket"))
    w = toks.select("bucket").distinct().select(
        "bucket",
        (
            _fh(F.concat(F.lit("w:"), F.col("bucket").cast("string"))) % 2001
            - 1000
        ).alias("w_milli"),
    )
    agg = (
        toks.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.lit(_QLR_INTERCEPT_MILLI) + F.sum("w_milli")).alias(
                "logit_sum_milli"
            ),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "logit_sum_milli",
        F.floor(
            F.lit(1000000.0)
            / (
                1.0
                + F.exp(
                    -(
                        F.col("logit_sum_milli").cast("double")
                        / (1000.0 * F.col("n_tokens"))
                    )
                )
            )
            + 0.5
        )
        .cast("long")
        .alias("prob_micro"),
    )


quality_logreg_score.__doc__ = quality_logreg_score.__doc__.format(
    dim=_QLR_DIM
)


# ---------------------------------------------------------------------------
# Composed round-3 curation pipeline: scrub -> gate -> DSIR -> accounting
# ---------------------------------------------------------------------------


def qlr_weights_milli() -> list[int]:
    """The quality model's 128-int weight vector, bucket-by-bucket from
    the md5 formula (the canonical definition; the streaming twin and
    the composed pipeline broadcast this same literal array)."""
    import hashlib

    out = []
    for b in range(_QLR_DIM):
        h = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:15], 16)
        out.append(h % 2001 - 1000)
    return out


def _curation_v2_oracle() -> str:
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _SCRUB_CHUNK,
        _SCRUB_POS_BASE,
    )

    bucket_of_t = f"({_fh_sql('t')} % {_QLR_DIM})"
    w_key = "concat('w:', CAST(" + bucket_of_t + " AS VARCHAR))"
    w_of = f"(({_fh_sql(w_key)} % 2001) - 1000)"
    return f"""
WITH toks0 AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
  SELECT doc_id, i AS cidx,
         array_to_string(
           list_slice(t, i * {_SCRUB_CHUNK} + 1, (i + 1) * {_SCRUB_CHUNK}),
           ' ') AS chunk
  FROM toks0,
       UNNEST(range(0, CAST(CEIL(len(t) / {_SCRUB_CHUNK}.0) AS BIGINT)))
         AS u(i)
),
keep AS (
  SELECT chunk, MIN(doc_id * {_SCRUB_POS_BASE} + cidx) AS keeper
  FROM chunks GROUP BY chunk
),
kept AS (
  SELECT c.doc_id, c.cidx, c.chunk
  FROM chunks c JOIN keep k
    ON c.chunk = k.chunk
   AND c.doc_id * {_SCRUB_POS_BASE} + c.cidx = k.keeper
),
scrub AS (
  SELECT c.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(COUNT(k.cidx) AS BIGINT) AS n_kept,
         COALESCE(string_agg(k.chunk, ' ' ORDER BY c.cidx), '') AS ts
  FROM chunks c
  LEFT JOIN kept k ON c.doc_id = k.doc_id AND c.cidx = k.cidx
  GROUP BY c.doc_id
),
meta AS (
  SELECT s.doc_id, s.n_chunks, s.n_kept, s.ts, d.lang, d.source,
         string_split_regex(LOWER(s.ts), '\\s+') AS qt
  FROM scrub s JOIN documents d ON s.doc_id = d.doc_id
),
gated AS (
  SELECT *,
         ({_QLR_INTERCEPT_MILLI} + list_sum(
            list_transform(qt, t -> {w_of}))) AS logit_milli
  FROM meta
),
surv AS (SELECT * FROM gated WHERE logit_milli >= 0),
stoks AS (
  SELECT source, lang, {_fh_sql('tok')} % {_DSIR_DIM} AS bucket
  FROM (SELECT source, lang, UNNEST(qt) AS tok FROM surv)
),
raw AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM stoks GROUP BY bucket
),
tgt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM stoks
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket
),
tots AS (
  SELECT (SELECT SUM(cr) FROM raw) AS nr,
         (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
),
lr AS (
  SELECT r.bucket,
         CAST(FLOOR(LN(
             CAST((COALESCE(t.ct, 0) + 1) * (tots.nr + {_DSIR_DIM}) AS DOUBLE)
             / CAST((r.cr + 1) * (tots.nt + {_DSIR_DIM}) AS DOUBLE)
           ) * 1000000 + 0.5) AS BIGINT) AS lr_micro
  FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket, tots
),
tokagg AS (
  SELECT s.source, s.lang,
         CAST(COUNT(*) AS BIGINT) AS total_tokens,
         CAST(SUM(l.lr_micro) AS BIGINT) AS weight_micro
  FROM stoks s JOIN lr l ON s.bucket = l.bucket
  GROUP BY s.source, s.lang
),
docagg AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_kept) AS BIGINT) AS sk,
         CAST(SUM(n_chunks) AS BIGINT) AS sc
  FROM surv GROUP BY source, lang
)
SELECT d.source, d.lang, d.n_docs, t.total_tokens, t.weight_micro,
       CAST(FLOOR(1000.0 * d.sk / d.sc) AS BIGINT)
         AS kept_chunk_ratio_milli
FROM docagg d
JOIN tokagg t ON d.source = t.source AND d.lang = t.lang
"""


@register(
    "curation_pipeline_v2",
    survey=[
        "pipeline-compose", "exact-substring-dedup", "quality-classifier",
        "dsir", "curation",
    ],
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 curation pipeline END-TO-END as one lazy plan: global
    chunk scrub (keep-first exact-substring removal) → quality gate on
    the SCRUBBED text → DSIR importance weighting of the survivors →
    per-(source, lang) corpus accounting. Each stage is the same
    column logic its standalone query uses (chunk_dedup_scrub,
    quality_logreg_score, dsir_importance_weights), proving the
    round-3 operators compose like the round-2 set does.

    Two exactness tricks make the composition cheap AND bit-stable:
    the quality threshold prob >= 0.5 is equivalent to
    logit_sum_milli >= 0, so the gate is a pure INTEGER comparison (no
    sigmoid anywhere in the pipeline); and the DSIR accounting
    aggregates lr_micro at the TOKEN level straight to (source, lang)
    — per-doc weights never materialize, saving the doc_id exchange.

    Scale shape: scrub is the one content-keyed MIN agg + join-back;
    the gate is row-local (broadcast 128-int literal vector, integer
    dot product inside F.aggregate); DSIR is two bucket histograms
    broadcast back over one exploded lineage; final accounting keys on
    (source, lang) — bounded. Catalyst pushes the integer gate below
    the DSIR explode, so rejected docs never reach the histogram
    exchange."""
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _SCRUB_CHUNK,
        _SCRUB_POS_BASE,
    )

    # r13: the scrub/gate/DSIR projection trees render as SQL text (one
    # selectExpr/F.expr parse each, the r12 flit/SQL-text discipline —
    # guide §4 on plan construction; the Column build cost ~0.55 s
    # driver latency per invocation). Same functions, casts, operand
    # order — identical resolved trees, results bit-for-bit
    # (collect-equality at sf0.1 + oracle parity). Interleaved A/B:
    # 3.45 -> 3.05 s median.
    docs = load(spark, sf_dir, "documents")
    chunks = docs.selectExpr(
        "doc_id", "split(text, ' ') AS t"
    ).selectExpr(
        "doc_id",
        f"explode(sequence(0, CAST(CEIL(size(t) / "
        f"{float(_SCRUB_CHUNK)!r}D) AS INT) - 1)) AS cidx",
        "t",
    ).selectExpr(
        "doc_id",
        "cidx",
        f"array_join(slice(t, cidx * {_SCRUB_CHUNK} + 1, {_SCRUB_CHUNK}), "
        f"' ') AS chunk",
    )
    keep = chunks.groupBy("chunk").agg(
        F.expr(f"min(doc_id * {_SCRUB_POS_BASE} + cidx)").alias("keeper")
    )
    scrub = (
        chunks.join(keep, "chunk")
        .selectExpr(
            "doc_id",
            "cidx",
            "chunk",
            f"doc_id * {_SCRUB_POS_BASE} + cidx = keeper AS is_kept",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.expr("sum(CAST(is_kept AS LONG))").alias("n_kept"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN is_kept THEN struct(cidx, chunk) END)), "
                "s -> s.chunk), ' ')"
            ).alias("ts"),
        )
    )
    meta = scrub.join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    ).withColumn("qt", F.expr(r"split(lower(ts), '\\s+')"))

    w_arr = _flit_render(qlr_weights_milli())
    logit = F.expr(
        f"aggregate(qt, CAST({_QLR_INTERCEPT_MILLI} AS BIGINT), "
        f"(acc, t) -> acc + element_at({w_arr}, "
        f"CAST(({_fh_sql_spark('t')} % {_QLR_DIM}) + 1 AS INT)))"
    )
    # The expensive subtree (scrub join + integer gate) used to feed
    # FOUR corpus-sized consumers (raw/tgt token histograms, the token
    # re-score, the doc accounting); Catalyst does not share common
    # subtrees across join legs, so the chain executed four times
    # (r12). Restructured: ALL token work now derives from ONE bounded
    # aggregate (bcounts below, persisted — sources x langs x buckets
    # rows), so the chain runs exactly twice: once under bcounts, once
    # under docagg. Caching the survivor rows themselves (qt arrays
    # included) was measured SLOWER than the one recompute at sf0.1 —
    # the memory-store write of tokenized text dominates.
    surv = (
        meta.withColumn("logit_milli", logit)
        .filter(F.col("logit_milli") >= 0)
        .select("source", "lang", "n_kept", "n_chunks", "qt")
    )

    # Token work collapses to ONE corpus-sized aggregate: counts per
    # (source, lang, bucket) — a bounded table (sources x langs x
    # {_DSIR_DIM} buckets) from which the raw/target histograms AND the
    # per-(source, lang) re-score all derive by exact integer sums, so
    # the token stream is exploded and shuffled once, not three times.
    # sum(count) == count and sum(count * lr_micro) == sum(lr_micro)
    # per token — bit-identical to aggregating the raw token stream.
    bcounts = (
        surv.selectExpr("source", "lang", "explode(qt) AS tok")
        .selectExpr(
            "source",
            "lang",
            f"{_fh_sql_spark('tok')} % {_DSIR_DIM} AS bucket",
        )
        .groupBy("source", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    raw = bcounts.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = (
        bcounts.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    tots = raw.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .selectExpr(
            "bucket",
            f"CAST(FLOOR(LN(CAST((coalesce(ct, 0) + 1) "
            f"* (nr + {_DSIR_DIM}) AS DOUBLE) "
            f"/ CAST((cr + 1) * (nt + {_DSIR_DIM}) AS DOUBLE)) "
            f"* 1000000 + 0.5D) AS LONG) AS lr_micro",
        )
    )
    tokagg = (
        bcounts.join(F.broadcast(lr), "bucket")
        .groupBy("source", "lang")
        .agg(
            F.sum("c").alias("total_tokens"),
            F.sum(F.col("c") * F.col("lr_micro")).alias("weight_micro"),
        )
    )
    docagg = surv.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").alias("sk"),
        F.sum("n_chunks").alias("sc"),
    )
    out = (
        docagg.join(tokagg, ["source", "lang"])
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "total_tokens",
            "weight_micro",
            "CAST(FLOOR(1000.0D * sk / sc) AS LONG) "
            "AS kept_chunk_ratio_milli",
        )
        .localCheckpoint()
    )
    bcounts.unpersist()
    return out


_registry.REGISTRY["curation_pipeline_v2"] = _registry.QuerySpec(
    fn=_registry.REGISTRY["curation_pipeline_v2"].fn,
    oracle=_curation_v2_oracle(),
    survey=_registry.REGISTRY["curation_pipeline_v2"].survey,
    bench=True,
)


# ---------------------------------------------------------------------------
# Corpus release pipeline: gate -> exact dedup -> decontaminate -> pack bill
# ---------------------------------------------------------------------------

# The dedup-exercising corpus (same injection shape as
# queries_dedup._corpus, widened to carry source/lang for the
# per-source funnel). Offsets are 1e8/2e8 — far past any fixture's id
# space (the 10x bench fixture synthesizes ids up to replicas * |docs|)
# so injected ids can never collide with real ones.
_RELEASE_COPY_OFFSET = 100_000_000
_RELEASE_NEAR_OFFSET = 200_000_000

_RELEASE_CORPUS_SQL = f"""
  SELECT doc_id, source, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {_RELEASE_COPY_OFFSET} AS doc_id, source, lang, text
  FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + {_RELEASE_NEAR_OFFSET} AS doc_id, source, lang,
         text || ' qq zz' AS text
  FROM documents WHERE doc_id >= 100 AND doc_id < 200
"""


def _release_oracle(canon_key_sql: str = "doc_id") -> str:
    """Release-funnel oracle; ``canon_key_sql`` is the dedup canonical
    ordering key — ``doc_id`` for the batch pipeline (global-min
    canonical), an arrival-order key for the streaming twin (first
    SEEN keeper wins; see jobs.corpus_release_stream)."""
    from flights_etl_pipeline_spark.plans.queries_text import gopher_gate_sql

    return f"""
WITH corpus AS ({_RELEASE_CORPUS_SQL}),
tr AS (SELECT * FROM corpus WHERE {_SPLIT_CASE_SQL} = 'train'),
g AS ({gopher_gate_sql('tr', 'doc_id, source, text')}),
agg_raw AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gate_fail
  FROM g GROUP BY source
),
k1 AS (SELECT doc_id, source, text FROM g WHERE keep),
d AS (
  SELECT doc_id, source, text,
         ({canon_key_sql}) >
           MIN({canon_key_sql}) OVER (PARTITION BY MD5({_NORM_SQL}))
           AS is_dup
  FROM k1
),
agg_dup AS (
  SELECT source,
         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM d GROUP BY source
),
k2 AS (SELECT doc_id, source, text FROM d WHERE NOT is_dup),
tsh AS (
  SELECT DISTINCT UNNEST({_SHINGLES_SQL}) AS sh
  FROM corpus WHERE {_SPLIT_CASE_SQL} = 'test'
),
dsh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLES_SQL}) AS sh FROM k2
),
per AS (
  SELECT dsh.doc_id, COUNT(*) AS n_tot,
         SUM(CASE WHEN tsh.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
  FROM dsh LEFT JOIN tsh ON dsh.sh = tsh.sh
  GROUP BY dsh.doc_id
),
contam AS (SELECT doc_id FROM per WHERE 2 * n_shared >= n_tot),
agg_contam AS (
  SELECT k2.source, CAST(COUNT(*) AS BIGINT) AS n_contam
  FROM k2 JOIN contam USING (doc_id) GROUP BY k2.source
),
rel AS (
  SELECT source, LEN(string_split(text, ' ')) AS n_tokens
  FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
agg_rel AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_released,
         CAST(SUM(n_tokens) AS BIGINT) AS released_tokens
  FROM rel GROUP BY source
)
SELECT r.source, r.n_raw, r.n_gate_fail,
       CAST(COALESCE(d2.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(COALESCE(c2.n_contam, 0) AS BIGINT) AS n_contam,
       CAST(COALESCE(a.n_released, 0) AS BIGINT) AS n_released,
       CAST(COALESCE(a.released_tokens, 0) AS BIGINT) AS released_tokens,
       CAST((COALESCE(a.released_tokens, 0) + {PACK_CAPACITY - 1})
            // {PACK_CAPACITY} AS BIGINT) AS n_packs
FROM agg_raw r
LEFT JOIN agg_dup d2 USING (source)
LEFT JOIN agg_contam c2 USING (source)
LEFT JOIN agg_rel a USING (source)
"""


from flights_etl_pipeline_spark.plans.queries_text import (  # noqa: E402
    gopher_gate,
)


@register(
    "corpus_release_pipeline",
    survey=[
        "composed-pipeline", "gopher-rules", "dedup-exact",
        "decontamination", "seq-packing", "training-prep", "data-card",
    ],
    bench=True,
)
def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CORPUS RELEASE: the per-source waterfall a training-data
    release publishes alongside the shards. One lazy plan runs, in order:
    (1) Gopher quality gate (integer rule columns, row-local — shared
    fragment with ``gopher_quality_flags``), (2) exact dedup among gate
    survivors (md5 fingerprint, keep-min canonical), (3) decontamination
    of the train split against the test split's word-trigram shingles —
    a doc is contaminated when >= 50 % of its distinct shingles appear
    in the test set (2*n_shared >= n_tot, integer-exact; a RELATIVE
    threshold, because the absolute shared count grows with the test
    split's vocabulary coverage as the corpus scales, while the overlap
    ratio of a leaked document is ~1 at any scale), and (4) the packing
    bill:
    released token totals and the {cap}-token context-window count
    (ceil-division, integer-exact). Output: one funnel row per source —
    n_raw / n_gate_fail / n_dup / n_contam / n_released / released_tokens
    / n_packs — the "data card" accounting every release ships.

    Composes the round-4/5 surfaces (gopher_quality_flags, dedup_exact,
    decontaminated_train, seq_packing) into the release artifact itself;
    runs over a copy-injected corpus (the queries_dedup._corpus shape,
    widened with source/lang, offsets collision-proofed to 1e8/2e8) so
    the dedup stage is exercised.

    Scale shape: ONE doc-level chain — scan -> gate columns (row-local)
    -> fingerprint window (the only content shuffle; dup-among-keepers
    is a min-over-CASE inside that same window, so gating does NOT fork
    the dataflow) -> left join of doc-local contamination stats -> one
    final per-source aggregate. The shingle branch explodes only
    gate+dedup SURVIVORS and is linear in the shingle space (distinct
    per side, join keyed on the shingle; the test shingle set is tiny
    and AQE broadcasts it). Per-stage counts come from conditional sums
    in the single final aggregate, not per-stage aggregation branches —
    the corpus is scanned a bounded number of times instead of once per
    funnel row."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    copies = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + _RELEASE_COPY_OFFSET).alias("doc_id"),
        "source",
        "lang",
        "text",
    )
    near = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
    ).select(
        (F.col("doc_id") + _RELEASE_NEAR_OFFSET).alias("doc_id"),
        "source",
        "lang",
        F.concat("text", F.lit(" qq zz")).alias("text"),
    )
    corpus = docs.unionAll(copies).unionAll(near)

    tr = corpus.filter(split_assign("doc_id") == "train")
    g = gopher_gate(tr, "doc_id", "source", "text")

    # Dedup among gate survivors WITHOUT splitting the dataflow: the
    # min-keeper window runs over every train doc (partitioned by
    # content fingerprint), but only keepers compete for canonical —
    # so a doc is a dup iff it keeps AND a smaller keeper shares its
    # fingerprint. One window, no branch.
    w = Window.partitionBy("fp")
    # NOT persisted (r12 measured): the gate+window chain feeds two
    # legs (the contamination branch via k2 and the final flags agg),
    # but caching it — text payload included — cost MORE than the
    # second execution at sf0.1 (2.0 s -> 3.1 s): the memory-store
    # write of the corpus with text dominates, while the recompute is
    # one scan + one window. Left as the double-execution plan
    # deliberately.
    d = g.withColumn("fp", fingerprint("text")).withColumn(
        "is_dup",
        F.col("keep")
        & (
            F.col("doc_id")
            > F.min(F.when(F.col("keep"), F.col("doc_id"))).over(w)
        ),
    )

    # Contamination stats for the surviving subset only (at 100 TB you
    # never shingle gate-rejects); the overlap ratio is doc-local, so
    # the flag joins back by doc_id.
    tsh = (
        shingle_rows(corpus.filter(split_assign("doc_id") == "test"), [])
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    k2 = d.filter(F.col("keep") & ~F.col("is_dup")).select("doc_id", "text")
    per = (
        shingle_rows(k2, ["doc_id"])
        .distinct()
        .join(tsh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tot"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
        )
    )

    flags = d.join(per, "doc_id", "left").select(
        "source",
        "keep",
        "is_dup",
        (
            F.col("keep")
            & ~F.col("is_dup")
            & (2 * F.coalesce("n_shared", F.lit(0)) >= F.col("n_tot"))
        ).alias("is_contam"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    released = F.col("keep") & ~F.col("is_dup") & ~F.col("is_contam")
    one = F.lit(1)
    zero = F.lit(0)
    out = flags.groupBy("source").agg(
        F.count(one).alias("n_raw"),
        F.sum(F.when(~F.col("keep"), one).otherwise(zero))
        .cast("long")
        .alias("n_gate_fail"),
        F.sum(F.when(F.col("is_dup"), one).otherwise(zero))
        .cast("long")
        .alias("n_dup"),
        F.sum(F.when(F.col("is_contam"), one).otherwise(zero))
        .cast("long")
        .alias("n_contam"),
        F.sum(F.when(released, one).otherwise(zero))
        .cast("long")
        .alias("n_released"),
        F.sum(F.when(released, F.col("n_tokens")).otherwise(zero))
        .cast("long")
        .alias("released_tokens"),
        F.expr(
            f"(sum(CASE WHEN keep AND NOT is_dup AND NOT is_contam "
            f"THEN n_tokens ELSE 0 END) + {PACK_CAPACITY - 1}) "
            f"DIV {PACK_CAPACITY}"
        ).alias("n_packs"),
    )
    return out


corpus_release_pipeline.__doc__ = corpus_release_pipeline.__doc__.format(
    cap=PACK_CAPACITY
)

_registry.REGISTRY["corpus_release_pipeline"] = _registry.QuerySpec(
    fn=_registry.REGISTRY["corpus_release_pipeline"].fn,
    oracle=_release_oracle(),
    survey=_registry.REGISTRY["corpus_release_pipeline"].survey,
    bench=True,
)


# ---------------------------------------------------------------------------
# Quality-gate ROC-AUC: exact Mann-Whitney over the score histogram
# ---------------------------------------------------------------------------

QLR_AUC_SQL = f"""
WITH scored AS ({QLR_SQL}),
lab AS (
  SELECT s.prob_micro,
         CASE WHEN d.lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
hist AS (
  SELECT prob_micro,
         CAST(SUM(pos) AS BIGINT) AS pos_n,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS neg_n
  FROM lab GROUP BY prob_micro
),
cum AS (
  SELECT prob_micro, pos_n, neg_n,
         COALESCE(SUM(neg_n) OVER (ORDER BY prob_micro
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM hist
)
SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
       CAST(SUM(neg_n) AS BIGINT) AS n_neg,
       CAST(SUM(pos_n * (2 * neg_below + neg_n)) AS BIGINT) AS u2,
       CAST(SUM(pos_n * (2 * neg_below + neg_n)) AS DOUBLE)
         / CAST(2 * SUM(pos_n) * SUM(neg_n) AS DOUBLE) AS auc
FROM cum
"""


@register(
    "quality_gate_auc",
    oracle=QLR_AUC_SQL,
    survey=["roc-auc", "model-eval", "quality-classifier", "ml-prep"],
)
def quality_gate_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality-classifier score against the
    target-language label — the evaluation loop a curation pipeline
    runs when it refits its gate. Computed as the Mann-Whitney U
    statistic over the SCORE HISTOGRAM with the standard half-credit
    for ties, kept exact by doubling: u2 = sum over score values of
    pos_n * (2*negs_below + neg_n); auc = u2 / (2*n_pos*n_neg) is the
    single float division in the query.

    Scale note (single-partition window sanctioned): the cumulative
    negs-below window runs over the score HISTOGRAM, whose domain is
    bounded by the 1e-6 sigmoid quantization (at most 1,000,001 rows
    REGARDLESS of corpus size — a fixed domain, not a table-sized
    spine); the corpus-sized work is the two hash aggregates before
    it. Same justification class as orders_price_histogram."""
    scored = quality_logreg_score(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = scored.join(docs, "doc_id").select(
        "prob_micro",
        F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        .otherwise(0)
        .alias("pos"),
    )
    hist = lab.groupBy("prob_micro").agg(
        F.sum("pos").alias("pos_n"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("neg_n"),
    )
    w = (
        Window.orderBy("prob_micro")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "neg_below", F.coalesce(F.sum("neg_n").over(w), F.lit(0))
    )
    u2 = F.sum(
        F.col("pos_n") * (2 * F.col("neg_below") + F.col("neg_n"))
    )
    return cum.agg(
        F.sum("pos_n").alias("n_pos"),
        F.sum("neg_n").alias("n_neg"),
        u2.alias("u2"),
        (
            u2.cast("double")
            / (2 * F.sum("pos_n") * F.sum("neg_n")).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Quality-gate calibration table (reliability diagram, decile buckets)
# ---------------------------------------------------------------------------

QLR_CALIBRATION_SQL = f"""
WITH scored AS ({QLR_SQL}),
lab AS (
  SELECT CAST(s.prob_micro // 100000 AS BIGINT) AS bucket,
         s.prob_micro,
         CASE WHEN d.lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS frac_pos,
       CAST(SUM(prob_micro) AS BIGINT) AS sum_prob_micro
FROM lab
GROUP BY bucket
"""


@register(
    "quality_gate_calibration",
    oracle=QLR_CALIBRATION_SQL,
    survey=["calibration", "model-eval", "quality-classifier", "ml-prep"],
)
def quality_gate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality gate: docs bucketed by
    predicted probability decile, with the observed positive fraction
    and the exact integer sum of predicted micro-probabilities per
    bucket (mean-predicted vs observed is the calibration gap; both
    are one float division away from exact integers). With AUC
    (ranking) and this table (calibration), the gate has the two
    standard classifier health checks.

    Scale shape: one row-local bucket projection and ONE hash
    aggregate over an 11-value domain — map-side combinable,
    no window, no sort."""
    scored = quality_logreg_score(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = scored.join(docs, "doc_id").select(
        F.expr("prob_micro DIV 100000").alias("bucket"),
        "prob_micro",
        F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        .otherwise(0)
        .alias("pos"),
    )
    return lab.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pos").alias("n_pos"),
        (F.sum("pos").cast("double") / F.count(F.lit(1))).alias("frac_pos"),
        F.sum("prob_micro").alias("sum_prob_micro"),
    )


# ---------------------------------------------------------------------------
# Epoch-shuffled shard assignment: the deterministic data-loader table
# ---------------------------------------------------------------------------

_EPOCHS = 3
_WORLD_SIZE = 8  # data-parallel shard count

EPOCH_SHARD_SQL = f"""
WITH e AS (SELECT UNNEST(range({_EPOCHS})) AS epoch),
keyed AS (
  SELECT d.doc_id, e.epoch,
         CAST(concat('0x', substr(md5(
           concat('ep', CAST(e.epoch AS VARCHAR), '-',
                  CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hkey
  FROM documents d CROSS JOIN e
)
SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       CAST(hkey % {_WORLD_SIZE} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY epoch, hkey % {_WORLD_SIZE}
         ORDER BY hkey, doc_id) AS BIGINT) AS position
FROM keyed
"""


@register(
    "epoch_shard_assign",
    oracle=EPOCH_SHARD_SQL,
    survey=["data-loader", "epoch-shuffle", "sharding", "ml-prep"],
)
def epoch_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffled shard assignment — the data-loader
    contract for {w}-way data-parallel training over {e} epochs: every
    (epoch, doc) gets a shard and an in-shard position from
    md5('ep<epoch>-<doc_id>'), so (1) each epoch is an independent
    pseudo-random permutation, (2) shards are hash-balanced, and
    (3) ANY worker can recompute exactly its own epoch order
    statelessly — no shuffle service, no shared RNG state, no
    coordination. This is how petabyte pretraining runs make "resume
    from step N in epoch 2" reproducible.

    Scale shape: the hash and shard are pure projections; the only
    exchange is the (epoch, shard) window for positions — {e}x{w}
    uniform partitions by construction (hash-balanced), each sorted
    independently. In production the position column is written once
    as `.partitionBy("epoch", "shard")` and readers scan their own
    partition pre-sorted (write_bucketed_table's sortBy)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_EPOCHS).select(F.col("id").alias("epoch"))
    hkey = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("ep"),
                    F.col("epoch").cast("string"),
                    F.lit("-"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "doc_id", "epoch", hkey.alias("hkey")
    )
    w = Window.partitionBy(
        "epoch", (F.col("hkey") % _WORLD_SIZE)
    ).orderBy("hkey", "doc_id")
    return keyed.select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        (F.col("hkey") % _WORLD_SIZE).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("position"),
    )


epoch_shard_assign.__doc__ = epoch_shard_assign.__doc__.format(
    w=_WORLD_SIZE, e=_EPOCHS
)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_JSD_DIM = 256


JSD_SQL = f"""
WITH stoks AS (
  SELECT source, {_fh_sql('tok')} % {_JSD_DIM} AS bucket
  FROM (SELECT source,
               UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
        FROM documents)
),
counts AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM stoks GROUP BY source, bucket
),
tots AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY source
),
grid AS (
  SELECT tots.source, b.bucket,
         CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (tots.t + {_JSD_DIM}) AS p
  FROM tots
  CROSS JOIN (SELECT UNNEST(range({_JSD_DIM})) AS bucket) b
  LEFT JOIN counts c ON c.source = tots.source AND c.bucket = b.bucket
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.bucket,
         a.p AS pa, b.p AS pb
  FROM grid a JOIN grid b
    ON a.bucket = b.bucket AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(SUM(CAST(FLOOR(
         (0.5 * pa * LN(pa / ((pa + pb) / 2))
          + 0.5 * pb * LN(pb / ((pa + pb) / 2))) * 1000000000 + 0.5)
         AS BIGINT)) AS BIGINT) AS jsd_nano
FROM pairs
GROUP BY source_a, source_b
"""


@register(
    "source_jsd_matrix",
    oracle=JSD_SQL,
    survey=["jensen-shannon", "corpus-similarity", "mixture", "statistics"],
)
def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources'
    hashed-unigram distributions — the corpus-similarity matrix
    mixture designers read before setting weights (near-zero JSD pairs
    are redundant sources; high-JSD sources add diversity; feeds the
    same decisions as dsir_importance_weights from the distribution
    side). Symmetric and bounded [0, ln 2], unlike raw KL.

    Exactness: distributions are add-one-smoothed integer ratios over
    the {d}-bucket hashed vocabulary (the DSIR channel), each
    per-bucket JSD term floor-quantized to nano units BEFORE the
    bucket sum.

    Scale shape: the corpus-sized work is ONE (source, bucket) count
    (map-combinable explode+agg); everything after runs on the dense
    sources x {d} grid (tiny, broadcastable) — the pair join is
    grid-sized, never corpus-sized, so 100 TB costs the same as 100 MB
    past the first aggregate."""
    docs = load(spark, sf_dir, "documents")
    stoks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).select("source", (_fh(F.col("tok")) % _JSD_DIM).alias("bucket"))
    counts = stoks.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tots = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("t")
    )
    buckets = spark.range(_JSD_DIM).select(F.col("id").alias("bucket"))
    grid = (
        tots.crossJoin(F.broadcast(buckets))
        .join(counts, ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("t") + _JSD_DIM)
            ).alias("p"),
        )
    )
    a = grid.alias("a")
    b = grid.alias("b")
    pa, pb = F.col("a.p"), F.col("b.p")
    mid = (pa + pb) / 2
    term = F.floor(
        (0.5 * pa * F.log(pa / mid) + 0.5 * pb * F.log(pb / mid))
        * 1000000000
        + F.lit(0.5)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            term.alias("term"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum("term").cast("long").alias("jsd_nano"))
    )


source_jsd_matrix.__doc__ = source_jsd_matrix.__doc__.format(d=_JSD_DIM)


# ---------------------------------------------------------------------------
# Composed end-to-end: dedup -> quality gate -> tokenize -> shard manifest
# ---------------------------------------------------------------------------

_MANIFEST_SHARDS = 8
_MANIFEST_MOD = 1_000_000_007


@register(
    "training_shard_manifest",
    oracle=f"""
WITH fp AS (
  SELECT doc_id,
         MD5(TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
),
win AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
kept AS (
  SELECT d.doc_id, d.n_chars, f.fp,
         string_split_regex(d.text, '\\s+') AS tokens
  FROM documents d
  JOIN win USING (doc_id)
  JOIN fp f ON f.doc_id = d.doc_id
),
feat AS (
  SELECT doc_id, n_chars, fp,
         LEN(tokens) AS n_words,
         LEN(LIST_FILTER(tokens, t -> regexp_matches(t, '[a-zA-Z]')))
           AS n_alpha
  FROM kept
),
gated AS (
  SELECT * FROM feat
  WHERE n_words BETWEEN 5 AND 5000 AND n_alpha * 5 >= n_words * 4
),
sh AS (
  SELECT *,
         CAST(concat('0x', substr(md5(concat('shard-',
           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           % {_MANIFEST_SHARDS} AS shard,
         CAST(concat('0x', substr(fp, 1, 15)) AS BIGINT)
           % {_MANIFEST_MOD} AS content_h
  FROM gated
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(content_h) AS BIGINT) AS content_sum,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM sh GROUP BY shard
""",
    survey=[
        "pipeline-composed", "dedup-exact", "quality-gate",
        "token-count", "sharding", "manifest",
    ],
    bench=True,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end 'write the training shards' pipeline composed
    from the engine's own stages: exact dedup (content-keyed MIN
    election), an integer-arithmetic quality gate (word count in
    [5, 5000], >=80% alphabetic words — the gopher_quality_flags
    core), whitespace token counting, deterministic hash sharding
    (epoch_shard_assign's stateless md5 scheme, single epoch), and a
    per-shard MANIFEST: doc/token/char counts plus an order-insensitive
    content checksum (sum of bounded fp heads) and the doc-id range.
    At 100 TB the manifest is what makes a shard write verifiable —
    a re-run or a resumed writer must reproduce identical rows.

    Scale shape: the winner election aggregates (fp -> min id) pairs
    (map-side combinable, text never shuffles); the gate and shard
    hash are row-local projections; the manifest is an 8-group hash
    aggregate. One wide exchange total (the fp election) plus the
    shard agg's 8-row exchange; nothing quadratic, no windows.

    Parity note: the checksum sums fp-head % 1e9+7 per doc (bounded
    2^30), so the BIGINT sum stays exact to ~9e9 docs on both engines;
    DuckDB's HUGEINT sum is cast back to BIGINT."""
    docs = load(spark, sf_dir, "documents")
    fp = fingerprint("text")
    with_fp = docs.select("doc_id", "n_chars", "text", fp.alias("fp"))
    winners = (
        with_fp.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = with_fp.join(winners, "doc_id", "left_semi")
    toks = F.split(F.col("text"), r"\s+")
    feat = kept.select(
        "doc_id",
        "n_chars",
        "fp",
        F.size(toks).alias("n_words"),
        F.size(
            F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
        ).alias("n_alpha"),
    )
    gated = feat.filter(
        F.col("n_words").between(5, 5000)
        & (F.col("n_alpha") * 5 >= F.col("n_words") * 4)
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard-"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        % _MANIFEST_SHARDS
    )
    content_h = (
        F.conv(F.substring("fp", 1, 15), 16, 10).cast("long") % _MANIFEST_MOD
    )
    return (
        gated.select(
            shard.alias("shard"),
            "n_words",
            "n_chars",
            content_h.alias("content_h"),
            "doc_id",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("content_h").alias("content_sum"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental shard-manifest delta: re-manifest only what today's batch adds
# ---------------------------------------------------------------------------


@register(
    "shard_manifest_delta",
    oracle=None,  # set below: composes IDX/DELTA fixtures from queries_dedup
    survey=[
        "pipeline-composed", "incremental-dedup", "quality-gate",
        "sharding", "manifest", "ingest",
    ],
)
def shard_manifest_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-2 twin of ``training_shard_manifest``: today's crawl
    delta is deduped AGAINST THE HISTORICAL FINGERPRINT INDEX (and
    within itself, keep-first), quality-gated, hash-sharded with the
    SAME stateless scheme as the base manifest, and accounted as a
    per-shard manifest DELTA — doc/token/char increments plus the
    content-checksum increment. Because both the shard hash and the
    checksum are stateless row-local functions, the updated shard
    manifest is base + delta without reading a single base shard: the
    operational loop that keeps 100 TB of training shards verifiable
    under daily ingest.

    Scale shape: the history contributes ONE distinct-fp column
    (petabytes of text never move); the anti-join keys on fp and the
    within-delta keep-first window REUSES that fp partitioning (no
    second exchange); gate/shard/checksum are row-local; the final
    aggregate is 8 groups. Everything is delta-sized except the
    fp-column scan of the index."""
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        _delta_corpus,
        _idx_corpus,
    )

    ifp = (
        _idx_corpus(spark, sf_dir)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    dfp = _delta_corpus(spark, sf_dir).select(
        "doc_id", "text", fingerprint("text").alias("fp")
    )
    fresh = dfp.join(ifp, "fp", "left_anti")
    first_id = F.min("doc_id").over(Window.partitionBy("fp"))
    kept = (
        fresh.withColumn("first_id", first_id)
        .filter(F.col("doc_id") == F.col("first_id"))
        .select("doc_id", "text", "fp")
    )
    toks = F.split(F.col("text"), r"\s+")
    feat = kept.select(
        "doc_id",
        "fp",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_words"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).alias(
            "n_alpha"
        ),
    )
    gated = feat.filter(
        F.col("n_words").between(5, 5000)
        & (F.col("n_alpha") * 5 >= F.col("n_words") * 4)
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("shard-"), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        % _MANIFEST_SHARDS
    )
    content_h = (
        F.conv(F.substring("fp", 1, 15), 16, 10).cast("long") % _MANIFEST_MOD
    )
    return (
        gated.select(
            shard.alias("shard"),
            "n_words",
            "n_chars",
            content_h.alias("content_h"),
            "doc_id",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_new_docs"),
            F.sum("n_words").alias("n_new_tokens"),
            F.sum("n_chars").cast("long").alias("n_new_chars"),
            F.sum("content_h").alias("content_sum_delta"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def _shard_manifest_delta_oracle() -> str:
    from flights_etl_pipeline_spark.plans.queries_dedup import (
        DELTA_SQL,
        IDX_SQL,
        NORM_SQL,
    )

    return f"""
WITH idx AS ({IDX_SQL}),
delta AS ({DELTA_SQL}),
ifp AS (SELECT DISTINCT MD5({NORM_SQL}) AS fp FROM idx),
dfp AS (SELECT doc_id, text, MD5({NORM_SQL}) AS fp FROM delta),
fresh AS (
  SELECT d.doc_id, d.text, d.fp
  FROM dfp d LEFT JOIN ifp i USING (fp) WHERE i.fp IS NULL
),
kept AS (
  SELECT doc_id, text, fp FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS first_id FROM fresh
  ) WHERE doc_id = first_id
),
feat AS (
  SELECT doc_id, fp, LENGTH(text) AS n_chars,
         LEN(string_split_regex(text, '\\s+')) AS n_words,
         LEN(LIST_FILTER(string_split_regex(text, '\\s+'),
             t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha
  FROM kept
),
gated AS (
  SELECT * FROM feat
  WHERE n_words BETWEEN 5 AND 5000 AND n_alpha * 5 >= n_words * 4
),
sh AS (
  SELECT *,
         CAST(concat('0x', substr(md5(concat('shard-',
           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           % {_MANIFEST_SHARDS} AS shard,
         CAST(concat('0x', substr(fp, 1, 15)) AS BIGINT)
           % {_MANIFEST_MOD} AS content_h
  FROM gated
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_new_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_new_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_new_chars,
       CAST(SUM(content_h) AS BIGINT) AS content_sum_delta,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM sh GROUP BY shard
"""


_registry.REGISTRY["shard_manifest_delta"] = _registry.QuerySpec(
    shard_manifest_delta,
    _shard_manifest_delta_oracle(),
    ("pipeline-composed", "incremental-dedup", "quality-gate",
     "sharding", "manifest", "ingest"),
    False,
)


# ---------------------------------------------------------------------------
# UniMax / temperature mixture allocation (training-budget waterfill)
# ---------------------------------------------------------------------------

_UNIMAX_BUDGET_MILLI = 900  # budget = 90% of the corpus's total tokens
_UNIMAX_EPOCH_CAP = 1  # UniMax canonical: at most 1 epoch per source

UNIMAX_SQL = f"""
WITH t AS (
  SELECT source, CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS m
  FROM t
),
b AS (
  SELECT (total * {_UNIMAX_BUDGET_MILLI}) // 1000 AS budget, m, total
  FROM tot
),
s AS (
  SELECT source, n,
         ROW_NUMBER() OVER (ORDER BY n, source) AS j,
         SUM(n) OVER (ORDER BY n, source) AS cum
  FROM t
),
k AS (
  SELECT COALESCE(MAX(j), 0) AS k
  FROM s, b
  WHERE n * (b.m - j + 1) + (cum - n) <= b.budget
),
caps AS (
  SELECT COALESCE(SUM(n), 0) AS cumk FROM s, k WHERE s.j <= k.k
),
q AS (
  SELECT (b.budget - caps.cumk) // GREATEST(b.m - k.k, 1) AS q,
         (b.budget - caps.cumk) % GREATEST(b.m - k.k, 1) AS r
  FROM b, k, caps
),
sq AS (
  SELECT source,
         CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS s_milli
  FROM t
),
sqs AS (SELECT CAST(SUM(s_milli) AS BIGINT) AS s_total FROM sq),
alloc AS (
  SELECT s.source, s.n,
         CASE WHEN s.j <= k.k THEN s.n
              ELSE q.q + CASE WHEN s.j - k.k <= q.r THEN 1 ELSE 0 END
         END AS ua
  FROM s, k, q
)
SELECT a.source, a.n AS n_tokens,
       CAST(a.ua AS BIGINT) AS unimax_tokens,
       CAST((a.ua * 1000) // a.n AS BIGINT) AS unimax_epochs_milli,
       CAST((b.budget * sq.s_milli) // sqs.s_total AS BIGINT) AS temp_tokens
FROM alloc a JOIN sq ON a.source = sq.source, b, sqs
"""


@register(
    "unimax_mixture_allocation",
    oracle=UNIMAX_SQL,
    survey=["mixture", "training-data", "unimax", "sampling"],
)
def unimax_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token allocation two ways: UniMax (Chung et
    al. 2023 — spread a token budget uniformly across sources, capping
    any source at {_UNIMAX_EPOCH_CAP} epoch so no corpus repeats) and
    temperature sampling at alpha=0.5 (the mT5-style n^alpha share).
    Budget = {_UNIMAX_BUDGET_MILLI}/1000 of total corpus tokens.

    UniMax is an exact integer waterfill: sort sources by size
    ascending; a PREFIX of them is capped at their full token count
    (monotone: if source j is capped, so is every smaller one), found
    as the largest j with n_j*(m-j+1) + cum_{{j-1}} <= budget; the
    remaining sources split the leftover evenly, the div remainder
    going one token each to the smallest uncapped sources — so the
    allocation sums EXACTLY to the budget with no float anywhere.
    Temperature shares use sqrt (IEEE correctly-rounded on both
    engines, unlike pow/log), floor-milli'd per source BEFORE the sum
    so the normalizer is an integer total.

    Scale shape: ONE map-side-combinable token-count aggregate touches
    the corpus; everything after runs on the per-source spine (~20
    rows, source-bounded at any SF — the lint-sanctioned bounded
    window, same class as brand_abc_classes' brand spine) via 1-row
    broadcast scalars. The output is the decision table a 100 TB
    mixture job consumes BEFORE sampling: per-source token grants and
    milli-epochs under each policy.
    """
    docs = load(spark, sf_dir, "documents")
    t = (
        docs.select("source", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n"))
    )
    tot = t.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    b = tot.select(
        F.expr(f"(total * {_UNIMAX_BUDGET_MILLI}) div 1000").alias("budget"),
        "m",
    )
    w = Window.orderBy("n", "source")
    s = t.select(
        "source",
        "n",
        F.row_number().over(w).alias("j"),
        F.sum("n").over(w).alias("cum"),
    )
    k = (
        s.crossJoin(F.broadcast(b))
        .where(
            F.col("n") * (F.col("m") - F.col("j") + 1)
            + (F.col("cum") - F.col("n"))
            <= F.col("budget")
        )
        .agg(F.coalesce(F.max("j"), F.lit(0)).cast("long").alias("k"))
    )
    caps = (
        s.crossJoin(F.broadcast(k))
        .where(F.col("j") <= F.col("k"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("cumk"))
    )
    q = (
        b.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(caps))
        .select(
            F.expr("(budget - cumk) div GREATEST(m - k, 1)").alias("q"),
            F.expr("(budget - cumk) % GREATEST(m - k, 1)").alias("r"),
        )
    )
    sq = t.select(
        "source",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000)
        .cast("long")
        .alias("s_milli"),
    )
    sqs = sq.agg(F.sum("s_milli").cast("long").alias("s_total"))
    alloc = (
        s.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(q))
        .select(
            "source",
            "n",
            F.when(F.col("j") <= F.col("k"), F.col("n"))
            .otherwise(
                F.col("q")
                + F.when(F.col("j") - F.col("k") <= F.col("r"), 1).otherwise(0)
            )
            .cast("long")
            .alias("ua"),
        )
    )
    return (
        alloc.join(sq, "source")
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(sqs))
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.col("ua").alias("unimax_tokens"),
            F.expr("CAST((ua * 1000) div n AS BIGINT)").alias(
                "unimax_epochs_milli"
            ),
            F.expr("CAST((budget * s_milli) div s_total AS BIGINT)").alias(
                "temp_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct feature snapshot (leakage-free training matrix)
# ---------------------------------------------------------------------------

_PIT_CUTOFF = "1997-06-01"  # feature/label boundary T
_PIT_LABEL_DAYS = 30  # label window: any order in [T, T+30d)

FEATURE_SNAPSHOT_SQL = f"""
WITH feat_orders AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS spend_cents,
         MAX(o_orderdate) AS last_order,
         MIN(o_orderdate) AS first_order
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{_PIT_CUTOFF}'
  GROUP BY o_custkey
),
feat_lines AS (
  SELECT o.o_custkey,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returns
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate < TIMESTAMP '{_PIT_CUTOFF}'
  GROUP BY o.o_custkey
),
lab AS (
  SELECT DISTINCT o_custkey
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_PIT_CUTOFF}'
    AND o_orderdate < TIMESTAMP '{_PIT_CUTOFF}'
        + INTERVAL {_PIT_LABEL_DAYS} DAY
)
SELECT f.o_custkey AS custkey,
       CAST(f.n_orders AS BIGINT) AS n_orders,
       f.spend_cents,
       CAST(f.spend_cents // f.n_orders AS BIGINT) AS avg_order_cents,
       CAST(DATEDIFF('day', f.last_order, TIMESTAMP '{_PIT_CUTOFF}')
         AS BIGINT) AS days_since_last,
       CAST(DATEDIFF('day', f.first_order, f.last_order)
         AS BIGINT) AS tenure_days,
       CAST(fl.n_lines AS BIGINT) AS n_lines,
       CAST(FLOOR(CAST(fl.n_returns AS DOUBLE) * 1000 / fl.n_lines)
         AS BIGINT) AS return_rate_milli,
       CASE WHEN lb.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
FROM feat_orders f
JOIN feat_lines fl ON f.o_custkey = fl.o_custkey
LEFT JOIN lab lb ON f.o_custkey = lb.o_custkey
"""


@register(
    "feature_snapshot_pit",
    oracle=FEATURE_SNAPSHOT_SQL,
    survey=["feature-store", "point-in-time", "training-data", "composition"],
    bench=True,
)
def feature_snapshot_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training snapshot (the feature-store
    contract): per customer, every feature is computed ONLY from orders
    strictly before the cutoff T, and the binary label is "placed an
    order in [T, T+30d)" — the construction that makes a supervised
    training set leakage-free. Emits RFM-style features (order count,
    exact spend in cents, integer-division average order value, recency,
    tenure) plus a lineitem-derived return rate.

    Engine-exactness: money is summed as integer cents, the average is
    integer division, and the return rate is FLOOR-milli — no float sum
    ever crosses an aggregate, so the matrix is bit-identical on both
    engines at any partitioning.

    Scale shape: three independent hash aggregates over date-pruned
    scans (the T predicate reaches the parquet scan, so a
    date-partitioned 100 TB layout reads only the feature window), then
    two custkey equi-joins of per-customer aggregates — the shuffle
    carries one row per customer, never raw orders or lineitems. The
    lineitem leg pre-joins orders only to inherit the date bound and
    custkey, then aggregates before joining the other legs. No windows,
    no driver round-trips; label-window scans prune to 30 days of
    partitions.
    """
    cutoff = F.lit(_PIT_CUTOFF).cast("timestamp")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    feat_o = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("spend_cents"),
            F.max("o_orderdate").alias("last_order"),
            F.min("o_orderdate").alias("first_order"),
        )
    )
    feat_l = (
        li.join(
            orders.filter(F.col("o_orderdate") < cutoff).select(
                "o_orderkey", "o_custkey"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returns"),
        )
    )
    lab = (
        orders.filter(
            (F.col("o_orderdate") >= cutoff)
            & (
                F.col("o_orderdate")
                < F.date_add(cutoff, _PIT_LABEL_DAYS).cast("timestamp")
            )
        )
        .select("o_custkey")
        .distinct()
        .withColumn("pos", F.lit(1))
    )
    return (
        feat_o.join(feat_l, "o_custkey")
        .join(lab, "o_custkey", "left")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "spend_cents",
            F.expr("spend_cents div n_orders").alias("avg_order_cents"),
            F.datediff(cutoff, F.col("last_order"))
            .cast("long")
            .alias("days_since_last"),
            F.datediff(F.col("last_order"), F.col("first_order"))
            .cast("long")
            .alias("tenure_days"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.floor(F.col("n_returns").cast("double") * 1000 / F.col("n_lines"))
            .cast("long")
            .alias("return_rate_milli"),
            F.coalesce(F.col("pos"), F.lit(0)).cast("int").alias("label"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy gate before a training-data export)
# ---------------------------------------------------------------------------

_KANON_K = 5

KANON_SQL = f"""
WITH q AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS n
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(MIN(n) AS BIGINT) AS k_min,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) * 1000000
              // SUM(n) AS BIGINT) AS suppress_ppm
FROM q
"""


@register(
    "k_anonymity_audit",
    oracle=KANON_SQL,
    survey=["privacy", "k-anonymity", "training-prep", "G3"],
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier triple
    (nation, market segment, account-balance band): the privacy gate a
    training-data export runs before releasing user-derived rows —
    every equivalence class of quasi-identifiers must contain at least
    k={k} rows or its rows are suppressed/generalized. Reports class
    counts, the k_min actually achieved, rows at risk, and the
    suppression rate in ppm (integer-exact: floor division of exact
    counts, so both engines agree bit-for-bit).

    Scale shape: one map-side-combinable COUNT per equivalence class
    (the exchange carries one partial per class per task — class
    space, not row space), then a single tiny aggregate over the class
    table. The quasi-id projection is row-local; at 100 TB the audit
    is one pass plus a class-sized reduce, and the same class table
    feeds the actual suppression join (anti-join on violating classes)
    when the export runs.
    """
    cust = load(spark, sf_dir, "customer")
    q = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    viol = F.when(F.col("n") < _KANON_K, 1).otherwise(0)
    risk = F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum(viol).cast("bigint").alias("n_violating_classes"),
        F.sum(risk).cast("bigint").alias("n_rows_at_risk"),
        F.min("n").cast("bigint").alias("k_min"),
        F.expr(
            f"CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) * 1000000"
            " div SUM(n) AS BIGINT)"
        ).alias("suppress_ppm"),
    )


k_anonymity_audit.__doc__ = k_anonymity_audit.__doc__.format(k=_KANON_K)


KANON_SUPPRESS_SQL = f"""
WITH q AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS n
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
),
joined AS (
  SELECT c.c_nationkey, q.n
  FROM customer c
  JOIN q ON c.c_nationkey = q.c_nationkey
        AND c.c_mktsegment = q.c_mktsegment
        AND CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) = q.bal_band
)
SELECT c_nationkey,
       CAST(SUM(CASE WHEN n >= {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_released,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppressed
FROM joined
GROUP BY c_nationkey
"""


@register(
    "k_anonymity_suppress",
    oracle=KANON_SUPPRESS_SQL,
    survey=["privacy", "k-anonymity", "suppression", "training-prep", "J1-family"],
)
def k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enforcement half of the k-anonymity gate: tag every row with
    its quasi-identifier class size and report, per nation, how many
    rows the export RELEASES (class size >= k={k}) vs SUPPRESSES. The
    release predicate is the exact anti-join a real export applies;
    surfacing both sides keeps the audit reconcilable with
    ``k_anonymity_audit`` (sum(n_suppressed) == its n_rows_at_risk).

    Scale shape: the class table is class-space-sized and keyed by the
    same quasi-id triple as the probe side, so the tag join shuffles
    both sides once on that key (or broadcasts the class table when
    classes ≪ rows, as here — AQE's call); the per-nation rollup is a
    bounded aggregate. No window, no skew key (quasi-id classes are
    capped by construction at k-ish sizes near the suppression
    boundary).
    """
    cust = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    keyed = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment", band.alias("bal_band")
    )
    classes = keyed.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("n")
    )
    # join strategy is AQE's call (ADVICE r7): the class table is NOT
    # provably broadcast-sized at 100 TB — bal_band cardinality grows
    # with the balance domain — so no forced broadcast hint; AQE
    # broadcasts it at small SFs and shuffle-joins when it grows
    tagged = keyed.join(classes, ["c_nationkey", "c_mktsegment", "bal_band"])
    return tagged.groupBy("c_nationkey").agg(
        F.sum(F.when(F.col("n") >= _KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_released"),
        F.sum(F.when(F.col("n") < _KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppressed"),
    )


k_anonymity_suppress.__doc__ = k_anonymity_suppress.__doc__.format(k=_KANON_K)


# ---------------------------------------------------------------------------
# Differential-privacy-style noisy release (seeded Laplace mechanism)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # epsilon; sensitivity of a count is 1 -> scale b = 1/eps
_DP_SEED = "dp-r9-seed"
_DP_TWO52 = float(1 << 52)

_DP_U_SQL = (
    f"CAST(CAST(concat('0x', substr(md5(event_type || '|{_DP_SEED}'), 1, 15))"
    f" AS BIGINT) % {1 << 52} AS DOUBLE) / {_DP_TWO52!r}"
)

DP_LAPLACE_SQL = f"""
WITH counts AS (
  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY event_type
),
noise AS (
  SELECT event_type, n_true,
         {_DP_U_SQL} - 0.5 AS uc
  FROM counts
)
SELECT event_type, n_true,
       FLOOR((CASE WHEN uc >= 0 THEN -1.0 ELSE 1.0 END)
             * (1.0 / {_DP_EPS!r})
             * LN(GREATEST(1.0 - 2.0 * ABS(uc), 1e-15))
             * 1000000 + 0.5) / 1000000 AS noise,
       CAST(n_true AS DOUBLE)
         + FLOOR((CASE WHEN uc >= 0 THEN -1.0 ELSE 1.0 END)
                 * (1.0 / {_DP_EPS!r})
                 * LN(GREATEST(1.0 - 2.0 * ABS(uc), 1e-15))
                 * 1000000 + 0.5) / 1000000 AS noisy_n
FROM noise
"""


@register(
    "dp_laplace_event_counts",
    oracle=DP_LAPLACE_SQL,
    survey=["differential-privacy", "laplace-mechanism", "privacy"],
)
def dp_laplace_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release per event type (epsilon=1,
    count sensitivity 1): the DP sibling of the k-anonymity gate —
    k-anonymity suppresses small groups, the Laplace mechanism
    perturbs every released count so no single user's presence is
    inferable from the output. n_true is kept in the result ONLY so the
    correctness gate can check the mechanism arithmetic; a production
    release drops it.

    Determinism across engines: DP noise needs randomness, but the
    correctness gate needs reproducibility, so the uniform draw is a
    seeded md5 hash of the group key (60-bit prefix mod 2^52, one exact
    divide by 2^52) — the same engine-portable trick as
    train_test_split. Inverse-CDF Laplace: sign(u-.5) * (1/eps) *
    ln(1-2|u-.5|), the only transcendental (ln) immediately quantized
    at 1e-6 per the BM25 discipline (last-ulp libm differences cannot
    survive the quantize); GREATEST(, 1e-15) guards the measure-zero
    u=0 draw. At production scale, swap the seed per release epoch;
    the plan is unchanged.

    Scale shape: one map-combinable count aggregate; the noise is a
    stateless per-group projection (no second pass, no join, no
    window)."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "event_type", F.lit(_DP_SEED))), 1, 15),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 52)
    ).cast("double") / F.lit(_DP_TWO52)
    uc = u - F.lit(0.5)
    raw = (
        F.when(uc >= 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.lit(1.0 / _DP_EPS)
        * F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(uc), F.lit(1e-15)))
    )
    noise = F.floor(raw * 1000000 + F.lit(0.5)) / 1000000
    return counts.select(
        "event_type",
        "n_true",
        noise.alias("noise"),
        (F.col("n_true").cast("double") + noise).alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# l-diversity / t-closeness audit (privacy family, round 9)
# ---------------------------------------------------------------------------

_LDIV_BAND = 100000  # sensitive attribute: acctbal band of 1000 dollars

LDIV_SQL = f"""
WITH ent AS MATERIALIZED (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         -- explicit FLOOR division: DuckDB's integer // truncates
         -- toward zero, which would merge negative balances into
         -- band 0 and disagree with Spark's floor
         CAST(FLOOR(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                         AS DOUBLE) / {_LDIV_BAND}) AS BIGINT) AS band
  FROM customer
),
gb AS (SELECT nat, seg, band, COUNT(*) AS n FROM ent GROUP BY nat, seg, band),
g AS (SELECT nat, seg, SUM(n) AS ng FROM gb GROUP BY nat, seg),
b AS (SELECT band, SUM(n) AS nb FROM gb GROUP BY band),
tot AS (SELECT SUM(n) AS nt FROM gb),
grid AS (
  SELECT g.nat, g.seg, g.ng, b.band, b.nb, COALESCE(gb.n, 0) AS n
  FROM g CROSS JOIN b
  LEFT JOIN gb ON gb.nat = g.nat AND gb.seg = g.seg AND gb.band = b.band
)
SELECT nat, seg,
       CAST(MAX(ng) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_diversity,
       CAST(SUM(CAST(FLOOR(ABS(CAST(n AS DOUBLE) / ng
                               - CAST(nb AS DOUBLE) / nt)
                     * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 2000000000 AS t_closeness
FROM grid CROSS JOIN tot
GROUP BY nat, seg
"""


@register(
    "l_diversity_audit",
    oracle=LDIV_SQL,
    survey=["l-diversity", "t-closeness", "privacy", "anonymization"],
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two audits beyond k-anonymity (k_anonymity_audit's
    companions): per quasi-identifier group (nation, segment),
    l-diversity = how many distinct sensitive values (balance bands)
    the group contains (a k-anonymous group with ONE sensitive value
    still leaks it -- homogeneity attack), and t-closeness = the total
    variation distance between the group's sensitive distribution and
    the global one (a diverse-but-skewed group leaks via skew).

    Determinism: each |p_group - p_global| term is two exact-count
    divisions and one subtract (fixed IEEE ops), QUANTIZED to 1e-9
    integer units BEFORE the band sum -- so the TV distance is an
    exact integer sum divided once, independent of band summation
    order in either engine (quantized-contribution discipline).

    Scale shape: one map-combinable (QI, band) aggregate ends the
    table-sized work; the grid is |QI groups| x |bands| (domain-sized,
    ~125 x ~12 here), built by cross join + left join over aggregate
    outputs, with marginals broadcast. No window, no corpus-sized
    join."""
    cust = load(spark, sf_dir, "customer")
    ent = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        # floor division (matches DuckDB //) -- a plain cast would
        # truncate toward zero and disagree on negative balances
        F.floor(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
            / F.lit(_LDIV_BAND)
        )
        .cast("bigint")
        .alias("band"),
    )
    gb = ent.groupBy("nat", "seg", "band").agg(F.count(F.lit(1)).alias("n"))
    g = gb.groupBy("nat", "seg").agg(F.sum("n").alias("ng"))
    b = gb.groupBy("band").agg(F.sum("n").alias("nb"))
    tot = gb.agg(F.sum("n").alias("nt"))
    grid = (
        g.crossJoin(F.broadcast(b))
        .join(gb, ["nat", "seg", "band"], "left")
        .select(
            "nat",
            "seg",
            "ng",
            "band",
            "nb",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .crossJoin(F.broadcast(tot))
    )
    term_nano = F.floor(
        F.abs(
            F.col("n").cast("double") / F.col("ng")
            - F.col("nb").cast("double") / F.col("nt")
        )
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    return grid.groupBy("nat", "seg").agg(
        F.max("ng").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("l_diversity"),
        (F.sum(term_nano).cast("double") / F.lit(2000000000.0)).alias(
            "t_closeness"
        ),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals (distribution-free coverage)
# ---------------------------------------------------------------------------

_CONF_SPLIT_SQL = """
  SELECT o.o_orderkey AS k, c.c_mktsegment AS seg,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS price,
         CASE WHEN substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) < '55'
              THEN 'train'
              WHEN substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) < 'aa'
              THEN 'cal' ELSE 'test' END AS split
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""

CONFORMAL_SQL = f"""
WITH base AS MATERIALIZED ({_CONF_SPLIT_SQL}),
pred AS (
  SELECT seg, CAST(SUM(price) AS DOUBLE) / COUNT(*) AS mu
  FROM base WHERE split = 'train' GROUP BY seg
),
cal AS (
  SELECT b.seg, ABS(CAST(b.price AS DOUBLE) - p.mu) AS score,
         b.k,
         ROW_NUMBER() OVER (PARTITION BY b.seg
                            ORDER BY ABS(CAST(b.price AS DOUBLE) - p.mu),
                                     b.k) AS rn,
         COUNT(*) OVER (PARTITION BY b.seg) AS nc
  FROM base b JOIN pred p ON b.seg = p.seg WHERE b.split = 'cal'
),
q AS (
  SELECT seg, MAX(nc) AS n_cal,
         MAX(CASE WHEN rn = ((nc + 1) * 9 + 9) // 10 THEN score END) AS qhat
  FROM cal GROUP BY seg
)
SELECT t.seg,
       CAST(MAX(q.n_cal) AS BIGINT) AS n_cal,
       FLOOR(MAX(q.qhat) * 100 + 0.5) / 100 AS q_hat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       FLOOR(CAST(SUM(CASE WHEN ABS(CAST(t.price AS DOUBLE) - p.mu)
                                <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1000000 + 0.5) / 1000000 AS coverage
FROM base t
JOIN pred p ON t.seg = p.seg
JOIN q ON t.seg = q.seg
WHERE t.split = 'test'
GROUP BY t.seg
"""


@register(
    "conformal_order_intervals",
    oracle=CONFORMAL_SQL,
    survey=["conformal-prediction", "uncertainty", "model-eval", "statistics"],
)
def conformal_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around a per-segment mean
    predictor: calibration-set nonconformity scores |price - mu| are
    rank-picked at the finite-sample-corrected ceil((n+1)*0.9) level,
    giving intervals with DISTRIBUTION-FREE >=90% coverage; the held-out
    test split then measures realized coverage. This is the
    uncertainty-quantification harness a scoring pipeline wraps around
    any point model -- the guarantee needs no assumptions about the
    price distribution, only exchangeability of the md5 split.

    Determinism: the three-way split is the md5-prefix trick; mu is an
    exact decimal sum divided once; the quantile is RANK-PICKED (never
    interpolated, theilsen discipline) with (score, orderkey) ordering;
    coverage is one IEEE division of exact counts, quantized 1e-6.

    Scale shape: one map-combinable train aggregate (segment-sized,
    broadcast back), one rank window partitioned by segment over the
    calibration split, one final test aggregate -- the only windows run
    per-segment, never global."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    base = orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("o_orderkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.when(h < "55", "train").when(h < "aa", "cal").otherwise("test")
        .alias("split"),
    )
    pred = (
        base.filter(F.col("split") == "train")
        .groupBy("seg")
        .agg(
            (F.sum("price").cast("double") / F.count(F.lit(1))).alias("mu")
        )
    )
    score = F.abs(F.col("price").cast("double") - F.col("mu"))
    wseg = Window.partitionBy("seg").orderBy(score, F.col("k"))
    wn = Window.partitionBy("seg")
    cal = (
        base.filter(F.col("split") == "cal")
        .join(F.broadcast(pred), "seg")
        .select(
            "seg",
            score.alias("score"),
            F.row_number().over(wseg).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("nc"),
        )
    )
    q = cal.groupBy("seg").agg(
        F.max("nc").alias("n_cal"),
        F.max(
            F.when(
                F.col("rn") == F.floor(((F.col("nc") + 1) * 9 + 9) / 10),
                F.col("score"),
            )
        ).alias("qhat"),
    )
    test = base.filter(F.col("split") == "test").join(
        F.broadcast(pred), "seg"
    ).join(F.broadcast(q), "seg")
    covered = F.sum(
        F.when(
            F.abs(F.col("price").cast("double") - F.col("mu"))
            <= F.col("qhat"),
            1,
        ).otherwise(0)
    )
    return test.groupBy("seg").agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        (F.floor(F.max("qhat") * 100 + F.lit(0.5)) / 100).alias("q_hat"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        dround(covered.cast("double") / F.count(F.lit(1)), 6).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Purged time-series cross-validation (embargoed fold assignment)
# ---------------------------------------------------------------------------

_PCV_FOLDS = 5
_PCV_EMBARGO = 1  # months excluded from train on each side of the test block

PURGED_CV_SQL = f"""
WITH t AS (
  SELECT o_orderkey,
         (YEAR(o_orderdate) - 1995) * 12 + MONTH(o_orderdate) AS m
  FROM orders
),
span AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM t),
tagged AS (
  SELECT o_orderkey, m,
         (m - lo) * {_PCV_FOLDS} // (hi - lo + 1) AS fold_of_m,
         lo, hi
  FROM t CROSS JOIN span
),
folds AS (SELECT UNNEST(range({_PCV_FOLDS})) AS fold),
blocks AS (
  SELECT fold,
         MIN(m) AS blk_lo, MAX(m) AS blk_hi
  FROM (SELECT DISTINCT fold_of_m AS fold, m FROM tagged)
  GROUP BY fold
)
SELECT f.fold,
       CAST(SUM(CASE WHEN g.fold_of_m = f.fold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(SUM(CASE WHEN g.fold_of_m != f.fold
                      AND g.m >= b.blk_lo - {_PCV_EMBARGO}
                      AND g.m <= b.blk_hi + {_PCV_EMBARGO}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_embargoed,
       CAST(SUM(CASE WHEN g.fold_of_m != f.fold
                      AND (g.m < b.blk_lo - {_PCV_EMBARGO}
                           OR g.m > b.blk_hi + {_PCV_EMBARGO})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train
FROM tagged g
CROSS JOIN folds f
JOIN blocks b ON b.fold = f.fold
GROUP BY f.fold
"""


@register(
    "purged_cv_folds",
    oracle=PURGED_CV_SQL,
    survey=["purged-cv", "temporal-split", "embargo", "model-eval"],
)
def purged_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged k-fold assignment for time-series models (the
    Lopez de Prado discipline): folds are CONTIGUOUS month blocks, and
    train rows within {e} month(s) of the test block are EMBARGOED --
    dropped -- so serial correlation cannot leak label information
    across the split boundary (a shuffled k-fold over time series
    overstates accuracy; kfold_assign is the iid sibling). Output per
    fold: test/train/embargoed row counts -- the audit a training
    pipeline records before fitting.

    Determinism: everything is integer month arithmetic over exact
    aggregates; fold blocks derive from the data's own month span via
    integer floor division.

    Scale shape: one projection to month indexes, a broadcast scalar
    span, and one aggregate after a {k}-way fold explode (constant
    fan-out); block bounds are a months-sized aggregate broadcast
    back. No windows, no corpus-sized joins."""
    orders = load(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")
    t = orders.select(m.alias("m"))
    span = t.agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
    tagged = t.crossJoin(F.broadcast(span)).select(
        "m",
        F.floor(
            (F.col("m") - F.col("lo"))
            * _PCV_FOLDS
            / (F.col("hi") - F.col("lo") + 1)
        )
        .cast("long")
        .alias("fold_of_m"),
    )
    blocks = tagged.groupBy(F.col("fold_of_m").alias("fold")).agg(
        F.min("m").alias("blk_lo"), F.max("m").alias("blk_hi")
    )
    folds = spark.range(_PCV_FOLDS).select(F.col("id").alias("fold"))
    g = tagged.crossJoin(F.broadcast(folds.join(blocks, "fold")))
    in_embargo = (
        (F.col("fold_of_m") != F.col("fold"))
        & (F.col("m") >= F.col("blk_lo") - _PCV_EMBARGO)
        & (F.col("m") <= F.col("blk_hi") + _PCV_EMBARGO)
    )
    in_train = (F.col("fold_of_m") != F.col("fold")) & (
        (F.col("m") < F.col("blk_lo") - _PCV_EMBARGO)
        | (F.col("m") > F.col("blk_hi") + _PCV_EMBARGO)
    )
    return g.groupBy("fold").agg(
        F.sum(F.when(F.col("fold_of_m") == F.col("fold"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
        F.sum(F.when(in_embargo, 1).otherwise(0))
        .cast("bigint")
        .alias("n_embargoed"),
        F.sum(F.when(in_train, 1).otherwise(0)).cast("bigint").alias("n_train"),
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (round 10)
# ---------------------------------------------------------------------------

_NB_Q = 10**6  # log-prob quantization: 1e-6 integer micro-nats

NB_CLASSIFIER_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang, text, {_SPLIT_CASE_SQL} AS split FROM documents
),
toks AS (
  SELECT doc_id, lang, split, UNNEST({_TOKS_SQL}) AS tok FROM docs
),
cnt AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks WHERE split = 'train' GROUP BY lang, tok
),
tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM cnt GROUP BY lang),
vocab AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
  FROM toks WHERE split = 'train'
),
priors AS (
  SELECT lang,
         CAST(FLOOR(LN(CAST(n_docs AS DOUBLE) / n_train) * {_NB_Q} + 0.5)
              AS BIGINT) AS prior_q
  FROM (SELECT lang, COUNT(*) AS n_docs FROM docs
        WHERE split = 'train' GROUP BY lang)
  CROSS JOIN (SELECT COUNT(*) AS n_train FROM docs WHERE split = 'train')
),
defaults AS (
  SELECT t.lang, t.tot,
         CAST(FLOOR(LN(1.0 / (t.tot + v.v)) * {_NB_Q} + 0.5) AS BIGINT)
           AS default_q
  FROM tot t CROSS JOIN vocab v
),
model AS (
  SELECT c.lang, c.tok,
         CAST(FLOOR(LN((c.n + 1.0) / (d.tot + v.v)) * {_NB_Q} + 0.5)
              AS BIGINT) - d.default_q AS delta_q
  FROM cnt c
  JOIN defaults d ON c.lang = d.lang
  CROSS JOIN vocab v
),
doc_len AS (
  SELECT doc_id, lang AS true_lang, CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM toks WHERE split = 'test' GROUP BY doc_id, lang
),
test_cnt AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE split = 'test' GROUP BY doc_id, tok
),
adj AS (
  SELECT tc.doc_id, m.lang, CAST(SUM(tc.cnt * m.delta_q) AS BIGINT) AS adj
  FROM test_cnt tc JOIN model m ON tc.tok = m.tok
  GROUP BY tc.doc_id, m.lang
),
scores AS (
  SELECT dl.doc_id, dl.true_lang, p.lang,
         p.prior_q + dl.n_toks * d.default_q + COALESCE(a.adj, 0) AS score
  FROM doc_len dl
  CROSS JOIN priors p
  JOIN defaults d ON p.lang = d.lang
  LEFT JOIN adj a ON a.doc_id = dl.doc_id AND a.lang = p.lang
),
pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred_lang
"""


@register(
    "naive_bayes_lang_classifier",
    oracle=NB_CLASSIFIER_SQL,
    survey=["naive-bayes", "text-classification", "train-apply", "lang-id"],
    bench=True,
)
def naive_bayes_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND applied distributed: learn
    add-1-smoothed per-(lang, token) log-probabilities on the md5
    'train' split, score every 'test' doc against every language, and
    report the confusion matrix -- the classic learned LID/quality
    classifier shape (train = one aggregation pass, apply = one join),
    vs doc_lang_id's fixed stopword heuristic.

    Engine-exactness: every log-probability is quantized to integer
    1e-6 micro-nats at birth (BM25/dp_laplace discipline), so scoring
    is PURE INTEGER arithmetic -- prior_q + n_toks*default_q +
    sum(cnt * delta_q) -- and the per-doc argmax (row_number over
    (score DESC, lang ASC)) is exact on both engines.

    Scale shape: training is two map-combinable aggregates (token
    counts, totals) -- the model never leaves the cluster; scoring uses
    the SPARSE trick: only (token, lang) pairs present in the model
    contribute a delta against the per-lang unseen-token default, so
    the scoring join is test-tokens x model on the token key
    (high-cardinality, well-distributed), never test-docs x vocab.
    Priors/defaults are lang-bounded broadcasts; the argmax window
    partitions by doc_id (key-partitioned, never global)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "split", split_assign("doc_id")
    )
    toks = docs.select(
        "doc_id",
        "lang",
        "split",
        F.explode(F.split(normalize_text("text"), " ")).alias("tok"),
    ).persist()
    train = toks.filter(F.col("split") == "train")
    cnt = train.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.groupBy("lang").agg(F.sum("n").cast("bigint").alias("tot"))
    vocab = train.agg(
        F.count_distinct("tok").cast("bigint").alias("v")
    )
    n_train = docs.filter(F.col("split") == "train").agg(
        F.count(F.lit(1)).alias("n_train")
    )
    # r13: the model/score projections render as SQL text (one
    # selectExpr parse each — the r12 flit discipline; the Column build
    # cost ~0.4 s driver latency per invocation). Same functions/casts/
    # operand order; collect-equality vs the Column build at sf0.1 +
    # oracle parity. Interleaved A/B: 1.60 -> 1.50 s median.
    lnq = lambda s: f"CAST(FLOOR(LN({s}) * {_NB_Q} + 0.5D) AS BIGINT)"  # noqa: E731
    priors = (
        docs.filter(F.col("split") == "train")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(n_train))
        .selectExpr(
            "lang",
            lnq("CAST(n_docs AS DOUBLE) / n_train") + " AS prior_q",
        )
    )
    defaults = tot.crossJoin(F.broadcast(vocab)).selectExpr(
        "lang",
        "tot",
        lnq("1.0D / (tot + v)") + " AS default_q",
    )
    model = (
        cnt.join(defaults, "lang")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "lang",
            "tok",
            f"({lnq('(n + 1.0D) / (tot + v)')}) - default_q AS delta_q",
        )
    )
    test = toks.filter(F.col("split") == "test")
    doc_len = test.groupBy(
        "doc_id", F.col("lang").alias("true_lang")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_toks"))
    test_cnt = test.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    adj = (
        test_cnt.join(model, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("delta_q")).cast("bigint").alias("adj"))
    )
    scores = (
        doc_len.crossJoin(F.broadcast(priors))
        .join(F.broadcast(defaults.select("lang", "default_q")), "lang")
        .join(adj, ["doc_id", "lang"], "left")
        .selectExpr(
            "doc_id",
            "true_lang",
            "lang",
            "prior_q + n_toks * default_q + coalesce(adj, 0) AS score",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    out = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .localCheckpoint()  # lang^2-sized; releases toks
    )
    toks.unpersist()
    return out


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sample (round 10)
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000  # total sample budget across strata

NEYMAN_SQL = f"""
WITH stats AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS q
  FROM documents GROUP BY source
),
wgt AS (
  SELECT source, n_h,
         CAST(FLOOR(SQRT(GREATEST(
                CAST(q AS DOUBLE) / n_h
                - (CAST(s AS DOUBLE) / n_h) * (CAST(s AS DOUBLE) / n_h),
                0.0))
              * n_h * 1000000 + 0.5) AS BIGINT) AS w_q
  FROM stats
),
tot AS (SELECT CAST(SUM(w_q) AS BIGINT) AS tw FROM wgt),
alloc AS (
  SELECT source, n_h, w_q,
         LEAST(CASE WHEN tw = 0 THEN 0
                    ELSE ({_NEY_BUDGET} * w_q) // tw END, n_h) AS n_alloc
  FROM wgt CROSS JOIN tot
),
ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
),
samp AS (
  SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(r.n_chars) AS BIGINT) AS chars
  FROM ranked r JOIN alloc a ON r.source = a.source AND r.rn <= a.n_alloc
  GROUP BY r.source
)
SELECT a.source, a.n_h AS n_total, a.w_q, a.n_alloc,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       CASE WHEN s.n_sampled > 0
            THEN FLOOR(CAST(s.chars AS DOUBLE) / s.n_sampled * 10000 + 0.5)
                 / 10000 END AS mean_chars_sampled
FROM alloc a LEFT JOIN samp s ON a.source = s.source
"""


@register(
    "neyman_stratified_sample",
    oracle=NEYMAN_SQL,
    survey=["neyman-allocation", "stratified-sampling", "survey-design"],
)
def neyman_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal stratified sampling: the {budget}-doc budget is
    allocated across source strata by Neyman allocation n_h ~ N_h *
    sigma_h (high-variance strata get proportionally MORE rows than
    proportional allocation gives them -- the survey-sampling optimum
    for estimating the corpus mean), then drawn deterministically by
    md5 rank within each stratum. stratified_sample is the
    proportional baseline; this is the estimator-variance-minimizing
    upgrade a 100 TB eval-subset draw would actually use.

    Engine-exactness: per-stratum moments are exact integer sums;
    sigma_h is one fixed IEEE op sequence (q/n, s/n, mul, sub, sqrt --
    the zscore discipline, GREATEST(...,0)-guarded for constant
    strata); the allocation weight is quantized to integer 1e-6 units
    BEFORE the cross-stratum sum (quantize-before-sum discipline), so
    allocation is pure integer arithmetic -- (budget * w_q) DIV
    total_w, positive-operand integer division in both engines.

    Scale shape: one map-combinable moment aggregate; the allocation
    table is strata-bounded (broadcast); the md5 rank window partitions
    by stratum (key-partitioned -- at extreme per-stratum cardinality
    swap for the histogram-threshold draw, orders_priority_sample
    precedent); the sample summary is one more map-combinable
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("q"),
    )
    qd = F.col("q").cast("double") / F.col("n_h")
    md = F.col("s").cast("double") / F.col("n_h")
    var = F.greatest(qd - md * md, F.lit(0.0))
    wgt = stats.select(
        "source",
        "n_h",
        F.floor(F.sqrt(var) * F.col("n_h") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("w_q"),
    )
    tot = wgt.agg(F.sum("w_q").cast("bigint").alias("tw"))
    alloc = (
        wgt.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_h",
            "w_q",
            F.least(
                # tw = 0 iff every stratum is constant (all w_q = 0):
                # DuckDB's // errors on 0 while Spark's DIV returns
                # NULL -- allocate 0 on both engines (ADVICE r10)
                F.when(F.col("tw") == 0, F.lit(0).cast("bigint")).otherwise(
                    F.expr(f"({_NEY_BUDGET} * w_q) DIV tw")
                ),
                F.col("n_h"),
            ).alias("n_alloc"),
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", "n_chars", F.row_number().over(wr).alias("rn")
    )
    samp = (
        ranked.join(F.broadcast(alloc.select("source", "n_alloc")), "source")
        .filter(F.col("rn") <= F.col("n_alloc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )
    return (
        alloc.join(samp, "source", "left")
        .select(
            "source",
            F.col("n_h").alias("n_total"),
            "w_q",
            "n_alloc",
            F.coalesce(F.col("n_sampled"), F.lit(0).cast("bigint")).alias(
                "n_sampled"
            ),
            F.when(
                F.col("n_sampled") > 0,
                dround(
                    F.col("chars").cast("double") / F.col("n_sampled"), 4
                ),
            ).alias("mean_chars_sampled"),
        )
    )


neyman_stratified_sample.__doc__ = neyman_stratified_sample.__doc__.format(
    budget=_NEY_BUDGET
)


# ---------------------------------------------------------------------------
# Isotonic calibration of the quality gate (PAV via exact minimax, round 10)
# ---------------------------------------------------------------------------

_ISO_Q = 10**9  # pooled-average quantization: 1e-9 integer units

ISO_CALIBRATION_SQL = f"""
WITH scored AS ({QLR_SQL}),
lab AS (
  SELECT CAST(s.prob_micro // 10000 AS BIGINT) AS bucket,
         CASE WHEN d.lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS pos
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
b AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS p
  FROM lab GROUP BY bucket
),
cum AS (
  SELECT bucket, n, p,
         ROW_NUMBER() OVER (ORDER BY bucket) AS r,
         SUM(n) OVER (ORDER BY bucket) AS cn,
         SUM(p) OVER (ORDER BY bucket) AS cp
  FROM b
),
pairs AS (
  SELECT j.r AS rj, k.r AS rk,
         CAST(FLOOR(CAST(k.cp - (j.cp - j.p) AS DOUBLE)
                    / (k.cn - (j.cn - j.n)) * {_ISO_Q} + 0.5) AS BIGINT)
           AS avg_q
  FROM cum j JOIN cum k ON j.r <= k.r
),
mins AS (SELECT rj, MIN(avg_q) AS m_q FROM pairs GROUP BY rj),
iso AS (
  SELECT rj AS r, MAX(m_q) OVER (ORDER BY rj) AS iso_q FROM mins
)
SELECT c.bucket, c.n AS n_docs, c.p AS n_pos,
       FLOOR(CAST(c.p AS DOUBLE) / c.n * 1000000 + 0.5) / 1000000
         AS frac_pos,
       FLOOR(CAST(i.iso_q AS DOUBLE) / 1000 + 0.5) / 1000000
         AS iso_calibrated
FROM cum c JOIN iso i ON c.r = i.r
"""


@register(
    "quality_isotonic_calibration",
    oracle=ISO_CALIBRATION_SQL,
    survey=["isotonic-regression", "pav", "calibration", "model-eval"],
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality gate: fits the
    monotone-nondecreasing map from predicted-probability bucket to
    observed positive rate that minimizes squared error -- the
    standard post-hoc calibrator when the reliability diagram
    (quality_gate_calibration) shows miscalibration. Computed by the
    exact MINIMAX characterization of the PAV solution, g(i) =
    max_(j<=i) min_(k>=j) wavg(y[j..k]), instead of the sequential
    pool-adjacent-violators loop: on the BOUNDED bucket domain the
    O(B^2) pair table is ~5k rows at any corpus size, and the closed
    form is engine-portable where the stateful PAV loop is not.

    Engine-exactness: pooled averages come from exact integer prefix
    sums, one int->double divide each, quantized to 1e-9 integers
    BEFORE the min/max lattice (quantize-before-reduce discipline), so
    the fit is exact on both engines.

    Scale shape: the corpus-sized work is ONE hash aggregate onto the
    101-bucket domain; everything after (prefix windows, the pair
    join, the minimax) runs on domain-bounded rows -- the
    single-partition windows sit on the bucket aggregate's output
    (sanctioned, orders_price_histogram precedent)."""
    scored = quality_logreg_score(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = scored.join(docs, "doc_id").select(
        F.expr("prob_micro DIV 10000").cast("bigint").alias("bucket"),
        F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        .otherwise(0)
        .alias("pos"),
    )
    b = lab.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    wo = Window.partitionBy().orderBy("bucket")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bucket",
        "n",
        "p",
        F.row_number().over(wo).alias("r"),
        F.sum("n").over(wcum).alias("cn"),
        F.sum("p").over(wcum).alias("cp"),
    )
    j = cum.select(
        F.col("r").alias("rj"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cp") - F.col("p")).alias("cp0"),
    )
    k = cum.select(
        F.col("r").alias("rk"), F.col("cn").alias("cnk"),
        F.col("cp").alias("cpk"),
    )
    pairs = j.join(k, F.col("rj") <= F.col("rk")).select(
        "rj",
        F.floor(
            (F.col("cpk") - F.col("cp0")).cast("double")
            / (F.col("cnk") - F.col("cn0"))
            * _ISO_Q
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("avg_q"),
    )
    mins = pairs.groupBy("rj").agg(F.min("avg_q").alias("m_q"))
    wiso = Window.partitionBy().orderBy("rj").rowsBetween(
        Window.unboundedPreceding, 0
    )
    iso = mins.select(
        F.col("rj").alias("r"), F.max("m_q").over(wiso).alias("iso_q")
    )
    return cum.join(iso, "r").select(
        "bucket",
        F.col("n").alias("n_docs"),
        F.col("p").alias("n_pos"),
        dround(F.col("p").cast("double") / F.col("n"), 6).alias("frac_pos"),
        (
            F.floor(F.col("iso_q").cast("double") / 1000 + F.lit(0.5))
            / 1000000
        ).alias("iso_calibrated"),
    )


# ---------------------------------------------------------------------------
# Temperature-based multilingual sampling weights (round 10)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7  # the mT5/XLM-R exponent: upsample tails, damp the head

TEMPERATURE_SQL = f"""
WITH l AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(chars) AS BIGINT) AS total FROM l),
u AS (
  SELECT lang, chars,
         CAST(FLOOR(EXP({_TEMP_ALPHA} * LN(CAST(chars AS DOUBLE)))
                    * 1000000 + 0.5) AS BIGINT) AS u_q
  FROM l
),
su AS (SELECT CAST(SUM(u_q) AS BIGINT) AS sum_u FROM u)
SELECT u.lang, u.chars,
       FLOOR(CAST(u.chars AS DOUBLE) / total * 100000000 + 0.5)
         / 100000000 AS p_natural,
       FLOOR(CAST(u.u_q AS DOUBLE) / sum_u * 100000000 + 0.5)
         / 100000000 AS p_sampled,
       FLOOR((CAST(u.u_q AS DOUBLE) / sum_u)
             / (CAST(u.chars AS DOUBLE) / total) * 1000000 + 0.5)
         / 1000000 AS boost
FROM u CROSS JOIN tot CROSS JOIN su
"""


@register(
    "temperature_sampling_weights",
    oracle=TEMPERATURE_SQL,
    survey=["temperature-sampling", "multilingual-mixture", "ml-prep"],
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling: p_sampled(l) ~
    p_natural(l)^{alpha} -- the multilingual-pretraining mixture rule
    (mT5/XLM-R, alpha = {alpha}) that upsamples tail languages and
    damps the head so low-resource languages are seen more than their
    natural share without destroying the head distribution. ``boost``
    is the per-language resampling factor a loader applies (> 1 =
    upsample). unimax_mixture_allocation is the hard-cap alternative;
    this is the smooth power-law one.

    Engine-exactness: the only transcendental chain (exp(alpha *
    ln(chars)), the sigmoid precedent) is quantized to integer 1e-6
    units per language BEFORE the cross-language normalization sum
    (quantize-before-sum), so both normalizations divide identical
    exact integers.

    Scale shape: one map-combinable char-count aggregate; everything
    after runs on the language-bounded domain."""
    l = load(spark, sf_dir, "documents").groupBy("lang").agg(
        F.sum("n_chars").cast("bigint").alias("chars")
    )
    tot = l.agg(F.sum("chars").cast("bigint").alias("total"))
    u = l.select(
        "lang",
        "chars",
        F.floor(
            F.exp(_TEMP_ALPHA * F.log(F.col("chars").cast("double")))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("u_q"),
    )
    su = u.agg(F.sum("u_q").cast("bigint").alias("sum_u"))
    return (
        u.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(su))
        .select(
            "lang",
            "chars",
            dround(
                F.col("chars").cast("double") / F.col("total"), 8
            ).alias("p_natural"),
            dround(
                F.col("u_q").cast("double") / F.col("sum_u"), 8
            ).alias("p_sampled"),
            dround(
                (F.col("u_q").cast("double") / F.col("sum_u"))
                / (F.col("chars").cast("double") / F.col("total")),
                6,
            ).alias("boost"),
        )
    )


temperature_sampling_weights.__doc__ = (
    temperature_sampling_weights.__doc__.format(alpha=_TEMP_ALPHA)
)


# ---------------------------------------------------------------------------
# Leave-one-source-out impact readout (round 10)
# ---------------------------------------------------------------------------

LOSO_SQL = f"""
WITH s AS (
  SELECT source,
         CAST(SUM(n_chars) AS BIGINT) AS chars,
         CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN n_chars
                       ELSE 0 END) AS BIGINT) AS tgt_chars
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(chars) AS BIGINT) AS total,
         CAST(SUM(tgt_chars) AS BIGINT) AS tgt_total
  FROM s
)
SELECT s.source, s.chars, s.tgt_chars,
       FLOOR(CAST(s.chars AS DOUBLE) / total * 1000000 + 0.5)
         / 1000000 AS corpus_share,
       FLOOR(CAST(tgt_total AS DOUBLE) / total * 1000000 + 0.5)
         / 1000000 AS metric_full,
       FLOOR(CAST(tgt_total - s.tgt_chars AS DOUBLE)
             / (total - s.chars) * 1000000 + 0.5)
         / 1000000 AS metric_without,
       FLOOR((CAST(tgt_total - s.tgt_chars AS DOUBLE) / (total - s.chars)
              - CAST(tgt_total AS DOUBLE) / total) * 1000000000 + 0.5)
         / 1000000000 AS delta
FROM s CROSS JOIN tot
"""


@register(
    "loso_source_impact",
    oracle=LOSO_SQL,
    survey=["data-valuation", "leave-one-out", "source-attribution"],
)
def loso_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation on an additive corpus
    metric (target-language char share): for each source, what the
    metric becomes if that source is dropped, and the signed delta --
    the cheapest real data-attribution readout (the additive-metric
    special case of Shapley values, where marginal contribution is
    exact from ONE pass: metric_without = (T - t_s) / (N - n_s)).
    A negative delta means the source is pulling the corpus TOWARD the
    target language.

    Engine-exactness: all numerators/denominators are exact integer
    sums; each readout is one int->double divide (or one subtract of
    two such divides), quantized.

    Scale shape: one map-combinable aggregate onto the source domain;
    the totals row broadcasts back -- the 20 leave-one-out corpora are
    never materialized."""
    s = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.sum(
            F.when(
                F.col("lang") == _DSIR_TARGET_LANG, F.col("n_chars")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tgt_chars"),
    )
    tot = s.agg(
        F.sum("chars").cast("bigint").alias("total"),
        F.sum("tgt_chars").cast("bigint").alias("tgt_total"),
    )
    full = F.col("tgt_total").cast("double") / F.col("total")
    without = (F.col("tgt_total") - F.col("tgt_chars")).cast("double") / (
        F.col("total") - F.col("chars")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "chars",
        "tgt_chars",
        dround(F.col("chars").cast("double") / F.col("total"), 6).alias(
            "corpus_share"
        ),
        dround(full, 6).alias("metric_full"),
        dround(without, 6).alias("metric_without"),
        dround(without - full, 9).alias("delta"),
    )
