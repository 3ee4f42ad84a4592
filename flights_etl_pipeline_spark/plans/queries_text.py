"""Text-analysis queries over the documents table (north-star extras:
token counting, quality scoring, language-ID heuristic, fingerprinting).

Every metric is integer- or exact-division-based so the DuckDB oracle
matches bit-for-bit; the whole pipeline is codegen'd column expressions
(tokenize once, derive everything from the array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.functions.scalar import dround
from flights_etl_pipeline_spark.functions.text import (
    LANG_CASE_SQL,
    STOPWORDS,
    fingerprint,
    normalize_text,
    shingle_rows,
    stopword_score,
    tokenize,
)
from flights_etl_pipeline_spark.plans.registry import load, register

# ---------------------------------------------------------------------------
# Document stats: token counts, lengths, fingerprint
# ---------------------------------------------------------------------------


@register(
    "doc_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, n_chars, text, string_split_regex(text, '\\s+') AS tokens
  FROM documents
)
SELECT doc_id,
       n_chars,
       LENGTH(text) AS n_chars_computed,
       LEN(tokens) AS n_tokens,
       LEN(LIST_DISTINCT(tokens)) AS n_distinct_tokens,
       FLOOR(CAST(LIST_SUM(LIST_TRANSFORM(tokens, t -> LENGTH(t))) AS DOUBLE)
             / LEN(tokens) * 100 + 0.5) / 100 AS mean_token_len,
       MD5(TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
FROM toks
""",
    survey=["text-stats", "fingerprint"],
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics + md5 fingerprint."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize("text")
    lens = F.transform(toks, F.length)
    return docs.select(
        "doc_id",
        "n_chars",
        F.length("text").alias("n_chars_computed"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        dround(
            F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x).cast(
                "double"
            )
            / F.size(toks),
            2,
        ).alias("mean_token_len"),
        fingerprint("text").alias("fp"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword-set scores + shared CASE decision
# ---------------------------------------------------------------------------


def _duck_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"LEN(LIST_FILTER(string_split_regex(LOWER(text), '\\s+'),"
        f" t -> t IN ({words}))) AS score_{lang}"
    )


LANG_ID_SQL = f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
         {_duck_score('en')},
         {_duck_score('es')},
         {_duck_score('fr')},
         {_duck_score('de')}
  FROM documents
)
SELECT doc_id, labeled_lang, score_en, score_es, score_fr, score_de,
       {LANG_CASE_SQL} AS predicted_lang
FROM scores
"""


@register("doc_lang_id", oracle=LANG_ID_SQL, survey=["lang-id", "text"])
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: per-language stopword hit counts,
    argmax with fixed tie order (the decision CASE is literally the same
    SQL text Spark and DuckDB evaluate)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.lower(F.col("text")))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            stopword_score(toks, STOPWORDS[lang]).alias(f"score_{lang}")
            for lang in ("en", "es", "fr", "de")
        ],
    )
    return scored.withColumn("predicted_lang", F.expr(LANG_CASE_SQL))


# ---------------------------------------------------------------------------
# Corpus-level token frequency top-k
# ---------------------------------------------------------------------------


@register(
    "token_freq_topk",
    oracle="""
SELECT tok, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS tok
      FROM documents)
GROUP BY tok
ORDER BY freq DESC, tok
LIMIT 25
""",
    survey=["text", "A7", "sort", "limit"],
)
def token_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-25 (explode -> agg -> TakeOrdered)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "tok")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Quality scoring: bucketed composite of exact metrics
# ---------------------------------------------------------------------------

QUALITY_SQL = """
WITH m AS (
  SELECT doc_id, source,
         LEN(string_split_regex(text, '\\s+')) AS n_tokens,
         LEN(LIST_FILTER(string_split_regex(LOWER(text), '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
  FROM documents
)
SELECT doc_id, source, n_tokens,
       FLOOR(CAST(n_stop AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000
         AS stop_ratio,
       CASE WHEN n_tokens >= 40
              AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.02 AND 0.6
            THEN 'high'
            WHEN n_tokens >= 15 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM m
"""


@register(
    "doc_quality", oracle=QUALITY_SQL, survey=["quality-score", "text"], bench=True
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length + stopword-ratio bucket (the
    pretraining-filter shape; all thresholds on exact values)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize("text")
    lower_toks = tokenize(F.lower(F.col("text")))
    n_tokens = F.size(toks)
    n_stop = stopword_score(lower_toks, STOPWORDS["en"])
    stop_ratio = n_stop.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        dround(stop_ratio, 4).alias("stop_ratio"),
        F.when(
            (n_tokens >= 40) & (stop_ratio >= 0.02) & (stop_ratio <= 0.6),
            F.lit("high"),
        )
        .when(n_tokens >= 15, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("quality_bucket"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint (Rabin-Karp fold)
# ---------------------------------------------------------------------------

from flights_etl_pipeline_spark.functions.text import (  # noqa: E402
    rolling_hash,
    sql_rolling_hash,
)


@register(
    "doc_rolling_fingerprint",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, {sql_rolling_hash('text')} AS fingerprint FROM documents
)
SELECT doc_id, fingerprint, fingerprint % 64 AS shard
FROM fp
""",
    survey=["fingerprint", "text"],
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial fingerprint per document + its dedup shard.

    The rolling form (vs md5) is what incremental chunk-dedup and
    substring search build on; the fold stays JVM-side and the shard
    column is the natural dedup-shuffle key at scale.
    """
    docs = load(spark, sf_dir, "documents")
    fp = rolling_hash("text")
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        (fp % 64).alias("shard"),
    )


# ---------------------------------------------------------------------------
# BPE-style pre-tokenization (subword-ish token counting)
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, simplified to the subset with IDENTICAL
# semantics in Java regex (Spark) and RE2 (DuckDB): no lookahead (RE2
# lacks it), ASCII classes, leftmost-first alternation in both engines.
# Order matters: contractions, then space-prefixed word / number /
# punctuation runs, then residual whitespace.
_BPE_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")  # escape quote for the SQL literal


@register(
    "bpe_token_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(regexp_extract_all(text, '{_BPE_RE_SQL}')))
            AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(LEN(string_split_regex(text, '\\s+')))
            AS BIGINT) AS n_ws_tokens,
       FLOOR(CAST(SUM(LEN(regexp_extract_all(text, '{_BPE_RE_SQL}')))
                  AS DOUBLE)
             / SUM(LEN(string_split_regex(text, '\\s+'))) * 10000 + 0.5)
         / 10000 AS fertility
FROM documents
GROUP BY lang
""",
    survey=["bpe-tokens", "token-count", "text"],
    bench=True,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token counting with a BPE-style pre-tokenizer regex (the
    GPT-2 pre-split shape: contraction / space-word / space-number /
    space-punctuation / whitespace runs), reported per language with
    fertility = BPE tokens per whitespace token -- the budget metric a
    training pipeline tracks per source. regexp_extract_all is a single
    codegen'd JVM pass per row; no UDF, no Python."""
    docs = load(spark, sf_dir, "documents")
    bpe_n = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    ws_n = F.size(tokenize("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_n).alias("n_bpe_tokens"),
        F.sum(ws_n).alias("n_ws_tokens"),
        dround(
            F.sum(bpe_n).cast("double") / F.sum(ws_n),
            4,
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (pattern masking before training)
# ---------------------------------------------------------------------------

# Java-regex / RE2 portable subset: explicit classes, no lookaround.
_EMAIL_RE = "[A-Za-z0-9_.]+@[A-Za-z0-9_.]+"
_NUM_RE = "[0-9]+"


@register(
    "doc_pii_scrub",
    oracle=f"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       LEN(regexp_extract_all(text, '{_NUM_RE}')) AS n_number_runs,
       LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>',
                                            'g'),
                             '{_NUM_RE}', '<NUM>', 'g')) AS scrubbed_len,
       MD5(REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_NUM_RE}', '<NUM>', 'g')) AS scrubbed_fp
FROM documents
""",
    survey=["pii-scrub", "text", "fingerprint"],
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: mask email-shaped and numeric spans with
    placeholder tokens, reporting per-document match counts and the
    fingerprint of the scrubbed text (so downstream dedup runs on the
    masked form -- scrubbing before dedup prevents unique PII from
    blocking near-dup detection). Pure codegen'd regexp expressions;
    the pattern subset is Java-regex/RE2 portable so the oracle matches
    byte-for-byte. At scale this is a zero-shuffle projection pass."""
    docs = load(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _NUM_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_NUM_RE), 0)).alias(
            "n_number_runs"
        ),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


# ---------------------------------------------------------------------------
# Repetition-based quality filter (Gopher-style duplicate-token signals)
# ---------------------------------------------------------------------------


@register(
    "doc_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tokens
  FROM documents
),
bg AS (
  SELECT doc_id,
         UNNEST(list_transform(
           list_zip(tokens, tokens[2:]),
           p -> p[1] || ' ' || p[2])) AS bigram
  FROM toks
  WHERE LEN(tokens) >= 2
),
bgc AS (
  SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram
),
bstats AS (
  SELECT doc_id, MAX(n) AS top_bigram_n, SUM(n) AS n_bigrams,
         COUNT(*) AS n_distinct_bigrams
  FROM bgc GROUP BY doc_id
)
SELECT t.doc_id, t.source,
       LEN(t.tokens) AS n_tokens,
       LEN(t.tokens) - LEN(list_distinct(t.tokens)) AS n_dup_tokens,
       (FLOOR(CAST(LEN(t.tokens) - LEN(list_distinct(t.tokens)) AS DOUBLE)
              / LEN(t.tokens) * 10000 + 0.5) / 10000) AS dup_token_frac,
       b.top_bigram_n,
       b.n_distinct_bigrams,
       (FLOOR(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams * 10000 + 0.5)
        / 10000) AS top_bigram_share,
       (CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams > 0.05) AS flag_repetitive
FROM toks t JOIN bstats b USING (doc_id)
""",
    survey=["quality-filter", "repetition", "gopher", "text"],
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-token
    fraction (row-local, pure array ops) and most-frequent-bigram share
    (explode + two hash aggregates keyed by doc_id), with the >5 %
    top-bigram-share flag used to drop boilerplate/spam before training.

    Scale shape: the row-local metrics never shuffle; the bigram mode
    shuffles (doc_id, bigram) pairs once, and partial aggregation
    collapses each doc's repeats map-side, so the exchange carries the
    distinct-bigram count -- not the token count. No per-doc maps are
    materialized (vs a naive aggregate-to-map approach, which would OOM
    on long documents)."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", tokenize("text").alias("tokens"))
        .filter(F.size("tokens") >= 2)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.col("tokens"),
                F.slice(F.col("tokens"), 2, F.size("tokens") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    bstats = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("top_bigram_n"),
            F.sum("n").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
    )
    n_dup = F.size("tokens") - F.size(F.array_distinct("tokens"))
    share = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    return (
        toks.join(bstats, "doc_id")
        .select(
            "doc_id",
            "source",
            F.size("tokens").alias("n_tokens"),
            n_dup.alias("n_dup_tokens"),
            dround(n_dup.cast("double") / F.size("tokens"), 4).alias(
                "dup_token_frac"
            ),
            "top_bigram_n",
            "n_distinct_bigrams",
            dround(share, 4).alias("top_bigram_share"),
            (share > 0.05).alias("flag_repetitive"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index build (token -> document postings)
# ---------------------------------------------------------------------------


@register(
    "inverted_index",
    oracle="""
WITH hits AS (
  SELECT UNNEST(string_split(text, ' ')) AS token, doc_id FROM documents
),
postings AS (
  SELECT token,
         COUNT(*) AS total_tf,
         list_sort(list(DISTINCT doc_id)) AS docs
  FROM hits GROUP BY token
)
SELECT token, total_tf,
       LEN(docs) AS doc_freq,
       array_to_string(list_slice(docs, 1, 5), ',') AS posting_head
FROM postings
WHERE LEN(docs) >= 20
""",
    survey=["inverted-index", "postings", "search", "A7"],
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> (term frequency, document
    frequency, head of the sorted posting list as a comma-joined
    string -- a scalar column so downstream hashers never see a list).

    Two exchanges, no join, every buffer bounded:
      1. hash aggregate keyed (token, doc_id) -> per-pair term
         frequency (map-side combinable; buffer is one counter per
         distinct pair in the hash map),
      2. one token-partitioned window computing row_number over
         doc_id plus unbounded-frame COUNT/SUM for doc_freq/total_tf
         (WindowExec spills its partition buffer to disk, so a
         stopword token degrades to disk bandwidth, never OOM),
    then rows with row_number <= 5 feed a collect_list whose buffer
    holds at most 5 elements per token.  This replaces the round-2
    collect_set design whose in-memory posting set was unbounded for
    stopword-grade tokens at 100 TB."""
    hits = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token"), "doc_id"
    )
    pair_tf = hits.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w_rank = Window.partitionBy("token").orderBy("doc_id")
    w_all = Window.partitionBy("token")
    ranked = pair_tf.select(
        "token",
        "doc_id",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("doc_freq"),
        F.sum("tf").over(w_all).alias("total_tf"),
    )
    return (
        ranked.filter(F.col("rn") <= 5)
        .filter(F.col("doc_freq") >= 20)
        .groupBy("token", "total_tf", "doc_freq")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list("doc_id"))
            ).alias("posting_head")
        )
        .select("token", "total_tf", "doc_freq", "posting_head")
    )


# ---------------------------------------------------------------------------
# Document chunking (overlapping token windows for embedding pipelines)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


@register(
    "doc_chunks",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS tokens
  FROM documents
),
starts AS (
  SELECT doc_id, source, tokens,
         UNNEST(generate_series(
           0, CAST(FLOOR(CAST(LEN(tokens) - 1 AS DOUBLE) / {CHUNK_STRIDE})
                   AS BIGINT))) AS chunk_idx
  FROM toks
)
SELECT doc_id, source, chunk_idx,
       LEN(list_slice(tokens, chunk_idx * {CHUNK_STRIDE} + 1,
                      chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}))
         AS chunk_tokens,
       MD5(array_to_string(
             list_slice(tokens, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
         AS chunk_fp
FROM starts
""",
    survey=["chunking", "sliding-window", "embedding-prep", "A7"],
    bench=True,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: split each document into {CHUNK_SIZE}-token
    windows advancing by {CHUNK_STRIDE} tokens ({CHUNK_SIZE - CHUNK_STRIDE}
    overlapping tokens preserve cross-boundary context), emitting one row
    per chunk with its token count and content fingerprint -- the step
    that feeds bounded-length inputs to an embedding model.

    Scale shape: tokenize once, explode only the chunk *indices*
    (sequence 0..n_chunks-1) and slice the shared token array per index
    -- a generator + projection, fully codegen'd, no Python, no shuffle.
    The ~{CHUNK_SIZE - CHUNK_STRIDE}/{CHUNK_STRIDE} duplication factor is
    the only data growth, paid at write time, not in an exchange."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("tokens")
    )
    n_chunks_last = F.floor(
        (F.size("tokens") - 1).cast("double") / CHUNK_STRIDE
    ).cast("long")
    starts = toks.select(
        "doc_id",
        "source",
        "tokens",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks_last)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("tokens"),
        (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_SIZE,
    )
    return starts.select(
        "doc_id",
        "source",
        "chunk_idx",
        F.size(chunk).alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# Vocabulary build (frequency cutoff + rank-assigned token ids)
# ---------------------------------------------------------------------------

VOCAB_MIN_FREQ = 2
_N_SPECIALS = 4  # <pad>=0 <unk>=1 <bos>=2 <eos>=3 reserve the first ids


@register(
    "vocab_build",
    oracle=f"""
WITH tf AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  HAVING COUNT(*) >= {VOCAB_MIN_FREQ}
)
SELECT token, freq,
       ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) + {_N_SPECIALS - 1}
         AS token_id
FROM tf
""",
    survey=["vocab-build", "tokenizer", "window", "training-prep"],
    bench=True,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: corpus-wide term frequencies,
    a minimum-frequency cutoff, and dense token ids assigned by
    (freq desc, token asc) rank after reserving the first ids for
    special tokens -- the table a trained tokenizer ships with.

    Scale shape: the frequency count is the only corpus-sized work (one
    map-side-combinable aggregate). Id assignment is a HISTOGRAM-OFFSET
    rank, so no vocabulary-sized single-partition window exists even at
    a 10^6..10^7 term vocabulary: rows are classed by (freq, first token
    char) -- a prefix of the global rank order (freq desc, token asc) --
    ranked *within* each class by a partitioned window (parallel), and
    shifted by the class's global offset, a windowed prefix sum over
    the class histogram. The histogram is bounded by distinct-freqs x
    alphabet (never corpus- or vocab-sized — the same bounded-spine
    argument as vocab_growth_curve / exact_percentiles_two_pass), so
    its prefix sum runs as ONE deliberate single-partition window over
    aggregate output and broadcasts back; the previous O(H^2)
    broadcast non-equi self-join (the BroadcastNestedLoopJoin the r5
    plan audit flagged) is gone. The histogram itself is carved out of
    the SAME (freq, cls) window pass that computes the local rank (the
    local_rank==1 representative carries the class size), so the whole
    query is one corpus pass + one vocab exchange, no sampling pass,
    no driver collect."""
    hits = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    tf = (
        hits.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= VOCAB_MIN_FREQ)
        .withColumn("cls", F.substring("token", 1, 1))
    )
    # one (freq, cls) exchange serves BOTH the per-class rank and the
    # class histogram: local_rank and the class size n ride the same
    # partitioned window pass, and the histogram is just the
    # local_rank==1 representative of each class (no second aggregate
    # exchange — AQE reuses the shared exchange for the join-back)
    wloc = Window.partitionBy("freq", "cls").orderBy(F.col("token").asc())
    wcnt = Window.partitionBy("freq", "cls")
    ranked = tf.select(
        "token",
        "freq",
        "cls",
        F.row_number().over(wloc).alias("local_rank"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    hist = ranked.filter(F.col("local_rank") == 1).select("freq", "cls", "n")
    # class offsets: how many tokens rank before this class -- an
    # exclusive prefix sum in global rank order over the bounded
    # histogram (histogram-sized, one task, sanctioned in
    # tests/test_plans.py::_SINGLE_PARTITION_SANCTIONED)
    whist = Window.orderBy(
        F.col("freq").desc(), F.col("cls").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    off_df = hist.select(
        "freq",
        "cls",
        F.coalesce(F.sum("n").over(whist), F.lit(0)).alias("off"),
    )
    return (
        ranked.join(F.broadcast(off_df), ["freq", "cls"])
        .select(
            "token",
            "freq",
            (F.col("local_rank") + F.col("off") + (_N_SPECIALS - 1))
            .cast("int")
            .alias("token_id"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Okapi; quantized-decimal contributions)
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("hash", "merge", "window")  # fixed query term set
_BM25_TOPK = 20

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_QUERY)

BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
           / (SELECT COUNT(*) FROM dl) AS avgdl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         FLOOR(LN((s.n_docs - df + 0.5) / (df + 0.5) + 1) * 1000000 + 0.5)
           / 1000000 AS idf
  FROM df, stats s
),
contrib AS (
  SELECT t.doc_id,
         CAST(FLOOR(
           i.idf * (t.tf * ({_BM25_K1} + 1))
             / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                + {_BM25_B} * d.dl / s.avgdl))
           * 1000000 + 0.5) AS BIGINT) AS c
  FROM tf t
  JOIN idf i ON t.term = i.term
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(SUM(c) AS DOUBLE) / 1000000 AS bm25,
       CAST(COUNT(*) AS INT) AS n_matched
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_TOPK}
"""


@register(
    "bm25_scores",
    oracle=BM25_SQL,
    survey=["bm25", "retrieval", "text", "quality-scoring"],
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) over the whitespace-token corpus for
    a fixed query term set, top-20 docs -- the retrieval scorer a
    data-curation pipeline uses for query-targeted corpus slices.

    Engine-exactness: the only transcendental (idf's ln) is quantized
    to 1e-6 immediately, and per-term contributions are quantized to
    integer micro-units before the per-doc sum, so addition is
    associative and the result is bit-identical across engines and
    partitionings (same discipline as pagerank's quantized decimal
    contributions; a raw float sum would depend on shuffle order).

    Scale shape: one explode -> two hash aggregates (doc lengths; tf
    restricted to query terms, pushed into the aggregate's filter);
    df/idf and the corpus stats are tiny and broadcast. The top-k is a
    TakeOrdered over per-doc scores, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("nd"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ).crossJoin(docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs")))
    tf = (
        toks.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        df.crossJoin(F.broadcast(stats))
        .select(
            "term",
            (
                F.floor(
                    F.log(
                        (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                        + 1
                    )
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.floor(
                F.col("idf")
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            (F.sum("c").cast("double") / 1000000).alias("bm25"),
            F.count(F.lit(1)).cast("int").alias("n_matched"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Unigram-LM log-likelihood scoring (perplexity-proxy quality signal)
# ---------------------------------------------------------------------------

UNIGRAM_LP_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
vocab AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY token
),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM vocab),
lp AS (
  SELECT token,
         CAST(FLOOR(LN(cnt / t.n) * 1000000 + 0.5) AS BIGINT) AS lp_micro
  FROM vocab, tot t
),
agg AS (
  SELECT f.doc_id,
         CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(f.tf * l.lp_micro) AS BIGINT) AS sum_lp_micro
  FROM tf f JOIN lp l ON f.token = l.token
  GROUP BY f.doc_id
)
SELECT doc_id, n_tokens, sum_lp_micro,
       CAST(FLOOR(CAST(sum_lp_micro AS DOUBLE) / n_tokens) AS BIGINT)
         AS mean_lp_micro
FROM agg
"""


@register(
    "doc_unigram_logprob",
    oracle=UNIGRAM_LP_SQL,
    survey=["quality-score", "language-model", "text"],
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM log-likelihood per document -- the perplexity-proxy
    quality signal (CCNet-style) a curation pipeline uses to rank and
    filter training text: fit token log-probabilities on the corpus
    itself, then score each doc by total and mean token logprob.

    Engine-exactness: the only transcendental (ln of the token
    probability) is quantized to integer micro-nats immediately, so the
    per-doc sum is integer arithmetic -- associative, shuffle-order-
    independent, bit-identical across engines (same discipline as bm25).

    Scale shape: one explode feeding a (doc_id, token) hash aggregate
    (map-side combinable), a vocab-sized rollup, a broadcast 1-row total,
    and one shuffle join of tf against the logprob table on token --
    aggregate-before-join keeps the join input vocab-deduped per doc. No
    global sort, no window, no Python. At 100 TB the lp table is
    vocab-sized (MBs), broadcastable if desired; the token join is the
    standard inverted-index shuffle otherwise."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("n"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor(F.log(F.col("cnt") / F.col("n")) * 1000000 + 0.5)
        .cast("long")
        .alias("lp_micro"),
    )
    agg = (
        tf.join(lp, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp_micro")).alias("sum_lp_micro"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_lp_micro",
        F.floor(F.col("sum_lp_micro").cast("double") / F.col("n_tokens"))
        .cast("long")
        .alias("mean_lp_micro"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (per-language head / middle / tail)
# ---------------------------------------------------------------------------

PPL_BUCKETS_SQL = f"""
WITH scored AS (
  SELECT d.lang, a.doc_id, a.n_tokens, a.mean_lp_micro
  FROM ({UNIGRAM_LP_SQL.strip()}) a
  JOIN documents d ON a.doc_id = d.doc_id
),
r AS (
  SELECT lang, n_tokens, mean_lp_micro,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY mean_lp_micro DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT lang,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(FLOOR(CAST(SUM(mean_lp_micro) AS DOUBLE) / COUNT(*))
         AS BIGINT) AS avg_lp_micro
FROM r
GROUP BY 1, 2
"""


@register(
    "doc_perplexity_buckets",
    oracle=PPL_BUCKETS_SQL,
    survey=["quality-score", "ccnet", "perplexity-buckets", "text",
            "training-prep"],
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: rank each LANGUAGE's documents
    by unigram-LM mean log-probability (the perplexity proxy
    ``doc_unigram_logprob`` computes, composed as-is) and cut exact
    per-language tertiles — head (most fluent), middle, tail — the
    split CCNet publishes per language shard and curation pipelines
    use to pick how deep into the quality distribution to train.
    Bucketing is pure integer arithmetic on (rank, count): rk*3 <= n
    is head, rk*3 <= 2n middle, else tail — no float percentile, so
    the cut is identical in both engines.

    Scale shape: scoring inherits doc_unigram_logprob's aggregate-only
    plan; ranking is ONE window partitioned by lang (key-partitioned
    sort, never a global window); output is |langs| x 3 rows. At
    production scale the exact per-language sort becomes the sampled
    percentile-cutoff variant (fit head/tail thresholds on a hash
    sample, then bucket by comparison — a stateless map), which
    changes the cut's variance, not the plan shape downstream.

    Public-knowledge basis: Wenzek et al., "CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data" (2020)."""
    lp = doc_unigram_logprob(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = lp.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_lp_micro").desc(), "doc_id"
    )
    wc = Window.partitionBy("lang")
    ranked = scored.select(
        "lang",
        "n_tokens",
        "mean_lp_micro",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    bucket = (
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return (
        ranked.select(
            "lang", bucket.alias("bucket"), "n_tokens", "mean_lp_micro"
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.floor(
                F.sum("mean_lp_micro").cast("double") / F.count(F.lit(1))
            )
            .cast("long")
            .alias("avg_lp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal (add-1 smoothed conditional logprob per document)
# ---------------------------------------------------------------------------

BIGRAM_SURPRISAL_SQL = """
WITH dt AS (
  SELECT doc_id, string_split_regex(LOWER(text), '\\s+') AS toks
  FROM documents
),
bi AS (
  SELECT doc_id, pr[1] AS prev, pr[2] AS tok
  FROM (
    SELECT doc_id,
           UNNEST(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)])) AS pr
    FROM dt
  )
),
c2 AS (SELECT prev, tok, COUNT(*) AS c2 FROM bi GROUP BY prev, tok),
c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev),
v AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
  FROM (SELECT UNNEST(toks) AS token FROM dt)
),
sp AS (
  SELECT c2.prev, c2.tok,
         CAST(FLOOR(-LN((c2.c2 + 1) / (c1.c1 + v.v)) * 1000000 + 0.5)
              AS BIGINT) AS sp_micro
  FROM c2 JOIN c1 ON c2.prev = c1.prev CROSS JOIN v
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s.sp_micro) AS BIGINT) AS sum_sp_micro,
       CAST(FLOOR(CAST(SUM(s.sp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS mean_sp_micro
FROM bi b JOIN sp s ON b.prev = s.prev AND b.tok = s.tok
GROUP BY b.doc_id
"""


@register(
    "doc_bigram_surprisal",
    oracle=BIGRAM_SURPRISAL_SQL,
    survey=["quality-score", "language-model", "text"],
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document: fit add-1-smoothed conditional
    probabilities P(t|prev) = (c2+1)/(c1+V) on the corpus, then score
    each doc by total and mean bigram surprisal (-ln P) -- the
    next-word-predictability quality signal that separates fluent text
    from shuffled/boilerplate content where a unigram model cannot.

    Engine-exactness: the ln is quantized to integer micro-nats at the
    (prev, tok) grain, so every downstream sum is integer arithmetic
    (associative, partition-order independent -- bm25 discipline).

    Scale shape: bigram pairs come from a shuffle-free arrays_zip of the
    token array against its own 1-shift (no per-doc window, no sort);
    counts are map-side-combinable hash aggregates; V is a broadcast
    1-row scalar; the scoring join keys on the (prev, tok) bigram --
    vocabulary-bounded, never corpus x corpus."""
    docs = load(spark, sf_dir, "documents")
    t = tokenize(F.lower(F.col("text")))
    d = docs.select(
        "doc_id",
        F.slice(t, 1, F.size(t) - 1).alias("p1"),
        F.slice(t, 2, F.size(t) - 1).alias("p2"),
    )
    bi = d.select(
        "doc_id", F.explode(F.arrays_zip("p1", "p2")).alias("pr")
    ).select(
        "doc_id",
        F.col("pr.p1").alias("prev"),
        F.col("pr.p2").alias("tok"),
    )
    c2 = bi.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v = (
        docs.select(F.explode(t).alias("token"))
        .agg(F.countDistinct("token").cast("double").alias("v"))
    )
    sp = (
        c2.join(c1, "prev")
        .crossJoin(F.broadcast(v))
        .select(
            "prev",
            "tok",
            F.floor(
                -F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v"))) * 1000000
                + 0.5
            )
            .cast("long")
            .alias("sp_micro"),
        )
    )
    return (
        bi.join(sp, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("sp_micro").alias("sum_sp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_sp_micro",
            F.floor(F.col("sum_sp_micro").cast("double") / F.col("n_bigrams"))
            .cast("long")
            .alias("mean_sp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation mining (top bigram associations)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 25

COLLOCATIONS_SQL = f"""
WITH dt AS (
  SELECT doc_id, string_split_regex(LOWER(text), '\\s+') AS toks
  FROM documents
),
uni AS (
  SELECT token, COUNT(*) AS c1
  FROM (SELECT UNNEST(toks) AS token FROM dt)
  GROUP BY token
),
n1 AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n FROM uni),
bi AS (
  SELECT pr[1] AS prev, pr[2] AS tok
  FROM (
    SELECT UNNEST(list_zip(toks[1:LEN(toks)-1], toks[2:LEN(toks)])) AS pr
    FROM dt
  )
),
c2 AS (SELECT prev, tok, COUNT(*) AS c2 FROM bi GROUP BY prev, tok),
n2 AS (SELECT CAST(SUM(c2) AS DOUBLE) AS nb FROM c2),
pmi AS (
  SELECT c2.prev, c2.tok, CAST(c2.c2 AS BIGINT) AS pair_count,
         CAST(FLOOR(LN((c2.c2 / n2.nb) / ((a.c1 / n1.n) * (b.c1 / n1.n)))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_micro
  FROM c2
  JOIN uni a ON c2.prev = a.token
  JOIN uni b ON c2.tok = b.token
  CROSS JOIN n1 CROSS JOIN n2
  WHERE c2.c2 >= {_PMI_MIN_COUNT}
)
SELECT prev, tok, pair_count, pmi_micro
FROM pmi
ORDER BY pmi_micro DESC, prev, tok
LIMIT {_PMI_TOPK}
"""


@register(
    "collocations_pmi",
    oracle=COLLOCATIONS_SQL,
    survey=["collocations", "pmi", "text"],
)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: rank adjacent
    token pairs by PMI = ln(P(a,b) / (P(a)P(b))) with a minimum pair
    count -- the classic collocation/phrase-discovery pass a tokenizer
    or n-gram-merge pipeline runs before vocabulary construction.

    Engine-exactness: PMI's ln is quantized to integer micro-nats at
    the pair grain (bm25 discipline); counts and totals are integers.

    Scale shape: bigrams from the shuffle-free arrays_zip self-shift;
    two map-side-combinable hash aggregates (unigrams, bigrams); the
    scoring joins key on single tokens against the vocab-sized unigram
    table (broadcastable); corpus totals are broadcast 1-row scalars;
    top-k is a TakeOrdered, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    t = tokenize(F.lower(F.col("text")))
    uni = (
        docs.select(F.explode(t).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n1 = uni.agg(F.sum("c1").cast("double").alias("n"))
    d = docs.select(
        F.slice(t, 1, F.size(t) - 1).alias("p1"),
        F.slice(t, 2, F.size(t) - 1).alias("p2"),
    )
    bi = d.select(F.explode(F.arrays_zip("p1", "p2")).alias("pr")).select(
        F.col("pr.p1").alias("prev"), F.col("pr.p2").alias("tok")
    )
    c2 = (
        bi.groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= _PMI_MIN_COUNT)
    )
    n2 = (
        bi.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    )
    a = uni.select(F.col("token").alias("prev"), F.col("c1").alias("c1a"))
    b = uni.select(F.col("token").alias("tok"), F.col("c1").alias("c1b"))
    return (
        c2.join(a, "prev")
        .join(b, "tok")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "prev",
            "tok",
            F.col("c2").alias("pair_count"),
            F.floor(
                F.log(
                    (F.col("c2") / F.col("nb"))
                    / ((F.col("c1a") / F.col("n")) * (F.col("c1b") / F.col("n")))
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "prev", "tok")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# BPE merge learning (iterative tokenizer training)
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 8


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled BPE-training oracle (same pattern as the K-means and
    PageRank unrolls): per round, a pair-count aggregate, an argmax CTE,
    and a rewrite CTE. The fuse step ("replace every non-overlapping
    (a,b) left-to-right") is expressed EXACTLY as a string REPLACE over
    a separator-encoded symbol string — encode ␟s1␟␟s2␟␟…␟sn␟ (CHR(31),
    absent from the corpus alphabet), replace ␟a␟␟b␟ with ␟ab␟, decode
    by splitting on the double separator. REPLACE's left-to-right
    non-overlapping scan is precisely BPE's greedy fuse, and the
    separators anchor full-symbol boundaries so a pattern can never
    match inside or across symbols."""
    sep = "CHR(31)"
    parts = [
        """
WITH w0 AS (
  SELECT list_transform(generate_series(1, LENGTH(word)), i -> word[i])
           AS syms,
         freq
  FROM (
    SELECT word, COUNT(*) AS freq FROM (
      SELECT UNNEST(string_split_regex(LOWER(text), '\\s+')) AS word
      FROM documents
    ) WHERE LEN(word) > 0 GROUP BY word
  )
)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        enc = f"{sep} || array_to_string(w.syms, {sep}||{sep}) || {sep}"
        parts.append(f"""
p{r} AS (
  SELECT syms[i] AS a, syms[i+1] AS b,
         CAST(SUM(freq) AS BIGINT) AS pf
  FROM w{p}, UNNEST(generate_series(1, LEN(syms) - 1)) AS u(i)
  GROUP BY 1, 2
),
m{r} AS (SELECT a, b, pf FROM p{r} ORDER BY pf DESC, a, b LIMIT 1),
w{r} AS (
  SELECT string_split(
           TRIM(REPLACE({enc},
                        {sep} || m.a || {sep}||{sep} || m.b || {sep},
                        {sep} || m.a || m.b || {sep}),
                CHR(31)),
           {sep}||{sep}) AS syms,
         w.freq
  FROM w{p} w CROSS JOIN m{r} m
)""")
    final = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS INT) AS merge_rank, a AS "left", '
        f'b AS "right", pf AS pair_freq FROM m{r}'
        for r in range(1, n_merges + 1)
    )
    return ",".join(parts) + "\n" + final


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(_BPE_N_MERGES),
    survey=["tokenizer-training", "bpe", "iterative"],
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first N byte-pair-encoding merges from the corpus --
    the training half of a BPE tokenizer (vocab_build is the shipping
    half). Classic algorithm: represent each distinct word as a symbol
    sequence (initially characters) weighted by corpus frequency; each
    round counts adjacent symbol pairs, picks the most frequent pair
    (ties broken lexicographically), and rewrites every word with the
    pair fused left-to-right.

    Scale shape (same contract as copurchase_pagerank): state lives in
    a words-distinct DataFrame (vocabulary-sized, NOT corpus-sized --
    the corpus is touched once to build word frequencies). Per round:
    one explode->hash-agg pair count (map-side combinable) and ONE
    driver-side scalar (the argmax pair, the merge-table row every
    executor needs next round -- broadcast by closure), then a pure
    column-level array rewrite via F.aggregate. localCheckpoint +
    paired unpersist truncate lineage so round R does not replay
    rounds 1..R-1.
    """
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint()
    )
    merges = []
    cur = words
    for rank in range(1, _BPE_N_MERGES + 1):
        pairs = (
            cur.select(
                F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
                    "pos", "a"
                ),
                F.col("syms"),
                F.col("freq"),
            )
            .select(
                "a",
                F.element_at("syms", F.col("pos") + 2).alias("b"),
                "freq",
            )
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("pair_freq"))
        )
        top = pairs.orderBy(
            F.col("pair_freq").desc(), F.col("a"), F.col("b")
        ).first()
        if top is None:
            break
        a, b, pf = top["a"], top["b"], int(top["pair_freq"])
        merges.append((rank, a, b, pf))
        fused = a + b
        la, lb = F.lit(a), F.lit(b)
        nxt = cur.select(
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS ARRAY<STRING>)"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.try_element_at(acc, F.lit(-1)) == la)
                    & (s == lb),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(fused)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "freq",
        ).localCheckpoint()
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank INT, left STRING, right STRING, pair_freq LONG"
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier eval as a pivot)
# ---------------------------------------------------------------------------

LANG_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL})
SELECT labeled_lang,
       COUNT(*) FILTER (WHERE predicted_lang = 'en') AS pred_en,
       COUNT(*) FILTER (WHERE predicted_lang = 'es') AS pred_es,
       COUNT(*) FILTER (WHERE predicted_lang = 'fr') AS pred_fr,
       COUNT(*) FILTER (WHERE predicted_lang = 'de') AS pred_de,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE predicted_lang = labeled_lang)
            AS DOUBLE) / COUNT(*) AS accuracy
FROM pred
GROUP BY labeled_lang
"""


@register(
    "lang_id_confusion",
    oracle=LANG_CONFUSION_SQL,
    survey=["lang-id", "eval", "pivot", "confusion-matrix"],
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID classifier against
    the labeled language, as a pivoted conditional-count aggregate plus
    per-class accuracy (one IEEE division of exact counts) -- the eval
    artifact any classifier in a data pipeline ships with.

    Scale: the per-doc scoring is row-local column work; the confusion
    aggregate is language-cardinality-sized with map-side partials."""
    pred = doc_lang_id(spark, sf_dir)
    hit = lambda lang: F.count(  # noqa: E731
        F.when(F.col("predicted_lang") == lang, 1)
    )
    return pred.groupBy("labeled_lang").agg(
        hit("en").alias("pred_en"),
        hit("es").alias("pred_es"),
        hit("fr").alias("pred_fr"),
        hit("de").alias("pred_de"),
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.count(
                F.when(F.col("predicted_lang") == F.col("labeled_lang"), 1)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Log2-bucketed document length histogram (integer-exact buckets)
# ---------------------------------------------------------------------------

LEN_HIST_SQL = """
SELECT LENGTH(format('{:b}', n_chars)) - 1 AS log2_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE n_chars > 0
GROUP BY 1
"""


@register(
    "doc_length_log2_histogram",
    oracle=LEN_HIST_SQL,
    survey=["histogram", "profiling", "text"],
)
def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document length histogram: the bucket is the bit
    length of n_chars minus one (floor(log2) computed on INTEGER
    representation -- no float log whose last-ulp could flip a bucket at
    exact powers of two). The size-distribution profile every corpus
    report starts with.

    Scale: one map-side-combinable aggregate over a ~12-bucket key."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.length(F.expr("bin(n_chars)")) - 1).alias("log2_bucket")
    return (
        docs.filter(F.col("n_chars") > 0)
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer application: text -> token-id sequence under the built vocab
# ---------------------------------------------------------------------------

TOKENIZER_APPLY_SQL = f"""
WITH tf AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  HAVING COUNT(*) >= {VOCAB_MIN_FREQ}
),
vocab AS (
  SELECT token,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC)
           + {_N_SPECIALS - 1} AS token_id
  FROM tf
),
toks AS (
  SELECT doc_id, arr[i] AS tok, i
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       UNNEST(generate_series(1, LEN(arr))) AS g(i)
),
ids AS (
  SELECT tk.doc_id, tk.i,
         COALESCE(v.token_id, 1) AS tid,
         CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS is_unk
  FROM toks tk LEFT JOIN vocab v ON v.token = tk.tok
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(is_unk) AS BIGINT) AS n_unk,
       MD5(STRING_AGG(CAST(tid AS VARCHAR), ' ' ORDER BY i)) AS ids_fp
FROM ids
GROUP BY doc_id
"""


@register(
    "tokenizer_apply",
    oracle=TOKENIZER_APPLY_SQL,
    survey=["tokenizer-apply", "vocab-build", "training-prep"],
)
def tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the tokenizer lifecycle (bpe_learn_merges
    learns, vocab_build ships the table, this encodes): every document
    becomes its token-id sequence under the built vocabulary, OOV
    tokens map to <unk>=1. Output carries the sequence as an md5
    fingerprint of the ordered ids (position-exact -- a swapped or
    dropped id changes the hash) plus token/unk counts.

    Scale: the vocabulary joins UNHINTED — a shipped tokenizer vocab is
    usually capped (32k-256k rows, AQE broadcasts it), but THIS one is
    the uncapped vocab_build table, which grows with the corpus
    (Heaps' law), so a forced broadcast would hit the 8 GB limit on a
    10^7+-term corpus where AQE's fallback shuffles on the token key
    instead. Encoding is one explode -> token join -> per-doc ordered
    reassembly, shuffling (doc_id, pos, id) triples once. At 100 TB
    the ids array would write straight to the training shard sink
    instead of fingerprinting."""
    docs = load(spark, sf_dir, "documents")
    vocab = vocab_build(spark, sf_dir).select("token", "token_id")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "token")
    )
    ids = toks.join(vocab, "token", "left").select(
        "doc_id",
        "i",
        F.coalesce(F.col("token_id"), F.lit(1)).cast("int").alias("tid"),
        F.when(F.col("token_id").isNull(), 1).otherwise(0).alias("is_unk"),
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "tid"))),
        lambda s: s.getField("tid").cast("string"),
    )
    return ids.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_unk").cast("bigint").alias("n_unk"),
        F.md5(F.array_join(seq, " ")).alias("ids_fp"),
    )


# ---------------------------------------------------------------------------
# Intra-document cleanup: collapse adjacent duplicate tokens (stutter scrub)
# ---------------------------------------------------------------------------


@register(
    "doc_scrub_adjacent_dups",
    oracle="""
WITH base AS (
  SELECT doc_id, text, string_split_regex(text, '\\s+') AS t0 FROM documents
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 30000 AS doc_id, text || ' ' || t0[len(t0)] AS text
  FROM base
),
tok AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM corpus
),
cl AS (
  SELECT doc_id, t,
         list_filter(t, (x, i) -> i = 1 OR x <> t[i - 1]) AS c
  FROM tok
)
SELECT doc_id,
       CAST(LEN(t) AS INT) AS n_before,
       CAST(LEN(c) AS INT) AS n_after,
       MD5(array_to_string(c, ' ')) AS cleaned_fp
FROM cl
""",
    survey=["text-scrub", "intra-doc-dedup", "higher-order", "A8"],
)
def doc_scrub_adjacent_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document stutter scrub: collapse runs of ADJACENT duplicate
    tokens to one occurrence — the cheap cleanup pass crawled corpora
    get before dedup (OCR stutter, scraped-menu repetition). doc_repetition
    *detects* repeated content; this TRANSFORMS it, keeping everything
    row-local: a higher-order ``filter`` with the (element, index)
    lambda comparing each token to its predecessor — order-aware array
    logic no join or explode is needed for.

    Because the driver's synthetic docs rarely stutter, the corpus
    appends per-doc twins (doc_id+30000) whose text repeats its final
    token — both engines build the same corpus, so the scrub provably
    fires (every twin loses exactly one token) while originals pass
    through byte-identical (verified by the cleaned md5).

    Scale shape: pure per-row column work, zero shuffles, whole plan in
    codegen; out-of-bounds predecessor access yields NULL (Spark
    ``get``, DuckDB ``t[0]``) so the first token needs no special-case
    branch that would break vectorization."""
    docs = load(spark, sf_dir, "documents")
    t0 = F.split("text", r"\s+")
    twins = docs.select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.element_at(t0, -1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(twins)
    tok = corpus.select("doc_id", F.split("text", r"\s+").alias("t"))
    cleaned = F.filter(
        F.col("t"),
        lambda x, i: (i == F.lit(0)) | (x != F.get(F.col("t"), i - 1)),
    )
    return tok.select(
        "doc_id",
        F.size("t").alias("n_before"),
        F.size(cleaned).alias("n_after"),
        F.md5(F.array_join(cleaned, " ")).alias("cleaned_fp"),
    )


# ---------------------------------------------------------------------------
# Phrase search: exact adjacent-term match (positional retrieval)
# ---------------------------------------------------------------------------

_PHRASE = "table hash"


@register(
    "phrase_search",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(LOWER(text), '\\s+') AS t FROM documents
),
big AS (
  SELECT doc_id,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bg
  FROM toks WHERE len(t) >= 2
)
SELECT doc_id,
       CAST(len(list_filter(bg, x -> x = '{_PHRASE}')) AS INT) AS n_hits
FROM big
WHERE list_contains(bg, '{_PHRASE}')
""",
    survey=["phrase-search", "retrieval", "positional", "text"],
    bench=True,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ("{phrase}"): documents where the terms
    occur ADJACENT and in order, with the occurrence count — what a
    positional inverted index answers after the boolean index
    (inverted_index / bm25_scores) has matched the bag of terms.

    Implemented row-locally: the bigram expansion is a higher-order
    transform over the token array (no explode, no join) and matching
    is an array scan — the right shape when the phrase is short and
    selective. For ad-hoc phrase workloads at 100 TB the same bigrams
    become the posting keys of a positional index (doc_id, bigram)
    written once and semi-joined per query, trading one corpus pass
    for per-query index lookups; both forms share this expansion."""
    docs = load(spark, sf_dir, "documents")

    # the token array is LET-BOUND through a transform over a
    # 1-element array: CollapseProject would otherwise inline the
    # regex split into the bigram lambda and re-evaluate it per
    # element access (~3x n_tokens splits per doc — measured 8 s vs
    # <1 s at sf0.1); the guard rides inside the binding because
    # sequence(1, size-1) turns DESCENDING for size < 2
    def _hits(t):
        bigr = F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        )
        return F.when(
            F.size(t) >= 2,
            F.size(F.filter(bigr, lambda x: x == F.lit(_PHRASE))),
        ).otherwise(0)

    hits = F.element_at(
        F.transform(
            F.array(F.split(F.lower(F.col("text")), r"\s+")), _hits
        ),
        1,
    )
    return (
        docs.select("doc_id", hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


phrase_search.__doc__ = phrase_search.__doc__.format(phrase=_PHRASE)


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, Appendix A) — integer-exact
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


def _duck_stop_distinct() -> str:
    cases = []
    for lang, words in STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        cases.append(
            f"WHEN '{lang}' THEN LEN(LIST_FILTER(LIST_DISTINCT("
            f"string_split_regex(LOWER(text), '\\s+')), t -> t IN ({inlist})))"
        )
    return "CASE lang " + " ".join(cases) + " ELSE 0 END"


# Metric expressions over a relation exposing (text, lang) plus a
# pre-split `toks` column — the shared fragment for GOPHER_SQL and any
# composed pipeline that reuses the gate (see corpus_release_pipeline).
_GOPHER_METRICS_SQL = f"""
         CAST(LEN(toks) AS BIGINT) AS n_words,
         CAST(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))) AS BIGINT)
           AS total_chars,
         CAST(LEN(LIST_FILTER(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           AS BIGINT) AS n_alpha_words,
         CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
              + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
           AS BIGINT) AS n_symbols,
         CAST({_duck_stop_distinct()} AS BIGINT) AS n_stop_distinct"""

# The composite keep condition over the metric column names above.
GOPHER_KEEP_SQL = f"""(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
         AND 3 * n_words <= total_chars AND total_chars <= 10 * n_words
         AND 10 * n_symbols < n_words
         AND 5 * n_alpha_words > 4 * n_words
         AND n_stop_distinct >= 2"""


def gopher_gate_sql(src: str, carry: str = "doc_id, source, text") -> str:
    """DuckDB fragment: ``SELECT {carry}, keep FROM <metrics over src>``.

    The reusable oracle half of the Gopher gate — composed pipelines
    inline this as a CTE body so the gate stays bit-identical to
    ``gopher_quality_flags`` without duplicating the rule text."""
    return f"""
  SELECT {carry}, {GOPHER_KEEP_SQL} AS keep
  FROM (
    SELECT *, {_GOPHER_METRICS_SQL}
    FROM (SELECT *, string_split_regex(text, '\\s+') AS toks FROM {src})
  )"""


GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, source, text,
         string_split_regex(text, '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, lang, source,{_GOPHER_METRICS_SQL}
  FROM t
)
SELECT doc_id, lang, source, n_words, total_chars, n_alpha_words,
       n_symbols, n_stop_distinct,
       n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
         AS flag_word_count,
       3 * n_words <= total_chars AND total_chars <= 10 * n_words
         AS flag_mean_word_len,
       10 * n_symbols < n_words AS flag_symbol_ratio,
       5 * n_alpha_words > 4 * n_words AS flag_alpha_words,
       n_stop_distinct >= 2 AS flag_stopwords,
       {GOPHER_KEEP_SQL} AS keep
FROM m
"""


def gopher_metrics(docs: DataFrame, *carry: str) -> DataFrame:
    """Project ``carry`` plus the five integer Gopher metrics — the
    Spark half of the shared gate fragment (`_GOPHER_METRICS_SQL`).
    Pure row-local map, no shuffle; needs ``text`` and ``lang``.

    r13: rendered as ONE selectExpr parse (the r12 flit/SQL-text
    discipline — the Column build, including a per-word F.lit stopword
    array per language and the nested CASE chain, cost ~0.1 s of
    driver gateway latency per caller). Same functions, casts, operand
    order and CASE nesting direction as the old Column build —
    identical resolved trees; collect-equality on the fully-exposed
    gopher_quality_flags verified at sf0.1, parity on every consumer.
    Interleaved A/B: gopher_quality_flags 0.59 -> 0.49 s,
    corpus_release_pipeline 1.82 -> 1.63 s medians."""
    toks = r"split(text, '\\s+')"
    ltoks = r"array_distinct(split(lower(text), '\\s+'))"
    total_chars = (
        f"aggregate(transform({toks}, x -> length(x)), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    n_alpha = f"CAST(size(filter({toks}, t -> t rlike '[a-zA-Z]')) AS BIGINT)"
    n_symbols = (
        "CAST(length(text) - length(replace(text, '#', '')) + "
        "CAST((length(text) - length(replace(text, '...', ''))) / 3 "
        "AS BIGINT) AS BIGINT)"
    )
    stop_expr = "CAST(0 AS BIGINT)"
    for lang, words in STOPWORDS.items():
        # raw SQL string literals: a quote would end the literal and a
        # backslash is escape-processed, so neither is renderable
        bad = [s for s in (lang, *words) if "'" in s or "\\" in s]
        if bad:
            raise ValueError(f"stopword or language not renderable as a SQL literal: {bad}")
        arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
        stop_expr = (
            f"CASE WHEN lang = '{lang}' THEN "
            f"CAST(size(array_intersect({ltoks}, {arr})) AS BIGINT) "
            f"ELSE {stop_expr} END"
        )
    return docs.selectExpr(
        *carry,
        f"CAST(size({toks}) AS BIGINT) AS n_words",
        f"{total_chars} AS total_chars",
        f"{n_alpha} AS n_alpha_words",
        f"{n_symbols} AS n_symbols",
        f"{stop_expr} AS n_stop_distinct",
    )


def _gopher_flag_conds():
    """The five rule conditions over the metric column names, in the
    same order GOPHER_SQL emits the flags."""
    f_wc = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    f_mwl = (3 * F.col("n_words") <= F.col("total_chars")) & (
        F.col("total_chars") <= 10 * F.col("n_words")
    )
    f_sym = 10 * F.col("n_symbols") < F.col("n_words")
    f_alpha = 5 * F.col("n_alpha_words") > 4 * F.col("n_words")
    f_stop = F.col("n_stop_distinct") >= 2
    return f_wc, f_mwl, f_sym, f_alpha, f_stop


def gopher_gate(docs: DataFrame, *carry: str) -> DataFrame:
    """``carry`` columns + boolean ``keep`` — the reusable Spark gate
    matching ``gopher_gate_sql`` bit for bit."""
    m = gopher_metrics(docs, *carry)
    f_wc, f_mwl, f_sym, f_alpha, f_stop = _gopher_flag_conds()
    return m.select(
        *carry, (f_wc & f_mwl & f_sym & f_alpha & f_stop).alias("keep")
    )


@register(
    "gopher_quality_flags",
    oracle=GOPHER_SQL,
    survey=["quality-filter", "gopher-rules", "text", "llm-curation"],
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 App. A —
    the rule set FineWeb/Dolma-class curation pipelines start from),
    restricted to the rules this corpus can exercise: word count in
    [{lo}, {hi}], mean word length in [3, 10], symbol-to-word ratio
    (# and ellipsis) < 0.1, >80% of words contain an alphabetic
    character, and >= 2 distinct stopwords of the document's own
    language (the single-line synthetic corpus makes the line-shape
    rules — bullet/ellipsis line fractions — degenerate, so they are
    omitted rather than shipped as constants).

    Every threshold is evaluated as an INTEGER cross-multiplication
    (e.g. mean_word_len <= 10 as total_chars <= 10*n_words), so there
    is no float division anywhere and both engines agree bit-for-bit.

    Scale shape: pure row-local map over one scan — no shuffle, no
    join, whole-stage codegen end to end; the keep flag composes with
    the quality-gate/DSIR stages in curation_pipeline_v2. At 100 TB
    this is the cheapest stage of the pipeline and runs first so later
    stages see only survivors."""
    docs = load(spark, sf_dir, "documents")
    m = gopher_metrics(docs, "doc_id", "lang", "source")
    f_wc, f_mwl, f_sym, f_alpha, f_stop = _gopher_flag_conds()
    return m.select(
        "*",
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_sym.alias("flag_symbol_ratio"),
        f_alpha.alias("flag_alpha_words"),
        f_stop.alias("flag_stopwords"),
        (f_wc & f_mwl & f_sym & f_alpha & f_stop).alias("keep"),
    )


gopher_quality_flags.__doc__ = gopher_quality_flags.__doc__.format(
    lo=_GOPHER_MIN_WORDS, hi=_GOPHER_MAX_WORDS
)


# ---------------------------------------------------------------------------
# Zipf's-law fit over the token frequency spectrum
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 100

ZIPF_SQL = f"""
WITH counts AS (
  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT UNNEST(string_split_regex(LOWER(text), '\\s+')) AS t
        FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT token, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
  FROM counts
),
pts AS (
  SELECT CAST(FLOOR(LN(r) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(LN(n) * 1000000 + 0.5) AS BIGINT) AS y
  FROM ranked WHERE r <= {_ZIPF_TOPK}
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT k,
       FLOOR((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1000000 + 0.5) / 1000000 AS zipf_slope,
       FLOOR((CAST(sy AS DOUBLE) / k
              - (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(sx AS DOUBLE) / k))
             / 1000000 * 1000000 + 0.5) / 1000000 AS intercept_micro_mean
FROM mom
"""


@register(
    "token_zipf_fit",
    oracle=ZIPF_SQL,
    survey=["zipf", "corpus-statistics", "ols", "text"],
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency spectrum: OLS slope
    of ln(freq) against ln(rank) over the top-{k} tokens — the
    corpus-health diagnostic curation pipelines run after dedup/filter
    stages (a natural-language corpus fits slope ~ -1; a slope far off
    signals boilerplate contamination or tokenizer breakage).

    Exactness: ln values are floor-quantized to integer micro-units
    per point BEFORE the moment sums (the doc_unigram_logprob
    discipline), so Σx, Σxy, ... are exact BIGINTs in both engines and
    the final slope is one fixed IEEE op sequence over identical
    integers.

    Scale shape: token counting is one map-side-combinable explode+agg
    (the vocab_build exchange); the top-k is TakeOrderedAndProject —
    per-partition heads merged on the driver, NOT a global sort (no
    single-partition funnel of the vocab); the fit is a {k}-row
    aggregate. The rank window runs AFTER the top-k cut, over {k}
    rows."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(_ZIPF_TOPK)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("n").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return mom.select(
        "k",
        (F.floor(slope * 1000000 + F.lit(0.5)) / 1000000).alias("zipf_slope"),
        (
            F.floor(
                (sy / k - slope * (sx / k)) / 1000000 * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("intercept_micro_mean"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve — distributed two-level prefix sum
# ---------------------------------------------------------------------------

_HEAPS_BUCKET = 1000  # doc_ids per prefix-sum bucket

HEAPS_SQL = """
WITH td AS (
  SELECT doc_id, string_split_regex(LOWER(text), '\\s+') AS toks
  FROM documents
),
per AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens FROM td),
firsts AS (
  SELECT t, MIN(doc_id) AS fd
  FROM (SELECT doc_id, UNNEST(toks) AS t FROM td)
  GROUP BY t
),
newt AS (
  SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM firsts GROUP BY fd
),
sp AS (
  SELECT p.doc_id, p.n_tokens,
         COALESCE(n.new_types, 0) AS new_types
  FROM per p LEFT JOIN newt n USING (doc_id)
)
SELECT doc_id, n_tokens, new_types,
       CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
       CAST(SUM(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS cum_types
FROM sp
"""


@register(
    "vocab_growth_curve",
    oracle=HEAPS_SQL,
    survey=["heaps-law", "corpus-statistics", "prefix-sum", "text"],
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: for every document (in
    doc_id order), the cumulative token count and cumulative DISTINCT
    vocabulary size after ingesting it — the V(N) ~ K*N^beta curve
    corpus builders monitor while scaling data (a flattening curve
    means new data stops contributing new types).

    Cumulative-distinct is recast as a distributable problem: a token
    contributes its +1 at exactly MIN(doc_id) over its occurrences
    (one map-combinable agg), so cum_types is just a prefix sum of
    per-doc first-occurrence counts — no running set state anywhere.

    The prefix sum itself is TWO-LEVEL, not a global window: docs
    cumulate within fixed-width doc_id buckets (a PARTITIONED window,
    {b} rows each), bucket totals get one tiny ordered window over
    n_docs/{b} rows, and the bucket offsets broadcast-join back. The
    only single-partition work is over the 1000x-reduced bucket-total
    spine (sanctioned in the plan lint with that bound; at larger
    corpora the same construction recurses to three levels). Output is
    pure integers — zero float drift risk."""
    docs = load(spark, sf_dir, "documents")
    td = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks")
    )
    per = td.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    firsts = (
        td.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("fd"))
    )
    newt = firsts.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    sp = (
        per.join(newt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0).cast("long")).alias(
                "new_types"
            ),
            (F.col("doc_id") / _HEAPS_BUCKET).cast("long").alias("bucket"),
        )
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = sp.select(
        "doc_id",
        "n_tokens",
        "new_types",
        "bucket",
        F.sum("n_tokens").over(w_in).alias("intra_tok"),
        F.sum("new_types").over(w_in).alias("intra_typ"),
    )
    btot = sp.groupBy("bucket").agg(
        F.sum("n_tokens").alias("b_tok"), F.sum("new_types").alias("b_typ")
    )
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("b_tok").over(w_b), F.lit(0)).alias("off_tok"),
        F.coalesce(F.sum("b_typ").over(w_b), F.lit(0)).alias("off_typ"),
    )
    return intra.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tokens",
        "new_types",
        (F.col("off_tok") + F.col("intra_tok")).cast("long").alias(
            "cum_tokens"
        ),
        (F.col("off_typ") + F.col("intra_typ")).cast("long").alias(
            "cum_types"
        ),
    )


vocab_growth_curve.__doc__ = vocab_growth_curve.__doc__.format(
    b=_HEAPS_BUCKET
)


# ---------------------------------------------------------------------------
# Per-source data card: quality keep-rate, exact-dup rate, volume
# ---------------------------------------------------------------------------

SOURCE_CARD_SQL = f"""
WITH g AS ({GOPHER_SQL}),
fp AS (
  SELECT doc_id,
         MD5(TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
),
dup AS (
  SELECT doc_id,
         CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY fp)
              THEN 1 ELSE 0 END AS is_dup
  FROM fp
)
SELECT g.source, g.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_keep,
       CAST(SUM(d.is_dup) AS BIGINT) AS n_exact_dups,
       CAST(SUM(g.n_words) AS BIGINT) AS total_words,
       CAST(FLOOR(1000.0 * SUM(CASE WHEN g.keep THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS keep_rate_milli,
       CAST(FLOOR(1000.0 * SUM(d.is_dup) / COUNT(*)) AS BIGINT)
         AS dup_rate_milli,
       CAST(FLOOR(1000.0 * SUM(g.n_words) / COUNT(*)) AS BIGINT)
         AS mean_words_milli
FROM g JOIN dup d ON g.doc_id = d.doc_id
GROUP BY g.source, g.lang
"""


@register(
    "source_quality_report",
    oracle=SOURCE_CARD_SQL,
    survey=["data-card", "quality-filter", "dedup-accounting", "curation"],
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) data card: document volume, Gopher-rule keep
    rate, exact-duplicate rate (md5-fingerprint, keep-first), and mean
    length — the accounting table a curation run publishes per input
    source so mixture weights (source_mixture_sample, DSIR) can be set
    from measured quality, not provenance guesses.

    All rates are milli-unit integer floors — the 1000.0 factor is
    applied to exact BIGINT counts, so both engines floor the same
    rational and the report is bit-stable.

    Scale shape: the Gopher flags are row-local; the dup flag is a MIN
    window over the fingerprint exchange (content-keyed, uniform); the
    rollup is one map-combinable (source, lang) aggregate. Nothing in
    the plan holds more than a fingerprint per doc."""
    g = gopher_quality_flags(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint("text").alias("fp"))
    w = Window.partitionBy("fp")
    dup = fp.select(
        "doc_id",
        (F.col("doc_id") > F.min("doc_id").over(w))
        .cast("int")
        .alias("is_dup"),
    )
    joined = g.join(dup, "doc_id")
    n_keep = F.sum(F.col("keep").cast("long"))
    n_docs = F.count(F.lit(1))
    n_dup = F.sum("is_dup").cast("long")
    total_words = F.sum("n_words").cast("long")
    return joined.groupBy("source", "lang").agg(
        n_docs.cast("long").alias("n_docs"),
        n_keep.cast("long").alias("n_gopher_keep"),
        n_dup.alias("n_exact_dups"),
        total_words.alias("total_words"),
        F.floor(F.lit(1000.0) * n_keep / n_docs).cast("long").alias(
            "keep_rate_milli"
        ),
        F.floor(F.lit(1000.0) * F.sum("is_dup") / n_docs)
        .cast("long")
        .alias("dup_rate_milli"),
        F.floor(F.lit(1000.0) * F.sum("n_words") / n_docs)
        .cast("long")
        .alias("mean_words_milli"),
    )


# ---------------------------------------------------------------------------
# Quality-weighted mixture: data card -> sampling rates -> deterministic sample
# ---------------------------------------------------------------------------

QUALITY_MIXTURE_SQL = f"""
WITH card AS ({SOURCE_CARD_SQL}),
rated AS (
  SELECT source, lang,
         CAST(FLOOR(keep_rate_milli * (1000 - dup_rate_milli) / 1000)
           AS BIGINT) AS rate_milli
  FROM card
),
s AS (
  SELECT d.doc_id, d.source, d.lang, r.rate_milli,
         CAST(concat('0x', substr(md5(concat('mix-',
           CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000 AS b
  FROM documents d JOIN rated r
    ON d.source = r.source AND d.lang = r.lang
)
SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(rate_milli) AS rate_milli,
       CAST(SUM(CASE WHEN b < rate_milli THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM s GROUP BY source, lang
"""


@register(
    "quality_weighted_mixture",
    oracle=QUALITY_MIXTURE_SQL,
    survey=["mixture", "data-card", "sampling", "curation", "pipeline-compose"],
)
def quality_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling with rates DERIVED FROM MEASURED QUALITY: each
    (source, lang) stratum's sampling rate is its data-card keep-rate
    discounted by its duplicate rate (rate_milli = keep_rate x
    (1 - dup_rate), integer milli arithmetic), and documents survive a
    deterministic md5 bucket draw at that rate — closing the loop the
    source_quality_report docstring promises: mixture weights set from
    measurement, not provenance guesses. Re-running yields the same
    sample (hash, not rand), so downstream training data is
    reproducible.

    Scale shape: the card is a tiny aggregate (sources x langs) that
    BROADCASTS back onto the corpus scan; the per-doc draw is a pure
    projection; the accounting rollup is one map-combinable aggregate.
    The corpus is touched twice (once for the card, once for the
    draw) — at 100 TB the card comes from the previous run's published
    report and this becomes a single pass."""
    card = source_quality_report(spark, sf_dir).select(
        "source",
        "lang",
        F.floor(
            F.col("keep_rate_milli")
            * (F.lit(1000) - F.col("dup_rate_milli"))
            / 1000
        )
        .cast("long")
        .alias("rate_milli"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    s = docs.join(F.broadcast(card), ["source", "lang"]).select(
        "source", "lang", "rate_milli", b.alias("b")
    )
    return s.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("rate_milli").alias("rate_milli"),
        F.sum(F.when(F.col("b") < F.col("rate_milli"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# Vocab-size coverage table: what fraction of tokens the top-k types cover
# ---------------------------------------------------------------------------

_COVERAGE_KS = (10, 20, 50)

VOCAB_COVERAGE_SQL = f"""
WITH counts AS (
  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT UNNEST(string_split_regex(LOWER(text), '\\s+')) AS t
        FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r FROM counts
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT k,
       CAST((SELECT SUM(n) FROM ranked WHERE r <= k) AS BIGINT)
         AS tokens_covered,
       tot.t AS total_tokens,
       CAST(FLOOR(1000000.0
         * (SELECT SUM(n) FROM ranked WHERE r <= k) / tot.t)
         AS BIGINT) AS coverage_micro
FROM (SELECT UNNEST([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k), tot
"""


@register(
    "vocab_coverage_table",
    oracle=VOCAB_COVERAGE_SQL,
    survey=["vocab-sizing", "tokenizer", "coverage", "text"],
)
def vocab_coverage_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size design table: for candidate vocab sizes k, the
    fraction of all corpus tokens the top-k types cover — the curve a
    tokenizer design reads to pick its vocab budget (coverage knees =
    diminishing returns; the residual is the byte-fallback/UNK rate).

    Scale shape: the only corpus-sized work is the token count (the
    vocab_build exchange); each candidate k is answered by a
    TakeOrdered top-k (per-partition heads, NO vocab-wide sort or
    rank window) summed on the driver side of the take — here
    expressed as k independent bounded top-k sums unioned into the
    {nk}-row output, each a distributed TakeOrdered over the shared
    count aggregate."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    parts = []
    for k in _COVERAGE_KS:
        topk = (
            counts.orderBy(F.col("n").desc(), F.col("token"))
            .limit(k)
            .agg(F.sum("n").cast("long").alias("tokens_covered"))
            .select(F.lit(k).cast("long").alias("k"), "tokens_covered")
        )
        parts.append(topk)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.crossJoin(F.broadcast(tot)).select(
        "k",
        "tokens_covered",
        F.col("t").alias("total_tokens"),
        F.floor(
            F.lit(1000000.0) * F.col("tokens_covered") / F.col("t")
        )
        .cast("long")
        .alias("coverage_micro"),
    )


vocab_coverage_table.__doc__ = vocab_coverage_table.__doc__.format(
    nk=len(_COVERAGE_KS)
)


# ---------------------------------------------------------------------------
# TF-IDF cosine document-pair similarity (inverted-index self-join)
# ---------------------------------------------------------------------------

_TFIDF_DF_MIN = 2  # df=1 shingles cannot pair -- drop before the join
_TFIDF_DF_CAP = 100  # posting-length cap: bounds self-join fan-out per term
_TFIDF_TOPK = 50
_IDF_POW = 10**4  # idf quantized to 1e-4 micro-units (exact int weights)

_TFIDF_NORM_SQL = "TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))"
_TFIDF_TOKS_SQL = f"string_split({_TFIDF_NORM_SQL}, ' ')"
_TFIDF_SHINGLES_SQL = (
    "LIST_TRANSFORM("
    f"generate_series(1, GREATEST(len({_TFIDF_TOKS_SQL}) - 2, 1)), "
    f"i -> concat_ws(' ', {_TFIDF_TOKS_SQL}[i], {_TFIDF_TOKS_SQL}[i+1], "
    f"{_TFIDF_TOKS_SQL}[i+2]))"
)

TFIDF_COSINE_SQL = f"""
WITH tf AS (
  SELECT doc_id, s, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST({_TFIDF_SHINGLES_SQL}) AS s FROM documents)
  GROUP BY doc_id, s
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
idf AS (
  SELECT s,
         CAST(FLOOR(LN((1.0 + n_docs) / (1.0 + COUNT(*)))
                    * {_IDF_POW} + 0.5) AS BIGINT) AS idf_q
  FROM tf CROSS JOIN nd
  GROUP BY s, n_docs
  HAVING COUNT(*) BETWEEN {_TFIDF_DF_MIN} AND {_TFIDF_DF_CAP}
),
post AS (
  SELECT t.doc_id, t.s, t.tf * i.idf_q AS w
  FROM tf t JOIN idf i ON t.s = i.s
),
norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM post GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(a.w * b.w) AS dot, COUNT(*) AS n_shared
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b, CAST(d.n_shared AS BIGINT) AS n_shared,
       FLOOR(CAST(d.dot AS DOUBLE)
             / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS cos_sim
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
ORDER BY cos_sim DESC, d.doc_a, d.doc_b
LIMIT {_TFIDF_TOPK}
"""


@register(
    "tfidf_cosine_topk",
    oracle=TFIDF_COSINE_SQL,
    survey=["tfidf", "sparse-similarity", "inverted-index", "dedup"],
    bench=True,
)
def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical document similarity: top-{topk} doc pairs by
    TF-IDF cosine over word-trigram shingles, candidates generated by
    an inverted-index self-join -- the lexical complement of the
    embedding ANN family (embedding_neardup finds semantic twins;
    this finds verbatim/boilerplate overlap with interpretable shared
    terms).

    Engine-exactness: idf is the only transcendental, quantized to
    integer 1e-4 units immediately (BM25 discipline), so weights
    w = tf * idf_q and all sums (norms, dots) are EXACT integers --
    kept under 2^53 by the 1e-4 scale so the final int->double casts
    are exact in both engines; cosine is then two casts, one sqrt, one
    divide (single IEEE ops), quantized at 1e-6 before the ordered
    limit with full (doc_a, doc_b) tie-break.

    Scale shape: the classic DF-cut makes this sub-quadratic -- terms
    with df > {cap} (stopword-like, pair-explosive: a df-d term alone
    contributes d(d-1)/2 candidate pairs) and df < 2 (cannot pair) are
    dropped BEFORE the self-join, bounding fan-out per term at
    {cap}^2; at 100 TB the cap becomes a df-fraction cut and the same
    plan holds. One explode -> two map-combinable aggregates; the
    posting self-join shuffles on shingle (high-cardinality, capped
    skew by construction); norms join on doc_id (AQE picks strategy --
    doc-cardinality grows with the corpus, so no broadcast hint). The
    top-k is a TakeOrdered, never a global sort."""
    # r13: projections render as SQL text (one selectExpr parse each,
    # the r12 flit/SQL-text discipline — guide §4 applied to plan
    # construction; the Column build cost ~0.4 s driver latency per
    # invocation). Same functions/casts/operand order — the analyzer
    # resolves the identical tree; collect-equality vs the Column build
    # verified at sf0.1, oracle parity at sf0.01. Interleaved A/B:
    # 2.20 -> 1.97 s median.
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(normalize_text("text"), " ").alias("toks")
    )
    ex = docs.selectExpr(
        "doc_id",
        "toks",
        "explode(sequence(1, greatest(size(toks) - 2, 1))) AS i",
    ).selectExpr(
        "doc_id",
        "concat_ws(' ', try_element_at(toks, i + 0), "
        "try_element_at(toks, i + 1), try_element_at(toks, i + 2)) AS s",
    )
    tf = ex.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tf.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= _TFIDF_DF_MIN) & (F.col("df") <= _TFIDF_DF_CAP)
        )
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "s",
            f"CAST(FLOOR(LN((1.0D + n_docs) / (1.0D + df)) * {_IDF_POW} "
            f"+ 0.5D) AS LONG) AS idf_q",
        )
    )
    # The postings table feeds FOUR plan legs (self-join a/b sides and
    # both norm joins); without a persist the tokenize->explode->tf->idf
    # chain -- the corpus-sized part -- executes four times.
    post = (
        tf.join(idf, "s")
        .selectExpr("doc_id", "s", "tf * idf_q AS w")
        .persist()
    )
    norms = post.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    a, b = post.alias("a"), post.alias("b")
    dots = (
        a.join(b, F.expr("a.s = b.s AND a.doc_id < b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.sum(F.expr("a.w * b.w")).alias("dot"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    out = (
        dots.join(norms.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_shared AS BIGINT) AS n_shared",
            "FLOOR(CAST(dot AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE) "
            "* CAST(nb.n2 AS DOUBLE)) * 1000000 + 0.5D) / 1000000 "
            "AS cos_sim",
        )
        .orderBy(F.desc("cos_sim"), "doc_a", "doc_b")
        .limit(_TFIDF_TOPK)
    )
    # k-row result: materialize eagerly so the postings cache releases
    # here instead of leaking across invocations (pagerank discipline).
    out = out.localCheckpoint()
    post.unpersist()
    return out


tfidf_cosine_topk.__doc__ = tfidf_cosine_topk.__doc__.format(
    topk=_TFIDF_TOPK, cap=_TFIDF_DF_CAP
)


# ---------------------------------------------------------------------------
# LLM watermark detection (bigram-keyed greenlist z-score)
# ---------------------------------------------------------------------------

_WM_SEED = "wm-r9"

_WM_PAIR_SQL = """
SELECT doc_id, toks[i] AS prev, toks[i + 1] AS tok
FROM (SELECT doc_id, string_split(LOWER(text), ' ') AS toks FROM documents),
     UNNEST(range(1, GREATEST(len(toks), 1))) AS r(i)
"""

WATERMARK_SQL = f"""
WITH pairs AS ({_WM_PAIR_SQL}),
scored AS (
  SELECT doc_id,
         CASE WHEN CAST(concat('0x',
                substr(md5(prev || '|' || tok || '|{_WM_SEED}'), 1, 15))
              AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS is_green
  FROM pairs
)
SELECT doc_id,
       COUNT(*) AS n_pairs,
       CAST(SUM(is_green) AS BIGINT) AS n_green,
       FLOOR((2.0 * SUM(is_green) - COUNT(*)) / SQRT(CAST(COUNT(*) AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS z_score
FROM scored
GROUP BY doc_id
"""


@register(
    "watermark_greenlist_score",
    oracle=WATERMARK_SQL,
    survey=["watermark-detection", "llm-provenance", "text"],
)
def watermark_greenlist_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kirchenbauer-style LLM watermark detector: a watermarking
    sampler boosts a pseudorandom half of the vocabulary ("green"
    tokens) keyed on the previous token; the detector recomputes each
    bigram's green bit and z-scores the green fraction against the
    unwatermarked null (p=1/2). Human text sits near z=0; watermarked
    generations drift to large positive z -- the provenance screen a
    training-corpus pipeline runs so model-generated text does not
    feed the next model.

    Determinism: the green bit is the parity of a 60-bit md5 prefix of
    (prev|token|seed) -- the engine-portable hash trick; z is a fixed
    IEEE op sequence on exact counts (2*greens - n over sqrt n),
    quantized at 1e-6.

    Scale shape: one tokenize -> bigram explode (array-index
    projection, fully codegen) -> one map-combinable per-doc
    aggregate; the hash rides the exploded stream, no joins, no
    windows, no second pass."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1)))
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("prev"),
        F.element_at("toks", F.col("i") + 1).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    green = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", "prev", "tok", F.lit(_WM_SEED))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    z = (
        2.0 * F.col("n_green") - F.col("n_pairs")
    ) / F.sqrt(F.col("n_pairs").cast("double"))
    return (
        pairs.select("doc_id", F.when(green, 1).otherwise(0).alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("g").cast("bigint").alias("n_green"),
        )
        .select("doc_id", "n_pairs", "n_green", dround(z, 6).alias("z_score"))
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback (query expansion)
# ---------------------------------------------------------------------------

_ROCCHIO_R = 10  # feedback depth: top-R BM25 docs
_ROCCHIO_TOPT = 10  # expansion terms returned

ROCCHIO_SQL = f"""
WITH fb AS MATERIALIZED (
  SELECT doc_id FROM ({BM25_SQL}) b
  ORDER BY b.bm25 DESC, b.doc_id LIMIT {_ROCCHIO_R}
),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
idf AS (
  SELECT term,
         CAST(FLOOR(LN((1.0 + n_docs) / (1.0 + COUNT(*))) * 1000000 + 0.5)
              AS BIGINT) AS idf_q
  FROM tf CROSS JOIN nd GROUP BY term, n_docs
)
SELECT t.term,
       CAST(SUM(t.tf * i.idf_q) AS BIGINT) AS centroid_micro,
       FLOOR(CAST(SUM(t.tf * i.idf_q) AS DOUBLE) / {_ROCCHIO_R} / 1000000
             * 1000000 + 0.5) / 1000000 AS rocchio_weight
FROM tf t
JOIN idf i ON t.term = i.term
JOIN fb ON t.doc_id = fb.doc_id
WHERE t.term NOT IN ({_BM25_TERMS_SQL})
GROUP BY t.term
ORDER BY centroid_micro DESC, t.term
LIMIT {_ROCCHIO_TOPT}
"""


@register(
    "rocchio_query_expansion",
    oracle=ROCCHIO_SQL,
    survey=["rocchio", "query-expansion", "relevance-feedback", "retrieval"],
)
def rocchio_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: take the BM25 top-{r} for the
    fixed query, average their TF-IDF vectors, and return the top-{t}
    non-query terms of the centroid -- the expansion terms a second
    retrieval round adds to sharpen recall (composes the bm25_scores
    operator as its first stage, the way a retrieval stack does).

    Determinism: term weights are exact integers (tf x 1e-6-quantized
    idf, BM25 discipline), so the centroid sum is exact and the
    ranking ties break on the term string; the normalized weight is a
    single divide quantized at 1e-6.

    Scale shape: the feedback set is a top-R heap over the BM25
    scorer's per-doc aggregate; the centroid is one aggregate over the
    postings of R docs (the broadcast semi-join prunes the corpus scan
    to the feedback docs' postings before any shuffle)."""
    fb = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_ROCCHIO_R)
        .select("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.floor(
                F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df")))
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_q"),
        )
    )
    cw = F.sum(F.col("tf") * F.col("idf_q"))
    return (
        tf.join(F.broadcast(fb), "doc_id")
        .join(idf, "term")
        .filter(~F.col("term").isin(*_BM25_QUERY))
        .groupBy("term")
        .agg(cw.cast("bigint").alias("centroid_micro"))
        .select(
            "term",
            "centroid_micro",
            (
                F.floor(
                    F.col("centroid_micro").cast("double")
                    / _ROCCHIO_R
                    / 1000000
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("rocchio_weight"),
        )
        .orderBy(F.col("centroid_micro").desc(), "term")
        .limit(_ROCCHIO_TOPT)
    )


rocchio_query_expansion.__doc__ = rocchio_query_expansion.__doc__.format(
    r=_ROCCHIO_R, t=_ROCCHIO_TOPT
)


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword-delimited co-occurrence scoring)
# ---------------------------------------------------------------------------

_RAKE_STOPK = 5  # corpus-driven stopword set: top-K most frequent tokens
_RAKE_MAXLEN = 3  # candidate phrases longer than this are discarded
_RAKE_TOPP = 20

RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, t.toks[i] AS tok
  FROM (SELECT doc_id, string_split(LOWER(text), ' ') AS toks
        FROM documents) t,
       UNNEST(range(1, len(t.toks) + 1)) AS r(i)
),
stop AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {_RAKE_STOPK})
),
runs AS (
  SELECT doc_id, pos, tok,
         COUNT(*) FILTER (WHERE is_stop) OVER (
           PARTITION BY doc_id ORDER BY pos) AS run_id,
         is_stop
  FROM (SELECT t.doc_id, t.pos, t.tok,
               t.tok IN (SELECT tok FROM stop) AS is_stop
        FROM toks t)
),
phrases AS (
  SELECT doc_id, run_id,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM runs WHERE NOT is_stop
  GROUP BY doc_id, run_id
  HAVING COUNT(*) <= {_RAKE_MAXLEN}
),
words AS (
  SELECT UNNEST(string_split(phrase, ' ')) AS w, plen FROM phrases
),
wscore AS (
  SELECT w,
         FLOOR(CAST(SUM(plen) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
           / 1000000 AS s
  FROM words GROUP BY w
),
pscore AS (
  SELECT p.phrase, COUNT(*) AS n_occ, MAX(sc.ps) AS score
  FROM phrases p
  JOIN (
    SELECT phrase_key, FLOOR(SUM(s_nano) * 1000000 + 0.5) / 1000000 AS ps
    FROM (
      SELECT pp.phrase AS phrase_key, ws.s AS s_nano
      FROM (SELECT DISTINCT phrase FROM phrases) pp,
           UNNEST(string_split(pp.phrase, ' ')) AS u(w)
      JOIN wscore ws ON ws.w = u.w
    ) GROUP BY phrase_key
  ) sc ON sc.phrase_key = p.phrase
  GROUP BY p.phrase
)
SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, score
FROM pscore
ORDER BY score DESC, phrase ASC
LIMIT {_RAKE_TOPP}
"""


@register(
    "doc_keyphrases_rake",
    oracle=RAKE_SQL,
    survey=["keyphrase-extraction", "rake", "text"],
)
def doc_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (stopwords = the corpus's
    top-{k} tokens, data-driven since the synthetic corpus has no
    English function words); each word scores deg/freq (deg = summed
    length of phrases containing it) and a phrase scores the sum of
    its words -- the unsupervised keyphrase table a corpus indexer
    ships alongside BM25.

    Determinism: word scores are one exact-count division quantized at
    1e-6; a phrase's score sums its (<= {m}) quantized word scores --
    both engines sum the same quantized values per phrase via a
    GROUP BY over exact keys, and the 1e-6 grid keeps the <= {m}-term
    float sum exact (each addend is a multiple of 1e-6 with <= 10
    integer digits, so every partial sum is exactly representable).

    Scale shape: tokenize + positional explode once; the run
    segmentation window partitions BY DOC (doc-length-bounded, never
    global); phrase/word aggregates are map-combinable; stopwords are
    a top-K heap broadcast back. The top-{p} output is a TakeOrdered."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    toks = docs.select(
        "doc_id",
        F.posexplode("toks").alias("pos", "tok"),
    )
    stop = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_RAKE_STOPK)
        .select(F.col("tok").alias("stok"))
    )
    flagged = toks.join(
        F.broadcast(stop), F.col("tok") == F.col("stok"), "left"
    ).select(
        "doc_id",
        "pos",
        "tok",
        F.col("stok").isNotNull().alias("is_stop"),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = flagged.select(
        "doc_id",
        "pos",
        "tok",
        "is_stop",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wrun).alias(
            "run_id"
        ),
    )
    phrases = (
        runs.filter(~F.col("is_stop"))
        .groupBy("doc_id", "run_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAXLEN)
    )
    words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("w"), "plen"
    )
    wscore = words.groupBy("w").agg(
        (
            F.floor(
                F.sum("plen").cast("double")
                / F.count(F.lit(1))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("s")
    )
    pwords = (
        phrases.select("phrase")
        .distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    )
    pscores = (
        pwords.join(wscore, "w")
        .groupBy("phrase")
        .agg(
            (F.floor(F.sum("s") * 1000000 + F.lit(0.5)) / 1000000).alias(
                "ps"
            )
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
        .join(pscores, "phrase")
        .select("phrase", "n_occ", F.col("ps").alias("score"))
        .orderBy(F.col("score").desc(), "phrase")
        .limit(_RAKE_TOPP)
    )


doc_keyphrases_rake.__doc__ = doc_keyphrases_rake.__doc__.format(
    k=_RAKE_STOPK, m=_RAKE_MAXLEN, p=_RAKE_TOPP
)


# ---------------------------------------------------------------------------
# Composed provenance pipeline: watermark gate -> quality -> dedup -> DP bill
# ---------------------------------------------------------------------------

_PROV_Z = 4.0  # watermark z threshold: flag as model-generated
_PROV_MIN_TOKS = 20
_PROV_EPS = 1.0
_PROV_SEED = "prov-r9"

PROVENANCE_SQL = f"""
WITH pairs AS ({_WM_PAIR_SQL}),
wm AS (
  SELECT doc_id,
         (2.0 * SUM(CASE WHEN CAST(concat('0x', substr(md5(prev || '|' ||
             tok || '|{_WM_SEED}'), 1, 15)) AS BIGINT) % 2 = 0
             THEN 1 ELSE 0 END) - COUNT(*))
           / SQRT(CAST(COUNT(*) AS DOUBLE)) AS z
  FROM pairs GROUP BY doc_id
),
staged AS (
  SELECT d.doc_id, d.source,
         COALESCE(wm.z, 0.0) > {_PROV_Z!r} AS is_generated,
         len(string_split({_TFIDF_NORM_SQL}, ' ')) >= {_PROV_MIN_TOKS}
           AS passes_quality,
         md5({_TFIDF_NORM_SQL}) AS fp
  FROM documents d LEFT JOIN wm ON d.doc_id = wm.doc_id
),
surv AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS fp_rank
  FROM staged WHERE NOT is_generated AND passes_quality
),
agg AS (
  SELECT s.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN s.is_generated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_generated,
         CAST(SUM(CASE WHEN NOT s.is_generated AND NOT s.passes_quality
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         CAST((SELECT COUNT(*) FROM surv v
               WHERE v.source = s.source AND v.fp_rank > 1) AS BIGINT)
           AS n_dup_dropped,
         CAST((SELECT COUNT(*) FROM surv v
               WHERE v.source = s.source AND v.fp_rank = 1) AS BIGINT)
           AS n_released
  FROM staged s GROUP BY s.source
)
SELECT source, n_docs, n_generated, n_low_quality, n_dup_dropped, n_released,
       CAST(n_released AS DOUBLE)
         + FLOOR((CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END)
                 * (1.0 / {_PROV_EPS!r})
                 * LN(GREATEST(1.0 - 2.0 * ABS(u - 0.5), 1e-15))
                 * 1000000 + 0.5) / 1000000 AS released_noisy
FROM (
  SELECT *, CAST(CAST(concat('0x', substr(md5(source || '|{_PROV_SEED}'),
             1, 15)) AS BIGINT) % {1 << 52} AS DOUBLE) / {float(1 << 52)!r}
           AS u
  FROM agg
)
"""


@register(
    "corpus_provenance_pipeline",
    oracle=PROVENANCE_SQL,
    survey=["pipeline-composed", "watermark-detection", "dedup-exact",
            "differential-privacy", "training-prep"],
)
def corpus_provenance_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end provenance funnel composing four round-9 primitives:
    (1) the watermark greenlist z-score drops model-generated text
    (z > {z}), (2) a minimum-length quality gate, (3) exact-fingerprint
    dedup keeps each normalized text's lowest doc_id, (4) the
    per-source release bill ships with a LAPLACE-NOISED released count
    (the dp_laplace mechanism) so the bill itself does not leak
    single-document membership. The per-source funnel a crawl->train
    release pipeline publishes (llm_corpus_pipeline's provenance-aware
    sibling).

    Determinism: stage arithmetic is the respective operators'
    (quantized z, md5 fingerprints, seeded inverse-CDF noise at 1e-6).

    Scale shape: one bigram explode + per-doc aggregate (watermark),
    one row-local gate projection, one fingerprint-keyed rank window
    (dup groups are fingerprint-sized), one source-keyed rollup --
    every stage map-combinable or key-partitioned, no corpus-sized
    collect anywhere."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1)))
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("prev"),
        F.element_at("toks", F.col("i") + 1).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    green = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "prev", "tok", F.lit(_WM_SEED))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    wm = pairs.groupBy("doc_id").agg(
        (
            (
                2.0 * F.sum(F.when(green, 1).otherwise(0))
                - F.count(F.lit(1))
            )
            / F.sqrt(F.count(F.lit(1)).cast("double"))
        ).alias("z")
    )
    norm = normalize_text("text")
    staged = docs.join(wm, "doc_id", "left").select(
        "doc_id",
        "source",
        (F.coalesce(F.col("z"), F.lit(0.0)) > _PROV_Z).alias("is_generated"),
        (F.size(F.split(norm, " ")) >= _PROV_MIN_TOKS).alias(
            "passes_quality"
        ),
        F.md5(norm).alias("fp"),
    )
    surv = staged.filter(
        ~F.col("is_generated") & F.col("passes_quality")
    ).select(
        "source",
        F.row_number()
        .over(Window.partitionBy("fp").orderBy("doc_id"))
        .alias("fp_rank"),
    )
    surv_agg = surv.groupBy("source").agg(
        F.sum(F.when(F.col("fp_rank") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_dropped"),
        F.sum(F.when(F.col("fp_rank") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_released"),
    )
    agg = (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("is_generated"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_generated"),
            F.sum(
                F.when(
                    ~F.col("is_generated") & ~F.col("passes_quality"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low_quality"),
        )
        .join(surv_agg, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_generated",
            "n_low_quality",
            F.coalesce("n_dup_dropped", F.lit(0).cast("bigint")).alias(
                "n_dup_dropped"
            ),
            F.coalesce("n_released", F.lit(0).cast("bigint")).alias(
                "n_released"
            ),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "source", F.lit(_PROV_SEED))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 52)
    ).cast("double") / F.lit(float(1 << 52))
    uc = u - F.lit(0.5)
    noise = (
        F.floor(
            F.when(uc >= 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            * F.lit(1.0 / _PROV_EPS)
            * F.log(
                F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(uc), F.lit(1e-15))
            )
            * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    return agg.select(
        "source",
        "n_docs",
        "n_generated",
        "n_low_quality",
        "n_dup_dropped",
        "n_released",
        (F.col("n_released").cast("double") + noise).alias("released_noisy"),
    )


corpus_provenance_pipeline.__doc__ = corpus_provenance_pipeline.__doc__.format(
    z=_PROV_Z
)


# ---------------------------------------------------------------------------
# Good-Turing frequency smoothing / unseen-mass estimate (round 10)
# ---------------------------------------------------------------------------

_GT_MAX_R = 5

GOOD_TURING_SQL = f"""
WITH toks AS (
  SELECT UNNEST({_TFIDF_SHINGLES_SQL}) AS tok FROM documents
),
freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY tok),
fof AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY r),
tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens FROM fof),
n1 AS (SELECT COALESCE(MAX(n_r), 0) AS n_1 FROM fof WHERE r = 1)
SELECT f.r, f.n_r,
       CASE WHEN nx.n_r IS NOT NULL
            THEN FLOOR(CAST((f.r + 1) * nx.n_r AS DOUBLE) / f.n_r
                       * 1000000 + 0.5) / 1000000 END AS r_star,
       FLOOR(CAST(n_1 AS DOUBLE) / n_tokens * 1000000000 + 0.5)
         / 1000000000 AS p_unseen
FROM fof f
LEFT JOIN fof nx ON nx.r = f.r + 1
CROSS JOIN tot CROSS JOIN n1
WHERE f.r <= {_GT_MAX_R}
"""


@register(
    "vocab_good_turing",
    oracle=GOOD_TURING_SQL,
    survey=["good-turing", "smoothing", "vocab", "lm-prep"],
)
def vocab_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing smoothing table for the corpus unigram model: the
    frequency-of-frequencies spectrum N_r, the smoothed counts
    r* = (r+1) N_(r+1) / N_r for the low-count bands (the only ones
    smoothing materially changes), and the unseen-mass estimate
    p0 = N_1 / N -- the quantity that tells an LM/tokenizer build how
    much probability to reserve for out-of-vocabulary tokens
    (vocab_coverage_table says what the vocab covers; this says what
    it will NEVER see coming).

    Counted over word-TRIGRAM shingles, not unigrams: the synthetic
    corpus draws from a closed ~900-word vocabulary where every
    unigram is frequent (the spectrum has no low-r band at all), while
    trigram types keep the long singleton tail Good-Turing exists for
    -- the same reason the dedup family shingles words.

    Scale shape: one explode -> shingle-count aggregate
    (map-combinable, the vocab_build scan), then everything runs on
    the frequency-SPECTRUM domain (hundreds of distinct counts at any
    corpus size -- the self-join for N_(r+1) is spectrum x spectrum,
    corpus-independent)."""
    toks = shingle_rows(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        ["doc_id"],
    ).select(F.col("sh").alias("tok"))
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    fof = freq.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens")
    )
    n1 = fof.filter(F.col("r") == 1).agg(
        F.coalesce(F.max("n_r"), F.lit(0)).alias("n_1")
    )
    nx = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
    )
    return (
        fof.filter(F.col("r") <= _GT_MAX_R)
        .join(nx, "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            F.when(
                F.col("n_next").isNotNull(),
                dround(
                    ((F.col("r") + 1) * F.col("n_next")).cast("double")
                    / F.col("n_r"),
                    6,
                ),
            ).alias("r_star"),
            dround(
                F.col("n_1").cast("double") / F.col("n_tokens"), 9
            ).alias("p_unseen"),
        )
    )
