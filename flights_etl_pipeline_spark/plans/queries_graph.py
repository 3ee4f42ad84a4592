"""Graph queries: iterative PageRank over the customer<->supplier
co-purchase graph (plus dedup_clusters' connected components lives in
queries_dedup).

The reference has no graph surface; this is the north-star iterative-
algorithm demonstration: a driver-side loop of DataFrame joins where only
a convergence/round counter crosses to the driver, never data.

Determinism of an iterative float algorithm across engines is the hard
part: each node's incoming contributions are quantized (dround, an
engine-identical floor sequence) to 12 decimal places and summed as exact
DECIMAL(28,12) -- associative, so any partitioning, any engine, any join
order yields bit-identical ranks per round, and therefore after every
round. The DuckDB oracle unrolls the same fixed iteration count as plain
CTE stages (recursive CTEs disallow the per-step aggregate), computing
the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.functions.scalar import dround
from flights_etl_pipeline_spark.functions.text import minhash_params
from flights_etl_pipeline_spark.plans.registry import load, register
from flights_etl_pipeline_spark.plans.sqlfrag import sql_dround

N_ITER = 10
DAMPING = 0.85
_SUPP_OFFSET = 1_000_000  # supplier node ids live above customer ids

# Bipartite co-purchase edges, symmetric: customer c bought from supplier s
# (via orders join lineitem), so c->s and s->c both exist. Every node has
# out-degree >= 1 by construction (no dangling-node term needed).
_EDGES_SQL = f"""
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + {_SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""

_GRAPH_SQL = f"""
edges0 AS ({_EDGES_SQL}),
edges AS (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges0
),
deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM deg)
"""


def _step_sql(i: int) -> str:
    """One unrolled PageRank round: r{i} from r{i - 1}."""
    contrib = sql_dround(f"r.rank / d.outdeg", 12)
    return f"""
r{i} AS (
  SELECT e.dst AS node,
         {1 - DAMPING} + {DAMPING} * CAST(SUM(
           CAST({contrib} AS DECIMAL(28,12))) AS DOUBLE) AS rank
  FROM edges e
  JOIN r{i - 1} r ON r.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)"""


PAGERANK_SQL = (
    "WITH "
    + _GRAPH_SQL
    + ","
    + ",".join(_step_sql(i) for i in range(1, N_ITER + 1))
    + f"""
SELECT r.node,
       CASE WHEN r.node >= {_SUPP_OFFSET} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       {sql_dround("r.rank", 8)} AS pagerank,
       d.outdeg
FROM r{N_ITER} r JOIN deg d ON d.node = r.node
"""
)


@register(
    "copurchase_pagerank",
    oracle=PAGERANK_SQL,
    survey=["pagerank", "graph", "iterative", "J1-family"],
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 fixed rounds, damping 0.85) over the symmetric
    customer<->supplier co-purchase graph: which customers and suppliers
    sit at the center of the purchasing network.

    Scale shape: the edge list and degrees are computed once and
    persisted; each round is one equi-join of the rank table against the
    edges plus a map-side-combinable decimal-sum aggregate -- the
    standard distributed PageRank, O(|E|) per round with no driver-side
    data movement. ``localCheckpoint`` after each round truncates the
    lineage so the physical plan stays round-sized instead of growing
    10 joins deep. Quantized-decimal contributions make every round's
    ranks bit-identical across engines and partitionings (module
    docstring)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    ).persist()
    ranks = deg.select("node", F.lit(1.0).alias("rank")).localCheckpoint()
    # edges pre-joined with source degrees once; reused every round
    ed = (
        edges.join(deg, edges["src"] == deg["node"])
        .select("src", "dst", "outdeg")
        .persist()
    )
    for _ in range(N_ITER):
        contrib = dround(F.col("rank") / F.col("outdeg"), 12)
        ranks = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(1 - DAMPING)
                    + F.lit(DAMPING)
                    * F.sum(contrib.cast("decimal(28,12)")).cast("double")
                ).alias("rank")
            )
            .localCheckpoint()
        )
    out = (
        ranks.join(deg.select(F.col("node").alias("dn"), "outdeg"),
                   F.col("node") == F.col("dn"))
        .select(
            "node",
            F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
            .otherwise("customer")
            .alias("node_type"),
            dround(F.col("rank"), 8).alias("pagerank"),
            "outdeg",
        )
    )
    # Materialize the node-sized result eagerly so every intermediate
    # cache (including deg, still referenced by the final join) can be
    # released here instead of leaking across repeated invocations.
    out = out.localCheckpoint()
    edges.unpersist()
    ed.unpersist()
    deg.unpersist()
    return out


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented compact-forward)
# ---------------------------------------------------------------------------

TRIANGLES_SQL = """
WITH co AS (
  SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem
),
edges AS (
  SELECT DISTINCT a.part AS x, b.part AS y
  FROM co a JOIN co b ON a.ord = b.ord AND a.part < b.part
),
nodes AS (
  SELECT COUNT(DISTINCT n) AS n_nodes
  FROM (SELECT x AS n FROM edges UNION SELECT y FROM edges)
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.x = e1.x AND e2.y > e1.y
  JOIN edges e3 ON e3.x = e1.y AND e3.y = e2.y
)
SELECT n.n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       t.n_triangles
FROM nodes n, tri t
"""


@register(
    "copurchase_triangles",
    oracle=TRIANGLES_SQL,
    survey=["triangle-count", "graph", "self-join"],
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-occurrence graph (parts appearing in
    the same order are adjacent) via the DEGREE-ORIENTED compact-forward
    algorithm: orient every edge from the (degree, id)-smaller endpoint
    to the larger, enumerate wedges from each node's out-neighborhood,
    and close them against the oriented edge list.

    Why this shape at scale: the naive wedge count explodes around hub
    nodes (a node of degree d contributes d^2 wedges); orientation by
    degree bounds every out-degree by O(sqrt(|E|)), making total wedge
    volume O(|E|^1.5) -- the optimal bound -- while staying three hash
    equi-joins, no windows, no iteration. The oracle counts the same
    triangles with the id-ordered 3-way join (triangle count is
    orientation-invariant, so the two formulations agree exactly).
    """
    co = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    a, b = co.alias("a"), co.alias("b")
    edges = (
        a.join(b, (F.col("a.ord") == F.col("b.ord")) & (F.col("a.part") < F.col("b.part")))
        .select(F.col("a.part").alias("x"), F.col("b.part").alias("y"))
        .distinct()
        .persist()
    )
    ends = edges.select(F.col("x").alias("n")).unionAll(
        edges.select(F.col("y").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    # orient: (d, id) lexicographic order, smaller endpoint -> larger
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    keyed = edges.join(dx, "x").join(dy, "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    # carry the head's (degree, id) so wedge tips can be ordered in
    # ORIENTATION order -- then the closing edge is oriented tip1->tip2
    # by construction and the final join is a pure equi-join (an OR of
    # direction cases would force a nested-loop join)
    oriented = keyed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(fwd, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    ).persist()
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tips_ordered = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    wedges = e1.join(
        e2, (F.col("e1.u") == F.col("e2.u")) & tips_ordered
    ).select(F.col("e1.v").alias("w1"), F.col("e2.v").alias("w2"))
    closed = wedges.join(
        e3,
        (F.col("e3.u") == F.col("w1")) & (F.col("e3.v") == F.col("w2")),
    )
    out = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
        .localCheckpoint()
    )
    edges.unpersist()
    oriented.unpersist()
    return out


# ---------------------------------------------------------------------------
# Link prediction: neighborhood Jaccard over the co-purchase graph
# ---------------------------------------------------------------------------

_HUB_CAP = 600  # suppliers with more distinct customers than this are pruned
_LINKPRED_TOPK = 25
# Customer-side hub cutoff for the LSH variant (ADVICE r8): a customer
# whose neighbor SET exceeds this is dropped before signatures, bounding
# the persisted row width and the O(|ns_a| x |ns_b|) array_intersect per
# candidate pair — the same recall-for-cost hub filter the supplier side
# already applies. Semantically inert at every test SF (degree is bounded
# by the supplier count, <= 10k even at sf10); at 100 TB it is the knob
# that keeps verify cost per pair constant. Mirrored in the oracle.
_CUST_CAP = 50000

LINKPRED_SQL = f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
sd AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY s),
el AS (SELECT e.c, e.s FROM e JOIN sd ON e.s = sd.s WHERE sd.ds <= {_HUB_CAP}),
deg AS (SELECT c, COUNT(*) AS d FROM el GROUP BY c),
pairs AS (
  SELECT a.c AS ca, b.c AS cb, COUNT(*) AS common
  FROM el a JOIN el b ON a.s = b.s AND a.c < b.c
  GROUP BY a.c, b.c
),
j AS (
  SELECT ca, cb, common, da.d + db.d - common AS uni
  FROM pairs
  JOIN deg da ON ca = da.c
  JOIN deg db ON cb = db.c
)
SELECT ca AS cust_a, cb AS cust_b, CAST(common AS BIGINT) AS n_common,
       FLOOR(CAST(common AS DOUBLE) / uni * 1000000 + 0.5) / 1000000
         AS jaccard
FROM j
ORDER BY jaccard DESC, cust_a, cust_b
LIMIT {_LINKPRED_TOPK}
"""


@register(
    "copurchase_linkpred",
    oracle=LINKPRED_SQL,
    survey=["graph", "link-prediction", "jaccard"],
)
def copurchase_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: rank customer pairs by
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over shared suppliers -- the
    common-neighbors feature a recommender derives from the
    co-purchase graph.

    Scale shape: pair work is Σ_s |N(s)|², so hub suppliers are pruned
    first (degree cap {_HUB_CAP}: a supplier every customer buys from
    carries no similarity signal and would alone create a quadratic
    blowup) -- the same degree-bounding discipline as
    copurchase_triangles. Common counts come from one equi-join keyed
    on the shared supplier + a hash aggregate; union sizes from the
    inclusion-exclusion identity (no second join). At 100x the pair
    aggregate escalates to MinHash over neighbor sets (minhash_lsh_pairs
    machinery) with exact Jaccard only on LSH candidates; top-k is a
    TakeOrdered, never a global sort."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    e = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    sd = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    el = e.join(sd.filter(F.col("ds") <= _HUB_CAP).select("s"), "s")
    deg = el.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    a = el.select(F.col("c").alias("ca"), "s")
    b = el.select(F.col("c").alias("cb"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("c").alias("ca"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("c").alias("cb"), F.col("d").alias("deg_b"))
    uni = F.col("deg_a") + F.col("deg_b") - F.col("common")
    return (
        pairs.join(da, "ca")
        .join(db, "cb")
        .select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            F.col("common").alias("n_common"),
            (F.floor(F.col("common").cast("double") / uni * 1000000 + 0.5)
             / 1000000).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "cust_a", "cust_b")
        .limit(_LINKPRED_TOPK)
    )


# ---------------------------------------------------------------------------
# Link prediction at scale: MinHash-LSH candidates + exact Jaccard verify
# ---------------------------------------------------------------------------

_LP_N_HASH = 8
_LP_N_BANDS = 4
_LP_PARAMS = minhash_params(_LP_N_HASH)

# the h0..h7 expressions and the band legs derive from _LP_PARAMS so
# the oracle and the Spark implementation share ONE source of truth
# for the hash family (ADVICE r6: hardcoded constants silently desync
# if minhash_params ever changes)
_LP_SIG_SQL = ",\n".join(
    f"         MIN(({a} * (s % 1000000007) + {b}) % 1000000007) AS h{j}"
    for j, (a, b) in enumerate(_LP_PARAMS)
)
_LP_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT c, {b} AS band, concat(CAST(h{2 * b} AS VARCHAR), '_', "
    f"CAST(h{2 * b + 1} AS VARCHAR)) AS bsig FROM sig"
    for b in range(_LP_N_BANDS)
)

LINKPRED_LSH_SQL = f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
sd AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY s),
el AS (SELECT e.c, e.s FROM e JOIN sd ON e.s = sd.s WHERE sd.ds <= {_HUB_CAP}),
deg AS (SELECT c, COUNT(*) AS d FROM el GROUP BY c),
sig AS (
  SELECT c,
{_LP_SIG_SQL}
  FROM el GROUP BY c
  HAVING COUNT(*) <= {_CUST_CAP}
),
bands AS (
{_LP_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT x.c AS ca, y.c AS cb
  FROM bands x
  JOIN bands y ON x.band = y.band AND x.bsig = y.bsig AND x.c < y.c
),
cm AS (
  SELECT k.ca, k.cb, COUNT(*) AS common
  FROM cand k
  JOIN el a ON a.c = k.ca
  JOIN el b ON b.c = k.cb AND b.s = a.s
  GROUP BY k.ca, k.cb
),
j AS (
  SELECT ca, cb, common, da.d + db.d - common AS uni
  FROM cm
  JOIN deg da ON ca = da.c
  JOIN deg db ON cb = db.c
)
SELECT ca AS cust_a, cb AS cust_b, CAST(common AS BIGINT) AS n_common,
       FLOOR(CAST(common AS DOUBLE) / uni * 1000000 + 0.5) / 1000000
         AS jaccard
FROM j
ORDER BY jaccard DESC, cust_a, cust_b
LIMIT {_LINKPRED_TOPK}
"""


@register(
    "copurchase_linkpred_lsh",
    oracle=LINKPRED_LSH_SQL,
    survey=["graph", "link-prediction", "minhash-lsh", "scale-escalation"],
    bench=True,
)
def copurchase_linkpred_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB escalation ``copurchase_linkpred``\'s docstring
    promises, as a real query: neighbor-set MinHash (8 universal-hash
    permutations of the supplier ids, map-side-combinable MIN per
    customer) -> 4x2 LSH banding -> band-bucket self-join for
    CANDIDATE pairs only -> exact neighborhood Jaccard verified by a
    supplier-keyed join restricted to candidates -> the same top-{k}
    report. Where the exact query's wedge join bills Σ_s |N(s)|²
    (~230 M wedges on this deliberately dense graph), the LSH path
    bills Σ bucket² over band buckets plus exact verification of the
    surviving candidates — the standard recall-for-cost trade, tuned
    by (bands x rows) exactly as ``lsh_banding_design`` tabulates.

    Approximation is IN the semantics (and mirrored exactly by the
    oracle, which uses the identical md5-derived hash family): a pair
    no band collides on never reaches the verifier, so low-Jaccard
    pairs may differ from the exact query — high-similarity pairs are
    precisely the ones LSH recalls. Every retained pair's n_common /
    jaccard is exact, never the signature estimate.

    r8 constant trim (VERDICT r7 item 4, 3.3-3.6 s -> ~2.2-2.9 s at
    sf0.1): (a) the edge list is never materialized distinct — raw
    (c,s) pairs feed the per-customer aggregate directly, because
    collect_set dedups and MIN is duplicate-insensitive, killing one
    full-corpus exchange (the hub filter uses countDistinct per
    supplier, same cutoff); (b) the per-customer aggregate collects
    the NEIGHBOR SET itself and the 8 minhashes derive from it
    row-locally (array_min over transform — one light
    ObjectHashAggregate instead of nine agg buffers); (c) candidate
    verification is a row-local array_intersect against the two
    joined neighbor sets instead of the supplier-keyed fan-out join +
    re-aggregation (the old cm stage billed |cand| x avg-degree
    intermediate rows); (d) the signature table (one row per
    customer, arrays capped on BOTH dimensions — ``_HUB_CAP`` prunes
    hub suppliers from the edge list, ``_CUST_CAP`` drops hub
    customers after the set aggregate, so persisted row width and
    the per-candidate ``array_intersect`` are bounded constants, not
    degree-distribution tails) is persisted so the band path and
    the two verify legs share one computation, released before
    return via the triangles localCheckpoint pattern. At 100 TB the
    persist is |customers|-shaped (model-side, not corpus-shaped edge
    data) and the hub-filter join strategy is AQE's call — supplier
    cardinality grows with SF, so no forced broadcast."""
    # r13: the projection/condition trees below render as SQL text
    # (selectExpr / F.expr, one gateway call each) instead of ~150
    # Column-API operators — the r12 flit/SQL-text discipline (guide §4
    # applied to plan construction; ~3 ms py4j latency per operator,
    # measured). Same functions, same casts, same operand order: the
    # analyzer resolves the identical tree, so results are bit-for-bit
    # (collect-equality checked against the Column build at sf0.1,
    # then the oracle parity gate). Interleaved A/B median 1.85 ->
    # 1.74 s at sf0.1. Measured NEGATIVE and rejected this round
    # (OPTIMIZATION_r13.md): persisting `raw` or a deduped edge list
    # to kill the second fact join (the persist costs more than the
    # broadcast-side rejoin; at scale the SMJ fact-join exchanges are
    # canonically identical in both subtrees, so ReuseExchange already
    # dedups them); a one-pass aggregate-fold minhash (allocates an
    # 8-wide array per element — slower than 8 array_min transforms);
    # a singleton-bucket prune before the band self-join (the window
    # count's extra shuffle outweighs the join input cut).
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    raw = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).selectExpr("o_custkey AS c", "l_suppkey AS s")
    sd = raw.groupBy("s").agg(F.countDistinct("c").alias("ds"))
    el = raw.join(sd.filter(F.col("ds") <= _HUB_CAP).select("s"), "s")
    P = 1000000007
    sig = (
        el.groupBy("c")
        .agg(F.collect_set("s").alias("ns"))
        # customer-side hub cutoff (_CUST_CAP): row-local on the
        # |customers|-sized aggregate, dropped BEFORE the persist and
        # the pair joins, so persisted width and per-candidate
        # array_intersect cost are both capped. The agg buffer itself
        # is transient and bounded by true degree (<= distinct
        # suppliers), which is the supplier-dimension size, not the
        # corpus size.
        .filter(F.size("ns") <= _CUST_CAP)
        .selectExpr(
            "c",
            "ns",
            *[
                f"array_min(transform(ns, s -> "
                f"({a}L * (s % {P}L) + {b}L) % {P}L)) AS h{j}"
                for j, (a, b) in enumerate(_LP_PARAMS)
            ],
        )
        .persist()
    )
    # one generator pass over sig, not a per-band union of legs: the
    # union re-plans sig's whole upstream per leg (ReuseExchange dedups
    # only the shuffle subtree), while the explode emits all bands in
    # the same task that aggregated the signature — the `_minhash_bands`
    # shape queries_dedup.py uses
    band_structs = ",".join(
        f"named_struct('band', {b}, 'bsig', concat_ws('_', "
        f"CAST(h{2 * b} AS STRING), CAST(h{2 * b + 1} AS STRING)))"
        for b in range(_LP_N_BANDS)
    )
    bands = sig.selectExpr(
        "c", f"explode(array({band_structs})) AS bb"
    ).selectExpr("c", "bb.band AS band", "bb.bsig AS bsig")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y, F.expr("x.band = y.band AND x.bsig = y.bsig AND x.c < y.c"))
        .selectExpr("x.c AS ca", "y.c AS cb")
        .distinct()
    )
    na = sig.selectExpr("c AS ca", "ns AS ns_a")
    nb = sig.selectExpr("c AS cb", "ns AS ns_b")
    common = "size(array_intersect(ns_a, ns_b))"
    uni = f"(size(ns_a) + size(ns_b) - {common})"
    out = (
        cand.join(na, "ca")
        .join(nb, "cb")
        .selectExpr(
            "ca AS cust_a",
            "cb AS cust_b",
            f"CAST({common} AS BIGINT) AS n_common",
            f"FLOOR(CAST({common} AS DOUBLE) / {uni} * 1000000 + 0.5D) "
            f"/ 1000000 AS jaccard",
        )
        .filter(F.col("n_common") > 0)
        .orderBy(F.col("jaccard").desc(), "cust_a", "cust_b")
        .limit(_LINKPRED_TOPK)
        .localCheckpoint()
    )
    sig.unpersist()
    return out


copurchase_linkpred_lsh.__doc__ = copurchase_linkpred_lsh.__doc__.format(
    k=_LINKPRED_TOPK
)


# ---------------------------------------------------------------------------
# BFS levels (bounded single-source shortest hops)
# ---------------------------------------------------------------------------

_BFS_SRC = 1  # customer node 1
_BFS_MAX_DEPTH = 4

BFS_SQL = f"""
WITH RECURSIVE
{_GRAPH_SQL.strip().rstrip(",")},
walk(node, lvl) AS (
  SELECT CAST({_BFS_SRC} AS BIGINT) AS node, 0 AS lvl
  UNION
  SELECT e.dst AS node, w.lvl + 1 AS lvl
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lvl < {_BFS_MAX_DEPTH}
)
SELECT node,
       CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CAST(MIN(lvl) AS INT) AS level
FROM walk
GROUP BY node
"""


@register(
    "copurchase_bfs_levels",
    oracle=BFS_SQL,
    survey=["bfs", "graph", "iterative", "shortest-path"],
)
def copurchase_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS levels (shortest hop counts, bounded at 4) from
    customer node 1 over the symmetric co-purchase graph -- frontier
    expansion as a driver loop of joins, the level-synchronous BFS a
    distributed engine actually runs.

    Each round: frontier joins edges (one shuffle on the edge key),
    discovered nodes anti-join the visited set, and ONLY an isEmpty
    flag crosses to the driver. Bounding the depth makes the recursive-
    CTE oracle safe on a cyclic graph (UNION dedups (node, lvl) rows,
    not nodes, so unbounded recursion would walk cycles forever); both
    sides take MIN(lvl) per node at the end. Visited state persists per
    round with localCheckpoint lineage truncation, like PageRank.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = (
        e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .persist()
    )
    visited = (
        edges.sparkSession.createDataFrame(
            [(_BFS_SRC, 0)], "node LONG, level INT"
        ).localCheckpoint()
    )
    frontier = visited
    for depth in range(1, _BFS_MAX_DEPTH + 1):
        discovered = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(depth).cast("int").alias("level"))
            .localCheckpoint()
        )
        if discovered.isEmpty():
            break
        visited = visited.unionAll(discovered).localCheckpoint()
        frontier = discovered
    edges.unpersist()
    return visited.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        F.col("level"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (fixed rounds, per-round max-normalization)
# ---------------------------------------------------------------------------

_HITS_ITER = 5

_HITS_BASE_SQL = f"""
bedges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM bedges)
"""


def _hits_step_sql(i: int) -> str:
    qh = sql_dround(f"h{i - 1}.h", 12)
    qa = sql_dround(f"a{i}.a", 12)
    return f"""
ar{i} AS MATERIALIZED (
  SELECT e.s,
         CAST(SUM(CAST({qh} AS DECIMAL(28,12))) AS DOUBLE) AS ar
  FROM bedges e JOIN h{i - 1} ON h{i - 1}.c = e.c
  GROUP BY e.s
),
am{i} AS (SELECT MAX(ar) AS m FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT s, {sql_dround('ar / am.m', 9)} AS a FROM ar{i}, am{i} am
),
hr{i} AS MATERIALIZED (
  SELECT e.c,
         CAST(SUM(CAST({qa} AS DECIMAL(28,12))) AS DOUBLE) AS hr
  FROM bedges e JOIN a{i} ON a{i}.s = e.s
  GROUP BY e.c
),
hm{i} AS (SELECT MAX(hr) AS m FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT c, {sql_dround('hr / hm.m', 9)} AS h FROM hr{i}, hm{i} hm
)"""


HITS_SQL = (
    "WITH "
    + _HITS_BASE_SQL
    + ","
    + ",".join(_hits_step_sql(i) for i in range(1, _HITS_ITER + 1))
    + f"""
SELECT c AS node, 'customer' AS node_type,
       {sql_dround('h', 8)} AS score
FROM h{_HITS_ITER}
UNION ALL
SELECT s AS node, 'supplier' AS node_type,
       {sql_dround('a', 8)} AS score
FROM a{_HITS_ITER}
"""
)


@register(
    "copurchase_hits",
    oracle=HITS_SQL,
    survey=["hits", "graph", "iterative", "link-analysis"],
)
def copurchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the directed customer->supplier purchase graph: hub
    scores for customers (buy from authoritative suppliers) and
    authority scores for suppliers (bought by strong hubs), 5 fixed
    mutual-reinforcement rounds with per-half-round max-normalization
    (the standard HITS scaling; here it also keeps every value in the
    exactly-representable range instead of growing by the principal
    eigenvalue each round). Complements PageRank with the second
    classic link-analysis algorithm — same quantized-decimal
    discipline: contributions floor-quantized to 1e-12 before the
    exact decimal sum (associative), normalized scores quantized to
    1e-9, so every round is bit-identical across engines and
    partitionings.

    Scale shape: each half-round is ONE equi-join of the score table
    against the edge list plus a map-side-combinable decimal-sum
    aggregate (O(|E|) per round); the normalizer is a 1-row MAX
    broadcast back (the sanctioned scalar channel); localCheckpoint
    per round keeps the plan round-sized. No driver-side data
    movement beyond the per-round scalar."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist()
    )
    h = edges.select("c").distinct().select(
        "c", F.lit(1.0).alias("h")
    ).localCheckpoint()
    a = None
    for _ in range(_HITS_ITER):
        ar = (
            edges.join(h, "c")
            .groupBy("s")
            .agg(
                F.sum(dround(F.col("h"), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("ar")
            )
        )
        am = ar.agg(F.max("ar").alias("m"))
        a = (
            ar.crossJoin(F.broadcast(am))
            .select("s", dround(F.col("ar") / F.col("m"), 9).alias("a"))
            .localCheckpoint()
        )
        hr = (
            edges.join(a, "s")
            .groupBy("c")
            .agg(
                F.sum(dround(F.col("a"), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("hr")
            )
        )
        hm = hr.agg(F.max("hr").alias("m"))
        h = (
            hr.crossJoin(F.broadcast(hm))
            .select("c", dround(F.col("hr") / F.col("m"), 9).alias("h"))
            .localCheckpoint()
        )
    out = (
        h.select(
            F.col("c").alias("node"),
            F.lit("customer").alias("node_type"),
            dround(F.col("h"), 8).alias("score"),
        )
        .unionAll(
            a.select(
                F.col("s").alias("node"),
                F.lit("supplier").alias("node_type"),
                dround(F.col("a"), 8).alias("score"),
            )
        )
        .localCheckpoint()
    )
    edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Degree distribution + power-law (log-log OLS) fit
# ---------------------------------------------------------------------------

DEGREE_POWERLAW_SQL = f"""
WITH edges0 AS ({_EDGES_SQL}),
edges AS (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges0
),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k FROM edges
        GROUP BY src),
hist AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY k
),
pts AS (
  SELECT CAST(FLOOR(LN(k) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(LN(n_nodes) * 1000000 + 0.5) AS BIGINT) AS y
  FROM hist
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS npt,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(MAX(k) AS BIGINT) FROM deg) AS max_degree,
       npt AS n_degree_levels,
       CASE WHEN npt >= 2
             AND CAST(npt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0
            THEN FLOOR((CAST(npt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(npt AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx)
                       * 1000000 + 0.5) / 1000000
            ELSE NULL END AS powerlaw_slope
FROM mom
"""


@register(
    "copurchase_degree_powerlaw",
    oracle=DEGREE_POWERLAW_SQL,
    survey=["graph", "degree-distribution", "power-law", "ols"],
)
def copurchase_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph with a power-law
    exponent estimate: OLS slope of ln(#nodes with degree k) against
    ln(k) — the graph-health diagnostic run before sizing an iterative
    job (a heavy-tailed slope means skewed frontiers: PageRank/BFS
    partitions need salting or high-degree-vertex mirroring; a flat
    one means uniform partitioning is safe — this graph's bipartite
    construction is near-regular, which the fit exposes).

    Exactness: the token_zipf_fit discipline — per-point ln values
    floor-quantized to integer micro-units BEFORE the moment sums, so
    the OLS inputs are exact BIGINTs in both engines.

    Scale shape: degree = one map-combinable count keyed by node;
    histogram = a second count keyed by degree (cardinality = distinct
    degree levels, tiny); moments = a scalar aggregate over the
    histogram. No window, no sort, no per-node iteration."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    hist = deg.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    pts = hist.select(
        F.floor(F.log(F.col("k").cast("double")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(
            F.log(F.col("n_nodes").cast("double")) * 1000000 + F.lit(0.5)
        )
        .cast("long")
        .alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("npt"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    totals = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("k").cast("long").alias("max_degree"),
    )
    npt = F.col("npt").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = npt * sxx - sx * sx
    slope = (npt * sxy - sx * sy) / denom
    # guard the degenerate single-degree-level graph: 0/0 is NaN, and
    # FLOOR(NaN) diverges across engines (DuckDB NaN, Spark long 0) —
    # emit NULL identically instead
    guarded = F.when(
        (F.col("npt") >= 2) & (denom != 0),
        F.floor(slope * 1000000 + F.lit(0.5)) / 1000000,
    )
    return mom.crossJoin(F.broadcast(totals)).select(
        "n_nodes",
        "max_degree",
        F.col("npt").alias("n_degree_levels"),
        guarded.alias("powerlaw_slope"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed K, synchronous peel to fixpoint)
# ---------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_MAX_ROUNDS = 12


def _kcore_round(edges: DataFrame) -> DataFrame:
    """One LAZY synchronous peel round: keep edges whose BOTH endpoints
    currently have degree >= K (two map-combinable degree aggregates +
    two semi-joins on the edge keys, O(|E|)). The convergence loop
    checkpoints each round; the plan lint (tests/test_plans.py) reads
    each round's executed plan, not the Scan ExistingRDD stub the
    checkpoint leaves on the returned frame."""
    cd = edges.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    sd = edges.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    keep_c = cd.filter(F.col("dc") >= _KCORE_K).select("c")
    keep_s = sd.filter(F.col("ds") >= _KCORE_K).select("s")
    return edges.join(keep_c, "c", "left_semi").join(
        keep_s, "s", "left_semi"
    )


def _kcore_sql() -> str:
    """Unrolled synchronous peel: stage i+1 keeps edges whose BOTH
    endpoints have degree >= K in stage i. {_KCORE_MAX_ROUNDS} stages
    strictly dominate the fixpoint on every fixture (the Spark side
    asserts convergence within the same budget, so a fixture that
    peels deeper fails loudly on both sides rather than diverging)."""
    # AS MATERIALIZED: without it DuckDB inlines each CTE at every
    # reference site -- three references per stage compound to 3^R
    # inlined copies of the base scan (observed as an fd explosion).
    stages = [f"e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s\n"
              f"  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)"]
    for i in range(_KCORE_MAX_ROUNDS):
        stages.append(
            f"e{i + 1} AS MATERIALIZED (SELECT c, s FROM e{i}\n"
            f"  WHERE c IN (SELECT c FROM e{i} GROUP BY c"
            f" HAVING COUNT(*) >= {_KCORE_K})\n"
            f"    AND s IN (SELECT s FROM e{i} GROUP BY s"
            f" HAVING COUNT(*) >= {_KCORE_K}))"
        )
    last = f"e{_KCORE_MAX_ROUNDS}"
    return (
        "WITH " + ",\n".join(stages) + f"""
SELECT node, node_type, CAST(deg_core AS BIGINT) AS deg_core
FROM (
  SELECT c AS node, 'customer' AS node_type, COUNT(*) AS deg_core
  FROM {last} GROUP BY c
  UNION ALL
  SELECT s AS node, 'supplier' AS node_type, COUNT(*) AS deg_core
  FROM {last} GROUP BY s
)
"""
    )


@register(
    "copurchase_kcore",
    oracle=_kcore_sql(),
    survey=["k-core", "graph", "iterative", "community"],
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the bipartite co-purchase graph: synchronously peel
    nodes with degree < {k} until fixpoint; emit surviving nodes with
    their in-core degree. The density filter community detection and
    fraud screening run before expensive per-node models -- nodes
    outside the core cannot belong to any subgraph of minimum degree
    {k}.

    Both sides run the SAME synchronous peel schedule: Spark iterates
    (degree aggregate -> semi-join filter -> localCheckpoint) with an
    early exit when the edge count reaches fixpoint, and ASSERTS
    convergence within {r} rounds -- the oracle unrolls exactly {r}
    stages, so a fixture that needs deeper peeling fails loudly on the
    Spark side instead of silently disagreeing.

    Scale shape: each round is two map-combinable degree aggregates
    and two semi-joins on the edge keys, O(|E|) per round with AQE
    picking the join strategy; localCheckpoint truncates lineage so
    the plan stays round-sized (pagerank discipline). The edge-count
    convergence check rides the checkpoint action via count() on the
    checkpointed frame -- O(1) per round, no extra scan of the
    un-checkpointed lineage."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    for _ in range(_KCORE_MAX_ROUNDS):
        if n_edges == 0:
            break
        nxt = _kcore_round(edges).localCheckpoint()
        n_nxt = nxt.count()
        edges = nxt
        # n_nxt == 0 IS a fixpoint (peeling an empty set is a no-op);
        # without it a peel that empties on the final round would trip
        # the for/else spuriously (round-9 ADVICE).
        if n_nxt == n_edges or n_nxt == 0:
            break
        n_edges = n_nxt
    else:
        raise AssertionError(
            f"k-core did not reach fixpoint within {_KCORE_MAX_ROUNDS} "
            f"rounds -- raise _KCORE_MAX_ROUNDS (and the oracle unroll) "
            f"together"
        )
    cust = edges.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).alias("deg_core")
    ).select("node", F.lit("customer").alias("node_type"), "deg_core")
    supp = edges.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg_core")
    ).select("node", F.lit("supplier").alias("node_type"), "deg_core")
    return cust.unionAll(supp).select(
        "node", "node_type", F.col("deg_core").cast("bigint").alias("deg_core")
    )


copurchase_kcore.__doc__ = copurchase_kcore.__doc__.format(
    k=_KCORE_K, r=_KCORE_MAX_ROUNDS
)
