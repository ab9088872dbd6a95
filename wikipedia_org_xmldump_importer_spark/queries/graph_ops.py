"""SURVEY.md §2 row x63 — iterative PageRank over the order graph.

The second iterative-algorithm surface next to dedup_cluster_cc's
connected components (operators/graph.py): a fixed-iteration PageRank over
the customer↔supplier graph induced by orders⋈lineitem. Demonstrates the
driver-loop-of-joins shape Spark uses for any fixed-point graph algorithm,
WITH a full SQL oracle — the iterations are finitely unrolled in DuckDB,
and per-iteration rounding pins the float state so cross-engine summation
order can never let drift accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register

_PR_ITERS = 5
# graph_pagerank_iter drops the per-round localCheckpoint, so its final plan
# nests every round's broadcast-join subtree into one lineage and Catalyst's
# analysis/optimization cost grows with that depth. The drop was measured
# faster at 5 rounds only; past 8, re-checkpoint every few rounds instead.
assert _PR_ITERS <= 8
_PR_DAMP = 0.85
_PR_ITER_DP = 10  # per-iteration rounding: pins float state cross-engine
# Supplier node ids are NEGATED (and shifted by 1 so suppkey 0 cannot
# collide with custkey 0): sign-disjointness holds at ANY scale,
# unlike a fixed additive offset which silently merges customer and
# supplier nodes once custkeys outgrow it.


def _pr_iter_sql(k: int) -> str:
    prev = f"p{k - 1}"
    return f"""
p{k} AS (
  SELECT e.dst AS node,
         round(0.15 / (SELECT n FROM nn) +
               {_PR_DAMP} * SUM({prev}.p / d.outdeg), {_PR_ITER_DP}) AS p
  FROM e
  JOIN {prev} ON e.src = {prev}.node
  JOIN d ON e.src = d.src
  GROUP BY e.dst
)"""


_PR_ORACLE = (
    f"""
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
nn AS (SELECT COUNT(DISTINCT src) AS n FROM e),
d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
p0 AS (SELECT DISTINCT src AS node, round(1.0 / (SELECT n FROM nn), {_PR_ITER_DP}) AS p FROM e),
"""
    + ",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))
    + f"""
SELECT node, round(p, 6) AS pagerank FROM p{_PR_ITERS}
"""
)


@register("graph_pagerank_iter", oracle=_PR_ORACLE)
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x63: {_PR_ITERS}-iteration PageRank (damping {_PR_DAMP}) over the
    bipartite customer↔supplier graph from orders⋈lineitem (supplier ids
    negated for scale-proof disjointness), symmetrized so every node has
    out-edges (no dangling-mass term needed).

    Cross-engine float discipline: rank state is re-rounded to
    {_PR_ITER_DP} dp after EVERY iteration on both engines, so
    summation-order ulp differences (≈1e-18 per in-neighborhood) can never
    compound across iterations; the oracle unrolls the same {_PR_ITERS}
    iterations as chained CTEs.

    100 TB: the per-iteration plan is one edges⋈ranks equi-join + one
    groupBy(dst) — both shuffle on node id and AQE reuses the edge side's
    partitioning across iterations; state per iteration is |nodes| rows.
    At web-graph scale the same loop wants the edge table bucketed by src
    (io.sink_bucketed) so iterations pay ZERO edge shuffles, plus
    localCheckpoint every few rounds to cut lineage (the
    operators/graph.py lesson). Fixed iteration count (not convergence
    polling) keeps the plan deterministic and the oracle finite."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    # Materialize the edge list ONCE: without this, every iteration's
    # lineage re-executes the orders⋈lineitem join and dedup from scratch
    # (measured 7.5 s -> ~2 s at sf0.1). Same lineage-cut discipline as
    # operators/graph.py:103. Round 6: the source's outdeg is folded INTO
    # the checkpointed edge list, so each iteration is ONE equi-join + one
    # groupBy instead of two joins (the summed term stays the bit-identical
    # division p/outdeg; only the join count changes). Isolated 5-repeat
    # median: 4.45 s -> measured below at sf0.1.
    # r15 restructure (guide §2.4/§3.1; interleaved 5-shot medians 3.98 ->
    # 3.19 s at sf0.1, rows identical), three coupled changes:
    #  * checkpoint the BARE symmetric edge list (2 longs/row) and keep the
    #    out-degrees in a separate checkpointed VERTEX table instead of
    #    denormalizing outdeg onto every edge row — the edge
    #    materialization narrows by a third and the sym⋈deg fact-grain
    #    join disappears from the prologue;
    #  * n_nodes/rank-init derive from that degree table (row count ==
    #    distinct src by construction) instead of a second fact-scale
    #    DISTINCT pass over the materialized edges;
    #  * the per-edge division p/outdeg moves to the BROADCAST side as a
    #    per-NODE contribution w = p/outdeg (vertex-grain join, built once
    #    per round): the propagation join streams edges against the tiny
    #    hash relation and the agg sums w — the same double values summed
    #    (division per src computed once instead of per edge), so the
    #    {_PR_ITER_DP}dp re-round sees bit-identical inputs.
    # Per-round localCheckpoints are DROPPED: rank state has exactly ONE
    # consumer per round (the next round's broadcast), so the nested plan
    # executes each round's subtree exactly once — no union/multi-consumer
    # re-derivation exists here (unlike x251/x152, whose per-round states
    # feed 2 consumers and keep their checkpoints). r14's graph_hits
    # no-checkpoint negative result does not transfer for that reason.
    # At 100 TB, when |V| outgrows the broadcast cap, the same algebra
    # keeps the edge side stationary via bucketing-by-src
    # (io.sink_bucketed).
    sym = eb.unionByName(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
    n_nodes = deg.count()  # small driver scalar (row count == distinct src)
    ranks = deg.select(
        F.col("src").alias("node"),
        F.round(F.lit(1.0 / n_nodes), _PR_ITER_DP).alias("p"),
    )
    for _ in range(_PR_ITERS):
        # deg is a stats-less checkpointed LogicalRDD — without the hint the
        # planner SMJs this vertexxvertex join (2 extra exchanges/round);
        # both sides are |V|-scale, the same broadcast-cap caveat as the
        # contribution broadcast below.
        contrib = ranks.join(F.broadcast(deg), ranks.node == deg.src).select(
            "node", (F.col("p") / F.col("outdeg")).alias("w")
        )
        ranks = (
            sym.join(F.broadcast(contrib), sym.src == contrib.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.round(
                    F.lit(0.15 / n_nodes) + _PR_DAMP * F.sum("w"),
                    _PR_ITER_DP,
                ).alias("p")
            )
        )
    return ranks.select("node", F.round("p", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# x91 — triangle counting over the supplier co-supply graph
# --------------------------------------------------------------------------

_TRI_TOPK = 5  # each supplier's 5 most-shipped parts define its signature

_TRI_ORACLE = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, COUNT(*) AS n
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
top AS (
  SELECT l_suppkey, l_partkey FROM (
    SELECT l_suppkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
                              ORDER BY n DESC, l_partkey) AS rk
    FROM sp) ranked
  WHERE rk <= {_TRI_TOPK}
),
e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM top a JOIN top b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM e e1
  JOIN e e2 ON e2.s1 = e1.s2
  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*) AS tri_cnt FROM corners GROUP BY node
"""


@register("graph_triangle_count", oracle=_TRI_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x91: per-node triangle counts in the supplier co-supply graph —
    suppliers are adjacent when their top-{_TRI_TOPK} most-shipped part
    sets intersect (the top-k signature keeps the graph sparse; the raw
    shares-any-part relation is complete on this data and degenerate).
    Third graph surface next to connected components (x29) and PageRank
    (x63): the wedge-close join pattern.

    Algorithm: orient every edge low-id → high-id (each triangle counted
    exactly once as a < b < c), build wedges by joining edges on the
    middle vertex, close them with a third edge-existence join, then
    explode each triangle to its three corners and count per node.

    100 TB: the id-orientation here is the didactic form; the scale form
    orients low-DEGREE → high-degree (then no vertex fans out more than
    O(sqrt(|E|)) wedges even on power-law graphs — the classic MapReduce
    triangle bound), which changes intermediate sizes only, never the
    result. Both wedge join and closure join are equi-joins shuffled on
    vertex ids; the candidate-pair generator is capped by top-k part
    signatures exactly like the dedup family caps band buckets."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.count(F.lit(1)).alias("n"))
    top = (
        sp.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("l_suppkey").orderBy(
                    F.col("n").desc(), F.col("l_partkey")
                )
            ),
        )
        .filter(F.col("rk") <= _TRI_TOPK)
        .select("l_suppkey", "l_partkey")
    )
    a = top.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s1"))
    b = top.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s2"))
    # r14 (guide §2.4): e feeds the wedge join TWICE plus the closure join
    # — checkpoint the (small, top-k-capped) edge list once instead of
    # re-deriving the lineitem→top-k-window→self-join subtree per consumer
    # (the before plan held 18 parquet scans / 146 Exchanges).
    e = (
        a.join(b, "pk")
        .filter(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = e.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    e2 = e.select(F.col("s1").alias("b"), F.col("s2").alias("c"))
    e3 = e.select(F.col("s1").alias("a"), F.col("s2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # one explode instead of a 3-branch union that re-derived tri (and its
    # two joins) three times over — same corner multiset, one derivation
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri_cnt"))


# --------------------------------------------------------------------------
# x136 — degree assortativity of the co-supply graph (exact moments)
# --------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1, 2
),
top AS (
  SELECT l_suppkey, l_partkey FROM (
    SELECT l_suppkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
                              ORDER BY n DESC, l_partkey) AS rk
    FROM sp) ranked WHERE rk <= {_TRI_TOPK}
),
e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM top a JOIN top b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e) u GROUP BY node
),
ed AS (
  SELECT da.d AS da, db.d AS db FROM e
  JOIN deg da ON e.s1 = da.node JOIN deg db ON e.s2 = db.node
),
s AS (
  SELECT CAST(2 * COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(da + db) AS BIGINT) AS sx,
         CAST(2 * SUM(da * db) AS BIGINT) AS sxy,
         CAST(SUM(da * da + db * db) AS BIGINT) AS sxx
  FROM ed
)
SELECT m2 AS n_directed_edges,
       ROUND((CAST(sxy AS DOUBLE) / m2
              - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2))
             / (CAST(sxx AS DOUBLE) / m2
              - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2)), 6)
         AS assortativity
FROM s
"""


@register("graph_degree_assortativity", oracle=_ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x136: DEGREE ASSORTATIVITY (Newman 2002) of the co-supply graph —
    do high-degree suppliers connect to other hubs (r>0) or to the
    periphery (r<0)? Fourth graph surface (components → PageRank →
    triangles → mixing structure). An undirected edge contributes both
    orientations, so the Pearson moments collapse to integer edge sums:
    M=2m, Σx=Σ(da+db), Σxy=2Σda·db, Σx²=Σ(da²+db²) — exact BIGINTs; the
    float epilogue is a fixed op-order 1-row projection (x126's Welch
    discipline applied to graph mixing).

    100 TB: edge build is the capped top-k signature join (x91's
    generator, verbatim); degrees are one groupBy over edge endpoints;
    the two degree joins shuffle on node id. Everything after is a
    4-number global agg."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.count(F.lit(1)).alias("n"))
    top = (
        sp.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("l_suppkey").orderBy(
                    F.col("n").desc(), F.col("l_partkey")
                )
            ),
        )
        .filter(F.col("rk") <= _TRI_TOPK)
        .select("l_suppkey", "l_partkey")
    )
    a = top.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s1"))
    b = top.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("s2"))
    # r14 (guide §2.4): e feeds both degree-union branches plus the moment
    # join — checkpoint the capped edge list once instead of re-deriving
    # the lineitem→top-k-window→self-join subtree three times (the before
    # plan held 10 parquet scans / 80 Exchanges).
    e = (
        a.join(b, "pk")
        .filter(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("node").alias("s1"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("s2"), F.col("d").alias("db"))
    ed = e.join(da, "s1").join(db, "s2")
    s = ed.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("m2"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("sx"),
        (2 * F.sum(F.col("da") * F.col("db"))).cast("long").alias("sxy"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db"))
        .cast("long")
        .alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("m2")
    return s.select(
        F.col("m2").alias("n_directed_edges"),
        F.round(
            (F.col("sxy").cast("double") / F.col("m2") - mean * mean)
            / (F.col("sxx").cast("double") / F.col("m2") - mean * mean),
            6,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# x152 — k-core membership via bounded peel rounds
# --------------------------------------------------------------------------

_KCORE_K = 20
_KCORE_ROUNDS = 4


def _kcore_round_sql(r: int) -> str:
    prev = f"a{r - 1}"
    return f"""
a{r} AS (
  SELECT e.src AS node
  FROM e
  JOIN {prev} s ON e.src = s.node
  JOIN {prev} t ON e.dst = t.node
  GROUP BY e.src
  HAVING COUNT(*) >= {_KCORE_K}
)"""


_KCORE_ORACLE = (
    f"""
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
a0 AS (SELECT DISTINCT src AS node FROM e),
"""
    + ",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))
    + f""",
cd AS (
  SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
  FROM e
  JOIN a{_KCORE_ROUNDS} s ON e.src = s.node
  JOIN a{_KCORE_ROUNDS} t ON e.dst = t.node
  GROUP BY e.src
)
SELECT a0.node,
       CAST(cd.node IS NOT NULL AS BOOLEAN) AS in_core,
       COALESCE(cd.core_deg, 0) AS core_deg
FROM a0 LEFT JOIN cd ON a0.node = cd.node
"""
)


@register("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x152: K-CORE membership (k={_KCORE_K}) on the customer↔supplier
    graph (x63's edge set) via {_KCORE_ROUNDS} unrolled PEEL rounds:
    repeatedly delete nodes whose degree among survivors is < k. The core
    is the standard dense-substructure filter (community trimming, spam
    subgraph isolation) between x63's global rank and x29's component
    resolution. Declared semantics are the {_KCORE_ROUNDS}-round peel —
    a fixpoint whenever convergence needs ≤ {_KCORE_ROUNDS} cascades
    (true at every test SF, invariant-verified against a sequential
    replay); pathological long-chain graphs need more rounds, the knob.
    Output: every node, core membership, and degree within the core.

    100 TB: each round is one self-semi-join of the edge list against the
    survivor set + a degree agg — survivor sets only shrink, and
    localCheckpoint cuts lineage per round exactly like x63/x29. The
    all-integer output makes the SQL oracle (same rounds unrolled as
    CTEs) bit-exact."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    e = eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.localCheckpoint(eager=True)
    alive = e.select(F.col("src").alias("node")).distinct()
    all_nodes = alive.localCheckpoint(eager=True)
    alive = all_nodes
    # r14 optimization (guide §3.1): broadcast the survivor set into both
    # semi-join legs. e and alive are checkpointed LogicalRDDs with no size
    # stats, so the planner had been SortMergeJoin-ing — re-shuffling all
    # |E| edge rows twice per peel round; the survivor set is vertex-scale
    # (16k rows here, only shrinks), so the hints keep the edge table
    # stationary and each round pays only the groupBy(src) exchange.
    # Bucketing-by-src is the same escape hatch as x63 at cluster scale.
    for _ in range(_KCORE_ROUNDS):
        deg = (
            e.join(F.broadcast(alive.withColumnRenamed("node", "src")), "src")
            .join(
                F.broadcast(alive.select(F.col("node").alias("dst"))),
                "dst",
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    cd = (
        e.join(F.broadcast(alive.withColumnRenamed("node", "src")), "src")
        .join(F.broadcast(alive.select(F.col("node").alias("dst"))), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .withColumnRenamed("src", "node")
    )
    return all_nodes.join(cd, "node", "left").select(
        "node",
        F.col("core_deg").isNotNull().alias("in_core"),
        F.coalesce(F.col("core_deg"), F.lit(0)).cast("long").alias("core_deg"),
    )


# --------------------------------------------------------------------------
# x157 — neighbor-set Jaccard link prediction over the co-purchase graph
# --------------------------------------------------------------------------

_JACCARD_TOPN = 20

_JACCARD_ORACLE = f"""
WITH eb AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT supp, CAST(COUNT(*) AS BIGINT) AS deg FROM eb GROUP BY supp),
pairs AS (
  SELECT a.supp AS supp_a, b.supp AS supp_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM eb a JOIN eb b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY a.supp, b.supp
),
j AS (
  SELECT p.supp_a, p.supp_b, p.common,
         da.deg AS deg_a, db.deg AS deg_b,
         (p.common * 1000000000000) // ((da.deg + db.deg) - p.common)
           AS jkey
  FROM pairs p
  JOIN deg da ON p.supp_a = da.supp
  JOIN deg db ON p.supp_b = db.supp
)
SELECT supp_a, supp_b, common, deg_a, deg_b,
       ROUND(CAST(common AS DOUBLE) / ((deg_a + deg_b) - common), 6)
         AS jaccard,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY jkey DESC, supp_a, supp_b) AS rk
  FROM j
) WHERE rk <= {_JACCARD_TOPN}
"""


@register("graph_jaccard_links", oracle=_JACCARD_ORACLE)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x157: LINK PREDICTION by neighbor-set Jaccard — the top-{_JACCARD_TOPN}
    supplier pairs ranked by |common customers| / |union of customers|:
    the "suppliers like this one" / people-also-bought primitive, and the
    graph-similarity complement to x131's containment dedup (same measure,
    node-neighborhood sets instead of token multisets).

    Candidate pairs are generated BY SHARED NEIGHBOR (self-join of the
    bipartite edge list on the customer key) — bounded by per-customer
    degree like x6's band buckets, never an all-pairs supplier square.
    Ranking is on an exact INTEGER key (common·10¹² // union) so order is
    engine-independent; the float jaccard column is display only.

    100 TB: edge dedup + degree agg + the shared-neighbor join all
    partition on their keys; hub customers (huge degree) are the skew
    knob — cap or sample per-customer neighbor lists past a bound, the
    same mitigation x7 documents."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r14 (guide §2.4): eb feeds THREE consumers (both self-join sides and
    # the degree agg); without materialization each re-derived the full
    # orders⋈lineitem + distinct subtree (16 parquet scans in the before
    # plan). One eager localCheckpoint computes it once; the self-join
    # sides then share a single reused hashpartitioning(cust) exchange.
    # Interleaved 5-shot medians at sf0.1: 3.71 -> 3.00 s.
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = eb.groupBy("supp").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a = eb.select("cust", F.col("supp").alias("supp_a"))
    b = eb.select("cust", F.col("supp").alias("supp_b"))
    pairs = (
        a.join(b, "cust")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    j = (
        pairs.join(
            F.broadcast(deg.select(F.col("supp").alias("supp_a"), F.col("deg").alias("deg_a"))),
            "supp_a",
        )
        .join(
            F.broadcast(deg.select(F.col("supp").alias("supp_b"), F.col("deg").alias("deg_b"))),
            "supp_b",
        )
        .withColumn(
            "jkey",
            F.expr("common * 1000000000000 DIV ((deg_a + deg_b) - common)"),
        )
    )
    wr = Window.orderBy(F.col("jkey").desc(), "supp_a", "supp_b")
    return (
        j.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _JACCARD_TOPN)
        .select(
            "supp_a",
            "supp_b",
            "common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common").cast("double")
                / ((F.col("deg_a") + F.col("deg_b")) - F.col("common")),
                6,
            ).alias("jaccard"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# x179 — synchronous min-label propagation (bounded-hop communities)
# --------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_round_sql(k: int) -> str:
    prev = f"l{k - 1}"
    return f"""
l{k} AS (
  SELECT node, MIN(label) AS label FROM (
    SELECT node, label FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.label
    FROM e JOIN {prev} ON e.src = {prev}.node
  ) u GROUP BY node
)"""


_LP_ORACLE = (
    f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, COUNT(*) AS n
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
top AS (
  SELECT l_suppkey, l_partkey FROM (
    SELECT l_suppkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
                              ORDER BY n DESC, l_partkey) AS rk
    FROM sp) ranked
  WHERE rk <= {_TRI_TOPK}
),
eb AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM top a JOIN top b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
e AS (SELECT s1 AS src, s2 AS dst FROM eb
      UNION ALL SELECT s2, s1 FROM eb),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
"""
    + ",".join(_lp_round_sql(k) for k in range(1, _LP_ROUNDS + 1))
    + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community
FROM l{_LP_ROUNDS}
"""
)


@register("graph_label_prop", oracle=_LP_ORACLE)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x179: {_LP_ROUNDS}-round synchronous MIN-LABEL propagation over the
    x91 co-supply graph — after k rounds every node holds the smallest
    node id within k hops, i.e. BOUNDED-HOP community cores. The third
    iterative-graph surface: x63 iterates float mass (PageRank), x149
    peels by degree (k-core), dedup_cluster_cc runs to the fixpoint
    (union-find / star contraction); this row is the one-join-per-round
    synchronous-BFS shape those all specialize, with labels exact BIGINT
    so NO float pinning is needed and the oracle unrolls the same rounds
    as chained CTEs.

    Fixed round count (not convergence polling) keeps the oracle finite
    and the plan deterministic; for full components hand these labels to
    dedup_cluster_cc's fixpoint machinery (operators/graph.py), whose
    large-star/small-star notes cover adversarial diameters.

    100 TB: per round ONE edges⋈labels hash join + one min-groupBy, both
    shuffling on node id (AQE reuses the edge partitioning);
    localCheckpoint cuts lineage per round (trap #8); min is a tiny
    map-combinable partial. Bucket the edge list by src to make every
    round shuffle-free on the edge side."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("n").desc(), F.col("l_partkey")
    )
    # r14 (guide §2.4): top feeds BOTH sides of the pk self-join — one
    # eager checkpoint of the top-k-capped (supplier, part) signature
    # halves the lineitem groupBy + per-supplier window derivation; the
    # self-join already ran as an exchange join (no broadcast to lose —
    # top is supplier-grain, unbroadcastable at scale by construction).
    top = (
        sp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRI_TOPK)
        .select("l_suppkey", "l_partkey")
        .localCheckpoint(eager=True)
    )
    eb = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    edges = eb.unionByName(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()  # same lineage-cut as x63: edge build runs ONCE
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # (r14: a broadcast-labels hint was A/B'd here and LOST — this edge
    # list is the small co-supply graph, so per-round broadcast builds cost
    # more than the tiny SortMergeJoin they replace; NOTES.md "r14/r15".)
    for _ in range(_LP_ROUNDS):
        pushed = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        labels = (
            labels.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("community"),
    )


# --------------------------------------------------------------------------
# x206 — global clustering coefficient (transitivity) of the co-supply graph
# --------------------------------------------------------------------------

_CLUSTCOEF_ORACLE = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, COUNT(*) AS n
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
top AS (
  SELECT l_suppkey, l_partkey FROM (
    SELECT l_suppkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
                              ORDER BY n DESC, l_partkey) AS rk
    FROM sp) ranked
  WHERE rk <= {_TRI_TOPK}
),
e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM top a JOIN top b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e
  ) GROUP BY node
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM e e1
  JOIN e e2 ON e2.s1 = e1.s2
  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
w AS (
  SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg
)
SELECT w.n_nodes, CAST(t.n_tri AS BIGINT) AS n_triangles, w.n_wedges,
       ROUND(3.0 * t.n_tri / w.n_wedges, 6) AS clustering_coeff
FROM w CROSS JOIN tri t
"""


@register("graph_clustering_coeff", oracle=_CLUSTCOEF_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x206: GLOBAL CLUSTERING COEFFICIENT (transitivity) of x91's
    co-supply graph — 3·triangles / wedges, the one-number answer to "is
    this graph clumpy or random?" that contextualizes x91's per-node
    triangle counts and x157's assortativity (together: the standard
    graph-shape panel). Wedges = Σ d(d−1)/2 over exact integer degrees;
    triangles reuse x91's oriented 3-join (each triangle counted once on
    s1<s2<s3 orientation, hence the ×3); the only float is the final
    display ratio.

    100 TB: degree agg + the x91 triangle joins (edge table pre-filtered
    by the top-k part signature, so the join fan-out is bounded); the
    epilogue crosses two 1-row frames."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_suppkey").orderBy(F.col("n").desc(), "l_partkey")
    # r14 (guide §2.4): top feeds BOTH sides of the pk self-join — one
    # eager checkpoint of the top-k-capped (supplier, part) signature
    # halves the lineitem groupBy + per-supplier window derivation; the
    # self-join already ran as an exchange join (no broadcast to lose —
    # top is supplier-grain, unbroadcastable at scale by construction).
    top = (
        sp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRI_TOPK)
        .select("l_suppkey", "l_partkey")
        .localCheckpoint(eager=True)
    )
    e = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2"))
        .distinct()
        .localCheckpoint()  # x63/x179 lineage-cut: edges feed 3 consumers
    )
    deg = (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long"))
        .cast("long")
        .alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.s1") == F.col("e1.s2"))
        .join(
            e3,
            (F.col("e3.s1") == F.col("e1.s1"))
            & (F.col("e3.s2") == F.col("e2.s2")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return wedges.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        F.col("n_tri").alias("n_triangles"),
        "n_wedges",
        F.round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6).alias(
            "clustering_coeff"
        ),
    )


# --------------------------------------------------------------------------
# x215 — two-hop reach (friend-of-friend audience size per node)
# --------------------------------------------------------------------------

_REACH_ORACLE = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, COUNT(*) AS n
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
top AS (
  SELECT l_suppkey, l_partkey FROM (
    SELECT l_suppkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey
                              ORDER BY n DESC, l_partkey) AS rk
    FROM sp) ranked
  WHERE rk <= {_TRI_TOPK}
),
eb AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM top a JOIN top b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
e AS (SELECT s1 AS src, s2 AS dst FROM eb
      UNION ALL SELECT s2, s1 FROM eb),
two AS (
  SELECT e1.src AS node, e2.dst AS reach
  FROM e e1 JOIN e e2 ON e2.src = e1.dst
  WHERE e2.dst <> e1.src
  UNION
  SELECT src, dst FROM e
),
d AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e
      GROUP BY src)
SELECT t.node, d.deg AS n_1hop,
       CAST(COUNT(DISTINCT t.reach) AS BIGINT) AS n_2hop_reach,
       ROUND(CAST(COUNT(DISTINCT t.reach) AS DOUBLE) / d.deg, 6)
         AS amplification
FROM two t JOIN d ON d.node = t.node
GROUP BY t.node, d.deg
"""


@register("graph_two_hop_reach", oracle=_REACH_ORACLE)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x215: TWO-HOP REACH per node — |N₁(v) ∪ N₂(v)| minus v itself: the
    friend-of-friend audience size, and its amplification over the direct
    degree. The influence-/exposure-estimation primitive (how far does a
    recall notice propagate through co-suppliers in two steps?) next to
    x63's global rank and x179's bounded-hop communities. Exact distinct
    counting over the joined 2-paths; self returns excluded.

    100 TB: one edges⋈edges hash join on the shared endpoint (fan-out =
    Σ deg² — the x91-style top-k signature pre-filter keeps degrees
    bounded), then a (node, reach) distinct + node-grain count. For k>2
    hops this becomes x179's iterated join with set-union sketches (HLL)
    as the exact-set state outgrows memory — the documented upgrade."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_suppkey").orderBy(F.col("n").desc(), "l_partkey")
    # r14 (guide §2.4): top feeds BOTH sides of the pk self-join — one
    # eager checkpoint of the top-k-capped (supplier, part) signature
    # halves the lineitem groupBy + per-supplier window derivation; the
    # self-join already ran as an exchange join (no broadcast to lose —
    # top is supplier-grain, unbroadcastable at scale by construction).
    top = (
        sp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRI_TOPK)
        .select("l_suppkey", "l_partkey")
        .localCheckpoint(eager=True)
    )
    eb = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )
    e = eb.unionAll(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()  # feeds 3 consumers (2-path join sides + degrees)
    two = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.src") == F.col("e1.dst"))
        .filter(F.col("e2.dst") != F.col("e1.src"))
        .select(F.col("e1.src").alias("node"), F.col("e2.dst").alias("reach"))
        .unionAll(e.select(F.col("src").alias("node"), F.col("dst").alias("reach")))
        .distinct()
    )
    d = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return (
        two.join(d, "node")
        .groupBy("node", "deg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_2hop_reach"))
        .select(
            "node",
            F.col("deg").alias("n_1hop"),
            "n_2hop_reach",
            F.round(
                F.col("n_2hop_reach").cast("double") / F.col("deg"), 6
            ).alias("amplification"),
        )
    )


# --------------------------------------------------------------------------
# x226 — bounded multi-source BFS: shortest hop distance from hub seeds
# --------------------------------------------------------------------------

_BFS_HOPS = 4
_BFS_SEEDS = 5


def _bfs_round_sql(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
d{k} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.dist + 1 AS dist
    FROM e JOIN {prev} ON e.src = {prev}.node
  ) GROUP BY node
)"""


_BFS_ORACLE = (
    f"""
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
seeds AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT {_BFS_SEEDS}),
d0 AS (SELECT node, 0 AS dist FROM seeds),
"""
    + ",".join(_bfs_round_sql(k) for k in range(1, _BFS_HOPS + 1))
    + f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM d{_BFS_HOPS}
"""
)


@register("graph_shortest_hops", oracle=_BFS_ORACLE)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x226: bounded MULTI-SOURCE BFS — min hop distance (<= 4) from the 5
    highest-degree hub nodes over the undirected customer<->supplier order
    graph (x63's edge set, sign-disjoint node ids). The influence-radius /
    network-distance primitive: "how far is every account from the core?"
    — k-hop generalization of x215's two-hop reach, with x63's
    unrolled-iteration oracle discipline (hop count is a FIXED small
    constant, so DuckDB gets plain finitely-unrolled CTEs, no recursion
    divergence risk).

    Each round relaxes dist via join-on-frontier + MIN regroup; seeds pin
    ties by (degree DESC, node). All-integer state — nothing to float-pin.

    100 TB: the frontier table is (node, dist) — never edges — and every
    round is one key-partitioned join + one map-combined MIN; lineage cuts
    via localCheckpoint per round (the x63/x152 driver-loop contract).
    Frontier growth is bounded by the reachable set, and a 4-hop ball
    around 5 hubs is the query's own cap. Sign-disjoint ids mean no node
    collision at any scale (x63's note).

    r14 optimization (guide §3.1): the relax join BROADCASTS the distance
    state — vertex-scale (≤|V| rows) against the stats-less checkpointed
    edge list the planner had been re-shuffling via SortMergeJoin every
    hop. Measured (interleaved 3-shot medians, sf0.1): 3.35 s -> 2.81 s,
    identical rows. (The x313 frontier rewrite was also measured here and
    LOST — dist is already only |V| rows, so the smaller join input does
    not pay for the extra frontier-filter jobs; NOTES.md "r14/r15".)"""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    # No post-union distinct (r14): eb is distinct and the direction
    # branches are sign-disjoint (custkeys > 0, supplier nodes < 0) — the
    # same |2E| dedup removal as closeness_hubs/walk_corpus.
    e = eb.unionByName(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    seeds = deg.orderBy(F.col("d").desc(), "node").limit(_BFS_SEEDS)
    dist = seeds.select("node", F.lit(0).alias("dist"))
    for _ in range(_BFS_HOPS):
        relaxed = e.join(F.broadcast(dist), e.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


# --------------------------------------------------------------------------
# x251 — HITS hubs & authorities on the bipartite order graph
# --------------------------------------------------------------------------

_HITS_ITERS = 5
_HITS_DP = 10  # per-iteration pin (x63 discipline)


def _hits_iter_sql(k: int) -> str:
    ph, pa = f"h{k - 1}", f"a{k - 1}"
    return f"""
ar{k} AS (
  SELECT e.supp AS node, SUM(h.s) AS raw
  FROM eb e JOIN {ph} h ON h.node = e.cust GROUP BY e.supp
),
a{k} AS MATERIALIZED (
  SELECT node, ROUND(raw / SUM(raw) OVER (), {_HITS_DP}) AS s FROM ar{k}
),
hr{k} AS (
  SELECT e.cust AS node, SUM(a.s) AS raw
  FROM eb e JOIN a{k} a ON a.node = e.supp GROUP BY e.cust
),
h{k} AS MATERIALIZED (
  SELECT node, ROUND(raw / SUM(raw) OVER (), {_HITS_DP}) AS s FROM hr{k}
)"""


_HITS_ORACLE = (
    f"""
WITH eb AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nh AS (SELECT COUNT(DISTINCT cust) AS n FROM eb),
h0 AS MATERIALIZED (
  SELECT DISTINCT cust AS node,
         ROUND(1.0 / (SELECT n FROM nh), {_HITS_DP}) AS s
  FROM eb
),"""
    + ",".join(_hits_iter_sql(k) for k in range(1, _HITS_ITERS + 1))
    + f"""
SELECT 'hub' AS side, node, ROUND(s, 6) AS score FROM h{_HITS_ITERS}
UNION ALL
SELECT 'auth' AS side, node, ROUND(s, 6) AS score FROM a{_HITS_ITERS}
"""
)


@register("graph_hits", oracle=_HITS_ORACLE)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x251: HITS (Kleinberg '99) hubs & authorities on the BIPARTITE
    customer->supplier order graph — the natural second spectral ranking
    beside x63's PageRank, and the one whose structure FITS bipartite
    data: hub score (customers who buy from well-sourced suppliers) and
    authority score (suppliers bought by strong customers) reinforce
    each other through {_HITS_ITERS} alternating propagation rounds.
    L1 normalization per half-round (sum-to-1 — equivalent ranking to
    the classical L2, but the normalizer is a SUM, which pins exactly;
    an L2 norm would put a sqrt inside the iteration).

    Determinism: x63's discipline verbatim — scores re-round to
    {_HITS_DP}dp after every normalized half-round, so cross-engine
    summation-order drift can never accumulate.

    100 TB: each half-round is one key-partitioned join + map-combined
    SUM at node grain; the normalizer is a 1-row aggregate broadcast
    back (window over the collapsed node frame here). localCheckpoint
    per round cuts lineage (x63/x152 contract)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_cust = eb.select("cust").distinct().count()
    h = eb.select("cust").distinct().select(
        F.col("cust").alias("node"),
        F.round(F.lit(1.0) / n_cust, _HITS_DP).alias("s"),
    )
    a = None
    # r14 optimization (guide §3.1): BROADCAST the score side of each
    # half-round join. eb is a checkpointed LogicalRDD with no size stats,
    # so the planner had been SortMergeJoin-ing — re-shuffling + re-sorting
    # all |eb| edge rows 2×{_HITS_ITERS} times; the score tables are vertex-
    # scale (|cust|≈15k / |supp|≈1k at sf0.1, always ≪ edge bytes), so the
    # hint keeps the edge table stationary and each half-round pays only
    # the groupBy exchange of partial sums. Same bucketing escape hatch as
    # x63 when |V| outgrows the broadcast cap at cluster scale.
    for _ in range(_HITS_ITERS):
        ar = (
            eb.join(F.broadcast(h.withColumnRenamed("node", "cust")), "cust")
            .groupBy(F.col("supp").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        a = ar.select(
            "node", F.round(F.col("raw") / F.sum("raw").over(w_all), _HITS_DP).alias("s")
        ).localCheckpoint(eager=True)
        hr = (
            eb.join(F.broadcast(a.withColumnRenamed("node", "supp")), "supp")
            .groupBy(F.col("cust").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        h = hr.select(
            "node", F.round(F.col("raw") / F.sum("raw").over(w_all), _HITS_DP).alias("s")
        ).localCheckpoint(eager=True)
    return h.select(
        F.lit("hub").alias("side"), "node", F.round("s", 6).alias("score")
    ).unionByName(
        a.select(F.lit("auth").alias("side"), "node", F.round("s", 6).alias("score"))
    )


# --------------------------------------------------------------------------
# x271 — Adamic-Adar link prediction (inverse-log-degree weighted)
# --------------------------------------------------------------------------

_AA_TOPN = 25

_AA_ORACLE = f"""
WITH eb AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cdeg AS (
  SELECT cust, COUNT(*) AS cd,
         CAST(ROUND(1e6 / ln(COUNT(*))) AS BIGINT) AS w_u
  FROM eb GROUP BY cust HAVING COUNT(*) >= 2
),
pairs AS (
  SELECT a.supp AS supp_a, b.supp AS supp_b,
         COUNT(*) AS common, SUM(c.w_u) AS aa_u
  FROM eb a
  JOIN eb b ON a.cust = b.cust AND a.supp < b.supp
  JOIN cdeg c ON c.cust = a.cust
  GROUP BY a.supp, b.supp
),
rk AS (
  SELECT supp_a, supp_b, common, aa_u,
         ROW_NUMBER() OVER (ORDER BY aa_u DESC, supp_a, supp_b) AS rank
  FROM pairs
)
SELECT CAST(supp_a AS BIGINT) AS supp_a, CAST(supp_b AS BIGINT) AS supp_b,
       CAST(common AS BIGINT) AS common, CAST(aa_u AS BIGINT) AS aa_u,
       ROUND(aa_u / 1e6, 6) AS adamic_adar, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {_AA_TOPN}
"""


@register("graph_adamic_adar", oracle=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x271: ADAMIC-ADAR link prediction on the customer↔supplier
    bipartite graph — x157's Jaccard re-weighted the way link prediction
    actually wants: a shared RARE neighbor (customer touching 2
    suppliers) is strong evidence, a shared hub customer is nearly none,
    so each common neighbor contributes 1/ln(degree) instead of 1. The
    degree-discounted sibling of x157 (same candidate generator, same
    bounded shared-neighbor join).

    Determinism: each neighbor's 1/ln(deg) rounds to integer micro-units
    ONCE (x113's device, at the neighbor grain where deg is a small
    integer — identical ln argument on both engines), so every pair
    score is an exact int64 SUM and the top-{_AA_TOPN} ranking orders on
    that integer with (supp_a, supp_b) tie-breaks — engine-independent
    end to end; the float column is display only. Degree-1 neighbors
    drop (ln 1 = 0 would blow up; they predict nothing anyway).

    100 TB: same scale shape as x157 — edge dedup + per-customer
    self-join bounded by customer degree; hub customers are the skew
    knob (cap/sample their neighbor lists, x7's mitigation)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r14 (guide §2.4): same three-consumer reuse as x157 — checkpoint eb
    # once instead of re-deriving orders⋈lineitem+distinct per consumer.
    # Interleaved 5-shot medians at sf0.1: 3.24 -> 3.07 s (the broadcast
    # hint below keeps the customer-grain weight join off the pair
    # fan-out's shuffle).
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cdeg = (
        eb.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("cd"))
        .filter(F.col("cd") >= 2)
        .select(
            "cust",
            F.round(F.lit(1e6) / F.log("cd")).cast("long").alias("w_u"),
        )
    )
    a = eb.select("cust", F.col("supp").alias("supp_a"))
    b = eb.select("cust", F.col("supp").alias("supp_b"))
    pairs = (
        a.join(b, "cust")
        .filter(F.col("supp_a") < F.col("supp_b"))
        # cdeg is customer-grain (tiny); broadcast instead of re-shuffling
        # the pair fan-out (guide §3.1)
        .join(F.broadcast(cdeg), "cust")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("w_u").cast("long").alias("aa_u"),
        )
    )
    wr = Window.orderBy(F.col("aa_u").desc(), "supp_a", "supp_b")
    return (
        pairs.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _AA_TOPN)
        .select(
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            "common",
            "aa_u",
            F.round(F.col("aa_u") / 1e6, 6).alias("adamic_adar"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# x272 — bipartite projection: event-type co-engagement graph
# --------------------------------------------------------------------------

_BIPROJ_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
),
deg AS (
  SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS common
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, CAST(p.common AS BIGINT) AS common_users,
       CAST(da.n_users AS BIGINT) AS n_a, CAST(db.n_users AS BIGINT) AS n_b,
       ROUND(p.common / sqrt(CAST(da.n_users AS DOUBLE) * db.n_users), 6)
         AS cosine_affinity,
       ROUND(CAST(p.common AS DOUBLE)
             / (da.n_users + db.n_users - p.common), 6) AS jaccard
FROM pairs p
JOIN deg da ON da.event_type = p.type_a
JOIN deg db ON db.event_type = p.type_b
"""


@register("graph_bipartite_project", oracle=_BIPROJ_ORACLE)
def graph_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x272: BIPARTITE PROJECTION of the user↔event-type graph onto the
    type side — the co-engagement network ("users who view also
    purchase"), the same device x100 applies to market baskets and x157
    to suppliers, here producing the behavior-affinity matrix that seeds
    recommendation and funnel design. Cosine affinity (common/√(n_a·n_b))
    and Jaccard per pair, both from exact integer counts.

    100 TB: the projection never materializes user-pair grain — edges
    dedup to (user, type), the self-join is keyed on user_id with
    per-user fan-out bounded by |types| (≤5 here, ≤ a few hundred in any
    real taxonomy), and output is |types|² rows. The type-side
    projection of a 1e9-user graph is a few-KB result."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    deg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_users"))
    )
    return (
        pairs.join(
            F.broadcast(
                deg.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_users").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_users").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "common_users",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("common_users")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("cosine_affinity"),
            F.round(
                F.col("common_users").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common_users")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# x284 — degree distribution + power-law tail exponent (Hill on degrees)
# --------------------------------------------------------------------------

_DEGPL_K = 50  # Hill order statistics

_DEGPL_ORACLE = f"""
WITH eb AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
  SELECT supp, COUNT(*) AS d FROM eb GROUP BY supp
),
hist AS (
  SELECT d, COUNT(*) AS n_nodes FROM deg GROUP BY d
),
topk AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d DESC, supp) AS r,
         -- adaptive Hill order: k = min({_DEGPL_K}, n-1) so small graphs
         -- (smoke SF has 10 suppliers) still produce an estimate
         LEAST({_DEGPL_K}, COUNT(*) OVER () - 1) AS keff
  FROM deg
),
cut AS (SELECT d AS dk1, keff FROM topk WHERE r = keff + 1),
hill AS (
  SELECT ROUND(MAX(c.keff) * 1e6 /
               NULLIF(SUM(CAST(ROUND(ln(CAST(t.d AS DOUBLE) / c.dk1) * 1000000)
                        AS BIGINT)), 0), 6) AS alpha_hill
  FROM topk t, cut c WHERE t.r <= c.keff
)
SELECT CAST(h.d AS BIGINT) AS degree, CAST(h.n_nodes AS BIGINT) AS n_nodes,
       ROUND(CAST(h.n_nodes AS DOUBLE)
             / SUM(h.n_nodes) OVER (), 6) AS node_share,
       hill.alpha_hill
FROM hist h, hill
"""


@register("graph_degree_powerlaw", oracle=_DEGPL_ORACLE)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x284: DEGREE DISTRIBUTION of the supplier side of the bipartite
    graph plus the HILL tail exponent over the top-{_DEGPL_K} degrees —
    the scale-free-or-not diagnostic that decides every graph op's skew
    strategy in this module: a heavy tail (small α) means hub nodes
    WILL dominate x157/x271's shared-neighbor joins and the documented
    cap/salt mitigations are mandatory, not paranoia. x243's Hill
    estimator applied to graph degrees (same micro-nat log pinning, same
    rank-discrete cutoff d_(k+1) with supp tie-break).

    100 TB: edge dedup + degree agg collapse to node grain; the
    histogram is degree-grain (hundreds of rows), the Hill sum touches
    {_DEGPL_K}+1 rows via a rank-limit window (WindowGroupLimit k-heap,
    not a global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    # r14 (guide §2.4): deg is supplier grain (tiny at any SF) and feeds
    # the histogram plus the whole Hill chain (topk → cut → hill) — the
    # before plan re-derived orders⋈lineitem+distinct per consumer (6
    # parquet scans / 20 Exchanges). Checkpoint the node-grain frame once;
    # everything downstream re-derives from 1000 rows.
    deg = (
        eb.groupBy("supp")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    w_all_rows = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    topk = deg.select(
        "d",
        F.row_number()
        .over(Window.orderBy(F.col("d").desc(), "supp"))
        .alias("r"),
        # adaptive Hill order: k = min(K, n-1) so small graphs (smoke SF
        # has 10 suppliers) still produce an estimate
        F.least(
            F.lit(_DEGPL_K), F.count(F.lit(1)).over(w_all_rows) - 1
        ).alias("keff"),
    )
    cut = topk.filter(F.col("r") == F.col("keff") + 1).select(
        F.col("d").alias("dk1"), F.col("keff").alias("kc")
    )
    hill = (
        topk.join(F.broadcast(cut))
        .filter(F.col("r") <= F.col("kc"))
        .agg(
            F.round(
                F.max("kc")
                * 1e6
                / F.nullif(
                    F.sum(
                        F.round(
                            F.log(F.col("d").cast("double") / F.col("dk1"))
                            * 1_000_000
                        ).cast("long")
                    ),
                    F.lit(0),
                ),
                6,
            ).alias("alpha_hill")
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.join(F.broadcast(hill)).select(
        F.col("d").cast("long").alias("degree"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.round(
            F.col("n_nodes").cast("double") / F.sum("n_nodes").over(w_all), 6
        ).alias("node_share"),
        "alpha_hill",
    )


# --------------------------------------------------------------------------
# x313 — hub-landmark closeness centrality (6-hop bounded BFS)
# --------------------------------------------------------------------------

_CLOSE_HUBS = 12
_CLOSE_ROUNDS = 6


def _close_round_sql(r: int) -> str:
    prev = f"b{r - 1}"
    return f"""
b{r} AS (
  SELECT hub, node, MIN(dist) AS dist FROM (
    SELECT hub, node, dist FROM {prev}
    UNION ALL
    SELECT p.hub, e.dst AS node, MIN(p.dist) + 1 AS dist
    FROM {prev} p JOIN e ON e.src = p.node
    GROUP BY p.hub, e.dst
  ) u GROUP BY hub, node
)"""


_CLOSE_ORACLE = (
    f"""
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
nn AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n FROM e),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e GROUP BY src),
hubs AS (
  SELECT node, degree FROM (
    SELECT node, degree,
           ROW_NUMBER() OVER (ORDER BY degree DESC, node) AS rk
    FROM deg) t
  WHERE rk <= {_CLOSE_HUBS}
),
b0 AS (SELECT node AS hub, node, CAST(0 AS BIGINT) AS dist FROM hubs),
"""
    + ",".join(_close_round_sql(r) for r in range(1, _CLOSE_ROUNDS + 1))
    + f"""
SELECT b.hub, MAX(h.degree) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(b.dist) AS BIGINT) AS sum_dist,
       ROUND(CAST((COUNT(*) - 1) AS DOUBLE) * (COUNT(*) - 1)
             / (CAST(MAX(nn.n) - 1 AS DOUBLE) * SUM(b.dist)), 6)
         AS closeness_wf
FROM b{_CLOSE_ROUNDS} b
JOIN hubs h ON h.node = b.hub
CROSS JOIN nn
GROUP BY b.hub
"""
)


@register("graph_closeness_hubs", oracle=_CLOSE_ORACLE)
def graph_closeness_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x313: HUB-LANDMARK CLOSENESS — Wasserman-Faust normalized
    closeness (r−1)²/((n−1)·Σdist) for the 12 highest-degree nodes
    of the customer↔supplier graph, distances from a 6-hop
    bounded multi-source BFS: the landmark recipe (Eppstein-Wang
    class) that makes closeness computable at ALL — exact all-pairs is
    O(V·E) and off the table at any scale; high-degree landmarks are
    the published default seed set, and 6 hops exceeds the
    bipartite graph's observed diameter (unreached nodes simply don't
    enter r or Σdist, making the truncation honest).

    Exactness: distances, reach counts and distance sums are pure
    integers off min-aggregated frontier joins (ties can't exist — a
    node's distance IS its BFS round); the one closeness ratio is
    6dp-pinned. Hub selection is rank-pinned (degree DESC, node).

    100 TB: state is the |hubs|×|V| distance relation — LINEAR in V
    (never V²); each round is one key-partitioned join + min-agg, the
    x63 driver-loop contract with localCheckpoint lineage cuts.

    r14 optimization (guide §2.3/§2.4 — shuffle fewer bytes, skip dead
    passes): the expansion join now reads only the FRONTIER (nodes first
    reached last round) instead of the full settled relation. In BFS a
    settled node's neighbors were already candidates the round it was
    settled, so re-expanding it emits |hubs|×degree rows per round that
    the MIN immediately discards — at sf0.1 that was ~12×|E| ≈ 14M joined
    rows per round for ZERO new information once the ball saturates.
    Frontier = dist == round is exact (a node's dist IS its first-reach
    round; rediscoveries at later rounds lose the MIN). An empty frontier
    ends the loop early — identical output, rounds 5-6 were pure no-ops
    on this diameter-~4 graph. Measured (fresh session, interleaved 3-shot
    medians, sf0.1): 8.0 s -> 4.7 s, bit-identical rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    # No post-union distinct (r14): eb is already distinct and its two
    # direction branches are SIGN-DISJOINT (src = custkey > 0, dst =
    # -(suppkey+1) < 0, the reversal swaps the signs), so the union can
    # contain no duplicate row — the old .distinct() was a full |2E|
    # exchange+dedup that provably changed nothing.
    e = eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.localCheckpoint(eager=True)
    # deg doubles as the distinct-node frame: nn = |deg| (one pass over e
    # instead of the old separate select-distinct-count pass).
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).localCheckpoint(eager=True)
    nn = deg.count()
    hubs = (
        deg.select(
            "node",
            "degree",
            F.row_number()
            .over(Window.orderBy(F.col("degree").desc(), "node"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _CLOSE_HUBS)
        .drop("rk")
    )
    cur = hubs.select(
        F.col("node").alias("hub"),
        "node",
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint(eager=True)
    # Per-round localCheckpoint measured FASTER than chaining all rounds
    # into one deep-lineage job (18.3 s vs 11.9 s at sf0.1): with 12x|V|
    # state the per-round cost is the scheduling floor (trap #8), and the
    # unchained form pays Catalyst analysis + stacked shuffle plans.
    frontier = cur
    for r in range(1, _CLOSE_ROUNDS + 1):
        if frontier.isEmpty():
            break  # ball saturated: remaining rounds cannot add rows
        # r15 (guide §3.1): BROADCAST the frontier into the expansion join.
        # Both sides are stats-less LogicalRDDs, so the static planner had
        # been SortMergeJoin-ing — re-shuffling all |E| edge rows every
        # round; the frontier is ≤ |hubs|x|V| rows and in practice a thin
        # shell of the ball (12 rows in round 1). Interleaved 5-shot
        # medians 4.92 -> 4.21 s at sf0.1, rows identical. Same
        # bucketing-by-src escape hatch as x63 when |hubs|x|V| outgrows
        # the broadcast cap at cluster scale.
        cand = F.broadcast(frontier).join(e, frontier.node == e.src).select(
            "hub",
            F.col("dst").alias("node"),
            F.lit(r).cast("long").alias("dist"),
        )
        cur = (
            cur.unionAll(cand)
            .groupBy("hub", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = cur.filter(F.col("dist") == r)
    return (
        cur.join(F.broadcast(hubs.select(F.col("node").alias("hub"), "degree")), "hub")
        .groupBy("hub")
        .agg(
            F.max("degree").alias("degree"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.round(
                (F.count(F.lit(1)) - 1).cast("double")
                * (F.count(F.lit(1)) - 1)
                / (F.lit(float(nn - 1)) * F.sum("dist")),
                6,
            ).alias("closeness_wf"),
        )
    )


# --------------------------------------------------------------------------
# x314 — deterministic random-walk corpus (hash-selected next hops)
# --------------------------------------------------------------------------

_WALK_STEPS = 4


def _walk_hsel(start: str, step: int, nbr: str) -> str:
    """Pinned integer next-hop key: Knuth multiplicative hash of
    (start, step, neighbor), pure int64 arithmetic in both engines
    (% keeps the dividend's sign in Spark AND DuckDB; the +2^31 fold
    makes the operand nonnegative before the multiply so the product
    stays under int64)."""
    return (
        f"(((({start} * 7 + {step} * 13 + {nbr} * 31) % 2147483648)"
        f" + 2147483648) % 2147483648 * 2654435761) % 4294967296"
    )


def _walk_round_sql(r: int) -> str:
    prev = f"w{r - 1}"
    return f"""
w{r} AS (
  SELECT start, dst AS node FROM (
    SELECT w.start, e.dst,
           ROW_NUMBER() OVER (
             PARTITION BY w.start
             ORDER BY {_walk_hsel("w.start", r, "e.dst")}, e.dst) AS rk
    FROM {prev} w JOIN e ON e.src = w.node
  ) t WHERE rk = 1
)"""


_WALK_ORACLE = (
    """
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
w0 AS (SELECT DISTINCT src AS start, src AS node FROM e),
"""
    + ",".join(_walk_round_sql(r) for r in range(1, _WALK_STEPS + 1))
    + """
SELECT start AS start_node, CAST(0 AS INTEGER) AS step, node FROM w0
"""
    + "".join(
        f"UNION ALL SELECT start, CAST({r} AS INTEGER), node FROM w{r}\n"
        for r in range(1, _WALK_STEPS + 1)
    )
)


@register("graph_walk_corpus", oracle=_WALK_ORACLE)
def graph_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x314: RANDOM-WALK CORPUS (DeepWalk/node2vec's input stage) — one
    4-step walk per node over the customer↔supplier graph, with
    the "random" next hop DERANDOMIZED: each step picks the neighbor
    minimizing a pinned Knuth multiplicative hash of (walk start, step,
    neighbor), ties neighbor-id-pinned. Reruns and engines emit the
    IDENTICAL corpus — the reproducibility property a training-data
    pipeline needs from its walk generator (RNG walks can't be
    hash-oracle'd at all; x53 covers sanctioned RNG sampling).

    100 TB: each step is one key-partitioned join frontier→edges plus
    a per-walk min — walk state is |V| rows flat, the join fan-out is
    degree-bounded, and steps unroll as 4 joins (no driver
    state). Longer walks / w walks per node = same plan with a walk_id
    column. The emitted (start, step, node) rows ARE the skip-gram
    corpus x26-style embedding trainers consume."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    # No post-union distinct (r14): eb is distinct and the two direction
    # branches are sign-disjoint (custkeys > 0, supplier nodes < 0), so
    # the union has no duplicates — the .distinct() was a full |2E|
    # exchange+dedup that changed nothing (same proof as closeness_hubs).
    e = (
        eb.union(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    cur = (
        e.select(F.col("src").alias("start"))
        .distinct()
        .select("start", F.col("start").alias("node"))
        .localCheckpoint(eager=True)
    )
    # r14 optimization (guide §2.3/§3.1), replacing the r13 no-checkpoint
    # adjudication wholesale — three coupled changes, A/B'd together
    # (interleaved 3-shot medians, sf0.1: 5.3-5.4 s -> 3.7-4.2 s,
    # bit-identical corpus):
    #  * the per-start ROW_NUMBER window became MIN(struct(hsel, dst)) —
    #    lexicographic struct-min IS "order by hsel, dst take first", but
    #    it map-side-combines, so the |V|·degree joined rows collapse to
    #    |V| partial mins per partition BEFORE the exchange instead of
    #    shuffling the whole fan-out into per-start sort windows;
    #  * the walk state broadcasts into the step join (vertex-scale, |V|
    #    rows, vs the stats-less checkpointed edge list the planner had
    #    been SortMergeJoin-ing — same x63 rationale + bucketing escape
    #    hatch at cluster scale);
    #  * per-step localCheckpoint: with the window gone the step output is
    #    |V| flat rows, so the materialization is cheap and the union
    #    branches stop re-deriving their join prefixes (the O(steps²/2)
    #    re-derivation the r13 note tolerated to dodge 4 window jobs).
    out = [cur.select("start", F.lit(0).cast("int").alias("step"), "node")]
    for r in range(1, _WALK_STEPS + 1):
        hsel = F.expr(_walk_hsel("start", r, "dst"))
        cur = (
            F.broadcast(cur)
            .join(e, F.col("node") == e.src)
            .select("start", hsel.alias("hsel"), "dst")
            .groupBy("start")
            .agg(F.min(F.struct("hsel", "dst")).alias("m"))
            .select("start", F.col("m.dst").alias("node"))
            .localCheckpoint(eager=True)
        )
        out.append(cur.select("start", F.lit(r).cast("int").alias("step"), "node"))
    res = out[0]
    for branch in out[1:]:
        res = res.unionAll(branch)
    return res.select(F.col("start").alias("start_node"), "step", "node")


# --------------------------------------------------------------------------
# x347 — Newman modularity of the nation partition over the trade graph
# --------------------------------------------------------------------------

_MOD_ORACLE = """
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
comm AS (
  SELECT c_custkey AS node, c_nationkey AS com FROM customer
  UNION ALL
  SELECT -(s_suppkey + 1) AS node, s_nationkey AS com FROM supplier
),
m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
intra AS (
  SELECT cs.com,
         CAST(SUM(CASE WHEN cs.com = cd.com THEN 1 ELSE 0 END) AS BIGINT) AS l2
  FROM e
  JOIN comm cs ON e.src = cs.node
  JOIN comm cd ON e.dst = cd.node
  GROUP BY cs.com
),
dsum AS (
  SELECT c.com, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.d) AS BIGINT) AS dc
  FROM deg d JOIN comm c ON d.node = c.node
  GROUP BY c.com
)
SELECT ds.com AS community,
       ds.n_nodes,
       CAST(COALESCE(i.l2, 0) // 2 AS BIGINT) AS internal_edges,
       ds.dc AS degree_sum,
       ROUND(CAST(m.m * COALESCE(i.l2, 0) - CAST(ds.dc AS HUGEINT) * ds.dc
                  AS DOUBLE)
             / (CAST(m.m AS HUGEINT) * m.m), 6) AS q_contrib
FROM dsum ds
LEFT JOIN intra i ON ds.com = i.com
CROSS JOIN m2 m
"""


@register("graph_modularity_nation", oracle=_MOD_ORACLE)
def graph_modularity_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x347: NEWMAN MODULARITY of the nation partition over the
    customer<->supplier trade graph (x63's edge set) — does trade
    cluster within nations? Q_c = L_c/m - (D_c/2m)^2 per community,
    summed = Q in [-1/2, 1): near 0 means nation boundaries don't
    structure the graph (the honest null for x179's label-prop
    communities to beat). Newman & Girvan 2004, unweighted.

    Exactness: with e the DIRECTED doubling (each undirected edge
    twice, x63's convention), m2 = |e| = 2m, L2_c = 2L_c, D_c exact
    degree sums — Q_c = (m2*L2_c - D_c^2)/m2^2 is a ratio of exact
    BIGINT/HUGEINT-DECIMAL(38) integers, ONE identically-parenthesized
    division, 6dp publish. internal_edges = L2_c div 2 exact.

    100 TB: the edge list is ONE distinct over the join (map-combined);
    degrees and community sums are key-partitioned aggs. The node->nation
    membership table is ENTITY-grain (|customers|+|suppliers| rows), NOT a
    nation-count dim — so no broadcast hint is forced (r12 advisor): AQE
    broadcasts it while it fits (true at every tested SF) and falls back
    to a key-partitioned shuffle join at cluster scale where an
    entity-grain broadcast would OOM the executors. Nothing quadratic:
    intra-edge counting is the edge scan itself with two membership
    joins."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    # r14 (guide §2.4): eb feeds 3 consumers (m2, deg, intra) through the
    # 2-branch direction union — 6 derivations of the orders⋈lineitem
    # distinct in the before-plan (689 rows / 20 Exchanges). One eager
    # checkpoint of the edge-grain frame; the membership side (comm) keeps
    # its lineage, so AQE's entity-grain broadcast decision (r12 advisor
    # note above) is untouched — no rich-club-style stats degradation.
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = eb.unionAll(eb.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    comm = cust.select(
        F.col("c_custkey").alias("node"), F.col("c_nationkey").alias("com")
    ).unionAll(
        supp.select(
            (-(F.col("s_suppkey") + 1)).alias("node"),
            F.col("s_nationkey").alias("com"),
        )
    )
    m2 = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    cs = comm.select(F.col("node").alias("s_node"), F.col("com").alias("s_com"))
    cd = comm.select(F.col("node").alias("d_node"), F.col("com").alias("d_com"))
    intra = (
        e.join(cs, e.src == cs.s_node)
        .join(cd, e.dst == cd.d_node)
        .groupBy(F.col("s_com").alias("com"))
        .agg(
            F.sum(F.when(F.col("s_com") == F.col("d_com"), 1).otherwise(0))
            .cast("long")
            .alias("l2")
        )
    )
    dsum = (
        deg.join(comm, "node")
        .groupBy("com")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("dc"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    l2 = F.coalesce(F.col("l2"), F.lit(0)).cast("long")
    joined = dsum.join(intra, "com", "left").crossJoin(F.broadcast(m2))
    return joined.select(
        F.col("com").alias("community"),
        "n_nodes",
        F.expr("coalesce(l2, 0) div 2").cast("long").alias("internal_edges"),
        F.col("dc").alias("degree_sum"),
        F.round(
            (F.col("m") * l2 - dec(F.col("dc")) * F.col("dc")).cast("double")
            / (dec(F.col("m")) * F.col("m")),
            6,
        ).alias("q_contrib"),
    )


# --------------------------------------------------------------------------
# x348 — rich-club coefficient curve over the trade graph
# --------------------------------------------------------------------------

_RICHCLUB_ORACLE = """
WITH eb AS (
  SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM eb UNION SELECT dst AS src, src AS dst FROM eb),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (4), (8), (16), (32)) tv(k)),
nodes_k AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_rich
  FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k
),
edges_k AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e2
  FROM ks
  JOIN e ON TRUE
  JOIN deg ds ON e.src = ds.node
  JOIN deg dd ON e.dst = dd.node
  WHERE ds.d > ks.k AND dd.d > ks.k
  GROUP BY ks.k
)
SELECT n.k,
       n.n_rich,
       CAST(COALESCE(x.e2, 0) // 2 AS BIGINT) AS rich_edges,
       ROUND(CAST(COALESCE(x.e2, 0) AS DOUBLE)
             / (CAST(n.n_rich AS HUGEINT) * (n.n_rich - 1)), 6) AS phi
FROM nodes_k n
LEFT JOIN edges_k x ON n.k = x.k
WHERE n.n_rich >= 2
"""


@register("graph_rich_club", oracle=_RICHCLUB_ORACLE)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x348: RICH-CLUB coefficient curve phi(k) over the trade graph —
    do high-degree hubs trade with EACH OTHER (phi -> 1, an elite
    core: supply-chain fragility beyond x201's single-source risk) or
    only with the periphery (phi -> 0)? phi(k) = 2*E_>k /
    (N_>k * (N_>k - 1)) at k in {4, 8, 16, 32} (Zhou & Mondragon 2004;
    thresholds STRICT >k, rungs with fewer than 2 qualifying nodes
    suppressed — phi undefined).

    Exactness: degrees, rich-node counts, and rich-edge counts are
    exact integers (directed-doubled edge set, so E2 = 2E and
    phi = E2/(N(N-1)) cancels the 2); ONE division per rung, 6dp.

    100 TB: degree table = one key-partitioned agg over the edge list;
    the 4-rung threshold table broadcasts; the rich-edge count is the
    edge scan joined twice to the (node, degree) table — hash joins on
    node keys, never a pair materialization. At 1000 executors the two
    degree joins co-partition on the same key."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eb = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    # r15 (guide §2.4 + the batch-3 lesson): e feeds deg AND the rich-edge
    # scan, and deg feeds THREE consumers (nodes_k, ds, dd) — stats-driven,
    # every consumer re-derived the whole orders⋈lineitem+distinct subtree
    # (30 Exchanges / 769-row plan). Checkpoint both ONCE; the r14 attempt
    # failed because it relied on planner stats for the two degree joins —
    # the explicit broadcasts below keep them BHJ (deg is vertex-scale at
    # any corpus size). Interleaved 5-shot medians 3.08 -> 2.55 s at sf0.1,
    # rows identical.
    e = eb.unionAll(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    spark_ks = spark.createDataFrame([(4,), (8,), (16,), (32,)], ["k"]).select(
        F.col("k").cast("long").alias("k")
    )
    nodes_k = (
        F.broadcast(spark_ks)
        .join(deg, deg.d > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
    )
    ds = deg.select(F.col("node").alias("s_node"), F.col("d").alias("s_d"))
    dd = deg.select(F.col("node").alias("d_node"), F.col("d").alias("d_d"))
    edges_k = (
        e.join(F.broadcast(ds), e.src == ds.s_node)
        .join(F.broadcast(dd), e.dst == dd.d_node)
        .crossJoin(F.broadcast(spark_ks))
        .filter((F.col("s_d") > F.col("k")) & (F.col("d_d") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e2"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e2 = F.coalesce(F.col("e2"), F.lit(0)).cast("long")
    return (
        nodes_k.join(edges_k, "k", "left")
        .filter(F.col("n_rich") >= 2)
        .select(
            "k",
            "n_rich",
            F.expr("coalesce(e2, 0) div 2").cast("long").alias("rich_edges"),
            F.round(
                e2.cast("double") / (dec(F.col("n_rich")) * (F.col("n_rich") - 1)),
                6,
            ).alias("phi"),
        )
    )
