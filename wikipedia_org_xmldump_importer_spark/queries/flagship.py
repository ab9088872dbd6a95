"""Flagship star query: revenue by region × order-year (SURVEY.md §3.2 #1).

Exercises scan + multi-way join + broadcast + aggregation + projection in one
plan — the canonical shape of the destination-DB analytics the reference
delegates to its RDBMS (SURVEY.md §1.2).

100 TB notes: lineitem⋈orders is the only large-large join — it shuffles on
orderkey (both sides co-partitionable / bucketable on the FK). customer is
mid-size (shuffle join, AQE may convert to broadcast at small SF); nation and
region are tiny dims — explicitly broadcast so the region/nation lookup never
shuffles the fact table again. Aggregation is partial+final (map-side combine)
on a 5×7-ish group domain, so the final shuffle is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, table_broadcastable
from ..registry import register

# ---------------------------------------------------------------------------
# Integer-cent revenue pinning (r11 straddle-family sweep).
#
# ROUND(SUM(price * (1 - disc)), 2) sums DOUBLES whose accumulation order
# differs across engines and partition layouts; the display round can then
# straddle a cent boundary even though every local sweep agrees (the exact
# failure class the r10 driver caught on vocab_growth_heaps). The money
# columns are exact 2dp values, so the sum has an exact integer spelling:
# per-row  cents(price) * (100 - pct(disc))  [* (100 + pct(tax))]  summed as
# BIGINT — order-independent by construction — with ONE division at the end
# (any float op on identical exact integers is correctly rounded, hence
# bit-identical across engines). The display epilogue must NOT be a float
# ROUND of the quotient: on an exact display-grid tie (sum_u % 100 == 50)
# the engines' round() implementations disagree (_pin2's docstring / NOTES
# trap #39 — caught by the first sf1 oracle sweep on tpch_q5). _pin2 /
# _ratio_pin resolve the tie AND the quotient in integer land and emit one
# small correctly-rounded division. Scale note: the 1e-4-dollar units sum
# to ~3e15 at sf1 and ~3e17 at sf100 — inside BIGINT; past that move the
# accumulator to DECIMAL(38)/HUGEINT as agg_regression_multi does.
# ---------------------------------------------------------------------------


def _money_u(col: str) -> F.Column:
    """Exact integer cents (or integer percent) of a 2dp DOUBLE column.

    floor(x*100 + 0.5), not round(): Spark's round on DOUBLE goes through
    BigDecimal per row (measured ~3x the whole aggregate's cost on Q1-shaped
    scans), while floor is a single codegen'd Math.floor. Exactness holds
    because the columns are 2dp: x*100 is within 1e-9 of an integer k, so
    x*100 + 0.5 is within 1e-9 of k + 0.5 and floors to k for every row.
    The SQL twin uses the identical device (DuckDB floor returns DOUBLE;
    the cast is exact on the integral value).
    """
    return F.floor(F.col(col) * 100 + 0.5).cast("long")


def _rev_u() -> F.Column:
    """Spark: exact per-row revenue in 1e-4-dollar units (lazy: Column
    construction needs an active session)."""
    return _money_u("l_extendedprice") * (100 - _money_u("l_discount"))


def _rev_u_sql(p: str) -> str:
    """SQL twin of _REV_U with table alias prefix ``p`` (e.g. ``"l."``)."""
    return (
        f"CAST(floor({p}l_extendedprice * 100 + 0.5) AS BIGINT)"
        f" * (100 - CAST(floor({p}l_discount * 100 + 0.5) AS BIGINT))"
    )


def _pin2(u: F.Column, scale: int) -> F.Column:
    """Half-up 2dp display of an exact integer money value WITHOUT a float
    round(): ``scale`` = integer units per dollar (10^k, k>=3). The tie is
    resolved in INTEGER land — t = u + scale/200, then t floored to the
    cent grid via pmod (exact for negative sums too, where ``t - t % m``
    would truncate toward zero) — and only then ONE division produces the
    display double. Both engines divide bit-identical integers, so the
    emitted doubles are bit-identical.

    Why a terminal float ROUND is NOT safe even on an exact integer sum
    (the r11 sf1-sweep find, tpch_q5): when sum_u % 100 == 50 — an exact
    half-cent tie, ~1% of groups — the quotient's nearest double sits half
    an ULP below the tie; Spark's round() rounds the SHORTEST-DECIMAL repr
    ("…435" → HALF_UP → .44) while DuckDB rounds the BINARY value (→ .43).
    Three driver SFs never produced a tie group; the 10x replica did.

    The quotient must ALSO be computed in integer land (decimal division
    of an exact multiple — exact; `//` in DuckDB), not as float(numerator)
    / float(divisor): past 2^53 the numerator's int→double conversions
    diverge BETWEEN engines by an ULP (DuckDB's HUGEINT→DOUBLE path vs
    Spark's Decimal→double, observed on rev_yoy_growth at sf0.001), and
    only the final division of the SMALL exact cent value is a shared
    correctly-rounded op.

    Tie semantics on NEGATIVE inputs (advisor r11): floor-based half-up
    rounds an exact negative tie toward +infinity (-2.345 -> -2.34),
    unlike Spark/DuckDB ROUND's half-away-from-zero (-2.345 -> -2.35).
    This is deliberate: both engines are pinned to the SAME formula, so
    parity holds; signed displays (yoy deltas, DFT a_k/b_k, acctbal
    ratios) therefore differ from conventional ROUND on exact negative
    ties by one cent/micro-unit. Sign-symmetric pinning (add/subtract the
    half-step by sign) would restore half-away-from-zero at the cost of a
    CASE in every display — not worth it while no consumer depends on tie
    direction; revisit if one does.
    """
    m = scale // 100
    t = (u + F.lit(scale // 200)).cast("decimal(38,0)")
    cents = ((t - F.pmod(t, F.lit(m))) / F.lit(m)).cast("long")
    return cents.cast("double") / F.lit(100.0)


def _pin2_sql(expr: str, scale: int) -> str:
    """SQL twin of _pin2 (DuckDB has no pmod: (x % m + m) % m; `//` is
    exact integer floor-division of the already-grid-aligned value)."""
    m = scale // 100
    t = f"({expr} + {scale // 200})"
    cents = f"(({t} - (({t} % {m} + {m}) % {m})) // {m})"
    return f"(CAST({cents} AS BIGINT) / 100.0)"


def _ratio_pin(num: F.Column, den: F.Column, factor: int, dp: int) -> F.Column:
    """Half-up ``dp``-decimal display of ``factor·num/den`` with the tie
    pinned in DECIMAL(38) integer land: floor((2·factor·10^dp·num + den) /
    (2·den)) / 10^dp. The integer quotient is computed by exact decimal
    division (it divides an exact multiple), cast to a SMALL long, and
    only then divided once in float (see _pin2 for why both a terminal
    float ROUND and a >2^53 float division are unsafe); DECIMAL(38)
    because 2·10^dp·num crosses BIGINT at sf1 for money-unit numerators."""
    t = num.cast("decimal(38,0)") * F.lit(2 * factor * 10**dp) + den
    n2 = (den * 2).cast("decimal(38,0)")
    q = ((t - F.pmod(t, n2)) / n2).cast("long")
    return q.cast("double") / F.lit(float(10**dp))


def _rev_dollars(alias: str) -> F.Column:
    """Spark: pinned half-up-2dp SUM(revenue) via the integer-unit sum."""
    return _pin2(F.sum(_rev_u()), 10000).alias(alias)


def _rev_dollars_sql(p: str) -> str:
    return _pin2_sql(f"SUM({_rev_u_sql(p)})", 10000)


_ORACLE = f"""
SELECT
  r.r_name AS region_name,
  CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
  {_rev_dollars_sql("l.")} AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, year(o.o_orderdate)
"""


@register("flagship_star_revenue", oracle=_ORACLE, tags=("flagship", "a2", "j1", "j2"))
def flagship_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    if table_broadcastable(spark, sf_dir, "orders"):
        # Every join side broadcasts and the only exchange is the 35-row
        # (region, year) partial-agg shuffle — the r14 order-grain
        # pre-aggregation ADDED a fact-grain exchange in this regime and
        # measured as a pure regression (driver r14: 0.98 -> 1.27 s; r15
        # interleaved A/B 0.80 -> 0.76 s join-first), because unlike
        # fn_business_days/orders_open_backlog the pre-agg here does not
        # REPLACE a fact-grain exchange (the final group is dim-grain).
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy(
                F.col("r_name").alias("region_name"),
                F.year("o_orderdate").alias("o_year"),
            )
            .agg(
                _pin2(F.sum(_rev_u()), 10000).alias("revenue"),
                F.count(F.lit(1)).cast("long").alias("n_items"),
            )
        )
    # At scale orders does NOT broadcast: aggregate BEFORE the join chain
    # (r14) so the four star joins probe ~4x fewer, narrower rows and the
    # orders SortMergeJoin shuffles order-grain partials instead of the raw
    # fact. Exact integer partial sums + inner joins on unique keys =>
    # value-identical to the join-first branch (the final _pin2 sees the
    # same rev_u total per (region, year) group); row identity of the two
    # branches is locked by tests/test_r15_rewrites.py.
    lo = li.groupBy("l_orderkey").agg(
        F.sum(_rev_u()).alias("rev_u"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        lo.join(orders, lo.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            _pin2(F.sum("rev_u"), 10000).alias("revenue"),
            F.sum("n_items").cast("long").alias("n_items"),
        )
    )


_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       {_rev_dollars_sql("l.")} AS revenue,
       CAST(o.o_orderdate AS VARCHAR) AS order_date,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping", oracle=_Q3_ORACLE, tags=("composite", "j1", "a2", "o2"))
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): selective filters on three tables
    feeding a two-join agg + global top-10.

    100 TB notes: all three filters reach their parquet scans (PushedFilters)
    so the joins see pre-filtered inputs; customer-side is small after the
    segment filter → AQE converts to broadcast; the top-10 compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _rev_dollars("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n.n_name AS nation_name,
       {_rev_dollars_sql("l.")} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name
"""


@register("tpch_q5_local_volume", oracle=_Q5_ORACLE, tags=("composite", "j1", "j2", "a2"))
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-way star join with the
    classic customer-nation == supplier-nation co-membership predicate.

    100 TB notes: lineitem⋈orders is the only fact-fact shuffle; supplier
    joins add the second key of the equi-pair (l_suppkey, c_nationkey =
    s_nationkey) so Catalyst keeps it hash-joinable — never a nested loop;
    nation/region broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            _rev_dollars("revenue")
        )
    )


# --------------------------------------------------------------------------
# x76 — TPC-H Q10 shape: returned-item revenue loss, top 20 customers
# --------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {_rev_dollars_sql("l.")} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= DATE '1995-10-01'
  AND o.o_orderdate < DATE '1996-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10_returned", oracle=_Q10_ORACLE)
def tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x76: TPC-H Q10 shape — revenue lost to returned items per customer
    in a quarter, top 20. Completes the flagship TPC-H trio (Q1 agg, Q3
    mid-join, Q5 6-way) with the RETURN-flow composite: selective fact
    filters on two tables, a 4-way join, and a top-k on an aggregate.

    Determinism at the k-boundary: ordered by the 2dp-ROUNDED revenue with
    a custkey tiebreak on BOTH engines, so a sub-cent cross-engine
    summation ulp can never reorder the cut.

    100 TB: both date and returnflag predicates push to the scans (row-
    group pruning); nation broadcasts; customer⋈orders⋈lineitem shuffle on
    their join keys with AQE sizing; the top-k is TakeOrderedAndProject
    (no global sort materialization)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _rev_dollars("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x78 — TPC-H Q4 shape: order priority checking (EXISTS a late lineitem)
# --------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
"""


@register("tpch_q4_priority", oracle=_Q4_ORACLE)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x78: TPC-H Q4 shape — orders in a quarter having at least one
    lineitem shipped after the order date, counted by priority. The
    canonical EXISTS-to-LEFT-SEMI composite (x40 exercises raw EXISTS
    SQL; this is the named benchmark query with a correlated date
    predicate inside the subquery).

    100 TB: the date filter prunes orders scan-side; the semi-join
    shuffles on orderkey and short-circuits per key (no lineitem row
    multiplication); final agg is |priorities| rows."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --------------------------------------------------------------------------
# x79 — TPC-H Q13 shape: customer order-count distribution
# --------------------------------------------------------------------------

_Q13_ORACLE = """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


@register("tpch_q13_custdist", oracle=_Q13_ORACLE)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x79: TPC-H Q13 shape — the distribution of customers by how many
    orders they have placed, INCLUDING zero-order customers (the LEFT
    join is the point: an inner join silently drops the most interesting
    bucket). Double aggregation: per-customer count, then histogram.

    100 TB: left join shuffles on custkey; COUNT(o_orderkey) (not
    COUNT(*)) makes the no-match row count 0; second agg collapses to
    |distinct counts| rows — tiny. The classic skew watch-out is a
    mega-customer; x20's salting applies if one key dominates."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# x80 — TPC-H Q7 shape: volume shipping between two nations
# --------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       {_pin2_sql("SUM(volume_u)", 10000)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) AS volume_u
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate >= DATE '1996-01-01'
    AND l.l_shipdate < DATE '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("tpch_q7_nation_volume", oracle=_Q7_ORACLE)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x80: TPC-H Q7 shape — bilateral trade volume between two nations by
    ship-year. The classic DISJUNCTIVE-join-predicate benchmark: the nation
    pair condition is an OR across both directions, which must NOT become a
    nested-loop join — here both nation lookups stay broadcast equi-joins
    and the OR is a residual filter on two broadcast-joined dim columns.

    100 TB: l_shipdate range-predicate pushes to the lineitem scan;
    supplier join shuffles on suppkey, orders⋈lineitem on orderkey,
    customer on custkey (each co-partitionable); both nation joins
    broadcast; final agg domain is 2 directions × |years| rows."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        sup.join(li, sup.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _rev_dollars("revenue")
        )
    )


# --------------------------------------------------------------------------
# x81 — TPC-H Q14 shape: promotion revenue share
# --------------------------------------------------------------------------

_Q14_PROMO_U = (
    "SUM(CASE WHEN p.p_type = 'PROMO'"
    " THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))"
    " ELSE 0 END)"
)
_Q14_TOTAL_U = (
    "SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))"
)
# half-up 4dp of 100·a/b with the tie pinned in integer land:
# floor((2e6·a + b) / (2b)) / 1e4 — HUGEINT keeps 2e6·a exact (it crosses
# BIGINT at sf1); see _pin2 for why a terminal float ROUND is unsafe.
_Q14_T = f"({_Q14_PROMO_U} * 2000000 + {_Q14_TOTAL_U})"
_Q14_N2 = f"(2 * {_Q14_TOTAL_U})"
_Q14_ORACLE = f"""
SELECT (CAST((({_Q14_T} - (({_Q14_T} % {_Q14_N2} + {_Q14_N2}) % {_Q14_N2}))
         // {_Q14_N2}) AS BIGINT) / 10000.0) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1996-09-01'
  AND l.l_shipdate < DATE '1996-10-01'
"""


@register("tpch_q14_promo_share", oracle=_Q14_ORACLE)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x81: TPC-H Q14 shape — the share of one month's revenue that came
    from PROMO-type parts: a conditional aggregate divided by a total in
    one pass (no second scan, no self-join).

    Cross-engine determinism: BOTH sums are exact integer 1e-4-dollar
    units (order-insensitive by construction — r11 straddle-family sweep),
    so the quotient is ONE division of identical exact integers on both
    engines; only then is the percentage rounded to 4dp.

    100 TB: the one-month shipdate predicate prunes the fact scan to
    ~1/84th of rows; part join shuffles on partkey (or broadcasts if the
    dim fits); the aggregate is global partial+final — a single row
    crosses the final exchange."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_u = _rev_u()
    a = F.sum(F.when(F.col("p_type") == "PROMO", rev_u).otherwise(0))
    b = F.sum(rev_u)
    # _Q14_ORACLE's Spark twin (identical aggregate expressions are
    # computed once — Catalyst dedups them): half-up 4dp of 100·a/b.
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(_ratio_pin(a, b, 100, 4).alias("promo_revenue_pct"))
    )


# --------------------------------------------------------------------------
# x82 — TPC-H Q18 shape: large-volume orders
# --------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       SUM(l.l_quantity) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register("tpch_q18_large_orders", oracle=_Q18_ORACLE)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x82: TPC-H Q18 shape — orders whose total quantity exceeds 300, with
    their customer. The IN-aggregated-subquery benchmark: the qualifying
    set is a groupBy-HAVING over the fact table, applied back as a
    left-semi join (never a broadcast IN-list materialized on the driver).

    sum_qty is exact: quantities are integral-valued doubles (1..50), so
    per-order sums are exactly representable and summation order is
    irrelevant — no rounding pin needed.

    100 TB: the HAVING pre-aggregate is map-side-combinable on orderkey and
    its survivor set is tiny (99.9th percentile cut), so the semi-join
    broadcasts under AQE; customer⋈orders shuffles on custkey; the final
    re-aggregation groups an already-filtered fact subset."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li.withColumnRenamed("l_orderkey", "lk"), F.col("lk") == orders.o_orderkey)
        .join(
            big.withColumnRenamed("l_orderkey", "bk"),
            F.col("bk") == orders.o_orderkey,
            "left_semi",
        )
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )


# --------------------------------------------------------------------------
# x83 — TPC-H Q17 shape: small-quantity-order revenue (correlated AVG)
# --------------------------------------------------------------------------

_Q17_SQL = """
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#12'
  AND p.p_size <= 15
  AND l.l_quantity < 0.2 * (
    SELECT SUM(l2.l_quantity) / COUNT(*)
    FROM {lineitem} l2
    WHERE l2.l_partkey = p.p_partkey
  )
"""


@register(
    "tpch_q17_small_qty",
    oracle=_Q17_SQL.format(lineitem="lineitem", part="part"),
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x83: TPC-H Q17 shape — yearly-average revenue lost if below-20%-of-
    average-quantity orders stopped: a correlated scalar AVG subquery over
    the SAME fact table the outer query scans. Run through spark.sql so
    Catalyst's decorrelation executes (rewrites to one groupBy(partkey)
    aggregate joined back — not a per-row re-query).

    Determinism: the average is spelled SUM/COUNT, not AVG — quantities
    are integral-valued doubles so the SUM is exact at any summation
    order, making the 0.2× threshold bit-identical cross-engine (AVG's
    incremental mean would not be).

    100 TB: the per-partkey aggregate is map-side combinable and joins on
    partkey against the filtered brand subset (a selective broadcast after
    the brand/size filter); the fact scan is shared by both sides —
    Catalyst schedules it twice, an acceptable trade vs caching 100 TB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem_v")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q17_part_v")
    return spark.sql(_Q17_SQL.format(lineitem="q17_lineitem_v", part="q17_part_v"))


# --------------------------------------------------------------------------
# x84 — TPC-H Q19 shape: disjunctive brand/size/quantity predicate revenue
# --------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT {_rev_dollars_sql("l.")} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_disjunctive", oracle=_Q19_ORACLE)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x84: TPC-H Q19 shape — revenue under a 3-arm disjunction of
    brand × size × quantity predicates. The optimizer stress here is
    predicate FACTORING: the join key is shared by all arms, so the plan
    must stay ONE equi-join on partkey with the OR as a residual — and
    Catalyst additionally derives the common `p_size >= 1` and quantity
    range bounds for scan-side pushdown (visible as PushedFilters).

    100 TB: one shuffle (or broadcast, post-filter part is small) on
    partkey; the disjunction evaluates in whole-stage codegen; a single
    row crosses the final exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#4", 15, 20, 30))
        .agg(
            _rev_dollars("revenue")
        )
    )


# --------------------------------------------------------------------------
# x85 — TPC-H Q22 shape: inactive high-balance customers by country code
# --------------------------------------------------------------------------

_Q22_SQL = """
SELECT CAST(c.c_nationkey % 7 AS INTEGER) AS cntrycode,
       COUNT(*) AS numcust,
       ROUND(SUM(c.c_acctbal), 2) AS totacctbal
FROM {customer} c
WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c.c_acctbal > (
    SELECT ROUND(SUM(c2.c_acctbal) / COUNT(*), 2)
    FROM {customer} c2
    WHERE c2.c_acctbal > 0.0
      AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  )
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= DATE '2000-01-01'
  )
GROUP BY CAST(c.c_nationkey % 7 AS INTEGER)
"""


@register(
    "tpch_q22_inactive_balance",
    oracle=_Q22_SQL.format(customer="customer", orders="orders"),
)
def tpch_q22_inactive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x85: TPC-H Q22 shape — INACTIVE customers (no order since 2000)
    whose balance beats the positive-balance average, grouped by a derived
    country code (adapted twice for the synthetic data: cntrycode :=
    nationkey % 7 over an IN-list of nations since there is no c_phone,
    and "never ordered" became "no order since 2000-01-01" because every
    synthetic customer has at least one order — a literal NOT EXISTS
    would select zero rows and verify nothing). Exercises three subquery forms at
    once: an UNCORRELATED scalar threshold (planned as an independent
    1-row subquery, broadcast into the filter — no join at all), a NOT
    EXISTS anti-join, and a post-filter re-aggregation.

    Determinism: threshold spelled SUM/COUNT and pinned to 2dp on both
    engines before the comparison (half-cent boundary risk is measure-
    zero and documented; AVG's incremental mean would drift for real).

    100 TB: customer scans once with the IN-list pushed down; the anti
    join shuffles on custkey (orders side pre-projected to the key
    column); the scalar subquery is a partial+final global agg whose
    single row rides the driver's subquery channel, not a shuffle."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders_v")
    return spark.sql(_Q22_SQL.format(customer="q22_customer_v", orders="q22_orders_v"))


# --------------------------------------------------------------------------
# x86 — TPC-H Q15 shape: top supplier by quarterly revenue
# --------------------------------------------------------------------------

_Q15_SQL = """
WITH revenue AS (
  SELECT l.l_suppkey AS supplier_no,
         CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
              AS BIGINT) AS rev_u
  FROM {lineitem} l
  WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1996-04-01'
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       (CAST((((r.rev_u + 50) - (((r.rev_u + 50) % 100 + 100) % 100)) {idiv} 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS total_revenue
FROM {supplier} s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.rev_u = (SELECT MAX(rev_u) FROM revenue)
"""


@register(
    "tpch_q15_top_supplier",
    oracle=_Q15_SQL.format(lineitem="lineitem", supplier="supplier", idiv="//"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x86: TPC-H Q15 shape — the supplier(s) with the maximum revenue in a
    quarter: a CTE reused by both the outer join and an uncorrelated MAX
    scalar subquery (the original's CREATE VIEW spelled as WITH). Ties are
    KEPT, like the spec — no arbitrary limit-1.

    Determinism (r11 sweep): per-supplier revenue is an exact integer
    1e-4-dollar sum inside the CTE, so the MAX and the equality compare
    are integer operations; only the displayed total divides once.

    100 TB: the shipdate quarter predicate prunes the fact scan; revenue
    is one map-side-combinable groupBy(suppkey); Catalyst evaluates the
    CTE twice (agg domain = |suppliers|, cheap) rather than materializing;
    the MAX subquery is a 1-row broadcast into the filter."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q15_lineitem_v")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q15_supplier_v")
    # {idiv}: the display reduction needs exact integer division of the
    # grid-aligned value (advisor r11: dividing the UN-reduced integer by
    # 10000.0 converts a 100x larger int to double, breaking bit-identity at
    # ~100x smaller scale); Spark spells it `div`, DuckDB `//`.
    return spark.sql(
        _Q15_SQL.format(
            lineitem="q15_lineitem_v", supplier="q15_supplier_v", idiv="div"
        )
    )


# --------------------------------------------------------------------------
# x87 — TPC-H Q8 shape: national market share within a region
# --------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT o_year,
       (CAST((((SUM(CASE WHEN nation = 'NATION_1' THEN volume_u ELSE 0 END) * 2000000 + SUM(volume_u))
          - (((SUM(CASE WHEN nation = 'NATION_1' THEN volume_u ELSE 0 END) * 2000000 + SUM(volume_u)) % (2 * SUM(volume_u)) + (2 * SUM(volume_u))) % (2 * SUM(volume_u))))
         // (2 * SUM(volume_u))) AS BIGINT) / 1000000.0) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) AS volume_u,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
) all_nations
GROUP BY o_year
"""


@register("tpch_q8_market_share", oracle=_Q8_ORACLE)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x87: TPC-H Q8 shape — NATION_1's share of PROMO-part order volume
    sold into ASIA, by order year: the deepest join in the TPC-H suite
    here (7 tables, nation joined TWICE under different roles) feeding a
    conditional-share aggregate.

    Determinism (r11 sweep): numerator and denominator are exact integer
    1e-4-dollar sums; ONE division, then the share rounded to 6dp.

    100 TB: part's type filter and the 2-year orderdate window push to
    their scans; nation/region broadcast in both roles; the fact-side
    chain shuffles on partkey→suppkey→orderkey→custkey with AQE free to
    reorder by runtime sizes (CBO stats registered in bench); agg domain
    is |years| rows."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol_u = _rev_u()
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(sup, sup.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _ratio_pin(
                F.sum(F.when(F.col("nation") == "NATION_1", vol_u).otherwise(0)),
                F.sum(vol_u),
                1,
                6,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# x88 — TPC-H Q16 shape: supplier variety per part attribute (adapted)
# --------------------------------------------------------------------------

_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM {part} p
JOIN {lineitem} l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
    SELECT s.s_suppkey FROM {supplier} s WHERE s.s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register(
    "tpch_q16_supplier_variety",
    oracle=_Q16_SQL.format(part="part", lineitem="lineitem", supplier="supplier"),
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x88: TPC-H Q16 shape — how many distinct suppliers ship each
    (brand, type, size) combination, excluding a blacklist spelled NOT IN
    (adapted: the synthetic schema has no partsupp, so the supplier↔part
    relation comes from lineitem, and "complaint" suppliers became
    negative-balance suppliers). The NOT IN over a non-null key compiles
    to a null-aware anti join — Catalyst proves s_suppkey non-null and
    degrades it to a plain anti join, which is the point of the test.

    100 TB: brand/type/size predicates push to the part scan; the
    blacklist side is a ~6-row broadcast anti join; COUNT(DISTINCT)
    expands to a two-phase partial-distinct aggregate on the already
    attribute-filtered join output."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q16_part_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q16_lineitem_v")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q16_supplier_v")
    return spark.sql(
        _Q16_SQL.format(
            part="q16_part_v", lineitem="q16_lineitem_v", supplier="q16_supplier_v"
        )
    )


# --------------------------------------------------------------------------
# x109 — TPC-H Q6 shape: forecast revenue change
# --------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT (CAST((((SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) + 50) - (((SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) + 50) % 100 + 100) % 100)) // 100) AS BIGINT) / 100.0) AS revenue_delta,
       COUNT(*) AS n_lines
FROM lineitem l
WHERE l.l_shipdate >= DATE '1996-01-01'
  AND l.l_shipdate < DATE '1997-01-01'
  AND l.l_discount BETWEEN 0.05 AND 0.07
  AND l.l_quantity < 24
"""


@register("tpch_q6_forecast", oracle=_Q6_ORACLE)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x109: TPC-H Q6 shape — the what-if revenue delta of eliminating a
    discount band for one year: the pure scan-filter-aggregate benchmark.
    Zero joins — its entire point is predicate pushdown: all three
    predicates (date range, discount band, quantity cap) must reach the
    parquet scan as PushedFilters so row groups outside the year skip
    entirely; what survives flows through one partial+final global agg.

    With Q6 the engine covers every TPC-H query expressible on this
    synthetic schema: Q1(a2) Q3 Q4 Q5 Q6 Q7 Q8 Q10 Q13 Q14 Q15 Q17 Q18
    Q19 Q22 verbatim-shaped, Q9/Q12/Q16 adapted; Q2/Q11/Q20/Q21 need
    partsupp or commit/receipt-date columns the schema does not have."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _pin2(
            F.sum(_money_u("l_extendedprice") * _money_u("l_discount")), 10000
        ).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# x110 — TPC-H Q9 shape: product-type profit by nation × year (adapted)
# --------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT nation, o_year,
       (SUM(amount_cents) / 100.0) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)
           - 0.6 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT)
           AS amount_cents
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%ol%'
) profit
GROUP BY nation, o_year
"""


@register("tpch_q9_profit", oracle=_Q9_ORACLE)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x110: TPC-H Q9 shape — profit on a part-name-filtered product line
    by SUPPLIER nation and order year (adapted: the schema has no
    partsupp, so unit cost is proxied as 60% of p_retailprice — the
    ps_supplycost role in the amount expression, same join topology minus
    the partsupp hop). The benchmark stresses a LIKE mid-wildcard filter
    (not scan-pushable — evaluated as a residual) feeding a 5-way join
    grouped on a dim × year grain.

    100 TB: p_name LIKE '%..%' cannot prune row groups — the plan must
    push the p_partkey-projected filter result into the join build side
    instead (Catalyst does: part filters before the join); fact chain
    shuffles on partkey→suppkey→orderkey; nation broadcasts."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%ol%"))
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    # Per-row integer-cent pinning (the x338 micro-unit device at money
    # grain): both engines evaluate the identical double expression with
    # the same parenthesization, round it to cents ONCE at row grain, and
    # sum exact int64 — a raw round(SUM(double), 2) diverged by one cent
    # at sf0.001 when cross-engine summation order straddled a boundary
    # (caught by the sf0.001 oracle cross-check).
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(sup, sup.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(amount_cents) / F.lit(100.0)).alias("sum_profit")
        )
    )


# --------------------------------------------------------------------------
# x111 — TPC-H Q12 shape: priority-class counting per group (adapted)
# --------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= DATE '1996-01-01'
  AND l.l_shipdate < DATE '1997-01-01'
  AND l.l_shipdate > o.o_orderdate
GROUP BY l.l_linestatus
"""


@register("tpch_q12_priority_class", oracle=_Q12_ORACLE)
def tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x111: TPC-H Q12 shape — urgent-vs-other order counts per line
    group: the dual-CASE-count benchmark (adapted: the schema has no
    l_shipmode/commitdate/receiptdate, so the grouping is l_linestatus
    and the lateness predicate is shipdate > orderdate; the CASE-counting
    structure — ONE pass, both classes — is the preserved essence).

    100 TB: the year predicate pushes to the lineitem scan; the
    cross-table lateness predicate is a residual on the co-located join
    on orderkey; both counts come from a single partial+final agg — never
    two filtered scans."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# x123 — TPC-H Q21 shape: suppliers who kept orders waiting (adapted)
# --------------------------------------------------------------------------

_Q21_ORACLE = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  GROUP BY 1, 2
),
allsupp AS (SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2)
SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_9', 'NATION_6', 'NATION_11')
  AND EXISTS (SELECT 1 FROM allsupp a
              WHERE a.l_orderkey = l1.l_orderkey
                AND a.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_suppkey, s.s_name
"""


@register("tpch_q21_waiting", oracle=_Q21_ORACLE)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x123: TPC-H Q21 shape — suppliers who were the SOLE late supplier
    on finished multi-supplier orders: the benchmark's hardest correlated
    shape (one EXISTS + one NOT EXISTS against the same fact). Adapted:
    no l_commitdate/l_receiptdate in this schema, so "late" is
    shipdate > orderdate + 60 days (x111's lateness device), and the
    single-nation filter widens to a 3-nation IN so the result survives
    small SFs.

    Spark spelling (r14, guide §3.3/§2.4): the EXISTS/NOT-EXISTS pair
    over the same fact collapses into per-order COUNTS — one li⋈orders
    pass to a per-(orderkey, suppkey) late flag, then per-orderkey
    (n_supp, n_late, the single late suppkey). "Some other supplier
    exists" ≡ n_supp ≥ 2 (l1 is itself in allsupp) and "no other late
    supplier" ≡ n_late = 1 (l1 is itself late), so the semi+anti joins
    and the separate full-lineitem DISTINCT they consumed disappear
    outright. A/B'd rows-identical vs the join spelling; interleaved
    5-shot medians 1.94 → 1.75 s at sf0.1.

    100 TB: ONE orderkey shuffle of lineitem (the join) — both groupBys
    ride the same hash partitioning (ok ⊆ grouping keys), so no further
    corpus-scale exchange exists in the plan; the old form paid a second
    full-lineitem (ok, sk) distinct plus two ok-keyed self-joins.
    Supplier+nation are broadcast dims. This completes the feasible
    TPC-H set (Q2/Q11/Q20 need partsupp, which the testdata does not
    ship)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    per_sk = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    (F.col("o_orderstatus") == "F")
                    & (
                        F.col("l_shipdate")
                        > F.date_add(F.col("o_orderdate"), 60)
                    ),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    per_ok = per_sk.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_sk"),
    )
    sole_late = per_ok.filter((F.col("n_late") == 1) & (F.col("n_supp") >= 2))
    dim = supp.join(
        F.broadcast(
            nation.filter(F.col("n_name").isin("NATION_9", "NATION_6", "NATION_11"))
        ),
        supp.s_nationkey == F.col("n_nationkey"),
        "leftsemi",
    )
    return (
        sole_late.join(F.broadcast(dim), sole_late.late_sk == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# x332 — TPC-H Q1 shape: pricing summary report
# --------------------------------------------------------------------------

def _avg6_sql(num: str, mult: int) -> str:
    """Half-up 6dp of ``num·mult / (1e6·n)`` with the tie pinned in integer
    land: floor((num·2·mult + n) / (2n)) / 1e6. All integer arithmetic runs
    in HUGEINT; the two terminal divisions are correctly-rounded ops of
    bit-identical inputs on both engines (casts to DOUBLE made explicit so
    neither engine picks a decimal division)."""
    t = f"(({num}) * {2 * mult} + COUNT(*))"
    n2 = "(2 * COUNT(*))"
    q = f"(({t} - (({t} % {n2} + {n2}) % {n2})) // {n2})"
    return f"(CAST({q} AS BIGINT) / 1000000.0)"


_Q1_SUM_DISC_U = (
    "SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))"
)
_Q1_SUM_CHARGE_U = (
    "SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
    " * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))"
)

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       (SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0) AS sum_base_price,
       {_pin2_sql(_Q1_SUM_DISC_U, 10000)} AS sum_disc_price,
       {_pin2_sql(_Q1_SUM_CHARGE_U, 1000000)} AS sum_charge,
       {_avg6_sql("CAST(SUM(l_quantity) AS BIGINT)", 1000000)} AS avg_qty,
       {_avg6_sql("SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))", 10000)} AS avg_price,
       {_avg6_sql("SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))", 10000)} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", oracle=_Q1_ORACLE)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x332: TPC-H Q1 — the pricing summary report, verbatim (the one
    TPC-H query this schema supports unadapted): eight aggregates over a
    6-group rollup of the whole fact table behind a ship-date cutoff.
    Completes the full 22-query TPC-H sweep (q2/q11/q20 follow as
    adapted shapes — the schema has no partsupp).

    Determinism (r11 straddle-family sweep): every money aggregate is an
    exact integer-unit sum — cents, 1e-4-dollar (disc price), 1e-6-dollar
    (charge) — in DECIMAL(38)/HUGEINT accumulators, divided ONCE at the
    end; averages divide the same exact sums by COUNT. l_quantity is
    integral-valued so its SUM is exact in double regardless of
    summation order. No output survives a float accumulation.

    100 TB: the canonical map-side-combine showcase — 6 groups mean the
    partial aggregate collapses each scan partition to <=6 rows before a
    negligible final shuffle; the shipdate predicate prunes row groups
    via min/max stats. No join, no window: scan-bound by design."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("date")
    )
    cents = _money_u("l_extendedprice")
    dpct = _money_u("l_discount")
    tpct = _money_u("l_tax")
    # accumulator widths by envelope: cents and 1e-4-dollar sums stay in
    # BIGINT through sf100 (~6e17); only the 1e-6-dollar charge crosses
    # the long range (~7e19 at sf100) and takes the DECIMAL(38) path
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cnt = F.count(F.lit(1))

    def avg6(num: F.Column, mult: int) -> F.Column:
        # _avg6_sql's Spark twin: tie pinned in DECIMAL(38) integer land,
        # then two correctly-rounded float ops of bit-identical inputs.
        t = num.cast("decimal(38,0)") * F.lit(2 * mult) + cnt
        n2 = (cnt * 2).cast("decimal(38,0)")
        q = ((t - F.pmod(t, n2)) / n2).cast("long")
        return q.cast("double") / F.lit(1000000.0)

    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_base_price"),
        _pin2(F.sum(cents * (100 - dpct)), 10000).alias("sum_disc_price"),
        _pin2(F.sum(dec(cents * (100 - dpct) * (100 + tpct))), 1000000).alias(
            "sum_charge"
        ),
        avg6(F.sum("l_quantity").cast("long"), 1000000).alias("avg_qty"),
        avg6(F.sum(cents), 10000).alias("avg_price"),
        avg6(F.sum(dpct), 10000).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# --------------------------------------------------------------------------
# x333 — TPC-H Q2 shape: minimum-cost supplier per part in a region
# --------------------------------------------------------------------------

_Q2_ORACLE = """
WITH catalog AS (
  SELECT l_partkey, l_suppkey,
         MIN((((2 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) + CAST(l_quantity AS BIGINT))
                - (((2 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) + CAST(l_quantity AS BIGINT))
                    % (2 * CAST(l_quantity AS BIGINT)) + (2 * CAST(l_quantity AS BIGINT)))
                   % (2 * CAST(l_quantity AS BIGINT))))
               / CAST(2 * CAST(l_quantity AS BIGINT) AS DOUBLE) / 100.0)) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
europe AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
priced AS (
  SELECT c.l_partkey, c.unit_cost, e.s_suppkey, e.s_name, e.s_acctbal, e.n_name,
         MIN(c.unit_cost) OVER (PARTITION BY c.l_partkey) AS min_cost
  FROM catalog c JOIN europe e ON c.l_suppkey = e.s_suppkey
)
SELECT p.s_acctbal, p.s_name, p.n_name AS nation, p.l_partkey AS p_partkey,
       pt.p_type, p.unit_cost
FROM priced p
JOIN part pt ON pt.p_partkey = p.l_partkey
WHERE p.unit_cost = p.min_cost AND pt.p_size <= 25 AND pt.p_type = 'LARGE'
ORDER BY p.s_acctbal DESC, p.n_name, p.s_name, p.l_partkey, p.s_suppkey
LIMIT 100
"""


@register("tpch_q2_min_cost_supplier", oracle=_Q2_ORACLE)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x333: TPC-H Q2 shape — cheapest EUROPE supplier per qualifying
    part (adapted: no partsupp, so the part-supplier catalog is the
    DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem and unit
    cost is the minimum observed per-line unit price). The benchmark's
    signature correlated-MIN subquery is expressed Spark-first as a
    per-part window MIN over the region-filtered catalog — same
    semantics, one shuffle instead of a rescan.

    Determinism: per-line unit price pinned 2dp BEFORE the MIN so the
    min and the equality compare operate on identical doubles both
    engines; the LIMIT 100 rides a fully-pinned total order
    (acctbal DESC, nation, name, partkey, suppkey — unique).

    100 TB: catalog agg shuffles on (partkey, suppkey) with map-side
    combine; europe dims broadcast; the window partitions by partkey on
    the already-(partkey)-clustered frame. LIMIT is a TakeOrderedAndProject
    — never a full sort at the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    # Per-row half-up 2dp of price/qty pinned in INTEGER land: round2(
    # cents/(100·q)) = floor((2·cents + q)/(2q))/100 — a per-row float
    # ROUND of the quotient ties at x.xx5 (e.g. 10.01/2) and the engines'
    # round() implementations disagree there (see _pin2).
    cents = _money_u("l_extendedprice")
    qty = F.col("l_quantity").cast("long")
    t = 2 * cents + qty
    q2 = 2 * qty
    unit = (t - F.pmod(t, q2)).cast("double") / q2.cast("double") / F.lit(100.0)
    europe = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    qual = part.filter((F.col("p_size") <= 25) & (F.col("p_type") == "LARGE"))
    # Guide §3.2: both downstream joins are per-group-selective filters
    # (the europe join drops whole (partkey, suppkey) groups, the qual
    # join drops whole partkey window partitions — MIN-per-group and the
    # per-partkey window are untouched for survivors), so broadcast
    # SEMI-joins on the two key sets prune lineitem BEFORE the catalog
    # agg instead of after it: the (partkey, suppkey) exchange carries
    # only qualifying-europe rows at any scale.
    li_f = li.join(
        F.broadcast(europe.select("s_suppkey")),
        li.l_suppkey == F.col("s_suppkey"),
        "leftsemi",
    ).join(
        F.broadcast(qual.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "leftsemi",
    )
    catalog = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    priced = (
        catalog.join(europe, catalog.l_suppkey == europe.s_suppkey)
        .withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
    )
    return (
        priced.join(F.broadcast(qual), priced.l_partkey == qual.p_partkey)
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "l_partkey", "s_suppkey"
        )
        .limit(100)
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("p_partkey"),
            "p_type",
            "unit_cost",
        )
    )


# --------------------------------------------------------------------------
# x334 — TPC-H Q11 shape: important volume concentration (HAVING vs scalar)
# --------------------------------------------------------------------------

_Q11_ORACLE = """
WITH national AS (
  SELECT l.l_partkey,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)) AS val_u
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
),
per_part AS (
  SELECT l_partkey AS p_partkey, CAST(SUM(val_u) AS BIGINT) AS part_u
  FROM national GROUP BY l_partkey
),
total AS (SELECT CAST(SUM(val_u) AS BIGINT) AS tv_u FROM national)
SELECT p.p_partkey,
       {pv} AS part_value,
       (CAST((({t} - (({t} % {n2} + {n2}) % {n2})) // {n2}) AS BIGINT)
        / 1000000.0) AS value_share
FROM per_part p CROSS JOIN total t
WHERE 1000 * p.part_u > t.tv_u
""".format(
    pv=_pin2_sql("p.part_u", 10000),
    # half-up 6dp of part_u/tv_u: floor((2e6·part_u + tv_u)/(2·tv_u))/1e6;
    # 2e6·part_u crosses BIGINT at sf1 — HUGEINT keeps it exact.
    t="(p.part_u * CAST(2000000 AS HUGEINT) + t.tv_u)",
    n2="(2 * CAST(t.tv_u AS HUGEINT))",
)


@register("tpch_q11_important_volume", oracle=_Q11_ORACLE)
def tpch_q11_important_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x334: TPC-H Q11 shape — parts whose NATION_7-supplied order volume
    exceeds 0.1% of that nation's total (adapted: ps_supplycost *
    ps_availqty becomes discounted lineitem volume through NATION_7
    suppliers — same group-HAVING-against-uncorrelated-scalar topology).

    Determinism (r11 sweep): per-part and total sums are exact integer
    1e-4-dollar units; the HAVING is the exact integer compare
    1000*part_u > tv_u, and the displayed value/share are single
    divisions of those integers — no float accumulation anywhere.

    100 TB: the nation-filtered supplier dim broadcasts into the fact
    scan (semi-join pushdown); ONE partkey-grain shuffle serves both the
    per-part agg and (collapsed) the grand total — the scalar is a 1-row
    broadcast into the filter, never a rescan of the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nat_supp = sup.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
        sup.s_nationkey == F.col("n_nationkey"),
        "leftsemi",
    ).select("s_suppkey")
    national = li.join(
        F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "leftsemi"
    ).select("l_partkey", _rev_u().alias("val_u"))
    per_part = national.groupBy(
        F.col("l_partkey").alias("p_partkey")
    ).agg(F.sum("val_u").alias("part_u"))
    total = national.agg(F.sum("val_u").alias("tv_u"))
    return (
        per_part.crossJoin(F.broadcast(total))
        # HAVING in exact integers: part > 0.1% of total <=> 1000*part > total
        .filter(1000 * F.col("part_u") > F.col("tv_u"))
        .select(
            "p_partkey",
            _pin2(F.col("part_u"), 10000).alias("part_value"),
            _ratio_pin(F.col("part_u"), F.col("tv_u"), 1, 6).alias(
                "value_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# x335 — TPC-H Q20 shape: dominant suppliers via nested subqueries
# --------------------------------------------------------------------------

_Q20_ORACLE = """
WITH small_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
),
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM small_parts)
  GROUP BY l_partkey, l_suppkey
),
dominant AS (
  SELECT l_suppkey, l_partkey
  FROM (
    SELECT l_suppkey, l_partkey, supp_qty,
           SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM shipped
  ) WHERE 2 * supp_qty > part_qty
)
SELECT s.s_name, n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_parts_dominated
FROM dominant d
JOIN supplier s ON d.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_regionkey = 1
GROUP BY s.s_name, n.n_name
"""


@register("tpch_q20_dominant_supplier", oracle=_Q20_ORACLE)
def tpch_q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x335: TPC-H Q20 shape — region-1 suppliers who shipped the
    MAJORITY of any 'small%' part's 1996 volume (adapted: availqty >
    half-of-shipped becomes supplier-share > half-of-part-total — the
    same nested IN-subquery + correlated-aggregate topology, resolved
    Spark-first as a per-part window SUM instead of a rescan). The
    supplier-grain complement of x201's part-grain single-source risk.

    Determinism: l_quantity is integral-valued, so supplier and part
    sums are exact integers in double and the 2*supp > part majority
    gate is integer-sided — no float epsilon anywhere.

    100 TB: the LIKE-filtered part list broadcasts as a semi-join into
    the date-pruned fact scan; ONE (partkey) shuffle serves the
    (part,supp) agg AND the part-total window (same key); supplier and
    nation dims broadcast at the end, after the frame has collapsed to
    dominant pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    small = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .join(F.broadcast(small), li.l_partkey == F.col("p_partkey"), "leftsemi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = shipped.withColumn(
        "part_qty", F.sum("supp_qty").over(w)
    ).filter(2 * F.col("supp_qty") > F.col("part_qty"))
    dim = sup.join(
        F.broadcast(nation.filter(F.col("n_regionkey") == 1)),
        sup.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "n_name")
    return (
        dominant.join(F.broadcast(dim), dominant.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
    )
