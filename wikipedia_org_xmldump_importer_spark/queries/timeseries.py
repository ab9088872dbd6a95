"""SURVEY.md §2.13 — time-series operators over ``events`` (x36-x38).

The destination-database side of the reference class (MediaWiki revision
history in an RDBMS) and any 100 TB event lake both need the same three
time-series primitives: downsample (bars), densify + forward-fill, and
hierarchical rollup from partials (the hypertable / continuous-aggregate
pattern). All three are pure Catalyst — bucketing is ``window()`` /
``date_trunc`` arithmetic, fills are frame-bounded window functions, and
the rollup is mergeable partial aggregation re-aggregated.

100 TB notes shared by all three: the only shuffles are on
(bucket, event_type) — low-cardinality keys with uniform volume, so no
skew; buckets are epoch-aligned integer arithmetic on the scan (no
pre-sort); and each op's output is ~|buckets| × |types| rows, orders of
magnitude smaller than its input (the right direction for a pipeline
stage). Gap-fill's axis explode is bounded by (max-min)/step per group —
generate the axis from the data's own bounds, never a driver-side range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register

# Open/close via ROW_NUMBER in the oracle mirrors Spark's min_by/max_by on
# the (ts_us, event_id) struct — event_id is unique, so both pick the same
# deterministic row even on equal timestamps.
_OHLC_ORACLE = """
WITH b AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '6 hours', ts),
                            event_type ORDER BY ts, event_id) AS rn_o,
         ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '6 hours', ts),
                            event_type ORDER BY ts DESC, event_id DESC) AS rn_c
  FROM events
)
SELECT bucket, event_type,
       ROUND(MAX(CASE WHEN rn_o = 1 THEN value END), 2) AS open,
       ROUND(MAX(value), 2) AS high,
       ROUND(MIN(value), 2) AS low,
       ROUND(MAX(CASE WHEN rn_c = 1 THEN value END), 2) AS close,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS vol
FROM b
GROUP BY bucket, event_type
"""


@register("ts_resample_ohlc", oracle=_OHLC_ORACLE)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x36: downsample events to 6-hour OHLC bars per event_type.

    Open/close are ``min_by``/``max_by`` on the (ts_us, event_id) struct —
    ONE hash aggregation, no window sort (the same one-shuffle shape as
    agg_argminmax). The oracle spells the identical pick with ROW_NUMBER
    because DuckDB's arg_min is not guaranteed struct-ordered. At 100 TB
    this is the standard lake downsampling stage: partial min_by/max_by
    combine map-side, so the shuffle carries one row per (bucket, type)
    per map task."""
    ev = load_table(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts_us"), F.col("event_id"))
    return (
        ev.groupBy(
            F.window("ts", "6 hours").start.alias("bucket"), F.col("event_type")
        )
        .agg(
            F.round(F.min_by("value", order_key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", order_key), 2).alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("vol"),
        )
    )


_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
         COUNT(*) AS n, ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT))
               / (100.0 * COUNT(*)), 6) AS avg_v
  FROM events GROUP BY event_type, h
),
bounds AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY event_type),
axis AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
  FROM bounds
)
SELECT a.event_type, a.h,
       CAST(COALESCE(hr.n, 0) AS BIGINT) AS n,
       LAST_VALUE(hr.avg_v IGNORE NULLS) OVER (
         PARTITION BY a.event_type ORDER BY a.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM axis a LEFT JOIN hourly hr ON a.event_type = hr.event_type AND a.h = hr.h
"""


@register("ts_gapfill", oracle=_GAPFILL_ORACLE)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37: densify hourly buckets per event_type and forward-fill (LOCF).

    Axis generation is data-driven and distributed: per-type min/max bounds
    (one tiny agg) explode into the dense hour axis via ``sequence()`` —
    bounded by the type's own span, no driver-side range materialization.
    The fill is ``last(ignorenulls)`` over an unbounded-preceding frame —
    frame-bounded, single pass after one shuffle on (event_type).

    The first axis row per type is always an observed bucket (the min), so
    filled_avg is never NULL — the LOCF has a seed by construction."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.window("ts", "1 hour").start.alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count(F.lit(1))),
            6,
        ).alias("avg_v")
    )
    axis = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return axis.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.last("avg_v", ignorenulls=True).over(w).alias("filled_avg"),
    )


# The oracle aggregates events DIRECTLY at the day grain — it never sees the
# hourly level — so a hash match proves the partial-rollup arithmetic
# (merging hourly sums/counts into daily ones) is lossless.
_ROLLUP2_ORACLE = """
SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS d,
       ROUND(SUM(value), 2) AS total,
       COUNT(*) AS n,
       ROUND(ROUND(SUM(value), 2) / COUNT(*), 6) AS avg_v
FROM events
GROUP BY event_type, d
"""


@register("ts_rollup_two_level", oracle=_ROLLUP2_ORACLE)
def ts_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x38: hierarchical rollup — daily aggregates derived FROM hourly
    partials, never from raw rows (the hypertable / continuous-aggregate
    pattern: the hourly layer is what a streaming job maintains
    incrementally; coarser grains re-aggregate it).

    Only mergeable state crosses levels: (sum, count) — avg is finalized
    as sum/count at the top, never averaged-of-averages. The oracle
    computes the daily grain directly from raw events, so the hash match
    IS the losslessness proof. 100 TB: the second rollup touches
    |hours|×|types| rows, ~10⁴× smaller than the event scan it replaces
    for every daily query."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.window("ts", "1 hour").start.alias("h")
    ).agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("cnt"))
    return (
        hourly.groupBy(
            F.col("event_type"), F.date_trunc("DAY", F.col("h")).alias("d")
        )
        .agg(
            F.round(F.sum("s"), 2).alias("total"),
            F.sum("cnt").alias("n"),
            # avg finalized from the ROUNDED total: cross-engine summation
            # order differs below 2dp, so dividing the pinned total (not the
            # raw sum) keeps the 6dp quotient engine-identical.
            F.round(F.round(F.sum("s"), 2) / F.sum("cnt"), 6).alias("avg_v"),
        )
    )


# --------------------------------------------------------------------------
# x59 — cohort retention matrix
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
),
f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY user_id),
r AS (
  SELECT DISTINCT f.cohort, date_diff('day', f.cohort, e.day) AS offset_d,
         e.user_id
  FROM e JOIN f ON e.user_id = f.user_id
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
       CAST(offset_d AS INTEGER) AS offset_d,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM r GROUP BY cohort, offset_d
"""


@register("events_cohort_retention", oracle=_COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x59: cohort retention — users grouped by first-activity day, counted
    at each day offset they return (the classic product-analytics retention
    matrix, here over the events lake).

    100 TB: the user-keyed first-event aggregate and the events⋈firsts join
    share the user_id hash partitioning, and the per-(cohort, offset, user)
    dedup is clustered by the same key — so the heavy stages ride ONE
    user_id exchange; only the final tiny (cohort × offset) aggregate
    reshuffles. Dates are emitted as strings (DATE cells hash differently
    across engines' pandas bridges)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    ret = (
        ev.join(firsts, "user_id")
        .select(
            "cohort",
            F.datediff("day", "cohort").alias("offset_d"),
            "user_id",
        )
        .distinct()
    )
    return ret.groupBy("cohort", "offset_d").agg(
        F.count("*").alias("n_users")
    ).select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        "offset_d",
        "n_users",
    )


# --------------------------------------------------------------------------
# x61 — funnel attribution (view → click → purchase, last-touch)
# --------------------------------------------------------------------------

# 48h per hop: sized to the synthetic event cadence (median nearest
# click-before-purchase gap is ~36h at sf0.01 — a 1h window would match
# nothing). Production picks the domain attribution window (1h-7d).
_ATTR_WINDOW_US = 172_800_000_000

_ATTR_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
  FROM events
),
p AS (SELECT user_id, event_id AS p_id, ts_us AS p_ts FROM e WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS c_id, ts_us AS c_ts FROM e WHERE event_type = 'click'),
v AS (SELECT user_id, event_id AS v_id, ts_us AS v_ts FROM e WHERE event_type = 'view'),
pc AS (
  SELECT p.user_id, p.p_id, p.p_ts, c.c_id, c.c_ts,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.c_ts < p.p_ts AND c.c_ts >= p.p_ts - {_ATTR_WINDOW_US}
),
bc AS (SELECT user_id, p_id, p_ts, c_id, c_ts FROM pc WHERE rn = 1),
cv AS (
  SELECT bc.user_id, bc.p_id, bc.p_ts, bc.c_id, bc.c_ts, v.v_id, v.v_ts,
         row_number() OVER (PARTITION BY bc.p_id
                            ORDER BY v.v_ts DESC, v.v_id DESC) AS rn2
  FROM bc JOIN v ON bc.user_id = v.user_id
   AND v.v_ts < bc.c_ts AND v.v_ts >= bc.c_ts - {_ATTR_WINDOW_US}
)
SELECT user_id, p_id AS purchase_id, c_id AS click_id, v_id AS view_id,
       p_ts - c_ts AS click_to_purchase_us,
       c_ts - v_ts AS view_to_click_us
FROM cv WHERE rn2 = 1
"""


@register("events_funnel_attribution", oracle=_ATTR_ORACLE)
def events_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x61: last-touch funnel attribution — for each purchase, the latest
    click within the preceding attribution window, and for that click the
    latest view within ITS preceding window. The two-hop interval-join + keep-latest
    composite every attribution pipeline runs (st6's funnel counts
    conversions; this yields the attributed event CHAIN with hop latencies).

    Each hop is an equi-join on user_id with the interval as a residual
    predicate — hash/sort-merge joinable, never BNLJ — and the keep-latest
    is max(struct(ts_us, event_id)): one aggregate, no sort, deterministic
    under equal timestamps (same (ts DESC, id DESC) pick as the oracle's
    row_number). All arithmetic integer microseconds.

    100 TB: both hops shuffle on user_id and REUSE that partitioning (the
    groupBy keys include user_id transitively via p_id co-location); state
    per purchase is one struct. Hot users are interval-bounded: a user's
    candidate pairs are (their purchases x their clicks within 1h), not
    |events|². Retune: the per-hop window bounds candidate volume."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_us", "event_type")
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS p_id", "ts_us AS p_ts"
    )
    c = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS c_user", "event_id AS c_id", "ts_us AS c_ts"
    )
    v = ev.filter("event_type = 'view'").selectExpr(
        "user_id AS v_user", "event_id AS v_id", "ts_us AS v_ts"
    )
    pc = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - _ATTR_WINDOW_US),
    )
    bc = (
        pc.groupBy("user_id", "p_id", "p_ts")
        .agg(F.max(F.struct("c_ts", "c_id")).alias("mc"))
        .select("user_id", "p_id", "p_ts", "mc.c_ts", "mc.c_id")
    )
    cv = bc.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") < F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - _ATTR_WINDOW_US),
    )
    return (
        cv.groupBy("user_id", "p_id", "p_ts", "c_id", "c_ts")
        .agg(F.max(F.struct("v_ts", "v_id")).alias("mv"))
        .select(
            "user_id",
            F.col("p_id").alias("purchase_id"),
            F.col("c_id").alias("click_id"),
            F.col("mv.v_id").alias("view_id"),
            (F.col("p_ts") - F.col("c_ts")).alias("click_to_purchase_us"),
            (F.col("c_ts") - F.col("mv.v_ts")).alias("view_to_click_us"),
        )
    )


# --------------------------------------------------------------------------
# x62 — anomaly detection: trailing z-score on hourly event volumes
# --------------------------------------------------------------------------

_ZS_TRAIL = 24  # trailing window (hours) behind the scored hour
_ZS_FLAG = 3.0  # |z| threshold

_ZSCORE_ORACLE = f"""
WITH h AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, hour
),
s AS (
  SELECT event_type, hour, n,
         avg(n)         OVER w AS mu,
         stddev_samp(n) OVER w AS sigma,
         count(*)       OVER w AS n_trail
  FROM h
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_ZS_TRAIL} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, n,
       round(mu, 6) AS mu,
       round((n - mu) / sigma, 6) AS z,
       abs((n - mu) / sigma) > {_ZS_FLAG} AS is_anomaly
FROM s WHERE n_trail >= 12 AND sigma > 0
"""


@register("events_anomaly_zscore", oracle=_ZSCORE_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x62: volume anomaly detection — each (event_type, hour)'s count
    scored against the mean/stddev of its own trailing {_ZS_TRAIL}-hour
    window (current hour excluded so a spike can't mask itself). The
    monitoring primitive every event pipeline alerts on; warm-up hours
    (fewer than 12 trailing points) and zero-variance windows are skipped.

    100 TB: the hourly pre-aggregation collapses the corpus to
    |types| x |hours| rows BEFORE the window — the trailing-frame sort runs
    on the tiny rollup, never the raw events (the x38 two-level lesson).
    One shuffle for the rollup, one |types|-keyed window. Retune: trailing
    width trades seasonality adaptation vs alert latency; production
    layers day-of-week seasonal baselines the same shape."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_ZS_TRAIL, -1)
    )
    s = h.select(
        "event_type",
        "hour",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_trail"),
    ).filter((F.col("n_trail") >= 12) & (F.col("sigma") > 0))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return s.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        F.round("mu", 6).alias("mu"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _ZS_FLAG).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# x65 — first-order Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
),
seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS dst
  FROM e
),
cnt AS (
  SELECT src, dst, COUNT(*) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       round(n / SUM(n) OVER (PARTITION BY src), 6) AS p_trans
FROM cnt
"""


@register("events_markov_transition", oracle=_MARKOV_ORACLE)
def events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x65: first-order Markov chain of user behavior — P(next event type |
    current type) from per-user time-ordered sequences. The sequence
    statistic behind behavioral modeling, anomalous-flow detection, and
    funnel design (x61 attributes one path; this summarizes them all).

    Ordering ties broken by event_id so lead() is deterministic on both
    engines; the denominator is a window over the aggregated |types|²
    transition counts (the x51 lesson — a totals join would re-plan the
    corpus-sized sequence scan per branch).

    100 TB: one user_id shuffle for the lead() window, one (src,dst)
    partial-agg shuffle that collapses to |types|² rows, then a window on
    that tiny matrix. Nothing downstream of the first agg ever touches
    corpus-sized data."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    src_frame = Window.partitionBy("src")
    return cnt.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(src_frame), 6).alias("p_trans"),
    )


# --------------------------------------------------------------------------
# x67 — MATCH_RECOGNIZE-style sequence pattern (view+ click+ purchase)
# --------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
),
o AS (
  SELECT user_id, event_id, event_type, ts_us,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id)
                   = event_type THEN 0 ELSE 1 END AS brk
  FROM e
),
r AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS run_id
  FROM o
),
runs AS (
  SELECT user_id, run_id, event_type, COUNT(*) AS n, MIN(ts_us) AS start_us
  FROM r GROUP BY user_id, run_id, event_type
),
seq AS (
  SELECT user_id, event_type AS t0, n AS n0, start_us AS s0,
         lead(event_type, 1) OVER w2 AS t1, lead(n, 1) OVER w2 AS n1,
         lead(event_type, 2) OVER w2 AS t2, lead(start_us, 2) OVER w2 AS s2
  FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
)
SELECT user_id, s0 AS match_start_us, s2 AS match_end_us,
       n0 AS n_view, n1 AS n_click, s2 - s0 AS span_us
FROM seq WHERE t0 = 'view' AND t1 = 'click' AND t2 = 'purchase'
"""


@register("events_pattern_match", oracle=_PATTERN_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x67: MATCH_RECOGNIZE-style sequence pattern over per-user event
    streams — PATTERN (view+ click+ purchase), strict contiguity, match
    closed by the FIRST purchase event, AFTER MATCH SKIP PAST LAST ROW.
    Generalizes stream_funnel's single hardcoded funnel into a declarative
    steps tuple (operators/patterns.py); the live twin
    (patterns.match_steps_stream, §2.9 st11) emits the same rows
    incrementally via applyInPandasWithState and is equivalence-tested.

    Relational encoding is gaps-and-islands: lag-break + running sum
    assigns run ids, one groupBy collapses runs, two lead()s scan the run
    sequence for the (view, click, purchase) triple. The oracle unrolls
    the identical algebra in DuckDB SQL.

    100 TB: one user_id shuffle for the order window, one run-collapse
    groupBy on the same key (AQE reuses the partitioning), lead()s run on
    the collapsed |runs| table. Integer-microsecond arithmetic end-to-end;
    no Python, no explode. Retune: swap the steps tuple for any k-step
    pattern — cost is k-1 lead()s over the already-collapsed runs."""
    from ..operators.patterns import match_steps  # noqa: PLC0415

    return match_steps(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# x68 — RFM customer segmentation over orders
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT custkey,
         date_diff('day', last_order, MAX(last_order) OVER ()) AS recency_days,
         frequency, monetary
  FROM cust
),
ranked AS (
  SELECT *,
         ntile(4) OVER (ORDER BY recency_days DESC, custkey) AS r_q,
         ntile(4) OVER (ORDER BY frequency ASC, custkey) AS f_q,
         ntile(4) OVER (ORDER BY monetary ASC, custkey) AS m_q
  FROM scored
)
SELECT custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
       CASE WHEN r_q = 4 AND f_q = 4 AND m_q = 4 THEN 'champion'
            WHEN r_q <= 2 AND f_q >= 3 THEN 'at_risk_loyal'
            WHEN r_q >= 3 AND f_q <= 2 THEN 'new_or_promising'
            ELSE 'regular' END AS segment
FROM ranked
"""


@register("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x68: RFM (recency/frequency/monetary) customer segmentation — the
    product-analytics staple: per-customer aggregates quartile-scored
    against the whole base, with named segments for the corners every
    retention team acts on. Reference date is data-derived (max order
    date), so the query is reproducible on any snapshot.

    Determinism: quartile assignment ties are broken by custkey, and the
    monetary ordering uses the ALREADY-2dp-rounded sum so a sub-cent
    cross-engine ulp can never flip a tile boundary.

    100 TB: the corpus-sized work is ONE groupBy(custkey); the ntile
    windows run on the collapsed |customers| frame. A global ntile is a
    single-partition sort — fine for per-customer aggregates (orders of
    magnitude smaller than orders); at billions of customers swap ntile
    for approx-percentile cutoffs broadcast-joined back (the x42 heavy-
    hitters pattern), trading exact tile edges for full parallelism."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = cust.select(
        "custkey",
        F.datediff(
            F.max("last_order").over(Window.partitionBy()), F.col("last_order")
        ).alias("recency_days"),
        "frequency",
        "monetary",
    )
    r_q = F.ntile(4).over(Window.orderBy(F.col("recency_days").desc(), "custkey"))
    f_q = F.ntile(4).over(Window.orderBy(F.col("frequency").asc(), "custkey"))
    m_q = F.ntile(4).over(Window.orderBy(F.col("monetary").asc(), "custkey"))
    ranked = scored.select(
        "custkey", "recency_days", "frequency", "monetary",
        r_q.alias("r_q"), f_q.alias("f_q"), m_q.alias("m_q"),
    )
    segment = (
        F.when(
            (F.col("r_q") == 4) & (F.col("f_q") == 4) & (F.col("m_q") == 4),
            "champion",
        )
        .when((F.col("r_q") <= 2) & (F.col("f_q") >= 3), "at_risk_loyal")
        .when((F.col("r_q") >= 3) & (F.col("f_q") <= 2), "new_or_promising")
        .otherwise("regular")
    )
    return ranked.withColumn("segment", segment)


# --------------------------------------------------------------------------
# x77 — DAU / WAU / stickiness (rolling distinct actives)
# --------------------------------------------------------------------------

_DAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du),
wau AS (
  SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
  FROM days d
  JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
),
dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
"""


@register("events_dau_wau", oracle=_DAU_ORACLE)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x77: daily/weekly active users + stickiness (DAU/WAU) — the
    engagement ratio every product dashboard leads with. A 7-day ROLLING
    DISTINCT cannot ride a window frame (dedup must re-run per frame), and
    the naive anchor-day band join is a BNLJ (the plan-audit gate rejected
    that draft) — so each deduped (day, user) pair EXPLODES to the 7
    anchor days it serves (the j10 range→equi discretization), anchors
    are semi-joined to real event days, and WAU re-distincts per anchor.

    100 TB: the corpus collapses to |days|x|users| distinct pairs FIRST
    (one shuffle); the explode is a bounded x7 on the collapsed pairs and
    every join is equi (broadcast day dim). At very large |users| swap
    exact WAU for per-day HLL sketches merged over the window (x21's
    mergeable-sketch pattern). Day emitted as string (driver date rule)."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    anchors = du.select(
        F.explode_outer(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
        "user_id",
    )
    wau = (
        anchors.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# --------------------------------------------------------------------------
# x89 — linear interpolation over the densified hourly grid
# --------------------------------------------------------------------------

# Fraction arithmetic is exact-operand: the grid is hourly, so the hour
# offsets are small integers on both engines, and avg_v is pinned to 6dp
# before entering the lerp — the only float ops are one divide and one
# multiply over identical doubles.
_INTERP_ORACLE = """
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
         ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT))
               / (100.0 * COUNT(*)), 6) AS avg_v
  FROM events GROUP BY event_type, h
),
bounds AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY event_type),
axis AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
  FROM bounds
),
marked AS (
  SELECT a.event_type, a.h, hr.avg_v,
         LAST_VALUE(hr.avg_v IGNORE NULLS) OVER w_prev AS prev_v,
         LAST_VALUE(CASE WHEN hr.avg_v IS NOT NULL THEN a.h END IGNORE NULLS)
           OVER w_prev AS prev_h,
         FIRST_VALUE(hr.avg_v IGNORE NULLS) OVER w_next AS next_v,
         FIRST_VALUE(CASE WHEN hr.avg_v IS NOT NULL THEN a.h END IGNORE NULLS)
           OVER w_next AS next_h
  FROM axis a LEFT JOIN hourly hr ON a.event_type = hr.event_type AND a.h = hr.h
  WINDOW
    w_prev AS (PARTITION BY a.event_type ORDER BY a.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY a.event_type ORDER BY a.h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, CAST(h AS VARCHAR) AS hour,
       CASE WHEN avg_v IS NOT NULL THEN 'obs'
            WHEN next_v IS NULL THEN 'locf'
            ELSE 'lerp' END AS method,
       CASE WHEN avg_v IS NOT NULL THEN avg_v
            WHEN next_v IS NULL THEN prev_v
            ELSE ROUND(prev_v + (next_v - prev_v)
                 * (CAST(date_diff('hour', prev_h, h) AS DOUBLE)
                    / CAST(date_diff('hour', prev_h, next_h) AS DOUBLE)), 6)
       END AS value
FROM marked
"""


@register("ts_interpolate_linear", oracle=_INTERP_ORACLE)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x89: densify the hourly grid per event_type and LINEARLY interpolate
    missing buckets between their nearest observed neighbors (x37's LOCF
    upgraded to the lerp a feature-engineering pipeline wants for gauge
    metrics). Observed buckets pass through untouched; a tail with no next
    observation falls back to LOCF; the head always has a seed because the
    axis starts at each type's first observed bucket.

    Two windows over ONE shuffle on event_type: prev via last(ignorenulls)
    over unbounded-preceding, next via first(ignorenulls) over
    unbounded-following — Spark evaluates both frames in a single sort.
    The lerp fraction is hour-index arithmetic (small exact integers), so
    cross-engine floats only meet in one divide + one multiply over
    6dp-pinned operands.

    100 TB: the axis explodes from per-type bounds (no driver ranges); the
    window partitions by event_type — for a type whose span outgrows one
    task, re-key to (type, coarse_time_chunk) with boundary-row exchange,
    the standard chunked-window upgrade."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"), F.window("ts", "1 hour").start.alias("h")
    ).agg(F.round(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count(F.lit(1))),
            6,
        ).alias("avg_v"))
    axis = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("avg_v").isNotNull(), F.col("h"))
    marked = (
        axis.join(hourly, ["event_type", "h"], "left")
        .withColumn("prev_v", F.last("avg_v", ignorenulls=True).over(w_prev))
        .withColumn("prev_h", F.last(obs_h, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("avg_v", ignorenulls=True).over(w_next))
        .withColumn("next_h", F.first(obs_h, ignorenulls=True).over(w_next))
    )
    frac = (
        (F.unix_timestamp("h") - F.unix_timestamp("prev_h")).cast("double")
        / (F.unix_timestamp("next_h") - F.unix_timestamp("prev_h")).cast("double")
    )
    return marked.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.when(F.col("avg_v").isNotNull(), F.lit("obs"))
        .when(F.col("next_v").isNull(), F.lit("locf"))
        .otherwise(F.lit("lerp"))
        .alias("method"),
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.round(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac, 6)
        )
        .alias("value"),
    )


# --------------------------------------------------------------------------
# x90 — trailing exponential moving average (exact dyadic weights)
# --------------------------------------------------------------------------

_EMA_K = 12  # trailing depth: weight 2^-11 ≈ 5e-4 — truncation < rounding pin
# Exactness (r14 driver-red class fix): the old spelling summed
# avg_v * 2^-k as FLOATS and pinned the sum at 6dp — but a sum landing ON
# the .5e-6 boundary flips with accumulation order, and both engines
# aggregate in nondeterministic parallel order (caught live: one sweep
# green, the next off by 1e-6 on 1 of 3385 rows, same code and data).
# Dyadic weights make the exact form free: scale every contribution by
# 2^(K-1-k) — av_u (micro-unit BIGINT) times a power of two stays an exact
# BIGINT — sum integers, and divide ONCE at the end (the single float op,
# correctly rounded from identical integers on both engines).
_EMA_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
         CAST(ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) * 10000.0
               / COUNT(*)) AS BIGINT) AS av_u,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY time_bucket(INTERVAL '1 hour', ts)) AS idx
  FROM events GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
),
contrib AS (
  SELECT hh.event_type, hh.idx + k.k AS tgt,
         hh.av_u * (CAST(1 AS BIGINT) << ({_EMA_K - 1} - k.k)) AS wv_s,
         CAST(1 AS BIGINT) << ({_EMA_K - 1} - k.k) AS w_s
  FROM hourly hh
  CROSS JOIN (SELECT unnest(generate_series(0, {_EMA_K - 1})) AS k) k
)
SELECT t.event_type, CAST(t.h AS VARCHAR) AS hour,
       COUNT(*) AS n_terms,
       ROUND(SUM(c.wv_s) / (1000000.0 * SUM(c.w_s)), 6) AS ema
FROM contrib c
JOIN hourly t ON t.event_type = c.event_type AND t.idx = c.tgt
GROUP BY t.event_type, t.h
"""


@register("ts_ema_trailing", oracle=_EMA_ORACLE)
def ts_ema_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x90: trailing exponential moving average over each type's hourly
    series — the {_EMA_K}-term truncated EMA with decay 1/2, normalized by
    the weights actually present (so the head of each series is an honest
    partial-window average, not biased toward zero).

    The recursive EMA form (state folded row-by-row) is not expressible as
    a frame-bounded window; the truncated form is — and it is spelled here
    as scatter-to-anchor: each observation EMITS its {_EMA_K} future
    contributions (explode of a constant offset array), then one groupBy
    on the anchor sums them. No window at all, no self-join — the same
    range-to-equi discretization as x77.

    Cross-engine exactness (r14 fix — this row flipped 1e-6 between two
    same-code sweeps): decay 1/2 makes every weight 2^-k a power of two,
    so the WHOLE accumulation goes exact-integer — micro-unit hourly
    means times 2^(K-1-k) are BIGINTs, summed exactly in any order; the
    single float op is the final division of two exact integers, which
    IEEE rounds identically from identical inputs on both engines. The
    previous spelling summed floats and pinned at 6dp, which a sum
    landing ON the .5e-6 boundary defeats (order-dependent last ulp).

    100 TB: the explode is a constant ×{_EMA_K} fan-out of the tiny hourly
    aggregate (not of raw events); one shuffle on (event_type) for the
    window-free groupBy; partial aggregation combines map-side."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.col("event_type"), F.window("ts", "1 hour").start.alias("h"))
        .agg(
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long"))
                * 10000.0
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("av_u")
        )
        .withColumn(
            "idx",
            F.row_number().over(Window.partitionBy("event_type").orderBy("h")),
        )
    )
    contrib = hourly.select(
        "event_type",
        "idx",
        "av_u",
        F.explode(F.sequence(F.lit(0), F.lit(_EMA_K - 1))).alias("k"),
    ).select(
        "event_type",
        (F.col("idx") + F.col("k")).alias("tgt"),
        (
            F.col("av_u") * F.expr(f"shiftleft(1L, {_EMA_K - 1} - k)")
        ).alias("wv_s"),
        F.expr(f"shiftleft(1L, {_EMA_K - 1} - k)").alias("w_s"),
    )
    anchors = hourly.select(
        F.col("event_type").alias("a_type"), F.col("idx").alias("a_idx"), "h"
    )
    return (
        contrib.join(
            anchors,
            (contrib.event_type == anchors.a_type) & (contrib.tgt == anchors.a_idx),
        )
        .groupBy("a_type", "h")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("wv_s") / (1000000.0 * F.sum("w_s")), 6).alias("ema"),
        )
        .select(
            F.col("a_type").alias("event_type"),
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_terms",
            "ema",
        )
    )


# --------------------------------------------------------------------------
# x101 — per-user inter-arrival gap statistics
# --------------------------------------------------------------------------

_GAP_ORACLE = """
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS tus,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS ptus
  FROM events
),
gaps AS (
  SELECT user_id, tus - ptus AS gap_us FROM seq WHERE ptus IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_gaps,
       MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
       ROUND(quantile_cont(gap_us, 0.5), 1) AS median_gap_us,
       CAST((20000 * SUM(gap_us) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / 10000.0 AS avg_gap_us
FROM gaps GROUP BY user_id
"""


@register("events_inter_arrival", oracle=_GAP_ORACLE)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x101: per-user inter-arrival gap statistics — the engagement-rhythm
    profile (bot detection, session-tuning input): lag-diff each user's
    event stream, then min/max/median/mean of the gaps.

    Everything runs on INTEGER epoch-microseconds (io.load_table's ts_us):
    gaps are exact longs, the median interpolates between two longs
    ((a+b)/2 exact in doubles at this magnitude), and the mean is pinned
    4dp over an exact integer sum — nothing order-sensitive anywhere.
    The lag ordering is (ts_us, event_id): fully pinned under same-
    microsecond collisions.

    100 TB: one shuffle on user_id feeds BOTH the lag window and the
    groupBy (same partitioning, no second exchange); per-user state is a
    sort over that user's events only. Exact median per group rides the
    same sorted run — no extra percentile pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.select(
            "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 1).alias("median_gap_us"),
        (
            F.expr("(20000 * sum(gap_us) + count(1)) div (2 * count(1))")
            / 10000.0
        ).alias("avg_gap_us"),
    )


# --------------------------------------------------------------------------
# x105 — open-order backlog over time (interval sweep)
# --------------------------------------------------------------------------

_BACKLOG_ORACLE = """
WITH spans AS (
  SELECT o.o_orderkey,
         date_trunc('day', o.o_orderdate) AS open_d,
         date_trunc('day', MAX(l.l_shipdate)) + INTERVAL 1 DAY AS close_d
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
  SELECT open_d AS d, 1 AS delta FROM spans
  UNION ALL
  SELECT close_d AS d, -1 AS delta FROM spans
),
daily AS (SELECT d, SUM(delta) AS net FROM deltas GROUP BY d),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds)
SELECT CAST(a.d AS VARCHAR) AS day,
       CAST(SUM(COALESCE(dl.net, 0)) OVER (
         ORDER BY a.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS open_orders
FROM axis a LEFT JOIN daily dl ON a.d = dl.d
"""


@register("orders_open_backlog", oracle=_BACKLOG_ORACLE)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x105: how many orders are OPEN on each day — the interval-stabbing /
    concurrency-counting sweep: each order contributes +1 at its order
    date and -1 the day after its last line ships; the running sum of the
    per-day net deltas IS the live backlog. O(n) where a naive
    day×interval containment join is O(n×days).

    All integer counts — nothing float anywhere; the running sum's frame
    order is the pinned day axis.

    100 TB: r14 — lineitem pre-aggregates to order grain (map-combined
    max per orderkey) BEFORE the orders join, so the join carries
    |orders| rows a side instead of sort-merging the full lineitem fact
    (the per-order groupBy then disappears: orderkey is unique on both
    sides). `daily` (day-grain, bounded by the calendar at any corpus
    size) feeds BOTH the axis-bounds agg and the left join — one eager
    localCheckpoint stops the whole span subtree being derived twice,
    and the axis join broadcasts the checkpointed day frame (bounded,
    same dim-grain justification as x98 — a multi-year axis is ~10³
    rows; shard the sweep by coarse period + offset-merge if the axis
    itself ever outgrows one task)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    last = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    spans = (
        orders.select("o_orderkey", "o_orderdate")
        .join(last, last.l_orderkey == orders.o_orderkey)
        .select(
            F.date_trunc("DAY", "o_orderdate").alias("open_d"),
            (F.date_trunc("DAY", "last_ship") + F.expr("INTERVAL 1 DAY")).alias(
                "close_d"
            ),
        )
    )
    deltas = spans.select(F.col("open_d").alias("d"), F.lit(1).alias("delta")).unionByName(
        spans.select(F.col("close_d").alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net")).localCheckpoint()
    axis = (
        daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        axis.join(F.broadcast(daily), "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd HH:mm:ss").alias("day"),
            F.sum(F.coalesce("net", F.lit(0))).over(w).cast("long").alias(
                "open_orders"
            ),
        )
    )


# --------------------------------------------------------------------------
# x112 — rolling correlation from exact integer frame sums
# --------------------------------------------------------------------------

_RCORR_WIN = 24  # trailing hours

_RCORR_ORACLE = f"""
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
         CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS x,
         CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS y
  FROM events WHERE event_type IN ('view', 'click')
  GROUP BY h
),
sums AS (
  SELECT h, x, y,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * y) OVER w AS sxy,
         SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
  FROM hourly
  WINDOW w AS (ORDER BY h ROWS BETWEEN {_RCORR_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT CAST(h AS VARCHAR) AS hour, n,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            THEN ROUND((n * sxy - sx * sy)
                 / sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)),
                 6)
       END AS rolling_corr
FROM sums
"""


@register("ts_rolling_corr", oracle=_RCORR_ORACLE)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x112: trailing-{_RCORR_WIN}h correlation between the view and click
    hourly volumes — the co-movement monitor (do clicks still track
    views?). Built from EXACT INTEGER frame sums: counts are integers, so
    n, Σx, Σy, Σxy, Σx², Σy² are all overflow-safe exact longs at any
    frame order, and the Pearson formula touches floats only at one sqrt
    (IEEE correctly rounded) and one divide over identical operands.
    A built-in corr() window would instead run each engine's own
    incremental (Welford-style) float recurrence — unattestable.

    Zero-variance frames emit NULL, not a fabricated 0 (flat series have
    no defined correlation).

    100 TB: one groupBy to the hour grain (conditional counts in one
    pass), then six shared-frame window sums in a single sort over
    |hours| rows. Partitionless window is safe at the hour grain for
    years of data; shard by coarse period + boundary overlap of
    {_RCORR_WIN} rows beyond that."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    hourly = ev.groupBy(F.window("ts", "1 hour").start.alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-(_RCORR_WIN - 1), 0)
    sums = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    var_term = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return sums.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        F.when(
            var_term > 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(var_term.cast("double")),
                6,
            ),
        ).alias("rolling_corr"),
    )


# --------------------------------------------------------------------------
# x115 — audience overlap between event types (set Jaccard from counts)
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b, i.n_both, sa.n AS n_a, sb.n AS n_b,
       ROUND(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6)
         AS audience_jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


@register("events_user_overlap", oracle=_OVERLAP_ORACLE)
def events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x115: audience overlap — Jaccard similarity of the USER SETS behind
    each pair of event types (do clickers and purchasers overlap?). The
    segment-overlap matrix product/marketing analytics asks for, computed
    exactly from integer set sizes: |A∩B| via a per-user equi self-join of
    the deduplicated (type, user) relation, unions by inclusion-exclusion.

    100 TB: the distinct projection shrinks events to ≤ |types|×|users|
    rows; the self-join is keyed on user_id with per-user fan-out bounded
    by |types|² (a constant); sizes broadcast. For billions of users swap
    the exact intersection for HLL sketch unions (x21's mergeable path) —
    same report schema, ~2% error."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("audience_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# x118 — churn flags + per-cohort churn rate
# --------------------------------------------------------------------------

_CHURN_CUTOFF = "2024-03-01"

_CHURN_ORACLE = f"""
WITH spans AS (
  SELECT user_id,
         MIN(ts) AS first_seen, MAX(ts) AS last_seen
  FROM events GROUP BY user_id
)
SELECT strftime(date_trunc('month', first_seen), '%Y-%m') AS cohort,
       COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN last_seen < TIMESTAMP '{_CHURN_CUTOFF}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       ROUND(CAST(SUM(CASE WHEN last_seen < TIMESTAMP '{_CHURN_CUTOFF}'
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS churn_rate
FROM spans
GROUP BY date_trunc('month', first_seen)
"""


@register("users_churn_flags", oracle=_CHURN_ORACLE)
def users_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x118: churn analysis — users inactive since {_CHURN_CUTOFF}, rolled
    up to their acquisition-month cohort with an exact churn rate: the
    retention complement of x59 (cohort retention tracks WHO CAME BACK;
    this tracks who LEFT, by vintage).

    All decisions are timestamp comparisons + integer counts; the rate is
    an exact integer ratio pinned at presentation.

    100 TB: one shuffle to user grain (min/max combine map-side), then a
    cohort-grain re-aggregation over |users| rows — the same two-level
    rollup discipline as x38."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"), F.max("ts").alias("last_seen")
    )
    cutoff = F.lit(_CHURN_CUTOFF).cast("timestamp_ntz")
    churned = F.when(F.col("last_seen") < cutoff, 1).otherwise(0)
    return (
        spans.groupBy(
            F.date_format(F.date_trunc("month", "first_seen"), "yyyy-MM").alias(
                "cohort"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(churned).cast("long").alias("n_churned"),
        )
        .select(
            "cohort",
            "n_users",
            "n_churned",
            F.round(
                F.col("n_churned").cast("double") / F.col("n_users"), 6
            ).alias("churn_rate"),
        )
    )


# --------------------------------------------------------------------------
# x121 — hour × weekday activity heatmap (dayofweek parity pinned)
# --------------------------------------------------------------------------

# DuckDB dayofweek(ts) is Sunday=0..Saturday=6; Spark dayofweek() is
# Sunday=1..Saturday=7 (and weekday() is Monday=0). The portable spelling
# pins ISO day names instead of either engine's integer convention, and
# carries Monday-first ordering as an explicit integer derived the same
# way on both sides.
_HEATMAP_ORACLE = """
SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
       dayname(ts) AS day_name,
       CAST(hour(ts) AS INTEGER) AS hour_of_day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY isodow(ts), dayname(ts), hour(ts)
"""


@register("events_heatmap_hour_dow", oracle=_HEATMAP_ORACLE)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x121: the activity heatmap grid — event counts by ISO weekday ×
    hour-of-day. Deliberately exercises the nastiest cross-engine calendar
    gotcha in the suite: DuckDB's dayofweek() is Sunday=0, Spark's is
    Sunday=1, and naive parity silently shifts the whole heatmap by one
    day. The portable spelling is ISO day-of-week (Monday=1..Sunday=7 on
    both: DuckDB isodow(), Spark's (weekday()+1)) plus the English day
    name pinned via a date_format that matches dayname() casing.

    100 TB: one groupBy over a 7×24 grid — partial aggregation collapses
    everything map-side; the calendar extraction is pure codegen."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("int").alias("iso_dow"),
            F.date_format("ts", "EEEE").alias("day_name"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# x122 — winsorized statistics via exact discrete percentiles
# --------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
cuts AS (
  SELECT event_type,
         MIN(CASE WHEN rk = (n + 19) // 20 THEN value END) AS lo,
         MIN(CASE WHEN rk = (19 * n + 19) // 20 THEN value END) AS hi
  FROM ranked GROUP BY event_type
)
SELECT r.event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN r.value < c.lo OR r.value > c.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       ROUND(SUM(CASE WHEN r.value < c.lo THEN c.lo
                      WHEN r.value > c.hi THEN c.hi
                      ELSE r.value END), 2) AS winsorized_sum,
       ROUND(c.lo, 6) AS p05, ROUND(c.hi, 6) AS p95
FROM ranked r JOIN cuts c ON r.event_type = c.event_type
GROUP BY r.event_type, c.lo, c.hi
"""


@register("events_value_winsorize", oracle=_WINSOR_ORACLE)
def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x122: winsorized per-type statistics — clamp values to the exact
    [p05, p95] band before summing, the outlier-robust cleaning step a
    metrics/training pipeline applies before fitting anything. The cut
    points are DISCRETE percentiles (x106's integer rank arithmetic —
    actual data values, no interpolation, no float rank), so the clamp
    decisions are exact value comparisons on both engines.

    100 TB: the rank window and the cut aggregation share one shuffle on
    event_type; the clamp pass joins the tiny per-type cut table back
    broadcast. Exact percentiles cost the per-group sort — the approx
    path (x41 histogram bins) trades that for a second scan."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rk") == F.floor((F.col("n") + 19) / 20), F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rk") == F.floor((19 * F.col("n") + 19) / 20), F.col("value")
            )
        ).alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ranked.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
            F.round(F.sum(clamped), 2).alias("winsorized_sum"),
        )
        .select(
            "event_type",
            "n",
            "n_clipped",
            "winsorized_sum",
            F.round("lo", 6).alias("p05"),
            F.round("hi", 6).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# x124 — consecutive-active-day streaks (gaps and islands)
# --------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INTEGER) AS anchor
      FROM d),
s AS (SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak
FROM s GROUP BY user_id
"""


@register("events_active_streaks", oracle=_STREAK_ORACLE)
def events_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x124: per-user consecutive-active-day streaks — the classic
    gaps-and-islands: distinct active days, then ``day - row_number``
    collapses each maximal consecutive run to one anchor date (a run of k
    consecutive days shifts every member to the same anchor; any gap
    shifts the anchor). Two tiny aggs later: days, streak count, longest
    streak per user. All arithmetic is DATE ± INTEGER — bit-exact on both
    engines (x121's calendar-parity discipline: no weekday conventions
    involved).

    100 TB: the distinct, the rank window, and both aggs all shuffle on
    user_id — ONE exchange reused end-to-end; per-user state is bounded
    by the calendar (≤ days in range), so no skew beyond the activity
    distribution itself. This is the engagement-streak primitive behind
    DAU quality metrics (x72 events_dau_wau counts; this one measures
    continuity)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    s = g.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


# --------------------------------------------------------------------------
# x126 — A/B experiment lift with a Welch z from exact integer sums
# --------------------------------------------------------------------------

# Metric: purchases per user. Variant from a salted content hash (x47's
# engine-portable md5 spelling) — assignment is a pure function of the key,
# reproducible across engines/reruns. All moments (n, Σx, Σx²) are EXACT
# INTEGERS; floats appear only in the final projection, spelled with the
# identical op order on both sides (each +,-,*,/ and the one sqrt is
# IEEE-correctly-rounded, so identical order ⇒ identical bits; trap #18
# applies to transcendentals only, none used).
_AB_ORACLE = """
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY user_id
),
v AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
    CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
    CAST(SUM(CASE WHEN variant = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
    CAST(SUM(CASE WHEN variant = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b
  FROM u
)
SELECT n_a, n_b,
       ROUND(CAST(sx_a AS DOUBLE) / n_a, 6) AS mean_a,
       ROUND(CAST(sx_b AS DOUBLE) / n_b, 6) AS mean_b,
       ROUND(CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b, 6)
         AS diff,
       ROUND((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
             / sqrt(
                 ((CAST(sxx_a AS DOUBLE) - (CAST(sx_a AS DOUBLE) / n_a) * sx_a)
                  / (n_a - 1)) / n_a
               + ((CAST(sxx_b AS DOUBLE) - (CAST(sx_b AS DOUBLE) / n_b) * sx_b)
                  / (n_b - 1)) / n_b), 6) AS z_score
FROM v
"""


@register("events_ab_lift", oracle=_AB_ORACLE)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x126: A/B experiment readout — hash-assign every user to a variant
    (pure function of user_id: reproducible, no RNG, no assignment table),
    metric = purchases per user, then a WELCH z-statistic computed from
    exact integer moments (n, Σx, Σx²) gathered in ONE conditional global
    aggregation — no join between the arms at all, let alone a cross join.

    100 TB: two partial-agg passes (user grain, then global) — the second
    input is |users| rows collapsing map-side to 6 numbers; the float
    epilogue runs once on a single row. This is the experiment-analysis
    primitive a feature-rollout pipeline runs per metric × experiment."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x")
        )
        .select(variant.alias("variant"), "x")
    )
    v = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x") * F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxx_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("x") * F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxx_b"),
    )
    mean_a = F.col("sx_a").cast("double") / F.col("n_a")
    mean_b = F.col("sx_b").cast("double") / F.col("n_b")
    var_term_a = (
        (F.col("sxx_a").cast("double") - mean_a * F.col("sx_a"))
        / (F.col("n_a") - 1)
    ) / F.col("n_a")
    var_term_b = (
        (F.col("sxx_b").cast("double") - mean_b * F.col("sx_b"))
        / (F.col("n_b") - 1)
    ) / F.col("n_b")
    return v.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_a - mean_b, 6).alias("diff"),
        F.round((mean_a - mean_b) / F.sqrt(var_term_a + var_term_b), 6).alias(
            "z_score"
        ),
    )


# --------------------------------------------------------------------------
# x127 — robust outlier detection via median absolute deviation
# --------------------------------------------------------------------------

_MAD_ORACLE = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (SELECT event_type, MIN(CASE WHEN rk = (n + 1) // 2 THEN value END)
               AS med
        FROM ranked GROUP BY event_type),
dev AS (SELECT r.event_type, r.event_id, r.value, m.med,
               ABS(r.value - m.med) AS adev
        FROM ranked r JOIN med m ON r.event_type = m.event_type),
dr AS (SELECT event_type, adev,
              ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY adev, event_id) AS rk,
              COUNT(*) OVER (PARTITION BY event_type) AS n
       FROM dev),
madt AS (SELECT event_type, MIN(CASE WHEN rk = (n + 1) // 2 THEN adev END)
                AS mad
         FROM dr GROUP BY event_type)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(d.med), 6) AS med,
       ROUND(MIN(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN madt m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("ts_outlier_mad", oracle=_MAD_ORACLE)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x127: MEDIAN-ABSOLUTE-DEVIATION outlier detection per event type —
    the robust complement to events_anomaly_zscore (x62): median and MAD
    have a 50% breakdown point, so the outliers themselves cannot drag the
    fence the way they drag mean/stddev. Both medians are DISCRETE (x106's
    lower-median integer rank — an actual data value, no interpolation);
    |value − med| and the 3·MAD fence are single correctly-rounded IEEE
    ops, so every outlier verdict is an exact comparison on both engines.

    100 TB: two rank windows + two aggs, ALL on event_type — one logical
    shuffle key end-to-end; the two tiny per-type tables (median, MAD)
    broadcast back. Exact medians cost the per-group sorts; the approx
    path at extreme scale swaps in percentile_approx at the cost of the
    oracle (declared trade, same as a4/x21)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    # The |types|-row median frame is eagerly pinned: dev feeds TWO
    # consumers (the MAD rank branch and the final agg), and without the
    # pin each consumer's lineage re-derives med's full per-type rank
    # sort of the corpus (r14; local wash, one corpus window derivation
    # instead of two at scale).
    med = (
        ranked.groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("rk") == F.floor((F.col("n") + 1) / 2), F.col("value")
                )
            ).alias("med")
        )
        .localCheckpoint()
    )
    # dev needs no rank columns — joining the RAW rows to the broadcast
    # median spares a second full per-type sort of events (Catalyst does
    # not prune the unused Window from ranked's lineage: 6 WindowExec
    # nodes in the r14 before-plan, 3 derivations x2; this cuts one) (r14).
    dev = ev.select("event_type", "event_id", "value").join(
        F.broadcast(med), "event_type"
    ).select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    w2 = Window.partitionBy("event_type").orderBy("adev", "event_id")
    dr = dev.select(
        "event_type",
        "adev",
        F.row_number().over(w2).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    madt = dr.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rk") == F.floor((F.col("n") + 1) / 2), F.col("adev"))
        ).alias("mad")
    )
    return (
        dev.join(F.broadcast(madt), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# x129 — exact rolling median over an odd, full frame
# --------------------------------------------------------------------------

# The frame is pinned to EXACTLY 5 rows (4 preceding + current) and rows
# with rn < 5 are dropped, so every emitted frame has ODD cardinality: the
# median is the literal middle element — no even-count interpolation, whose
# (a+b)/2 vs a+(b-a)·0.5 spellings round differently and would break the
# cross-engine hash.
_ROLLMED_ORACLE = """
WITH o AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
  FROM events)
SELECT user_id, event_id, ROUND(med5, 6) AS med5 FROM o WHERE rn >= 5
"""


@register("ts_rolling_median", oracle=_ROLLMED_ORACLE)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x129: rolling MEDIAN of value over each user's last 5 events — the
    robust smoother (x127's median discipline applied to a moving frame:
    one wild reading cannot drag the smoothed series the way a rolling
    mean lets it). Uses Spark's aggregate `percentile` as a WINDOW
    function over a ROWS frame; warm-up rows (frame < 5) are dropped so
    every frame is full and odd — the median is an exact element pick on
    both engines, never an interpolation.

    100 TB: one sort per user partition serves both the row_number and
    the frame aggregate; per-row cost is the O(frame log frame) in-frame
    select over 5 values — constant. The frame length is the retune knob;
    keep it odd."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.expr("percentile(value, 0.5)").over(w.rowsBetween(-4, 0)).alias("med5"),
    )
    return o.filter(F.col("rn") >= 5).select(
        "user_id", "event_id", F.round("med5", 6).alias("med5")
    )


# --------------------------------------------------------------------------
# x131 — CUSUM changepoint localization in pure integers
# --------------------------------------------------------------------------

# CUSUM_k = Σ_{i≤k}(x_i − μ) peaks at the change point; with μ = Σx/n the
# classic form is fractional. Scaling by n keeps EVERYTHING integer:
# n·CUSUM_k = n·cum_k − k·Σx. argmax |·| is then an exact integer
# comparison; ties pin to the earliest hour.
_CUSUM_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
idx AS (SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS k,
               CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumx,
               CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS sx,
               COUNT(*) OVER (PARTITION BY event_type) AS nh
        FROM h),
c AS (SELECT event_type, k, nh,
             ABS(nh * cumx - k * sx) AS scaled_dev
      FROM idx WHERE k < nh),
m AS (SELECT event_type, MAX(scaled_dev) AS max_dev FROM c GROUP BY 1)
SELECT c.event_type,
       CAST(MIN(c.k) AS BIGINT) AS cp_index,
       CAST(c.nh AS BIGINT) AS n_hours,
       CAST(m.max_dev AS BIGINT) AS scaled_max_dev
FROM c JOIN m ON c.event_type = m.event_type AND c.scaled_dev = m.max_dev
GROUP BY c.event_type, c.nh, m.max_dev
"""


@register("ts_changepoint_cusum", oracle=_CUSUM_ORACLE)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x131: CUSUM CHANGEPOINT localization per event type — the hour at
    which the cumulative deviation from the series mean peaks, i.e. the
    single most likely level-shift point of the hourly volume series.
    The fractional mean is eliminated by scaling: n·CUSUM_k =
    n·cum_k − k·Σx is a pure BIGINT, so the argmax and its tie-break
    (earliest hour) are exact integer decisions — the x54 fixed-point
    discipline applied to changepoint detection; zero float anywhere.

    100 TB: the hourly pre-agg collapses the corpus before any window
    (x38/x62 lesson); one running-sum window + one max + a self-equality
    pick, all shuffling on event_type. Multi-changepoint extension is
    binary segmentation — re-run on each side of the cut."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("x"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("hr")
    idx = h.select(
        "event_type",
        F.row_number().over(wo).alias("k"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cumx"),
        F.sum("x").over(wt).alias("sx"),
        F.count(F.lit(1)).over(wt).alias("nh"),
    )
    c = idx.filter(F.col("k") < F.col("nh")).select(
        "event_type",
        "k",
        "nh",
        F.abs(F.col("nh") * F.col("cumx") - F.col("k") * F.col("sx")).alias(
            "scaled_dev"
        ),
    )
    m = c.groupBy(F.col("event_type").alias("m_type")).agg(
        F.max("scaled_dev").alias("max_dev")
    )
    return (
        c.join(
            F.broadcast(m),
            (c.event_type == m.m_type) & (c.scaled_dev == m.max_dev),
        )
        .groupBy("event_type", "nh", "max_dev")
        .agg(F.min("k").cast("long").alias("cp_index"))
        .select(
            "event_type",
            "cp_index",
            F.col("nh").cast("long").alias("n_hours"),
            F.col("max_dev").cast("long").alias("scaled_max_dev"),
        )
    )


# --------------------------------------------------------------------------
# x137 — behavioral diversity per user (log-free Gini-Simpson index)
# --------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(CAST(SUM(n) * SUM(n) - SUM(n * n) AS DOUBLE)
             / CAST(SUM(n) * SUM(n) AS DOUBLE), 6) AS gini_simpson
FROM c GROUP BY user_id
"""


@register("events_user_diversity", oracle=_DIVERSITY_ORACLE)
def events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x137: behavioral DIVERSITY per user — the Gini-Simpson index
    1 − Σpᵢ² = (N² − Σnᵢ²)/N² over the user's event-type mix: 0 =
    single-minded, → 1 = uniformly spread. Deliberately the LOG-FREE
    diversity measure: Shannon entropy needs ln() (trap #18 —
    not correctly rounded, engine-divergent), while Gini-Simpson is an
    exact integer rational with ONE correctly-rounded divide; x113 already
    demonstrates the fixed-point entropy workaround, this row shows the
    measure that needs no workaround at all.

    100 TB: two chained aggs on user_id — same key, ONE shuffle (the
    second agg is partial-able on the first's output); output is user
    grain. The segmentation complement to x115's type-pair overlap."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    big_n = F.sum("n")
    return c.groupBy("user_id").agg(
        big_n.cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            (big_n * big_n - F.sum(F.col("n") * F.col("n"))).cast("double")
            / (big_n * big_n).cast("double"),
            6,
        ).alias("gini_simpson"),
    )


# --------------------------------------------------------------------------
# x138 — seasonal-naive forecast backtest (integer MAE)
# --------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
)
SELECT c.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored_hours,
       CAST(SUM(ABS(c.x - p.x)) AS BIGINT) AS abs_err_sum,
       ROUND(CAST(SUM(ABS(c.x - p.x)) AS DOUBLE) / COUNT(*), 6) AS mae
FROM h c JOIN h p
  ON c.event_type = p.event_type AND p.hr = c.hr - INTERVAL 24 HOURS
GROUP BY c.event_type
"""


@register("ts_forecast_snaive", oracle=_SNAIVE_ORACLE)
def ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x138: SEASONAL-NAIVE forecast backtest — predict each hour's volume
    with the same hour YESTERDAY and score the integer MAE per type: the
    baseline every real forecasting deployment must beat, as a first-class
    operator (the anomaly complement: x62 scores deviation vs a trailing
    window; this scores a calendar-aligned prediction). Alignment is an
    EXACT timestamp equi-join (hr == hr − 24h), not a 24-ROW lag — a
    row-lag silently mis-aligns whenever an hour is missing from the
    grid, the classic sparse-series bug. Errors are |int − int| BIGINTs;
    one correctly-rounded divide at the end.

    100 TB: the hourly pre-agg collapses the corpus first (x38 lesson);
    the self-join shuffles the tiny grid on (event_type, hr) — at any
    scale both sides are |types|·|hours| rows. Season length (24h) and
    grain are the retune knobs; weekly seasonality = 168h, same plan."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    c = h.select("event_type", "hr", F.col("x").alias("actual"))
    p = h.select(
        F.col("event_type").alias("p_type"),
        (F.col("hr") + F.expr("INTERVAL 24 HOURS")).alias("p_hr"),
        F.col("x").alias("pred"),
    )
    j = c.join(
        p, (c.event_type == F.col("p_type")) & (c.hr == F.col("p_hr"))
    )
    abs_err = F.abs(F.col("actual") - F.col("pred"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored_hours"),
        F.sum(abs_err).cast("long").alias("abs_err_sum"),
        F.round(
            F.sum(abs_err).cast("double") / F.count(F.lit(1)), 6
        ).alias("mae"),
    )


# --------------------------------------------------------------------------
# x139 — alert debounce with hysteresis (two-threshold state machine)
# --------------------------------------------------------------------------

_HYST_HI = 80
_HYST_LO = 40

_HYST_ORACLE = f"""
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN value > {_HYST_HI} THEN 1
              WHEN value < {_HYST_LO} THEN 0 END AS crossing
  FROM events
),
s AS (
  SELECT user_id, ts, event_id,
         COALESCE(LAST_VALUE(crossing IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
  FROM x
),
g AS (
  SELECT user_id, state,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, state
                              ORDER BY ts, event_id) AS anchor
  FROM s
),
ep AS (
  SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
  FROM g WHERE state = 1 GROUP BY 1, 2
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_episodes,
       CAST(MAX(len) AS BIGINT) AS longest_episode,
       CAST(SUM(len) AS BIGINT) AS n_alert_rows
FROM ep GROUP BY user_id
"""


@register("events_alert_hysteresis", oracle=_HYST_ORACLE)
def events_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x139: alert DEBOUNCE with HYSTERESIS — enter the alert state when
    value crosses above the high threshold, leave only when it drops below
    the LOW one: the two-threshold Schmitt-trigger every monitoring system
    uses so values oscillating around one line don't flap the pager.
    Running state without any stateful UDF: crossings project to 1/0/NULL,
    ignore-nulls last_value carries the most recent crossing forward (w8's
    device as a STATE MACHINE), then x124's gaps-and-islands
    (row_number − per-state row_number) collapses alert runs to episodes.

    100 TB: one sort per user partition feeds the carry-forward window and
    both island ranks; the episode aggs reuse the user_id shuffle.
    Thresholds are the retune knobs; k-state machines generalize by
    projecting k crossing values. The streaming twin is st6's
    applyInPandasWithState shape — this is the batch-replay form."""
    ev = load_table(spark, sf_dir, "events")
    crossing = F.when(F.col("value") > _HYST_HI, 1).when(
        F.col("value") < _HYST_LO, 0
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(
            F.last(crossing, ignorenulls=True).over(
                wo.rowsBetween(Window.unboundedPreceding, 0)
            ),
            F.lit(0),
        ).alias("state"),
    )
    ws = Window.partitionBy("user_id", "state").orderBy("ts", "event_id")
    g = s.select(
        "user_id",
        "state",
        (F.row_number().over(wo) - F.row_number().over(ws)).alias("anchor"),
    )
    ep = (
        g.filter(F.col("state") == 1)
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return ep.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_episodes"),
        F.max("len").cast("long").alias("longest_episode"),
        F.sum("len").cast("long").alias("n_alert_rows"),
    )


# --------------------------------------------------------------------------
# x140 — conversion latency per cohort (discrete median of integer gaps)
# --------------------------------------------------------------------------

_TTC_ORACLE = """
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts > f.first_view
  GROUP BY e.user_id
),
gaps AS (
  SELECT f.user_id,
         strftime(date_trunc('week', f.first_view), '%Y-%m-%d') AS cohort_week,
         CAST(epoch_us(p.first_purchase) - epoch_us(f.first_view) AS BIGINT)
           AS gap_us
  FROM f JOIN p ON f.user_id = p.user_id
),
r AS (
  SELECT cohort_week, gap_us,
         ROW_NUMBER() OVER (PARTITION BY cohort_week
                            ORDER BY gap_us, user_id) AS rk,
         COUNT(*) OVER (PARTITION BY cohort_week) AS n
  FROM gaps
)
SELECT cohort_week,
       CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(CASE WHEN rk = (n + 1) // 2 THEN gap_us END) AS BIGINT)
         AS median_gap_us
FROM r GROUP BY cohort_week
"""


@register("events_time_to_convert", oracle=_TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x140: CONVERSION LATENCY — time from a user's first view to their
    first subsequent purchase, summarized per acquisition-week cohort as a
    DISCRETE median (x106 integer-rank pick over integer microseconds —
    the funnel-speed metric next to x61's step attribution and x59's
    retention grid). The strictly-after constraint (purchase > first view)
    is part of the semantics, not an optimization: an earlier purchase is
    a different funnel.

    100 TB: two user-grain aggs (conditional min + filtered min) share the
    user_id shuffle; the rank window runs over the converted-users table
    at cohort grain. Microsecond integers end-to-end — the median is an
    exact element, never interpolated."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    gaps = f.join(p, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", "first_view"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        (
            F.unix_micros(F.col("first_purchase").cast("timestamp"))
            - F.unix_micros(F.col("first_view").cast("timestamp"))
        ).alias("gap_us"),
    )
    wr = Window.partitionBy("cohort_week").orderBy("gap_us", "user_id")
    r = gaps.select(
        "cohort_week",
        "gap_us",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("cohort_week")).alias("n"),
    )
    return r.groupBy("cohort_week").agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min(
            F.when(F.col("rk") == F.floor((F.col("n") + 1) / 2), F.col("gap_us"))
        )
        .cast("long")
        .alias("median_gap_us"),
    )


# --------------------------------------------------------------------------
# x144 — Mann-Whitney U rank-sum A/B test (tie-corrected, exact integers)
# --------------------------------------------------------------------------

_MW_ORACLE = """
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('mw:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY user_id
),
g AS (
  SELECT x,
         CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta
  FROM u GROUP BY x
),
r AS (
  SELECT x, t, ta,
         2 * COALESCE(SUM(t) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS midrank2
  FROM g
),
v AS (
  SELECT CAST(SUM(ta) AS BIGINT) AS n_a,
         CAST(SUM(t - ta) AS BIGINT) AS n_b,
         CAST(SUM(ta * midrank2) AS BIGINT) AS r2_a,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_s
  FROM r
)
SELECT n_a, n_b,
       CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
       ROUND(
         (CAST((r2_a - n_a * (n_a + 1)) - n_a * n_b AS DOUBLE) / 2.0)
         / sqrt((CAST(n_a * n_b AS DOUBLE)
                 * (((n_a + n_b) + 1.0)
                    - (CAST(tie_s AS DOUBLE)
                       / (CAST(n_a + n_b AS DOUBLE) * ((n_a + n_b) - 1.0)))))
                / 12.0), 6) AS z_score
FROM v
"""


@register("events_ab_mannwhitney", oracle=_MW_ORACLE)
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x144: MANN-WHITNEY U rank-sum A/B test — the nonparametric twin of
    x126's Welch z on the same per-user purchase-count metric (hash-
    assigned arms, salt 'mw:'). Rank statistics are the robust choice when
    the metric is heavy-tailed count data: no normality assumption on the
    values, only on U itself. Tie handling is the textbook midrank +
    variance correction — essential here because counts collide massively.

    Exactness: ranks are computed at VALUE grain, not row grain — per
    distinct x: t (total), ta (arm-A), midrank held as 2×midrank so it
    stays integer; R_A, U, and the tie term Σ(t³−t) are exact BIGINT all
    the way; the z epilogue is one identically-parenthesized float
    expression on a single row (sqrt + divides, all correctly rounded).
    BIGINT bounds: n_a·n_b and Σt³ wrap past ~3e9 users / ~2e6-row ties —
    the DECIMAL(38,0) accumulator upgrade (x136's device) is the
    documented path at that scale.

    100 TB: user-grain agg shares one shuffle, value-grain agg collapses
    |users| rows to |distinct counts| (tiny) map-side, the ordered window
    runs on that tiny table, and the final reduce is 4 numbers. No
    row-grain ranking ever happens — that is what makes the rank test as
    scalable as the moment test."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mw:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x")
        )
        .select(variant.alias("variant"), "x")
    )
    g = u.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("ta"),
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "x",
        "t",
        "ta",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(wcum), F.lit(0))
            + F.col("t")
            + F.lit(1)
        ).alias("midrank2"),
    )
    v = r.agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).cast("long").alias("n_b"),
        F.sum(F.col("ta") * F.col("midrank2")).cast("long").alias("r2_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_s"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u2_a = F.col("r2_a") - n_a * (n_a + F.lit(1))
    n = n_a + n_b
    var12 = (
        (n_a * n_b).cast("double")
        * (
            (n + F.lit(1)).cast("double")
            - (
                F.col("tie_s").cast("double")
                / (n.cast("double") * (n - F.lit(1)).cast("double"))
            )
        )
    ) / F.lit(12.0)
    return v.select(
        "n_a",
        "n_b",
        u2_a.cast("long").alias("u2_a"),
        F.round(
            ((u2_a - n_a * n_b).cast("double") / F.lit(2.0)) / F.sqrt(var12), 6
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# x147 — autocorrelation function of the daily-revenue series
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 5

_ACF_ORACLE = f"""
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
led AS (
  SELECT x,
         {", ".join(f"LEAD(x, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _ACF_MAX_LAG + 1))}
  FROM d
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM d
),
pairs AS (
  {" UNION ALL ".join(
    f"SELECT {k} AS lag, CAST(COUNT(*) AS BIGINT) AS np, "
    f"CAST(SUM(x) AS BIGINT) AS sh, CAST(SUM(l{k}) AS BIGINT) AS st, "
    f"CAST(SUM(x * l{k}) AS BIGINT) AS sxy FROM led WHERE l{k} IS NOT NULL"
    for k in range(1, _ACF_MAX_LAG + 1))}
)
SELECT CAST(lag AS BIGINT) AS lag, np AS n_pairs,
       ROUND(
         ((CAST(sxy AS DOUBLE)
           - ((CAST(s1 AS DOUBLE) / n) * CAST(sh + st AS DOUBLE)))
          + (CAST(np AS DOUBLE)
             * ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))))
         / (CAST(s2 AS DOUBLE)
            - (CAST(n AS DOUBLE)
               * ((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))), 6)
         AS acf
FROM pairs CROSS JOIN tot
"""


@register("ts_acf", oracle=_ACF_ORACLE)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x147: AUTOCORRELATION function of daily revenue at lags
    1..{_ACF_MAX_LAG} — the seasonality detector that justifies x138's
    seasonal-naive lag choice and flags residual structure after it.
    Estimator: r_k = Σ(x_t−x̄)(x_{{t+k}}−x̄) / Σ(x_t−x̄)², x̄ the global
    mean, expanded into pure integer aggregates (Σx, Σx², Σx_t·x_{{t+k}},
    head/tail sums — all BIGINT-exact cents) assembled by ONE identically-
    parenthesized float epilogue per lag. Σx² wraps BIGINT past ~3e9-cent
    days; the DECIMAL(38,0) accumulator (x136's device) is the documented
    upgrade there.

    100 TB: the only row-scale work is the day-grain agg (one shuffle,
    map-side partials); leads, the stack unpivot, and the per-lag aggs all
    run on the |days| table, with the 3-number global frame broadcast on."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x")
        )
    )
    wday = Window.orderBy("day")
    led = d.select(
        "x",
        *[
            F.lead("x", k).over(wday).alias(f"l{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    stack_expr = "stack({n}, {args}) AS (lag, y)".format(
        n=_ACF_MAX_LAG,
        args=", ".join(f"{k}, l{k}" for k in range(1, _ACF_MAX_LAG + 1)),
    )
    pairs = (
        led.select("x", F.expr(stack_expr))
        .filter(F.col("y").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum("x").cast("long").alias("sh"),
            F.sum("y").cast("long").alias("st"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    m = F.col("s1").cast("double") / F.col("n")
    num = (
        F.col("sxy").cast("double") - (m * (F.col("sh") + F.col("st")).cast("double"))
    ) + (F.col("np").cast("double") * (m * m))
    den = F.col("s2").cast("double") - (F.col("n").cast("double") * (m * m))
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("np").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


# --------------------------------------------------------------------------
# x149 — maximum drawdown of the daily-revenue series
# --------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
r AS (
  SELECT day, x,
         MAX(x) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM d
)
SELECT day AS trough_day,
       ROUND(CAST(peak AS DOUBLE) / 100.0, 2) AS peak_value,
       ROUND(CAST(x AS DOUBLE) / 100.0, 2) AS trough_value,
       ROUND(CAST(peak - x AS DOUBLE) / 100.0, 2) AS drawdown,
       ROUND(CAST(peak - x AS DOUBLE) / peak, 6) AS drawdown_pct
FROM (
  SELECT day, x, peak,
         ROW_NUMBER() OVER (ORDER BY peak - x DESC, day) AS rk
  FROM r
) WHERE rk = 1
"""


@register("ts_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x149: MAXIMUM DRAWDOWN of the daily-revenue series — the largest
    drop from a historical daily peak to a later day, with the trough day
    that realizes it (earliest on ties, picked on the INTEGER gap). The
    risk metric quant desks run on any KPI series; alongside x62's z-score
    spikes and x134's CUSUM it completes the anomaly kit with a
    "worst-case regression from peak" view.

    Exact: cents are integers, the running peak and the gap are integer
    window math; floats appear only in the 1-row epilogue (peak-relative
    percentage + dollar formatting).

    100 TB: the day-grain agg is the only row-scale work; the running-max
    window, argmax rank, and epilogue all run on the |days| table."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    r = d.select("day", "x", F.max("x").over(wrun).alias("peak"))
    wrk = Window.orderBy((F.col("peak") - F.col("x")).desc(), "day")
    return (
        r.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("day").alias("trough_day"),
            F.round(F.col("peak").cast("double") / 100.0, 2).alias("peak_value"),
            F.round(F.col("x").cast("double") / 100.0, 2).alias("trough_value"),
            F.round((F.col("peak") - F.col("x")).cast("double") / 100.0, 2).alias(
                "drawdown"
            ),
            F.round(
                (F.col("peak") - F.col("x")).cast("double") / F.col("peak"), 6
            ).alias("drawdown_pct"),
        )
    )


# --------------------------------------------------------------------------
# x151 — CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"

_CUPED_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('cu:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND ts < TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
         CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         CAST(SUM(CASE WHEN variant = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_a,
         CAST(SUM(CASE WHEN variant = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy_b,
         CAST(SUM(CASE WHEN variant = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
         CAST(SUM(CASE WHEN variant = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b,
         CAST(SUM(CASE WHEN variant = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_a,
         CAST(SUM(CASE WHEN variant = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_b
  FROM u
),
th AS (
  SELECT *,
         (CAST(sxy AS DOUBLE) - ((CAST(sx AS DOUBLE) * sy) / n))
         / (CAST(sxx AS DOUBLE) - ((CAST(sx AS DOUBLE) * sx) / n)) AS theta
  FROM m
)
SELECT n_a, n_b, ROUND(theta, 6) AS theta,
       ROUND((CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a)
             - (theta * (CAST(sx_b AS DOUBLE) / n_b
                         - CAST(sx_a AS DOUBLE) / n_a)), 6) AS adj_diff,
       ROUND(((CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a)
              - (theta * (CAST(sx_b AS DOUBLE) / n_b
                          - CAST(sx_a AS DOUBLE) / n_a)))
             / sqrt(
     (((CAST(syy_a AS DOUBLE) - ((CAST(sy_a AS DOUBLE) * sy_a) / n_a))
       - ((2.0 * theta) * (CAST(sxy_a AS DOUBLE)
           - ((CAST(sx_a AS DOUBLE) * sy_a) / n_a)))
       + ((theta * theta) * (CAST(sxx_a AS DOUBLE)
           - ((CAST(sx_a AS DOUBLE) * sx_a) / n_a)))) / (n_a - 1.0)) / n_a
   + (((CAST(syy_b AS DOUBLE) - ((CAST(sy_b AS DOUBLE) * sy_b) / n_b))
       - ((2.0 * theta) * (CAST(sxy_b AS DOUBLE)
           - ((CAST(sx_b AS DOUBLE) * sy_b) / n_b)))
       + ((theta * theta) * (CAST(sxx_b AS DOUBLE)
           - ((CAST(sx_b AS DOUBLE) * sx_b) / n_b)))) / (n_b - 1.0)) / n_b
             ), 6) AS z_score
FROM th
"""


@register("events_ab_cuped", oracle=_CUPED_ORACLE)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x151: CUPED variance-reduced A/B readout — the modern
    experimentation standard (Deng et al., WSDM'13): adjust each user's
    post-period metric y by their PRE-period covariate x, y' = y − θ(x−x̄)
    with θ = Cov(x,y)/Var(x) pooled over all users, then a Welch z on y'.
    Pre/post split at {_CUPED_SPLIT} (calendar knob), metric = purchase
    counts, arms hash-assigned (salt 'cu:'). Completes the experiment kit:
    x126 Welch, x144 rank-sum, this row covariate adjustment.

    Exactness follows x126's scheme, extended: EVERY moment (Σx, Σy, Σx²,
    Σxy, Σy² per arm and pooled — 16 BIGINTs) is gathered exactly in ONE
    conditional user-grain-then-global aggregation; θ and the variance of
    the adjusted metric expand into those moments (Var(y') = Var(y) −
    2θCov + θ²Var(x) per arm), so the float epilogue runs once on a
    single row with identical op order on both engines.

    100 TB: identical shape to x126 — user-grain agg sharing one shuffle,
    16-number global reduce, 1-row epilogue. CUPED typically buys
    30-50 % variance reduction, i.e. the same power from half the
    experiment duration — that is why it is the default at scale."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cu:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    split = F.lit(_CUPED_SPLIT + " 00:00:00").cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(is_p & (F.col("ts").cast("timestamp") < split), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(is_p & (F.col("ts").cast("timestamp") >= split), 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(variant.alias("v"), "x", "y")
    )

    def arm(c, col):
        return F.sum(F.when(F.col("v") == c, col).otherwise(0)).cast("long")

    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        arm(0, F.lit(1)).alias("n_a"),
        arm(0, F.col("y")).alias("sy_a"),
        arm(0, F.col("x")).alias("sx_a"),
        arm(1, F.lit(1)).alias("n_b"),
        arm(1, F.col("y")).alias("sy_b"),
        arm(1, F.col("x")).alias("sx_b"),
        arm(0, F.col("y") * F.col("y")).alias("syy_a"),
        arm(1, F.col("y") * F.col("y")).alias("syy_b"),
        arm(0, F.col("x") * F.col("x")).alias("sxx_a"),
        arm(1, F.col("x") * F.col("x")).alias("sxx_b"),
        arm(0, F.col("x") * F.col("y")).alias("sxy_a"),
        arm(1, F.col("x") * F.col("y")).alias("sxy_b"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = (D("sxy") - ((D("sx") * F.col("sy")) / F.col("n"))) / (
        D("sxx") - ((D("sx") * F.col("sx")) / F.col("n"))
    )
    m = m.withColumn("theta", theta)
    th = F.col("theta")
    diff = (D("sy_b") / F.col("n_b") - D("sy_a") / F.col("n_a")) - (
        th * (D("sx_b") / F.col("n_b") - D("sx_a") / F.col("n_a"))
    )

    def var_term(suf):
        ssyy = D(f"syy_{suf}") - ((D(f"sy_{suf}") * F.col(f"sy_{suf}")) / F.col(f"n_{suf}"))
        ssxy = D(f"sxy_{suf}") - ((D(f"sx_{suf}") * F.col(f"sy_{suf}")) / F.col(f"n_{suf}"))
        ssxx = D(f"sxx_{suf}") - ((D(f"sx_{suf}") * F.col(f"sx_{suf}")) / F.col(f"n_{suf}"))
        return (
            (ssyy - ((F.lit(2.0) * th) * ssxy) + ((th * th) * ssxx))
            / (F.col(f"n_{suf}") - F.lit(1.0))
        ) / F.col(f"n_{suf}")

    return m.select(
        "n_a",
        "n_b",
        F.round(th, 6).alias("theta"),
        F.round(diff, 6).alias("adj_diff"),
        F.round(diff / F.sqrt(var_term("a") + var_term("b")), 6).alias("z_score"),
    )


# --------------------------------------------------------------------------
# x153 — top event-type path trigrams (the 2-step generalization of x65)
# --------------------------------------------------------------------------

_TRIGRAM_TOPN = 10

_TRIGRAM_ORACLE = f"""
WITH s AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT event_type || '>' || t1 || '>' || t2 AS path,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE t2 IS NOT NULL
  GROUP BY 1
)
SELECT path, n, CAST(rk AS BIGINT) AS rank
FROM (SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk FROM p)
WHERE rk <= {_TRIGRAM_TOPN}
"""


@register("events_path_trigrams", oracle=_TRIGRAM_ORACLE)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x153: top-{_TRIGRAM_TOPN} behavioral PATH TRIGRAMS — the most
    common 3-step event-type sequences across all users, the product-
    analytics "common paths" panel. x65's Markov matrix is the 1-step
    memoryless view; trigrams expose the second-order structure Markov
    chains miss (a signup→view→purchase path is invisible to pairwise
    transition counts when view also follows error).

    100 TB: one user_id exchange for the double-lead window, then the
    path groupBy partial-aggregates map-side (path cardinality is
    |types|³ — tiny); top-N is an integer-ordered WindowGroupLimit, no
    full sort. Longer n-grams generalize with more leads; per-session
    paths compose with x58's session ids."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    p = (
        s.filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), "path")
    return (
        p.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _TRIGRAM_TOPN)
        .select("path", "n", "rank")
    )


# --------------------------------------------------------------------------
# x156 — entropy rate of the behavioral Markov chain
# --------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH s AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
),
c AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
n AS (
  SELECT cur, c, CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT) AS n_cur,
         CAST(SUM(c) OVER () AS BIGINT) AS n_tot
  FROM c
),
u AS (
  SELECT cur, n_cur, n_tot,
         c * CAST(ROUND(-log2(CAST(c AS DOUBLE) / n_cur) * 1000000.0)
                  AS BIGINT) AS term_u
  FROM n
),
per AS (
  SELECT cur AS cur_type, CAST(MAX(n_cur) AS BIGINT) AS n_transitions,
         CAST(SUM(term_u) AS BIGINT) AS sum_u,
         CAST(MAX(n_tot) AS BIGINT) AS n_tot
  FROM u GROUP BY cur
)
SELECT cur_type, n_transitions,
       ROUND(CAST(sum_u AS DOUBLE) / (n_transitions * 1000000.0), 6)
         AS h_cond_bits
FROM per
UNION ALL
SELECT '*RATE*', CAST(SUM(n_transitions) AS BIGINT),
       ROUND(CAST(SUM(sum_u) AS DOUBLE) / (MAX(n_tot) * 1000000.0), 6)
FROM per
"""


@register("events_entropy_rate", oracle=_ENTROPY_ORACLE)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x156: ENTROPY RATE of the behavioral Markov chain — per current
    state, the conditional entropy H(next|cur) of x65's transition
    matrix, plus the chain's overall rate Σ p(cur)·H(next|cur) as the
    '*RATE*' row. The predictability ceiling of user behavior: a rate
    near log2|types| says x65/x153's models cannot beat uniform guessing;
    near 0 says behavior is scripted (bot signature).

    Fixed-point discipline (NOTES trap #18): each transition's surprisal
    is pinned to integer micro-units weighted by its exact count; per-state
    and overall sums are exact BIGINT; one float divide at the end. The
    weighted overall rate needs NO extra pass — Σ_cur n_cur·H_cur =
    Σ all term_u, so the '*RATE*' row is an agg over the per-state rows.

    100 TB: one user_id exchange for the lead window, transition counts
    collapse map-side to |types|² rows, everything after runs on that tiny
    matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    )
    c = (
        s.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = c.select(
        "cur",
        "c",
        F.sum("c").over(Window.partitionBy("cur")).cast("long").alias("n_cur"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n_tot"),
    )
    term_u = F.col("c") * F.round(
        -F.log2(F.col("c").cast("double") / F.col("n_cur")) * 1_000_000.0
    ).cast("long")
    per = n.groupBy(F.col("cur").alias("cur_type")).agg(
        F.max("n_cur").cast("long").alias("n_transitions"),
        F.sum(term_u).cast("long").alias("sum_u"),
        F.max("n_tot").cast("long").alias("n_tot"),
    )
    per_rows = per.select(
        "cur_type",
        "n_transitions",
        F.round(
            F.col("sum_u").cast("double") / (F.col("n_transitions") * 1_000_000.0), 6
        ).alias("h_cond_bits"),
    )
    rate = per.agg(
        F.sum("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.sum("sum_u").cast("double") / (F.max("n_tot") * 1_000_000.0), 6
        ).alias("h_cond_bits"),
    ).select(F.lit("*RATE*").alias("cur_type"), "n_transitions", "h_cond_bits")
    return per_rows.unionByName(rate)


# --------------------------------------------------------------------------
# x159 — delta-method ratio-metric A/B test
# --------------------------------------------------------------------------

_RATIO_ORACLE = """
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('rd:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM u GROUP BY variant
),
r AS (
  SELECT variant, n, sx, sy,
         CAST(sy AS DOUBLE) / sx AS ratio,
         ((((CAST(syy AS DOUBLE) - ((CAST(sy AS DOUBLE) * sy) / n))
            - ((2.0 * (CAST(sy AS DOUBLE) / sx))
               * (CAST(sxy AS DOUBLE) - ((CAST(sx AS DOUBLE) * sy) / n)))
            + (((CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx))
               * (CAST(sxx AS DOUBLE) - ((CAST(sx AS DOUBLE) * sx) / n))))
           / (n - 1.0))
          / ((CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))) / n
           AS var_r
  FROM m
)
SELECT a.n AS n_a, b.n AS n_b,
       ROUND(a.ratio / 100.0, 6) AS ratio_a,
       ROUND(b.ratio / 100.0, 6) AS ratio_b,
       ROUND((b.ratio - a.ratio) / sqrt(a.var_r + b.var_r), 6) AS z_score
FROM (SELECT * FROM r WHERE variant = 0) a
CROSS JOIN (SELECT * FROM r WHERE variant = 1) b
"""


@register("events_ab_ratio_delta", oracle=_RATIO_ORACLE)
def events_ab_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x159: DELTA-METHOD ratio-metric A/B test — the metric is a ratio of
    sums (purchase revenue per view), which is NOT a mean of i.i.d. user
    values, so x126's Welch variance is wrong for it; the delta method
    gives Var(R) ≈ [Var(y) − 2R·Cov(x,y) + R²·Var(x)] / (n·x̄²) with the
    user as the randomization unit. Completes the experimentation suite:
    x126 mean metrics, x144 rank metrics, x151 covariate adjustment, this
    row ratio metrics (sessions-per-user denominators — the case every
    real platform hits).

    Exactness: per-arm moments (n, Σx, Σy, Σx², Σxy, Σy²) are exact
    BIGINT from one conditional agg; each arm's ratio and delta variance
    assemble in one identically-parenthesized float expression; revenue
    cents keep y integral.

    100 TB: user-grain agg + 2-row arm agg + 1×1 bounded cross of the two
    arm rows."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rd:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(variant.alias("variant"), "x", "y")
    )
    m = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    ratio = D("sy") / F.col("sx")
    var_r = (
        (
            (
                (D("syy") - ((D("sy") * F.col("sy")) / F.col("n")))
                - (
                    (F.lit(2.0) * ratio)
                    * (D("sxy") - ((D("sx") * F.col("sy")) / F.col("n")))
                )
                + (
                    (ratio * ratio)
                    * (D("sxx") - ((D("sx") * F.col("sx")) / F.col("n")))
                )
            )
            / (F.col("n") - F.lit(1.0))
        )
        / ((D("sx") / F.col("n")) * (D("sx") / F.col("n")))
    ) / F.col("n")
    r = m.select("variant", "n", ratio.alias("ratio"), var_r.alias("var_r"))
    a = r.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("ratio").alias("ra"), F.col("var_r").alias("va")
    )
    b = r.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("ratio").alias("rb"), F.col("var_r").alias("vb")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round(F.col("ra") / 100.0, 6).alias("ratio_a"),
        F.round(F.col("rb") / 100.0, 6).alias("ratio_b"),
        F.round(
            (F.col("rb") - F.col("ra")) / F.sqrt(F.col("va") + F.col("vb")), 6
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# x160 — cohort LTV curves (cumulative revenue per user by cohort age)
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk
  FROM events GROUP BY user_id
),
cs AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first_seen GROUP BY cohort_wk
),
rev AS (
  SELECT f.cohort_wk,
         CAST(datediff('day', f.cohort_wk, date_trunc('week', e.ts)) // 7
              AS BIGINT) AS age_wk,
         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events e
  JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_wk, age_wk,
         SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
  FROM rev
)
SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
       c.age_wk AS age_week,
       cs.n_users,
       ROUND(CAST(c.cum_cents AS DOUBLE) / 100.0, 2) AS cum_revenue,
       ROUND((CAST(c.cum_cents AS DOUBLE) / 100.0) / cs.n_users, 6)
         AS ltv_per_user
FROM cum c JOIN cs ON c.cohort_wk = cs.cohort_wk
"""


@register("events_cohort_ltv", oracle=_LTV_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x160: cohort LTV CURVES — cumulative purchase revenue per user by
    acquisition-week cohort and cohort age: the lifetime-value panel next
    to x59's retention grid (active fraction) and x118's churn flags
    (terminal state). Reading down a column compares cohort quality;
    flattening curves say payback stalls at that age.

    Age is an exact integer: both dates are week-truncated, so the day
    difference is divisible by 7 and the integer division is exact —
    never a float week fraction. Revenue is integer cents end-to-end;
    the per-user division happens once per output row.

    100 TB: first-seen agg shares the user_id shuffle with x59; the
    revenue join broadcasts nothing row-scale (first_seen is user-grain —
    hash join on user_id); the cumulative window runs at (cohort × age)
    grain, which is bounded by the calendar, not the data."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    cs = first_seen.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_wk",
            F.expr(
                "CAST(datediff(date_trunc('week', ts), cohort_wk) DIV 7 AS BIGINT)"
            ).alias("age_wk"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    )
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "cohort_wk", "age_wk", F.sum("cents").over(wcum).alias("cum_cents")
    )
    return cum.join(cs, "cohort_wk").select(
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
        F.col("age_wk").alias("age_week"),
        "n_users",
        F.round(F.col("cum_cents").cast("double") / 100.0, 2).alias("cum_revenue"),
        F.round(
            (F.col("cum_cents").cast("double") / 100.0) / F.col("n_users"), 6
        ).alias("ltv_per_user"),
    )


# --------------------------------------------------------------------------
# x163 — two-period event-rate comparison (conditional binomial test)
# --------------------------------------------------------------------------

_RATE_SPLIT = "2024-01-16"

_RATE_ORACLE = f"""
WITH c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_RATE_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_RATE_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM events GROUP BY event_type
),
t AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2 FROM c
)
SELECT c.event_type, c.n1, c.n2,
       ROUND(CAST(c.n2 AS DOUBLE) / c.n1, 6) AS rate_ratio,
       ROUND((c.n1 - ((c.n1 + c.n2)
                      * (CAST(t.t1 AS DOUBLE) / (t.t1 + t.t2))))
             / sqrt(((c.n1 + c.n2)
                     * (CAST(t.t1 AS DOUBLE) / (t.t1 + t.t2)))
                    * (1.0 - (CAST(t.t1 AS DOUBLE) / (t.t1 + t.t2)))), 6)
         AS z_score
FROM c CROSS JOIN t
"""


@register("events_rate_compare", oracle=_RATE_ORACLE)
def events_rate_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x163: two-period RATE comparison per event type — the conditional
    binomial test behind "did the error rate really change
    week-over-week?": conditioning on the type's total count N = n1+n2,
    under H0 n1 ~ Binom(N, p0) with p0 the OVERALL period-1 share across
    all types (the exposure correction — if total traffic shifted between
    the periods, every type's raw split shifts with it). z = (n1 − N·p0)
    / √(N·p0·(1−p0)), the monitoring primitive next to x62's
    within-series z-score and the x126/x159 experiment kit (calendar
    split, not hash split).

    Exact: all counts integer from one conditional agg; p0 and z assemble
    in one identically-parenthesized float epilogue per type.

    100 TB: one map-side-combined agg to |types| rows + a 1-row totals
    frame crossed on — the same broadcast-epilogue shape as x148."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_RATE_SPLIT + " 00:00:00").cast("timestamp")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts").cast("timestamp") < split, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts").cast("timestamp") >= split, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    t = c.agg(
        F.sum("n1").cast("long").alias("t1"), F.sum("n2").cast("long").alias("t2")
    )
    p0 = F.col("t1").cast("double") / (F.col("t1") + F.col("t2"))
    mean = (F.col("n1") + F.col("n2")) * p0
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n1",
        "n2",
        F.round(F.col("n2").cast("double") / F.col("n1"), 6).alias("rate_ratio"),
        F.round(
            (F.col("n1") - mean) / F.sqrt(mean * (F.lit(1.0) - p0)), 6
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# x165 — survival curve of user lifetimes (discrete Kaplan-Meier, log form)
# --------------------------------------------------------------------------

_SURV_ORACLE = """
WITH life AS (
  SELECT user_id,
         strftime(date_trunc('day', MAX(ts)), '%Y-%m-%d') AS last_day
  FROM events GROUP BY user_id
),
d AS (
  SELECT last_day AS day, CAST(COUNT(*) AS BIGINT) AS d_churn
  FROM life GROUP BY last_day
),
r AS (
  SELECT day, d_churn,
         CAST(SUM(d_churn) OVER (ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS n_at_risk
  FROM d
),
u AS (
  SELECT day, d_churn, n_at_risk,
         CAST(ROUND(-log2(1.0 - (CAST(d_churn AS DOUBLE) / n_at_risk))
                    * 1000000.0) AS BIGINT) AS step_u
  FROM r WHERE d_churn < n_at_risk
)
SELECT day, n_at_risk, d_churn,
       ROUND(CAST(d_churn AS DOUBLE) / n_at_risk, 6) AS hazard,
       ROUND(CAST(SUM(step_u) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 1000000.0, 6) AS cum_neglog2_surv
FROM u
"""


@register("events_survival_hazard", oracle=_SURV_ORACLE)
def events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x165: discrete SURVIVAL analysis of user lifetimes — per last-seen
    day: the at-risk count (users whose last event is on or after the
    day), the discrete hazard d/n (Kaplan-Meier's per-step factor is
    1 − d/n), and the cumulative −log2 survival — the log-domain form of
    the KM product Π(1−dᵢ/nᵢ), which is where the curve stays EXACT:
    per-step surprisal pins to integer micro-units (trap #18) and the
    cumulative sum is BIGINT, where the product itself would compound
    float error and the final 2^−x is not correctly rounded on either
    engine (consumers exponentiate client-side if they need S(t)).
    Lifetimes are uncensored within the fixed observation window —
    x118's churn-flag convention. The last day (everyone remaining
    churns, 1−d/n = 0) is excluded: log-survival is −∞ there by
    construction.

    100 TB: user-grain max agg shares the standard user shuffle; the
    at-risk reverse-cumulative, hazard, and log-survival all run at DAY
    grain (calendar-bounded). The REVERSED running sum computes at-risk
    counts without a second pass over users."""
    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("day", F.max("ts")), "yyyy-MM-dd").alias(
            "last_day"
        )
    )
    d = life.groupBy(F.col("last_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("d_churn")
    )
    wrev = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    r = d.select(
        "day", "d_churn", F.sum("d_churn").over(wrev).cast("long").alias("n_at_risk")
    )
    step_u = F.round(
        -F.log2(
            F.lit(1.0) - (F.col("d_churn").cast("double") / F.col("n_at_risk"))
        )
        * 1_000_000.0
    ).cast("long")
    u = r.filter(F.col("d_churn") < F.col("n_at_risk")).withColumn("step_u", step_u)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return u.select(
        "day",
        "n_at_risk",
        "d_churn",
        F.round(F.col("d_churn").cast("double") / F.col("n_at_risk"), 6).alias(
            "hazard"
        ),
        F.round(
            F.sum("step_u").over(wcum).cast("double") / 1_000_000.0, 6
        ).alias("cum_neglog2_surv"),
    )


# --------------------------------------------------------------------------
# x166 — week-over-week top movers by activity rank
# --------------------------------------------------------------------------

_MOVERS_SPLIT = "2024-01-16"
_MOVERS_TOPN = 15

_MOVERS_ORACLE = f"""
WITH c AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_MOVERS_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_MOVERS_SPLIT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM events GROUP BY user_id
),
rk AS (
  SELECT user_id, n1, n2,
         ROW_NUMBER() OVER (ORDER BY n1 DESC, user_id) AS r1,
         ROW_NUMBER() OVER (ORDER BY n2 DESC, user_id) AS r2
  FROM c
)
SELECT user_id, n1, n2, CAST(r1 AS BIGINT) AS rank_before,
       CAST(r2 AS BIGINT) AS rank_after,
       CAST(r1 - r2 AS BIGINT) AS rank_gain,
       CAST(mk AS BIGINT) AS mover_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(r1 - r2) DESC, user_id) AS mk
  FROM rk
) WHERE mk <= {_MOVERS_TOPN}
"""


@register("events_top_movers", oracle=_MOVERS_ORACLE)
def events_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x166: week-over-week TOP MOVERS — rank every user by activity in
    each half of the window, report the {_MOVERS_TOPN} largest absolute
    rank shifts: the "trending up / falling off" panel product teams
    watch, and (run on join keys instead of users) the drift detector
    that says yesterday's x148 skew report is stale.

    All-integer: conditional counts, two dense ranking passes with pinned
    tie-breaks, integer rank deltas, integer-ordered top-N.

    100 TB: one user-grain conditional agg; the two global rank windows
    run at user grain — for billion-user scale swap row_number for the
    value-grain cumulative-rank device (x144) which ranks without a
    global sort; the movers top-N is WindowGroupLimit-pruned."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_MOVERS_SPLIT + " 00:00:00").cast("timestamp")
    c = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts").cast("timestamp") < split, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("ts").cast("timestamp") >= split, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    rk = c.select(
        "user_id",
        "n1",
        "n2",
        F.row_number()
        .over(Window.orderBy(F.col("n1").desc(), "user_id"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("n2").desc(), "user_id"))
        .alias("r2"),
    )
    wm = Window.orderBy(F.abs(F.col("r1") - F.col("r2")).desc(), "user_id")
    return (
        rk.withColumn("mover_rank", F.row_number().over(wm).cast("long"))
        .filter(F.col("mover_rank") <= _MOVERS_TOPN)
        .select(
            "user_id",
            "n1",
            "n2",
            F.col("r1").cast("long").alias("rank_before"),
            F.col("r2").cast("long").alias("rank_after"),
            (F.col("r1") - F.col("r2")).cast("long").alias("rank_gain"),
            "mover_rank",
        )
    )


# --------------------------------------------------------------------------
# x167 — multiplicative weekday seasonal index
# --------------------------------------------------------------------------

_WDI_ORACLE = """
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         strftime(date_trunc('day', ts), '%a') AS weekday,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT weekday,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM d GROUP BY weekday
),
t AS (
  SELECT CAST(SUM(n_days) AS BIGINT) AS all_days,
         CAST(SUM(cents) AS BIGINT) AS all_cents
  FROM w
)
SELECT w.weekday, w.n_days,
       ROUND((CAST(w.cents AS DOUBLE) / w.n_days) / 100.0, 2)
         AS avg_daily_revenue,
       ROUND((CAST(w.cents AS DOUBLE) / w.n_days)
             / (CAST(t.all_cents AS DOUBLE) / t.all_days), 6)
         AS seasonal_index
FROM w CROSS JOIN t
"""


@register("ts_weekday_index", oracle=_WDI_ORACLE)
def ts_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x167: multiplicative WEEKDAY seasonal index — average daily revenue
    per weekday over the overall daily average: the seasonal-index table
    that justifies (or retires) x138's seasonal-naive lag and deseasonalizes
    any daily KPI by division. Exact integer cents and day counts; each
    index is one identically-parenthesized ratio-of-ratios.

    Weekday labels use the engine-shared %a/E abbreviation (pinned to the
    same Mon..Sun names on both engines under the default locale).

    100 TB: day-grain agg is the only row-scale shuffle; the weekday agg
    (7 rows) and 1-row totals epilogue are free."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("day", "ts"), "E").alias("weekday"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = d.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("cents"),
    )
    t = w.agg(
        F.sum("n_days").cast("long").alias("all_days"),
        F.sum("cents").cast("long").alias("all_cents"),
    )
    daily = F.col("cents").cast("double") / F.col("n_days")
    overall = F.col("all_cents").cast("double") / F.col("all_days")
    return w.crossJoin(F.broadcast(t)).select(
        "weekday",
        "n_days",
        F.round(daily / 100.0, 2).alias("avg_daily_revenue"),
        F.round(daily / overall, 6).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# x174 — daily new-vs-returning traffic split
# --------------------------------------------------------------------------

_NVR_ORACLE = """
WITH first_seen AS (
  SELECT user_id, strftime(date_trunc('day', MIN(ts)), '%Y-%m-%d')
           AS first_day
  FROM events GROUP BY user_id
)
SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN strftime(date_trunc('day', e.ts), '%Y-%m-%d')
                          = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_events_new,
       CAST(SUM(CASE WHEN strftime(date_trunc('day', e.ts), '%Y-%m-%d')
                          <> f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_events_returning,
       CAST(COUNT(DISTINCT CASE WHEN strftime(date_trunc('day', e.ts),
                                              '%Y-%m-%d') = f.first_day
                                THEN e.user_id END) AS BIGINT) AS n_new_users
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY 1
"""


@register("events_new_vs_returning", oracle=_NVR_ORACLE)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x174: daily NEW vs RETURNING split — per day: events from users on
    their first-ever day, events from returning users, and the count of
    users acquired that day. The topline growth panel that x59's cohort
    grid details and x165's survival curve extends; new-share collapsing
    toward zero is the maturity signal, a spike is a bot or a launch.

    All-integer; day labels are canonical strings on both engines.

    100 TB: the first-seen table is the same user-grain min-agg x160
    builds (one user shuffle); the classification join is user-keyed
    hash, the day agg partial-aggregates map-side, and the distinct
    new-user count expands only on first-day rows."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias(
            "first_day"
        )
    )
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    e = ev.join(first_seen, "user_id").select(
        day.alias("day"),
        "first_day",
        "user_id",
    )
    is_new = F.col("day") == F.col("first_day")
    return e.groupBy("day").agg(
        F.sum(is_new.cast("int")).cast("long").alias("n_events_new"),
        F.sum((~is_new).cast("int")).cast("long").alias("n_events_returning"),
        F.countDistinct(F.when(is_new, F.col("user_id")))
        .cast("long")
        .alias("n_new_users"),
    )


# --------------------------------------------------------------------------
# x175 — chi-square test of independence (variant × converted, 2×2)
# --------------------------------------------------------------------------
# Pearson chi² for a 2×2 table has the closed form
#   chi² = N · (n00·n11 − n01·n10)² / (r_a · r_b · c_0 · c_1)
# which keeps every observed count exact-integer and pushes ALL float work
# into one identically-parenthesized epilogue expression — no per-cell
# expected-value table, no (O−E)²/E summation whose order could differ
# between engines. det is exact BIGINT; det², N and the margin product are
# computed in DOUBLE with the same multiplication tree on both sides
# (IEEE multiply is correctly rounded, so identical operand order =>
# identical bits).

_AB_CHI2_ORACLE = """
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 13 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n00,
    CAST(SUM(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n01,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n10,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n11
  FROM u
)
SELECT n00, n01, n10, n11,
       ROUND(CAST(n01 AS DOUBLE) / NULLIF(n00 + n01, 0), 6) AS rate_a,
       ROUND(CAST(n11 AS DOUBLE) / NULLIF(n10 + n11, 0), 6) AS rate_b,
       ROUND(CAST(n00 + n01 + n10 + n11 AS DOUBLE)
             * (CAST(n00 * n11 - n01 * n10 AS DOUBLE)
                * CAST(n00 * n11 - n01 * n10 AS DOUBLE))
             / NULLIF(CAST(n00 + n01 AS DOUBLE) * CAST(n10 + n11 AS DOUBLE)
                * CAST(n00 + n10 AS DOUBLE) * CAST(n01 + n11 AS DOUBLE), 0),
             6) AS chi2,
       CAST(CASE WHEN ROUND(CAST(n00 + n01 + n10 + n11 AS DOUBLE)
             * (CAST(n00 * n11 - n01 * n10 AS DOUBLE)
                * CAST(n00 * n11 - n01 * n10 AS DOUBLE))
             / NULLIF(CAST(n00 + n01 AS DOUBLE) * CAST(n10 + n11 AS DOUBLE)
                * CAST(n00 + n10 AS DOUBLE) * CAST(n01 + n11 AS DOUBLE), 0),
             6) > 3.841459 THEN 1 ELSE 0 END AS BIGINT) AS significant_05
FROM c
"""


@register("events_ab_chi2", oracle=_AB_CHI2_ORACLE)
def events_ab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x175: chi-square INDEPENDENCE test on the 2×2 (variant × converted)
    table — the categorical counterpart to x126's Welch z on a continuous
    metric; together they are the standard experiment-readout pair.
    Variant assignment is the same md5 hash split as x126 (pure function
    of user_id); converted = HEAVY PURCHASER (≥13 purchase events — the
    generator gives every user ≥5 purchases, so "any purchase" would be a
    degenerate all-ones column; 13 is the sf-invariant median). NULLIF
    guards keep empty margins NULL instead of raising under ANSI mode.

    chi² uses the 2×2 closed form N·det²/(row·col margins): the observed
    cells stay exact BIGINT and the single float expression is
    identically parenthesized in both engines (see module comment).
    significant_05 compares the 6dp-rounded statistic against the pinned
    df=1 / α=0.05 critical value 3.841459, so the boolean is a compare of
    identical doubles, not a re-derivation.

    100 TB: one user-grain partial agg, then a global conditional agg
    collapsing map-side to 4 integers; the test statistic is a 1-row
    epilogue. No join between arms, no assignment table.
    """
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 13,
                1,
            )
            .otherwise(0)
            .alias("conv")
        )
        .select(variant.alias("variant"), "conv")
    )
    cell = lambda v, cv: (  # noqa: E731 — local cell-count shorthand
        F.sum(F.when((F.col("variant") == v) & (F.col("conv") == cv), 1).otherwise(0))
        .cast("long")
    )
    c = u.agg(
        cell(0, 0).alias("n00"),
        cell(0, 1).alias("n01"),
        cell(1, 0).alias("n10"),
        cell(1, 1).alias("n11"),
    )
    det = (F.col("n00") * F.col("n11") - F.col("n01") * F.col("n10")).cast("double")
    n_total = (F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11")).cast(
        "double"
    )
    margins = (
        (F.col("n00") + F.col("n01")).cast("double")
        * (F.col("n10") + F.col("n11")).cast("double")
        * (F.col("n00") + F.col("n10")).cast("double")
        * (F.col("n01") + F.col("n11")).cast("double")
    )
    chi2 = F.round(n_total * (det * det) / F.nullif(margins, F.lit(0.0)), 6)
    return c.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.round(
            F.col("n01").cast("double")
            / F.nullif((F.col("n00") + F.col("n01")).cast("double"), F.lit(0.0)),
            6,
        ).alias("rate_a"),
        F.round(
            F.col("n11").cast("double")
            / F.nullif((F.col("n10") + F.col("n11")).cast("double"), F.lit(0.0)),
            6,
        ).alias("rate_b"),
        chi2.alias("chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).cast("long").alias("significant_05"),
    )


# --------------------------------------------------------------------------
# x177 — Shapley-value conversion attribution over 3 channels
# --------------------------------------------------------------------------
# Characteristic function: v(S) = number of converting users whose
# pre-conversion touched-channel set is a subset of S ("conversions
# achievable with only the channels in S"). With |C| = 3 the Shapley value
# has the exact closed form
#   φ_c = ( 2·(v({c})−v(∅)) + (v({c,x})−v({x})) + (v({c,y})−v({y}))
#           + 2·(v(C)−v(C\{c})) ) / 6
# — all-integer numerator, one pinned /6.0 division. Efficiency axiom:
# Σ_c φ_c = v(C) − v(∅) (users converting with no prior channel touch sit
# in v(∅) and are deliberately unattributed); the invariant test checks it.
# Channel bits: click=1, signup=2, view=4.

_SHAPLEY_ORACLE = """
WITH fp AS (
  SELECT user_id, MIN(ts) AS first_p
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
tm AS (
  SELECT fp.user_id,
         CAST(COALESCE(MAX(CASE WHEN e.event_type = 'click' THEN 1 END), 0)
            + COALESCE(MAX(CASE WHEN e.event_type = 'signup' THEN 2 END), 0)
            + COALESCE(MAX(CASE WHEN e.event_type = 'view' THEN 4 END), 0)
           AS BIGINT) AS mask
  FROM fp LEFT JOIN events e
    ON e.user_id = fp.user_id AND e.ts < fp.first_p
       AND e.event_type IN ('click', 'signup', 'view')
  GROUP BY fp.user_id
),
m AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt FROM tm GROUP BY mask),
p AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN (mask & ~0) = 0 THEN cnt END), 0) AS BIGINT) AS v0,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~1) = 0 THEN cnt END), 0) AS BIGINT) AS v1,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~2) = 0 THEN cnt END), 0) AS BIGINT) AS v2,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~3) = 0 THEN cnt END), 0) AS BIGINT) AS v3,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~4) = 0 THEN cnt END), 0) AS BIGINT) AS v4,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~5) = 0 THEN cnt END), 0) AS BIGINT) AS v5,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~6) = 0 THEN cnt END), 0) AS BIGINT) AS v6,
    CAST(COALESCE(SUM(CASE WHEN (mask & ~7) = 0 THEN cnt END), 0) AS BIGINT) AS v7,
    CAST(COALESCE(SUM(CASE WHEN (mask & 1) <> 0 THEN cnt END), 0) AS BIGINT) AS t1,
    CAST(COALESCE(SUM(CASE WHEN (mask & 2) <> 0 THEN cnt END), 0) AS BIGINT) AS t2,
    CAST(COALESCE(SUM(CASE WHEN (mask & 4) <> 0 THEN cnt END), 0) AS BIGINT) AS t4
  FROM m
)
SELECT 'click' AS channel, t1 AS touched_conversions,
       ROUND((2*(v1-v0) + (v3-v2) + (v5-v4) + 2*(v7-v6)) / 6.0, 6) AS shapley
FROM p
UNION ALL
SELECT 'signup' AS channel, t2 AS touched_conversions,
       ROUND((2*(v2-v0) + (v3-v1) + (v6-v4) + 2*(v7-v5)) / 6.0, 6) AS shapley
FROM p
UNION ALL
SELECT 'view' AS channel, t4 AS touched_conversions,
       ROUND((2*(v4-v0) + (v5-v1) + (v6-v2) + 2*(v7-v3)) / 6.0, 6) AS shapley
FROM p
"""


@register("events_attribution_shapley", oracle=_SHAPLEY_ORACLE)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x177: SHAPLEY conversion attribution — split conversion credit
    across the three marketing channels (click / signup / view touches
    before the user's FIRST purchase) by the Shapley value of the
    coalition game v(S) = conversions achievable with only channels in S.
    The game-theoretically fair alternative to x61's last-touch /
    first-touch / linear rules (all registered there) — order-free, so it
    needs only each user's touched-SET, not the full path.

    |C| = 3 ⇒ closed form over the 8 subset masses (module comment):
    integer numerators, one pinned /6.0. Efficiency (Σφ = v(C) − v(∅))
    is the invariant test. Users converting with zero prior touches stay
    in v(∅) — visible, not smeared across channels.

    100 TB: first-purchase agg is user-grain; the touch scan joins
    user-keyed (hash, no skew — per-user event counts are bounded);
    everything after the 8-row mask histogram is a 1-row epilogue.
    Shapley over |C| channels needs 2^|C| masses — exact up to ~20
    channels, then you sample permutations (documented, not needed here).
    """
    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_p"))
    )
    touches = ev.select("user_id", "ts", "event_type").join(
        fp, "user_id"
    ).filter(
        (F.col("ts") < F.col("first_p"))
        & F.col("event_type").isin("click", "signup", "view")
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "signup", 2)
        .otherwise(4)
    )
    tm = (
        fp.join(
            touches.groupBy("user_id").agg(
                *[
                    F.max(F.when(F.col("event_type") == ch, b)).alias(f"b{b}")
                    for ch, b in (("click", 1), ("signup", 2), ("view", 4))
                ],
            ),
            "user_id",
            "left",
        )
        .select(
            (
                F.coalesce(F.col("b1"), F.lit(0))
                + F.coalesce(F.col("b2"), F.lit(0))
                + F.coalesce(F.col("b4"), F.lit(0))
            )
            .cast("long")
            .alias("mask")
        )
    )
    m = tm.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    zero = F.lit(0).cast("long")

    def v(s: int):
        return F.coalesce(
            F.sum(F.when(F.col("mask").bitwiseAND(~s & 7) == 0, F.col("cnt"))),
            zero,
        ).cast("long")

    def touched(b: int):
        return F.coalesce(
            F.sum(F.when(F.col("mask").bitwiseAND(b) != 0, F.col("cnt"))), zero
        ).cast("long")

    p = m.agg(
        *[v(s).alias(f"v{s}") for s in range(8)],
        touched(1).alias("t1"),
        touched(2).alias("t2"),
        touched(4).alias("t4"),
    )
    c = {s: F.col(f"v{s}") for s in range(8)}
    phi_click = F.round(
        (2 * (c[1] - c[0]) + (c[3] - c[2]) + (c[5] - c[4]) + 2 * (c[7] - c[6]))
        / 6.0,
        6,
    )
    phi_signup = F.round(
        (2 * (c[2] - c[0]) + (c[3] - c[1]) + (c[6] - c[4]) + 2 * (c[7] - c[5]))
        / 6.0,
        6,
    )
    phi_view = F.round(
        (2 * (c[4] - c[0]) + (c[5] - c[1]) + (c[6] - c[2]) + 2 * (c[7] - c[3]))
        / 6.0,
        6,
    )
    row = p.select(
        F.col("t1"), F.col("t2"), F.col("t4"),
        phi_click.alias("p1"), phi_signup.alias("p2"), phi_view.alias("p4"),
    )
    return row.selectExpr(
        "stack(3, 'click', t1, p1, 'signup', t2, p2, 'view', t4, p4) "
        "as (channel, touched_conversions, shapley)"
    )


# --------------------------------------------------------------------------
# x180 — classical seasonal decomposition by moving average (additive)
# --------------------------------------------------------------------------
# revenue(day) = trend + seasonal(weekday) + residual, the moving-average
# decomposition STL simplifies to when the period is the calendar week:
# trend = centered 7-day mean, seasonal = per-weekday mean of the detrended
# series, residual = what's left. Float discipline: the detrended value
# (cents·7 − s7)/700 keeps an ALL-INTEGER numerator, so the per-weekday
# seasonal mean is a ratio of exact BIGINTs (never an average of rounded
# doubles, whose summation order differs cross-engine); trend and residual
# are single pinned divisions. Frames are valid only when they hold 7 rows
# spanning exactly 6 calendar days — a gap disqualifies the window instead
# of silently averaging a longer span (x37's gap-fill is the densifier if
# the series needs one).

_DECOMP_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         strftime(date_trunc('day', ts), '%a') AS weekday,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
f AS (
  SELECT day, weekday, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS n7,
         date_diff('day', MIN(day) OVER w, MAX(day) OVER w) AS span
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
v AS (SELECT * FROM f WHERE n7 = 7 AND span = 6),
s AS (
  SELECT weekday,
         ROUND(CAST(SUM(cents * 7 - s7) AS DOUBLE)
               / (700.0 * COUNT(*)), 6) AS seasonal
  FROM v GROUP BY weekday
)
SELECT strftime(v.day, '%Y-%m-%d') AS day,
       ROUND(v.cents / 100.0, 2) AS revenue,
       ROUND(CAST(v.s7 AS DOUBLE) / 700.0, 6) AS trend,
       s.seasonal,
       ROUND(CAST(v.cents * 7 - v.s7 AS DOUBLE) / 700.0 - s.seasonal, 6)
         AS residual
FROM v JOIN s ON v.weekday = s.weekday
"""


@register("ts_decompose_ma", oracle=_DECOMP_ORACLE)
def ts_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x180: ADDITIVE SEASONAL DECOMPOSITION of daily revenue by centered
    7-day moving average — revenue = trend + seasonal(weekday) + residual.
    The decomposition panel behind x167's seasonal index (multiplicative,
    weekday-grain) and x138's seasonal-naive backtest: x167 answers "how
    strong is the weekly cycle", this row hands every downstream model the
    DESEASONALIZED series. Exactness per module comment: integer-numerator
    detrended values make the weekday means order-free; only two pinned
    divisions and one subtraction of already-rounded terms touch floats.

    Edge-of-series days (and any day adjacent to a calendar gap) carry no
    full centered frame and are excluded, not extrapolated — the honest
    STL boundary rule.

    100 TB: day-grain agg is the only row-scale shuffle; the frame window
    orders ~|days| rows (single ordered partition of a TINY aggregate —
    partition by year if |days| ever matters); the weekday table is 7
    rows broadcast back. Additive vs multiplicative: switch detrended to
    the x167 ratio form if variance scales with level."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_format(F.date_trunc("day", "ts"), "E").alias("weekday"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    f = d.select(
        "day",
        "weekday",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
        F.datediff(F.max("day").over(w), F.min("day").over(w)).alias("span"),
    )
    v = f.filter((F.col("n7") == 7) & (F.col("span") == 6))
    s = v.groupBy("weekday").agg(
        F.round(
            F.sum(F.col("cents") * 7 - F.col("s7")).cast("double")
            / (700.0 * F.count(F.lit(1))),
            6,
        ).alias("seasonal")
    )
    return v.join(F.broadcast(s), "weekday").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("s7").cast("double") / 700.0, 6).alias("trend"),
        "seasonal",
        F.round(
            (F.col("cents") * 7 - F.col("s7")).cast("double") / 700.0
            - F.col("seasonal"),
            6,
        ).alias("residual"),
    )


# --------------------------------------------------------------------------
# x182 — uplift readout by score decile (Qini-table shape)
# --------------------------------------------------------------------------

_UPLIFT_CUTOFF = "2024-01-15"

# NTILE parity: both engines implement SQL-standard NTILE (first n mod 10
# tiles get the extra row) — identical given an identical TOTAL order, so
# the tile ORDER BY is (score, user_id): ties on score cannot float between
# tiles. The "model score" is the user's pre-period activity count — a
# deterministic stand-in for a propensity model's output with the right
# join shape (scores live at user grain, outcomes arrive later).

_UPLIFT_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{_UPLIFT_CUTOFF}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS score,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_UPLIFT_CUTOFF}'
                        AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
t AS (
  SELECT variant, y,
         CAST(NTILE(10) OVER (ORDER BY score, user_id) AS BIGINT) AS decile
  FROM u
)
SELECT decile,
       CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       ROUND(CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0), 6)
         AS mean_t,
       ROUND(CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0), 6)
         AS mean_c,
       ROUND(CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0)
             - CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0), 6)
         AS uplift
FROM t GROUP BY decile
"""


@register("events_uplift_deciles", oracle=_UPLIFT_ORACLE)
def events_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x182: UPLIFT-BY-DECILE readout (the Qini/uplift table): rank users
    by a pre-period score, cut into NTILE(10) deciles over BOTH arms, and
    report treated-vs-control post-period purchase means + their
    difference per decile — "does the effect concentrate where the model
    says it should?". Completes the experimentation suite's targeting leg
    (x126 average effect, x151 variance reduction, this row heterogeneous
    effect by score).

    Same md5 arm split as x126; score = pre-cutoff event count (module
    comment on why, and on NTILE tie discipline). Integer outcomes; the
    only floats are NULLIF-guarded per-cell means, 6dp-pinned.

    100 TB: one user-grain conditional agg; NTILE needs a total order —
    at user-count scale swap it for the x102 spelling (percent_rank from
    cumulative counts at VALUE grain, no global row sort) documented in
    quantile_normalize; the decile agg is 10×2 cells."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_UPLIFT_CUTOFF).cast("timestamp_ntz")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0))
        .cast("long")
        .alias("score"),
        F.sum(
            F.when(
                (F.col("ts") >= cutoff) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).select(variant.alias("variant"), "score", "y", "user_id")
    t = u.select(
        "variant",
        "y",
        F.ntile(10)
        .over(Window.orderBy("score", "user_id"))
        .cast("long")
        .alias("decile"),
    )
    n_t = F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long")
    n_c = F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long")
    s_t = F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0))
    s_c = F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0))
    mean_t = s_t.cast("double") / F.nullif(n_t.cast("double"), F.lit(0.0))
    mean_c = s_c.cast("double") / F.nullif(n_c.cast("double"), F.lit(0.0))
    return t.groupBy("decile").agg(
        n_t.alias("n_t"),
        n_c.alias("n_c"),
        F.round(mean_t, 6).alias("mean_t"),
        F.round(mean_c, 6).alias("mean_c"),
        F.round(mean_t - mean_c, 6).alias("uplift"),
    )


# --------------------------------------------------------------------------
# x186 — SLO burn-rate alert (multiwindow, Google SRE workbook shape)
# --------------------------------------------------------------------------
# SLO: 99% of events non-error => error budget 1%. burn = err_rate / 0.01.
# The alert pages when BOTH the fast (1h) and slow (6h trailing) windows
# burn above 1× — fast catches the spike, slow suppresses flapping. The
# PAGING DECISION is all-integer (burn > 1 ⟺ 100·errors > events,
# cross-multiplied), so the alert bit can never flip on a float ulp; the
# reported burn ratios are display-only, 6dp-pinned. Trailing frames are
# valid only when 6 hourly buckets span exactly 5 hours (gap ⇒ no page —
# same honest-frame rule as x180).

_SLO_ORACLE = """
WITH h AS (
  SELECT CAST(epoch(CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP))
              // 3600 AS BIGINT) AS hr_idx,
         strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:00')
           AS hour,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e1
  FROM events GROUP BY 1, 2
),
f AS (
  SELECT hour, hr_idx, n1, e1,
         CAST(SUM(n1) OVER w AS BIGINT) AS n6,
         CAST(SUM(e1) OVER w AS BIGINT) AS e6,
         COUNT(*) OVER w AS k6,
         hr_idx - MIN(hr_idx) OVER w AS span
  FROM h
  WINDOW w AS (ORDER BY hr_idx ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hour, n1, e1,
       ROUND(CAST(e1 AS DOUBLE) * 100.0 / n1, 6) AS burn_1h,
       ROUND(CAST(e6 AS DOUBLE) * 100.0 / n6, 6) AS burn_6h,
       CAST(CASE WHEN k6 = 6 AND span = 5
                  AND e1 * 100 > n1 AND e6 * 100 > n6
            THEN 1 ELSE 0 END AS BIGINT) AS page
FROM f
"""


@register("events_slo_burn", oracle=_SLO_ORACLE)
def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x186: MULTIWINDOW SLO BURN-RATE alert — per hour: the 1h and
    trailing-6h error-budget burn against a 99% SLO, paging when both
    exceed 1× (module comment; the SRE-workbook multiwindow rule that
    x139's hysteresis and x110's z-score anomaly flank: budget-relative
    rather than level- or distribution-relative). Integer paging decision,
    display-only float ratios.

    100 TB: hour-grain agg is the only row-scale shuffle; the trailing
    frame orders |hours| aggregated rows (partition by service/tenant key
    in production — here the stream is one service). The same two sums
    maintain incrementally under st1's streaming window machinery."""
    ev = load_table(spark, sf_dir, "events")
    hb = F.date_trunc("hour", "ts")
    h = ev.groupBy(
        (F.unix_timestamp(hb.cast("timestamp")) / 3600)
        .cast("long")
        .alias("hr_idx"),
        F.date_format(hb, "yyyy-MM-dd HH:00").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("e1"),
    )
    w = Window.orderBy("hr_idx").rowsBetween(-5, 0)
    f = h.select(
        "hour",
        "hr_idx",
        "n1",
        "e1",
        F.sum("n1").over(w).cast("long").alias("n6"),
        F.sum("e1").over(w).cast("long").alias("e6"),
        F.count(F.lit(1)).over(w).alias("k6"),
        (F.col("hr_idx") - F.min("hr_idx").over(w)).alias("span"),
    )
    page = (
        (F.col("k6") == 6)
        & (F.col("span") == 5)
        & (F.col("e1") * 100 > F.col("n1"))
        & (F.col("e6") * 100 > F.col("n6"))
    )
    return f.select(
        "hour",
        "n1",
        "e1",
        F.round(F.col("e1").cast("double") * 100.0 / F.col("n1"), 6).alias(
            "burn_1h"
        ),
        F.round(F.col("e6").cast("double") * 100.0 / F.col("n6"), 6).alias(
            "burn_6h"
        ),
        F.when(page, 1).otherwise(0).cast("long").alias("page"),
    )


# --------------------------------------------------------------------------
# x185 — bot detection from inter-arrival regularity (machine-like cadence)
# --------------------------------------------------------------------------
# A human's event gaps are bursty (CV ≈ 1 for Poisson, usually higher);
# schedulers and crawlers tick with near-constant cadence (CV << 1). The
# flag is CV < 1/5 with ≥20 gaps — and since CV² = (n·Σg² − (Σg)²)/(Σg)²,
# the decision is the EXACT integer compare 25·(n·Σg² − (Σg)²) < (Σg)²,
# held in DECIMAL(38,0)/HUGEINT (gap² overflows BIGINT at day-scale gaps:
# (2.6e12 µs)² ≈ 6.7e24). Headroom note: (Σg)² stays under the 38-digit
# ceiling while Σg < 1e19 µs ≈ 300k user-years — not a real constraint.
# Only display columns (mean, cv) touch floats, pinned.

_BOT_ORACLE = """
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS tus,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS ptus
  FROM events
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(tus - ptus) AS HUGEINT) AS s1,
         SUM(CAST(tus - ptus AS HUGEINT) * (tus - ptus)) AS s2
  FROM seq WHERE ptus IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_gaps,
       ROUND(CAST(s1 AS DOUBLE) / n_gaps, 2) AS mean_gap_us,
       ROUND(sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE))
             / CAST(s1 AS DOUBLE), 6) AS cv,
       CAST(CASE WHEN n_gaps >= 20
                  AND 25 * (n_gaps * s2 - s1 * s1) < s1 * s1
            THEN 1 ELSE 0 END AS BIGINT) AS is_bot
FROM m
"""


@register("events_bot_regularity", oracle=_BOT_ORACLE)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x185: BOT DETECTION by cadence regularity — per user, the
    coefficient of variation of inter-arrival gaps; CV < 1/5 over ≥20
    gaps flags machine-like rhythm (module comment for the exact-integer
    decision form). The abuse/crawler filter a training-data events
    pipeline runs before any engagement metric — x101 reports the gap
    distribution, x120's entropy rate scores the SYMBOL stream; this row
    scores the CLOCK stream.

    100 TB: one per-user sort for LAG (the same shuffle x101 already
    pays — in production compute both in one pass), then a user-grain
    agg to three numbers; the flag epilogue is per-user O(1). The CV
    threshold and min-gap count are the knobs; both sit in exact integer
    space so retuning never touches float discipline."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    ).withColumn("ptus", F.lag("tus").over(w))
    gaps = seq.filter(F.col("ptus").isNotNull()).select(
        "user_id", (F.col("tus") - F.col("ptus")).alias("g")
    )
    m = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("g").cast("decimal(19,0)") * F.col("g")).alias("s2"),
    )
    n_dec = F.col("n_gaps").cast("decimal(38,0)")
    spread = n_dec * F.col("s2") - F.col("s1") * F.col("s1")
    return m.select(
        "user_id",
        "n_gaps",
        F.round(F.col("s1").cast("double") / F.col("n_gaps"), 2).alias(
            "mean_gap_us"
        ),
        F.round(
            F.sqrt(spread.cast("double")) / F.col("s1").cast("double"), 6
        ).alias("cv"),
        F.when(
            (F.col("n_gaps") >= 20) & (spread * 25 < F.col("s1") * F.col("s1")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_bot"),
    )


# --------------------------------------------------------------------------
# x188 — KPI-tree growth accounting (sequential-substitution decomposition)
# --------------------------------------------------------------------------
# revenue = U · (E/U) · (P/E) · (R/P): users × events-per-user ×
# purchase-share × revenue-per-purchase. The period-over-period revenue
# delta decomposes EXACTLY by sequential substitution (factors swapped
# old→new one at a time, in declared order): contribution_i =
# (Πⱼ≤ᵢ f²ⱼ)(Πⱼ>ᵢ f¹ⱼ) − (Πⱼ<ᵢ f²ⱼ)(Πⱼ≥ᵢ f¹ⱼ). The sum telescopes to
# rev₂ − rev₁ identically (the invariant test). All 8 inputs are exact
# BIGINTs; every factor and product is spelled with one pinned operand
# order on both engines, contributions rounded 6dp. (Order-dependence is
# inherent to sequential substitution — the declared order IS the
# contract; Shapley-symmetrizing over orders is x177's machinery.)

_KPI_CUTOFF = "2024-01-16"

_KPI_EPILOGUE = """
SELECT * FROM (
  SELECT 'users' AS factor,
         CAST(u1 AS DOUBLE) AS value_p1, CAST(u2 AS DOUBLE) AS value_p2,
         ROUND(((CAST(u2 AS DOUBLE)) - (CAST(u1 AS DOUBLE)))
               * ((CAST(e1 AS DOUBLE) / u1) * (CAST(p1 AS DOUBLE) / e1)
                  * (CAST(r1 AS DOUBLE) / p1 / 100.0)), 6) AS contribution
  FROM s
  UNION ALL
  SELECT 'events_per_user',
         ROUND(CAST(e1 AS DOUBLE) / u1, 6), ROUND(CAST(e2 AS DOUBLE) / u2, 6),
         ROUND((CAST(u2 AS DOUBLE))
               * ((CAST(e2 AS DOUBLE) / u2) - (CAST(e1 AS DOUBLE) / u1))
               * ((CAST(p1 AS DOUBLE) / e1) * (CAST(r1 AS DOUBLE) / p1 / 100.0)),
               6)
  FROM s
  UNION ALL
  SELECT 'purchase_share',
         ROUND(CAST(p1 AS DOUBLE) / e1, 6), ROUND(CAST(p2 AS DOUBLE) / e2, 6),
         ROUND(((CAST(u2 AS DOUBLE)) * (CAST(e2 AS DOUBLE) / u2))
               * ((CAST(p2 AS DOUBLE) / e2) - (CAST(p1 AS DOUBLE) / e1))
               * (CAST(r1 AS DOUBLE) / p1 / 100.0), 6)
  FROM s
  UNION ALL
  SELECT 'revenue_per_purchase',
         ROUND(CAST(r1 AS DOUBLE) / p1 / 100.0, 6),
         ROUND(CAST(r2 AS DOUBLE) / p2 / 100.0, 6),
         ROUND((((CAST(u2 AS DOUBLE)) * (CAST(e2 AS DOUBLE) / u2))
                * (CAST(p2 AS DOUBLE) / e2))
               * ((CAST(r2 AS DOUBLE) / p2 / 100.0)
                  - (CAST(r1 AS DOUBLE) / p1 / 100.0)), 6)
  FROM s
) t
"""

_KPI_ORACLE = f"""
WITH s AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{_KPI_CUTOFF}'
                             THEN user_id END) AS BIGINT) AS u1,
    CAST(COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '{_KPI_CUTOFF}'
                             THEN user_id END) AS BIGINT) AS u2,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '{_KPI_CUTOFF}' THEN 1 ELSE 0 END)
         AS BIGINT) AS e1,
    CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_KPI_CUTOFF}' THEN 1 ELSE 0 END)
         AS BIGINT) AS e2,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '{_KPI_CUTOFF}'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS p1,
    CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_KPI_CUTOFF}'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS p2,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '{_KPI_CUTOFF}'
                   AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS r1,
    CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_KPI_CUTOFF}'
                   AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS r2
  FROM events
)
{_KPI_EPILOGUE}
"""


@register("events_kpi_decompose", oracle=_KPI_ORACLE)
def events_kpi_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x188: KPI-TREE GROWTH ACCOUNTING — decompose the period-over-period
    revenue change into the four factors of revenue = users ×
    events/user × purchase-share × revenue/purchase by sequential
    substitution (module comment): each factor's contribution is the
    revenue delta from swapping that factor old→new with earlier factors
    already new and later ones still old. Contributions telescope to
    EXACTLY rev₂ − rev₁ — the growth-accounting identity every "why did
    revenue move" review meeting runs on; x164 ranks movers by segment,
    this row explains the topline through the metric tree.

    100 TB: ONE conditional global agg collapses the scan to 8 integers
    (map-combined; the two COUNT DISTINCTs expand to user grain — the
    same shuffle x160 pays); the 4-row epilogue is driver-free arithmetic
    on a single row."""
    ev = load_table(spark, sf_dir, "events")
    in1 = F.col("ts") < F.lit(_KPI_CUTOFF).cast("timestamp_ntz")
    in2 = ~in1
    is_p = F.col("event_type") == "purchase"
    cents = F.round(F.col("value") * 100).cast("long")
    s = ev.agg(
        F.countDistinct(F.when(in1, F.col("user_id"))).cast("long").alias("u1"),
        F.countDistinct(F.when(in2, F.col("user_id"))).cast("long").alias("u2"),
        F.sum(F.when(in1, 1).otherwise(0)).cast("long").alias("e1"),
        F.sum(F.when(in2, 1).otherwise(0)).cast("long").alias("e2"),
        F.sum(F.when(in1 & is_p, 1).otherwise(0)).cast("long").alias("p1"),
        F.sum(F.when(in2 & is_p, 1).otherwise(0)).cast("long").alias("p2"),
        F.sum(F.when(in1 & is_p, cents).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(in2 & is_p, cents).otherwise(0)).cast("long").alias("r2"),
    )
    s.createOrReplaceTempView("__kpi_s")
    return spark.sql(_KPI_EPILOGUE.replace("FROM s", "FROM __kpi_s"))


# --------------------------------------------------------------------------
# x194 — anomaly detection on the DESEASONALIZED series (composes x180)
# --------------------------------------------------------------------------
# x110 z-scores the raw series — a quiet Sunday reads as an anomaly. This
# row z-scores x180's RESIDUAL (trend and weekday cycle removed), which is
# the signal ops actually wants paged on. Float discipline: the residual
# is pinned to integer MICRO-DOLLARS (one identically-spelled double chain,
# then ROUND·1e6 → BIGINT), so the z moments are exact and the flag is the
# integer compare (r·n − S1)² > 9·(n·S2 − S1²) in DECIMAL/HUGEINT — the
# 3σ verdict can't flip on a ulp.

_ANOM_DS_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         strftime(date_trunc('day', ts), '%a') AS weekday,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
f AS (
  SELECT day, weekday, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS n7,
         date_diff('day', MIN(day) OVER w, MAX(day) OVER w) AS span
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
v AS (SELECT * FROM f WHERE n7 = 7 AND span = 6),
s AS (
  SELECT weekday,
         ROUND(CAST(SUM(cents * 7 - s7) AS DOUBLE)
               / (700.0 * COUNT(*)), 6) AS seasonal
  FROM v GROUP BY weekday
),
r AS (
  SELECT v.day, v.cents,
         CAST(ROUND((CAST(v.cents * 7 - v.s7 AS DOUBLE) / 700.0 - s.seasonal)
                    * 1000000) AS BIGINT) AS ru
  FROM v JOIN s ON v.weekday = s.weekday
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ru) AS HUGEINT) AS s1,
         SUM(CAST(ru AS HUGEINT) * ru) AS s2
  FROM r
)
SELECT strftime(r.day, '%Y-%m-%d') AS day,
       ROUND(r.cents / 100.0, 2) AS revenue,
       ROUND(r.ru / 1000000.0, 6) AS residual,
       ROUND(CAST(r.ru * m.n - m.s1 AS DOUBLE)
             / sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)), 6) AS z,
       CAST(CASE WHEN (r.ru * m.n - m.s1) * (r.ru * m.n - m.s1)
                      > 9 * (m.n * m.s2 - m.s1 * m.s1)
            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM r CROSS JOIN m
"""


@register("ts_anomaly_deseasonal", oracle=_ANOM_DS_ORACLE)
def ts_anomaly_deseasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x194: 3σ ANOMALY detection on the deseasonalized daily revenue —
    x180's residual (trend + weekday cycle removed) z-scored with exact
    integer moments and an integer 3σ verdict (module comment). The
    composition x180 exists to enable: x110 pages on raw level (weekend
    dips false-positive), x186 pages on budget burn, this row pages on
    "unusual FOR this trend and weekday".

    100 TB: x180's plan (day agg + one frame window + 7-row seasonal
    join) plus a 3-number global reduce broadcast back — nothing new
    shuffles at row scale."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_format(F.date_trunc("day", "ts"), "E").alias("weekday"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    f = d.select(
        "day",
        "weekday",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
        F.datediff(F.max("day").over(w), F.min("day").over(w)).alias("span"),
    )
    v = f.filter((F.col("n7") == 7) & (F.col("span") == 6))
    s = v.groupBy("weekday").agg(
        F.round(
            F.sum(F.col("cents") * 7 - F.col("s7")).cast("double")
            / (700.0 * F.count(F.lit(1))),
            6,
        ).alias("seasonal")
    )
    r = v.join(F.broadcast(s), "weekday").select(
        "day",
        "cents",
        F.round(
            (
                (F.col("cents") * 7 - F.col("s7")).cast("double") / 700.0
                - F.col("seasonal")
            )
            * 1000000
        )
        .cast("long")
        .alias("ru"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ru").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("ru").cast("decimal(19,0)") * F.col("ru")).alias("s2"),
    )
    j = r.crossJoin(F.broadcast(m))
    dev = F.col("ru").cast("decimal(38,0)") * F.col("n") - F.col("s1")
    spread = F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s1") * F.col(
        "s1"
    )
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("ru") / 1000000.0, 6).alias("residual"),
        F.round(dev.cast("double") / F.sqrt(spread.cast("double")), 6).alias("z"),
        F.when(dev * dev > spread * 9, 1).otherwise(0).cast("long").alias(
            "is_anomaly"
        ),
    )


# --------------------------------------------------------------------------
# x199 — one-way ANOVA across weekdays (does the weekly cycle EXIST?)
# --------------------------------------------------------------------------
# F = (SSB/(k−1)) / (SSW/(N−k)) over daily revenue grouped by weekday.
# Summation-order discipline: SSB needs Σⱼ Sⱼ²/nⱼ — a sum of SEVEN doubles,
# whose order a groupBy would leave to the engine. Both sides therefore
# PIVOT to one row with a named column per weekday and add the seven terms
# in literal Mon..Sun order — identical operand order, identical bits.
# Day sums/squares are exact integers (DECIMAL for the squares).

_ANOVA_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_ANOVA_F_CRIT = 2.099  # F(6, inf) upper 5% — pinned constant

_ANOVA_ORACLE = (
    """
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%a') AS wd,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY date_trunc('day', ts)
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q,
         CAST(SUM(cents) AS HUGEINT) AS s,
"""
    + ",\n".join(
        f"         CAST(SUM(CASE WHEN wd = '{w}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{w},\n"
        f"         CAST(SUM(CASE WHEN wd = '{w}' THEN cents ELSE 0 END)"
        f" AS HUGEINT) AS s_{w}"
        for w in _ANOVA_DAYS
    )
    + """
  FROM d
),
f AS (
  SELECT n_days,
         ("""
    + "\n          + ".join(
        f"CAST(s_{w} * s_{w} AS DOUBLE) / n_{w}" for w in _ANOVA_DAYS
    )
    + """)
           AS sum_sq_over_n,
         CAST(q AS DOUBLE) AS qd,
         CAST(s * s AS DOUBLE) / n_days AS grand_term
  FROM p
)
SELECT n_days,
       ROUND(((sum_sq_over_n - grand_term) / 6)
             / ((qd - sum_sq_over_n) / (n_days - 7)), 6) AS f_stat,
       CAST(6 AS BIGINT) AS df1, CAST(n_days - 7 AS BIGINT) AS df2,
       CAST(ROUND(((sum_sq_over_n - grand_term) / 6)
             / ((qd - sum_sq_over_n) / (n_days - 7)), 6) > 2.099 AS BOOLEAN)
         AS significant_05
FROM f
"""
)


@register("events_anova_weekday", oracle=_ANOVA_ORACLE)
def events_anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x199: one-way ANOVA of daily revenue across weekdays — the
    significance test x167's seasonal INDEX and x180's seasonal COMPONENT
    presuppose: is the weekly cycle real, or noise? F from exact integer
    day sums/squares; the seven Sⱼ²/nⱼ terms add in literal Mon..Sun
    order on both engines (module comment — a groupBy sum of 7 doubles
    would leave the order to the engine). Verdict vs the pinned
    F(6,∞) 5% critical {_ANOVA_F_CRIT} on the 6dp-rounded statistic.

    Assumes every weekday observed ≥1 day (guaranteed by ≥1 full week of
    data — x180's validity horizon); missing weekdays would need the
    NULLIF guard x175 documents.

    100 TB: day-grain agg, then ONE conditional pivot agg to 16 numbers
    and a 1-row epilogue — the x126 shape with a 7-level factor."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    ).select(F.date_format("day", "E").alias("wd"), "cents")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents")).alias("q"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
    ]
    for w in _ANOVA_DAYS:
        aggs.append(
            F.sum(F.when(F.col("wd") == w, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{w}")
        )
        aggs.append(
            F.sum(F.when(F.col("wd") == w, F.col("cents")).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"s_{w}")
        )
    p = d.agg(*aggs)
    term = lambda w: (  # noqa: E731
        (F.col(f"s_{w}") * F.col(f"s_{w}")).cast("double") / F.col(f"n_{w}")
    )
    sum_sq = term(_ANOVA_DAYS[0])
    for w in _ANOVA_DAYS[1:]:
        sum_sq = sum_sq + term(w)
    qd = F.col("q").cast("double")
    grand = (F.col("s") * F.col("s")).cast("double") / F.col("n_days")
    f_stat = F.round(
        ((sum_sq - grand) / 6) / ((qd - sum_sq) / (F.col("n_days") - 7)), 6
    )
    return p.select(
        "n_days",
        f_stat.alias("f_stat"),
        F.lit(6).cast("long").alias("df1"),
        (F.col("n_days") - 7).cast("long").alias("df2"),
        (f_stat > _ANOVA_F_CRIT).alias("significant_05"),
    )


# --------------------------------------------------------------------------
# x200 — experiment POWER ANALYSIS (the planning step of the A/B suite)
# --------------------------------------------------------------------------
# Standard two-proportion sample size: n/arm = (z_{α/2} + z_β)² · 2·p(1−p)
# / δ², with α=0.05, power 80%, δ = 20% relative MDE. The z constants are
# PINNED LITERALS (1.959964, 0.841621) — inverse-normal is not correctly
# rounded cross-libm (trap #18), so it never runs at query time. p comes
# from exact integer counts; the whole epilogue is one identically-
# parenthesized expression; CEIL is exact on doubles (DuckDB returns
# DOUBLE, Spark LONG — both cast to BIGINT, the verify-skill gotcha).

_POWER_Z_SUM_SQ = "(1.959964 + 0.841621) * (1.959964 + 0.841621)"

_POWER_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_conv
  FROM u
),
c AS (
  SELECT n_users, n_conv,
         CAST(n_conv AS DOUBLE) / n_users AS p
  FROM s
)
SELECT n_users, n_conv, ROUND(p, 6) AS p_baseline,
       ROUND(0.2 * p, 6) AS mde_abs,
       CAST(CEIL({_POWER_Z_SUM_SQ} * (2.0 * (p * (1.0 - p)))
                 / ((0.2 * p) * (0.2 * p))) AS BIGINT) AS n_per_arm,
       CAST(2 * CEIL({_POWER_Z_SUM_SQ} * (2.0 * (p * (1.0 - p)))
                 / ((0.2 * p) * (0.2 * p))) AS BIGINT) AS n_total,
       CAST(CAST(2 * CEIL({_POWER_Z_SUM_SQ} * (2.0 * (p * (1.0 - p)))
                 / ((0.2 * p) * (0.2 * p))) AS BIGINT) <= n_users
            AS BOOLEAN) AS feasible_now
FROM c
"""


@register("events_power_analysis", oracle=_POWER_ORACLE)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x200: POWER ANALYSIS — the required per-arm sample size to detect a
    20% relative lift in the purchase-conversion rate at α=0.05 / 80%
    power, from the corpus's own baseline rate. The PLANNING step the
    rest of the experiment suite presupposes (x126/x144/x151/x159/x175
    analyze; this row says whether the experiment is even runnable —
    feasible_now compares the need against the observed user pool).

    z constants pinned as literals (no inverse-normal at query time —
    trap #18); p from exact integer counts; one-expression epilogue
    (module comment).

    100 TB: a user-grain agg and a 1-row epilogue — the cheapest query in
    the registry, and the one that should run FIRST."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    p = F.col("n_conv").cast("double") / F.col("n_users")
    zsq = (F.lit(1.959964) + F.lit(0.841621)) * (
        F.lit(1.959964) + F.lit(0.841621)
    )
    n_arm = F.ceil(
        zsq * (2.0 * (p * (1.0 - p))) / ((0.2 * p) * (0.2 * p))
    ).cast("long")
    return s.select(
        "n_users",
        "n_conv",
        F.round(p, 6).alias("p_baseline"),
        F.round(0.2 * p, 6).alias("mde_abs"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2).alias("n_total"),
        (n_arm * 2 <= F.col("n_users")).alias("feasible_now"),
    )


# --------------------------------------------------------------------------
# x202 — Markov next-event predictor evaluation (in-sample top-1 accuracy)
# --------------------------------------------------------------------------

_MKEVAL_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
),
tr AS (
  SELECT event_type AS prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt
),
best AS (
  SELECT prev, nxt AS predicted, c AS n_correct,
         CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS n_total,
         ROW_NUMBER() OVER (PARTITION BY prev ORDER BY c DESC, nxt) AS rk
  FROM tr
)
SELECT prev, predicted, n_correct, n_total,
       ROUND(CAST(n_correct AS DOUBLE) / n_total, 6) AS accuracy
FROM best WHERE rk = 1
"""


@register("events_markov_eval", oracle=_MKEVAL_ORACLE)
def events_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x202: evaluate the x165 MARKOV chain as a next-event PREDICTOR —
    per previous event type: the argmax next type (ties lexicographic),
    how often it is right (in-sample top-1 accuracy = max count / row
    total, all exact integers). The model-eval step that decides whether
    the transition matrix is WORTH shipping as a predictor: accuracy at
    the majority-class baseline means the chain memorized the marginal,
    not the dynamics (x120's entropy rate is the information-theoretic
    twin of this readout).

    100 TB: x165's per-user LEAD sort + a |types|² agg, then a rank
    window over |types|² rows — epilogue-free, all integer until the one
    display ratio."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.groupBy(F.col("event_type").alias("prev"), "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wt = Window.partitionBy("prev")
    wr = Window.partitionBy("prev").orderBy(F.col("c").desc(), "nxt")
    best = tr.select(
        "prev",
        F.col("nxt").alias("predicted"),
        F.col("c").alias("n_correct"),
        F.sum("c").over(wt).cast("long").alias("n_total"),
        F.row_number().over(wr).alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        "prev",
        "predicted",
        "n_correct",
        "n_total",
        F.round(F.col("n_correct").cast("double") / F.col("n_total"), 6).alias(
            "accuracy"
        ),
    )


# --------------------------------------------------------------------------
# x203 — RFM segment MIGRATION matrix (period-over-period CRM flow)
# --------------------------------------------------------------------------

_RFM_MIG_CUTOFF = "1998-05-01"


def _rfm_mig_period_sql(name: str, where: str) -> str:
    return f"""
{name} AS (
  SELECT custkey,
         CASE WHEN r_q = 4 AND f_q = 4 AND m_q = 4 THEN 'champion'
              WHEN r_q <= 2 AND f_q >= 3 THEN 'at_risk_loyal'
              WHEN r_q >= 3 AND f_q <= 2 THEN 'new_or_promising'
              ELSE 'regular' END AS segment
  FROM (
    SELECT custkey,
           ntile(4) OVER (ORDER BY recency_days DESC, custkey) AS r_q,
           ntile(4) OVER (ORDER BY frequency ASC, custkey) AS f_q,
           ntile(4) OVER (ORDER BY monetary ASC, custkey) AS m_q
    FROM (
      SELECT custkey,
             date_diff('day', last_order, MAX(last_order) OVER ())
               AS recency_days,
             frequency, monetary
      FROM (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders WHERE {where} GROUP BY 1
      )
    )
  )
)"""


_RFM_MIG_ORACLE = (
    "WITH "
    + _rfm_mig_period_sql(
        "p1", f"o_orderdate < TIMESTAMP '{_RFM_MIG_CUTOFF}'"
    ).lstrip()
    + ","
    + _rfm_mig_period_sql("p2", f"o_orderdate >= TIMESTAMP '{_RFM_MIG_CUTOFF}'")
    + """
SELECT p1.segment AS segment_p1, p2.segment AS segment_p2,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM p1 JOIN p2 ON p1.custkey = p2.custkey
GROUP BY 1, 2
"""
)


@register("rfm_migration", oracle=_RFM_MIG_ORACLE)
def rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x203: RFM segment MIGRATION matrix — score every customer with
    x68's RFM segmentation INDEPENDENTLY in two periods (orders before /
    after {_RFM_MIG_CUTOFF}, each with its own data-derived recency
    anchor and its own quartile frame — segments are cohort-relative by
    design) and count the (segment_p1 → segment_p2) flows for customers
    active in both. The CRM flow view x68's snapshot cannot give:
    champions→regular is silent churn-in-progress; x130's churn flags
    are the binary edge of this matrix.

    Determinism inherits x68's contract (2dp-pinned monetary ordering,
    custkey tie-breaks).

    100 TB: two filtered customer-grain aggs (partition-pruned on the
    date), each with x68's ntile note (swap for broadcast percentile
    cutoffs at billions of customers), one customer-keyed hash join,
    ≤16-row output."""
    orders = load_table(spark, sf_dir, "orders")

    def segment(sub: DataFrame, out: str) -> DataFrame:
        cust = sub.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        scored = cust.select(
            "custkey",
            F.datediff(
                F.max("last_order").over(Window.partitionBy()),
                F.col("last_order"),
            ).alias("recency_days"),
            "frequency",
            "monetary",
        )
        ranked = scored.select(
            "custkey",
            F.ntile(4)
            .over(Window.orderBy(F.col("recency_days").desc(), "custkey"))
            .alias("r_q"),
            F.ntile(4)
            .over(Window.orderBy(F.col("frequency").asc(), "custkey"))
            .alias("f_q"),
            F.ntile(4)
            .over(Window.orderBy(F.col("monetary").asc(), "custkey"))
            .alias("m_q"),
        )
        seg = (
            F.when(
                (F.col("r_q") == 4) & (F.col("f_q") == 4) & (F.col("m_q") == 4),
                "champion",
            )
            .when((F.col("r_q") <= 2) & (F.col("f_q") >= 3), "at_risk_loyal")
            .when((F.col("r_q") >= 3) & (F.col("f_q") <= 2), "new_or_promising")
            .otherwise("regular")
        )
        return ranked.select("custkey", seg.alias(out))

    cutoff = F.lit(_RFM_MIG_CUTOFF).cast("timestamp_ntz")
    p1 = segment(orders.filter(F.col("o_orderdate") < cutoff), "segment_p1")
    p2 = segment(orders.filter(F.col("o_orderdate") >= cutoff), "segment_p2")
    return (
        p1.join(p2, "custkey")
        .groupBy("segment_p1", "segment_p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# x205 — sample-ratio-mismatch (SRM) guard for the hash split
# --------------------------------------------------------------------------

_SRM_ORACLE = """
WITH u AS (
  SELECT DISTINCT user_id,
         ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant
  FROM events
),
c AS (
  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM u
)
SELECT n_a, n_b,
       ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
         AS chi2_srm,
       CAST(CASE WHEN ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                            / (n_a + n_b), 6) > 3.841459
            THEN 1 ELSE 0 END AS BIGINT) AS srm_detected
FROM c
"""


@register("events_ab_srm", oracle=_SRM_ORACLE)
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x205: SAMPLE-RATIO-MISMATCH guard — chi-square goodness-of-fit of
    the observed arm sizes against the designed 50/50 split; for two
    equal-probability cells the statistic collapses to (n_a−n_b)²/N with
    an exact-integer numerator. SRM is the first gate an experiment
    readout must pass: a detected mismatch means the assignment or
    logging is broken and EVERY downstream statistic
    (x126/x144/x151/x159/x175) is invalid — which is why this row exists
    separately from them. Same pinned df=1 critical value as x175.

    100 TB: one user-grain distinct + a 2-integer global reduce."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.select("user_id").distinct().select(variant.alias("variant"))
    c = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    diff = F.col("n_a") - F.col("n_b")
    chi2 = F.round(
        (diff * diff).cast("double") / (F.col("n_a") + F.col("n_b")), 6
    )
    return c.select(
        "n_a",
        "n_b",
        chi2.alias("chi2_srm"),
        F.when(chi2 > 3.841459, 1).otherwise(0).cast("long").alias(
            "srm_detected"
        ),
    )


# --------------------------------------------------------------------------
# x207 — win-back list: customers overdue vs their OWN ordering cadence
# --------------------------------------------------------------------------
# A customer is "overdue" when the time since their last order exceeds
# 2× their own median inter-order gap — cadence-relative, so a weekly
# buyer is flagged after a fortnight while an annual buyer isn't flagged
# for 23 months. Gaps are exact integer DAYS; the median is the DISCRETE
# lower median (element at rank ⌈n/2⌉ — x129's device, no interpolation,
# so it stays an integer and the 2× compare is exact). Snapshot = the
# data's own max order date (no wall clock).

_WINBACK_ORACLE = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         LAG(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pd
  FROM orders
),
g AS (
  SELECT o_custkey, date_diff('day', pd, d) AS gap
  FROM o WHERE pd IS NOT NULL
),
med AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(MIN(CASE WHEN rk = (cnt + 1) // 2 THEN gap END) AS BIGINT)
           AS median_gap
  FROM (
    SELECT o_custkey, gap,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY gap) AS rk,
           COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
    FROM g
  ) GROUP BY o_custkey
),
last_o AS (
  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
),
snap AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS s FROM orders)
SELECT m.o_custkey AS custkey, m.n_gaps, m.median_gap,
       CAST(date_diff('day', l.last_d, (SELECT s FROM snap)) AS BIGINT)
         AS days_since_last
FROM med m JOIN last_o l ON l.o_custkey = m.o_custkey
WHERE m.n_gaps >= 3
  AND date_diff('day', l.last_d, (SELECT s FROM snap)) > 2 * m.median_gap
"""


@register("customers_winback", oracle=_WINBACK_ORACLE)
def customers_winback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x207: WIN-BACK list — customers whose silence exceeds 2× their OWN
    median inter-order gap (≥3 observed gaps so the median means
    something): the CRM action list x130's fixed-horizon churn flags
    approximate and x203's migration matrix aggregates. Cadence-relative
    thresholds are the point — absolute-recency lists over-page annual
    buyers and miss lapsed weekly ones.

    Exactness per the module comment: integer day gaps, discrete lower
    median, integer 2× compare — no float anywhere.

    100 TB: one per-customer LAG sort (shared shape with x101), a rank
    window on the collapsed gap table, a customer-keyed join, and the
    1-row snapshot broadcast. Output is the actionable tail, orders of
    magnitude smaller than the base."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.lag(F.col("o_orderdate").cast("date")).over(w).alias("pd"),
    )
    g = o.filter(F.col("pd").isNotNull()).select(
        "o_custkey", F.datediff("d", "pd").alias("gap")
    )
    wr = Window.partitionBy("o_custkey").orderBy("gap")
    wc = Window.partitionBy("o_custkey")
    med = (
        g.select(
            "o_custkey",
            "gap",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min(
                F.when(
                    F.col("rk") == ((F.col("cnt") + 1) / 2).cast("long"),
                    F.col("gap"),
                )
            )
            .cast("long")
            .alias("median_gap"),
        )
    )
    last_o = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d")
    )
    snap = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("s"))
    j = (
        med.join(last_o, "o_custkey")
        .crossJoin(F.broadcast(snap))
        .select(
            F.col("o_custkey").alias("custkey"),
            "n_gaps",
            "median_gap",
            F.datediff("s", "last_d").cast("long").alias("days_since_last"),
        )
    )
    return j.filter(
        (F.col("n_gaps") >= 3)
        & (F.col("days_since_last") > 2 * F.col("median_gap"))
    )


# --------------------------------------------------------------------------
# x211 — weekly active share with WILSON 95% CI
# --------------------------------------------------------------------------
# Wilson score interval: (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
# — the interval that behaves at small n and extreme p̂ where the naive
# Wald CI collapses. z pinned at 1.959964 (trap #18: no inverse-normal at
# query time); p̂ from exact integers; the whole epilogue is one
# identically-parenthesized expression per bound (sqrt is correctly
# rounded, so identical operands ⇒ identical bits).

_WILSON_Z = 1.959964

_WAU_CI_ORACLE = f"""
WITH base AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
              FROM events),
wk AS (
  SELECT date_trunc('week', ts) AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM events GROUP BY 1
),
c AS (
  SELECT strftime(week, '%Y-%m-%d') AS week_start, n_active, b.n_total,
         CAST(n_active AS DOUBLE) / b.n_total AS p
  FROM wk CROSS JOIN base b
)
SELECT week_start, n_active, n_total, ROUND(p, 6) AS active_share,
       ROUND((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n_total)
              - {_WILSON_Z} * sqrt(p * (1.0 - p) / n_total
                  + {_WILSON_Z} * {_WILSON_Z}
                    / (4.0 * n_total * n_total)))
             / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n_total), 6) AS ci_lo,
       ROUND((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n_total)
              + {_WILSON_Z} * sqrt(p * (1.0 - p) / n_total
                  + {_WILSON_Z} * {_WILSON_Z}
                    / (4.0 * n_total * n_total)))
             / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n_total), 6) AS ci_hi
FROM c
"""


@register("events_wau_wilson_ci", oracle=_WAU_CI_ORACLE)
def events_wau_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x211: weekly-active SHARE with a WILSON 95% CI — the engagement
    trend x73's raw DAU/WAU counts give, upgraded with the uncertainty
    band a dashboard needs before anyone reads week-over-week wiggles as
    signal (the Wald interval misbehaves exactly where small cohorts
    make the wiggles biggest — module comment). Denominator = the
    all-time distinct-user base, so the share is comparable across weeks.

    100 TB: one user-grain distinct for the base, one (week, user)
    distinct expand for the numerators, a 1-row broadcast cross, and a
    per-week O(1) epilogue. Swap the exact distincts for x21's HLL
    partials when user counts stop fitting exact aggregation budgets."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(F.countDistinct("user_id").cast("long").alias("n_total"))
    wk = ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    z = F.lit(_WILSON_Z)
    c = wk.crossJoin(F.broadcast(base))
    p = F.col("n_active").cast("double") / F.col("n_total")
    n = F.col("n_total")
    half = z * F.sqrt(
        p * (1.0 - p) / n + z * z / (4.0 * n.cast("double") * n.cast("double"))
    )
    center = p + z * z / (2.0 * n)
    denom = 1.0 + z * z / n
    return c.select(
        F.date_format("week", "yyyy-MM-dd").alias("week_start"),
        "n_active",
        "n_total",
        F.round(p, 6).alias("active_share"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# x217 — group-sequential A/B readout (5 looks, O'Brien-Fleming boundaries)
# --------------------------------------------------------------------------
# Peeking at an experiment daily inflates false positives unless each
# interim look pays a corrected critical value. The five OBF z-boundaries
# for equally-spaced looks at overall α=0.05 are PINNED LITERALS
# (4.8769, 3.3569, 2.6803, 2.2898, 2.0310 — Jennison & Turnbull Table
# 2.3-style; no normal quantile runs at query time, trap #18). Look k's
# population is the users ENROLLED by its cutoff (first event before it),
# metric = purchases so far; z is x126's Welch statistic on exact
# cumulative integer moments, computed per look from ONE conditional agg.

_SEQ_LOOKS = 5
_SEQ_OBF = (4.8769, 3.3569, 2.6803, 2.2898, 2.0310)
_SEQ_SPAN_START = "2024-01-01"
_SEQ_SPAN_DAYS = 30  # looks at day 6, 12, 18, 24, 30


def _seq_cutoffs():
    import datetime

    t0 = datetime.datetime.fromisoformat(_SEQ_SPAN_START)
    step = _SEQ_SPAN_DAYS // _SEQ_LOOKS
    return [
        (t0 + datetime.timedelta(days=step * (k + 1))).isoformat(sep=" ")
        for k in range(_SEQ_LOOKS)
    ]


def _seq_oracle() -> str:
    cuts = _seq_cutoffs()
    user_cols = ",\n".join(
        f"""         CAST(SUM(CASE WHEN ts < TIMESTAMP '{c}'
              AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS x{k + 1},
         MAX(CASE WHEN ts < TIMESTAMP '{c}' THEN 1 ELSE 0 END) AS e{k + 1}"""
        for k, c in enumerate(cuts)
    )
    look_rows = []
    for k in range(_SEQ_LOOKS):
        i = k + 1
        row = f"""
SELECT {i} AS look,
       CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b,
       ROUND((CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i}
                       ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END)
            - CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i}
                       ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END))
         / sqrt(
             ((CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i} * x{i}
                        ELSE 0 END) AS DOUBLE)
               - (CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i}
                          ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END))
                 * SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i} ELSE 0 END))
              / (SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END) - 1))
             / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END)
           + ((CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i} * x{i}
                        ELSE 0 END) AS DOUBLE)
               - (CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i}
                          ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END))
                 * SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i} ELSE 0 END))
              / (SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END) - 1))
             / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END)), 6)
         AS z,
       {_SEQ_OBF[k]} AS boundary,
       CAST(CASE WHEN abs(ROUND((CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1
                       THEN x{i} ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END)
            - CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i}
                       ELSE 0 END) AS DOUBLE)
              / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END))
         / sqrt(
             ((CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i} * x{i}
                        ELSE 0 END) AS DOUBLE)
               - (CAST(SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i}
                          ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END))
                 * SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN x{i} ELSE 0 END))
              / (SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END) - 1))
             / SUM(CASE WHEN variant = 0 AND e{i} = 1 THEN 1 ELSE 0 END)
           + ((CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i} * x{i}
                        ELSE 0 END) AS DOUBLE)
               - (CAST(SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i}
                          ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END))
                 * SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN x{i} ELSE 0 END))
              / (SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END) - 1))
             / SUM(CASE WHEN variant = 1 AND e{i} = 1 THEN 1 ELSE 0 END)), 6))
               > {_SEQ_OBF[k]}
            THEN 1 ELSE 0 END AS BIGINT) AS crossed
FROM u"""
        # Degenerate-arm guard, mirrored from the Spark side: NULLIF every
        # n and n-1 division denominator (NOT the bare n_a/n_b selects).
        # The "- 1" pattern must rewrite first or the plain-n replace would
        # capture its inner SUM.
        for v in (0, 1):
            n_sum = f"SUM(CASE WHEN variant = {v} AND e{i} = 1 THEN 1 ELSE 0 END)"
            row = row.replace(f"/ ({n_sum} - 1)", f"/ NULLIF({n_sum} - 1, 0)")
            row = row.replace(f"/ {n_sum}", f"/ NULLIF({n_sum}, 0)")
        look_rows.append(row)
    return (
        f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 3))
           ::BIGINT % 2 AS variant,
{user_cols}
  FROM events GROUP BY user_id
)
"""
        + "\nUNION ALL".join(look_rows)
    )


@register("events_ab_sequential_looks", oracle=_seq_oracle())
def events_ab_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x217: GROUP-SEQUENTIAL A/B readout — the Welch z at {_SEQ_LOOKS}
    equally-spaced interim looks, each compared against its pinned
    O'Brien-Fleming boundary: the peeking-corrected monitoring table that
    lets an experiment stop early for a real effect WITHOUT inflating
    α (naive daily peeking at 1.96 roughly doubles the false-positive
    rate). Completes the experiment suite's time axis: x200 plans, x205
    gates assignment, x126/x175 read out once, THIS row reads out
    continuously.

    Look k's population = users enrolled (first event) before its cutoff;
    metric = cumulative purchases; moments exact integers; boundaries are
    pinned literals (module comment). The Spark side computes all looks
    from ONE user-grain conditional agg + a 5-row stack — the oracle
    unrolls the same algebra per look.

    100 TB: one user-grain agg (the same shuffle every readout pays),
    a 1-row reduce carrying 5×6 integers, and a constant epilogue."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 3
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    cuts = _seq_cutoffs()
    user_aggs = []
    for k, c in enumerate(cuts):
        cutoff = F.lit(c).cast("timestamp_ntz")
        user_aggs.append(
            F.sum(
                F.when(
                    (F.col("ts") < cutoff) & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"x{k + 1}")
        )
        user_aggs.append(
            F.max(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias(f"e{k + 1}")
        )
    u = ev.groupBy("user_id").agg(*user_aggs).select(
        variant.alias("variant"), *[c for k in range(_SEQ_LOOKS) for c in (f"x{k + 1}", f"e{k + 1}")]
    )
    moments = []
    for k in range(_SEQ_LOOKS):
        i = k + 1
        for arm in (0, 1):
            tag = "a" if arm == 0 else "b"
            cond = (F.col("variant") == arm) & (F.col(f"e{i}") == 1)
            moments.append(
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{tag}{i}")
            )
            moments.append(
                F.sum(F.when(cond, F.col(f"x{i}")).otherwise(0))
                .cast("long")
                .alias(f"sx_{tag}{i}")
            )
            moments.append(
                F.sum(F.when(cond, F.col(f"x{i}") * F.col(f"x{i}")).otherwise(0))
                .cast("long")
                .alias(f"sxx_{tag}{i}")
            )
    m = u.agg(*moments)

    def z_expr(i: int):
        # Degenerate-arm guard (ADVICE r6): an arm with 0 or 1 enrolled
        # users at a look would divide by zero; NULLIF-ing n and n-1 on
        # BOTH engines pins the edge to z = NULL → crossed = 0 (CASE/when
        # null-condition semantics agree), instead of engine-specific
        # inf/NaN behavior. Same pattern as x175's margin guard.
        na, nb = F.col(f"n_a{i}"), F.col(f"n_b{i}")
        na_g, nb_g = F.nullif(na, F.lit(0)), F.nullif(nb, F.lit(0))
        na1_g = F.nullif(na - 1, F.lit(0))
        nb1_g = F.nullif(nb - 1, F.lit(0))
        sxa, sxb = F.col(f"sx_a{i}"), F.col(f"sx_b{i}")
        sxxa, sxxb = F.col(f"sxx_a{i}"), F.col(f"sxx_b{i}")
        mean_a = sxa.cast("double") / na_g
        mean_b = sxb.cast("double") / nb_g
        var_a = ((sxxa.cast("double") - mean_a * sxa) / na1_g) / na_g
        var_b = ((sxxb.cast("double") - mean_b * sxb) / nb1_g) / nb_g
        return F.round((mean_a - mean_b) / F.sqrt(var_a + var_b), 6)

    cols = []
    for k in range(_SEQ_LOOKS):
        i = k + 1
        z = z_expr(i)
        cols.append(F.col(f"n_a{i}"))
        cols.append(F.col(f"n_b{i}"))
        cols.append(z.alias(f"z{i}"))
        cols.append(
            F.when(F.abs(z) > _SEQ_OBF[k], 1).otherwise(0).cast("long").alias(f"c{i}")
        )
    wide = m.select(*cols)
    stack_args = ", ".join(
        f"{k + 1}L, n_a{k + 1}, n_b{k + 1}, z{k + 1}, "
        f"CAST({_SEQ_OBF[k]} AS DOUBLE), c{k + 1}"
        for k in range(_SEQ_LOOKS)
    )
    return wide.selectExpr(
        f"stack({_SEQ_LOOKS}, {stack_args}) "
        "as (look, n_a, n_b, z, boundary, crossed)"
    )


# --------------------------------------------------------------------------
# x222 — daily peak session concurrency (interval sweep-line)
# --------------------------------------------------------------------------

_CONC_GAP_US = 1_800_000_000  # 30-min session gap, same as x58/st3
_US_PER_DAY = 86_400_000_000

_CONC_ORACLE = f"""
WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
flag AS (
  SELECT user_id, ts_us,
         CASE WHEN LAG(ts_us) OVER w IS NULL
                OR ts_us - LAG(ts_us) OVER w > {_CONC_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sess AS (
  SELECT user_id, ts_us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flag
),
iv AS (
  SELECT user_id, sid, MIN(ts_us) AS s, MAX(ts_us) AS e
  FROM sess GROUP BY user_id, sid
),
seg AS (
  SELECT user_id, s, e, d.day
  FROM iv, UNNEST(generate_series(s // {_US_PER_DAY}, e // {_US_PER_DAY}))
            AS d(day)
),
pts AS (
  SELECT day, GREATEST(s, day * {_US_PER_DAY}) AS t, 1 AS delta, user_id, s
  FROM seg
  UNION ALL
  SELECT day, LEAST(e, (day + 1) * {_US_PER_DAY} - 1) + 1 AS t, -1 AS delta,
         user_id, s
  FROM seg
),
run AS (
  SELECT day, delta,
         SUM(delta) OVER (PARTITION BY day
                          ORDER BY t, delta, user_id, s
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT day AS day_idx,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM run GROUP BY day
"""


@register("events_peak_concurrency", oracle=_CONC_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x222: DAILY PEAK CONCURRENCY — the max number of user sessions
    simultaneously open at any instant of each day, the capacity-planning
    number behind connection pools, seat licensing, and autoscaling floors.
    Sessions are x58's 30-minute-gap islands; concurrency is the classic
    sweep-line: +1 at session start, -1 just after session end, running
    sum, max. A session active at instant t satisfies s <= t <= e, so the
    -1 lands at e+1 and SORTS BEFORE ties' +1s (delta ASC): a session
    ending at t-1 and one starting at t never double-count, and every
    intermediate running value is a true instantaneous concurrency.

    Sessions that cross midnight are SPLIT into per-day segments first
    (explode of the spanned day range), which is what makes the sweep
    PARTITIONABLE: each day's window sees exactly the sessions that touch
    it (a cross-midnight session is counted open-at-day-start via its
    clipped segment), so no carry-in prefix pass is needed — the textbook
    parallel-scan decomposition of a global sweep. All arithmetic is
    integer epoch-microseconds; day_idx is the epoch-day integer.

    100 TB: shuffle 1 on user_id (sessionize + interval agg, one exchange
    reused), shuffle 2 on day (sweep windows) — per-day point volume is
    2x the day's session count, and a pathological single hot day salts
    like any skewed window key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        ev.select(
            "user_id",
            "ts_us",
            F.when(
                F.lag("ts_us").over(w).isNull()
                | (F.col("ts_us") - F.lag("ts_us").over(w) > _CONC_GAP_US),
                1,
            )
            .otherwise(0)
            .alias("new_sess"),
        )
        .select(
            "user_id", "ts_us", F.sum("new_sess").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"))
    )
    seg = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                (F.col("s") / _US_PER_DAY).cast("long"),
                (F.col("e") / _US_PER_DAY).cast("long"),
            )
        ).alias("day"),
    )
    # r15 (guide §2.4; the x91 union→explode device): the starts/ends
    # UNION re-derived the whole sessionization + interval agg + day
    # explode per branch. One explode(array(start_struct, end_struct))
    # emits both boundary rows from ONE derivation — row set identical
    # (each segment yields exactly one +1 and one -1 in both spellings).
    # Interleaved 5-shot medians 0.91 -> 0.78 s at sf0.1; sessionization
    # derivations 2 -> 1.
    both = seg.select(
        "day",
        "user_id",
        "s",
        F.explode(
            F.array(
                F.struct(
                    F.greatest(F.col("s"), F.col("day") * _US_PER_DAY).alias(
                        "t"
                    ),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    (
                        F.least(
                            F.col("e"), (F.col("day") + 1) * _US_PER_DAY - 1
                        )
                        + 1
                    ).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("bev"),
    ).select(
        "day",
        F.col("bev.t").alias("t"),
        F.col("bev.delta").alias("delta"),
        "user_id",
        "s",
    )
    sweep = Window.partitionBy("day").orderBy(
        "t", "delta", "user_id", "s"
    ).rowsBetween(Window.unboundedPreceding, 0)
    run_conc = both.select(
        "day", "delta", F.sum("delta").over(sweep).alias("conc")
    )
    return run_conc.groupBy(F.col("day").alias("day_idx")).agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions"),
        F.max("conc").cast("long").alias("peak_concurrent"),
    )


# --------------------------------------------------------------------------
# x223 — mutual information: event_type × time-of-day dependence
# --------------------------------------------------------------------------

_MI_ORACLE = """
WITH grid AS (
  SELECT event_type, CAST(hour(ts) // 6 AS INTEGER) AS day_part,
         COUNT(*) AS n_xy
  FROM events GROUP BY event_type, hour(ts) // 6
),
marg AS (
  SELECT event_type, day_part, n_xy,
         SUM(n_xy) OVER (PARTITION BY event_type) AS n_x,
         SUM(n_xy) OVER (PARTITION BY day_part) AS n_y,
         SUM(n_xy) OVER () AS n
  FROM grid
),
p AS (
  SELECT event_type, day_part, n_xy,
         ROUND(CAST(n_xy AS DOUBLE) / n, 6) AS p_xy,
         ROUND(CAST(n_x AS DOUBLE) / n, 6) AS p_x,
         ROUND(CAST(n_y AS DOUBLE) / n, 6) AS p_y
  FROM marg
)
SELECT event_type, day_part, n_xy,
       ROUND(p_xy / (p_x * p_y), 6) AS lift,
       ROUND(log2(p_xy / (p_x * p_y)), 6) AS pmi,
       CAST(ROUND(p_xy * log2(p_xy / (p_x * p_y)) * 1000000) AS BIGINT)
         AS mi_term_u
FROM p
"""


@register("events_mutual_info", oracle=_MI_ORACLE)
def events_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x223: MUTUAL INFORMATION between event type and time-of-day quarter
    — "does WHAT users do depend on WHEN?" quantified in bits. Emits the
    full dependence decomposition per contingency cell: lift
    p(x,y)/(p(x)p(y)), pointwise MI, and the cell's term of the MI sum in
    integer micro-bits (sum mi_term_u / 1e6 = the MI estimate; x113's
    fixed-point device, so the corpus-level number is an exact integer sum
    no matter how partitions combine).

    Determinism: probabilities pin to 6dp BEFORE any transcendental; lift,
    pmi, and the micro-unit term are each one identically-parenthesized
    expression over those pinned values. All three marginals come from
    windows over the 20-cell grid, not extra scans.

    100 TB: one map-combined aggregate onto a |types| x 4 grid; everything
    after is window math on a constant-size frame. The same shape serves
    any categorical-pair dependence audit (feature x label leakage checks
    included) as long as the cell domain stays dim-sized."""
    ev = load_table(spark, sf_dir, "events")
    grid = (
        ev.select(
            "event_type",
            F.expr("CAST(hour(ts) AS INT) DIV 6").cast("int").alias("day_part"),
        )
        .groupBy("event_type", "day_part")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marg = grid.select(
        "event_type",
        "day_part",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("event_type")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("day_part")).alias("n_y"),
        F.sum("n_xy").over(w_all).alias("n"),
    )
    p = marg.select(
        "event_type",
        "day_part",
        "n_xy",
        F.round(F.col("n_xy").cast("double") / F.col("n"), 6).alias("p_xy"),
        F.round(F.col("n_x").cast("double") / F.col("n"), 6).alias("p_x"),
        F.round(F.col("n_y").cast("double") / F.col("n"), 6).alias("p_y"),
    )
    ratio = F.col("p_xy") / (F.col("p_x") * F.col("p_y"))
    return p.select(
        "event_type",
        "day_part",
        "n_xy",
        F.round(ratio, 6).alias("lift"),
        F.round(F.log2(ratio), 6).alias("pmi"),
        F.round(F.col("p_xy") * F.log2(ratio) * 1_000_000)
        .cast("long")
        .alias("mi_term_u"),
    )


# --------------------------------------------------------------------------
# x224 — Holt linear-trend (double exponential smoothing) forecast
# --------------------------------------------------------------------------

_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1
_HOLT_H = 7

# The recursion l_t = a*y_t + (1-a)*(l+b); b_t = B*(l_t - l) + (1-B)*b is
# plain IEEE +,-,* on literal coefficients — every step is correctly rounded
# and ORDER-FIXED by the shared parenthesization below, so Spark's fold and
# DuckDB's recursive CTE produce bit-identical doubles with NO per-step
# rounding pin (transcendental-free recursions don't need x63's device).
_HOLT_ORACLE = f"""
WITH RECURSIVE
daily AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y FROM daily),
nn AS (SELECT MAX(i) AS t FROM idx),
holt(i, l, b) AS (
  SELECT CAST(2 AS BIGINT),
         {_HOLT_ALPHA} * (SELECT y FROM idx WHERE i = 2)
           + {1 - _HOLT_ALPHA} * ((SELECT y FROM idx WHERE i = 1)
              + ((SELECT y FROM idx WHERE i = 2)
                 - (SELECT y FROM idx WHERE i = 1))),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * (SELECT y FROM idx WHERE i = 2)
           + {1 - _HOLT_ALPHA} * ((SELECT y FROM idx WHERE i = 1)
              + ((SELECT y FROM idx WHERE i = 2)
                 - (SELECT y FROM idx WHERE i = 1))))
            - (SELECT y FROM idx WHERE i = 1))
           + {1 - _HOLT_BETA} * ((SELECT y FROM idx WHERE i = 2)
              - (SELECT y FROM idx WHERE i = 1))
  UNION ALL
  SELECT h.i + 1,
         {_HOLT_ALPHA} * x.y + {1 - _HOLT_ALPHA} * (h.l + h.b),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * x.y
                          + {1 - _HOLT_ALPHA} * (h.l + h.b)) - h.l)
           + {1 - _HOLT_BETA} * h.b
  FROM holt h JOIN idx x ON x.i = h.i + 1
  WHERE h.i < (SELECT t FROM nn)
),
fin AS (SELECT l, b FROM holt WHERE i = (SELECT t FROM nn))
SELECT CAST(g.h AS INTEGER) AS horizon,
       ROUND((SELECT l FROM fin) + g.h * (SELECT b FROM fin), 6) AS forecast,
       ROUND((SELECT l FROM fin), 6) AS level,
       ROUND((SELECT b FROM fin), 6) AS trend
FROM (SELECT UNNEST(generate_series(1, {_HOLT_H})) AS h) g
"""


@register("ts_holt_linear", oracle=_HOLT_ORACLE)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x224: HOLT LINEAR-TREND forecast (double exponential smoothing) of
    the daily event count — the level+trend upgrade of x90's flat EMA and
    the classical sibling of x138's seasonal-naive: l_t = αy_t +
    (1-α)(l_{t-1}+b_{t-1}), b_t = β(l_t-l_{t-1}) + (1-β)b_{t-1}, forecast
    ŷ_{T+h} = l_T + h·b_T for h = 1..7. Init: l_1 = y_1 via the first
    update with l_0 = y_0, b_0 = y_1 - y_0 (both engines start the
    recursion at t = 2 over the same seed).

    An inherently SEQUENTIAL recursion expressed without ANY driver loop:
    Spark runs it as a Catalyst aggregate() left-fold over the array-sorted
    daily series (x192's fold device, state = (level, trend) struct);
    DuckDB as a recursive CTE. Both spell the update with IDENTICAL
    parenthesization, and basic IEEE ops are correctly rounded on every
    engine, so the state stays bit-identical for ANY coefficients — no
    per-step rounding pin needed (contrast x63, whose 1/outdeg division
    mixes summation orders).

    100 TB: the heavy work is the distributed daily aggregate; the fold is
    a single-task epilogue over a |days|-length array (years of daily grain
    = thousands of elements). A per-series variant partitions the same fold
    by series key via groupBy — the shape is embarrassingly parallel across
    series."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select((F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    ).select(
        F.expr(
            f"""
            aggregate(
              slice(arr, 2, size(arr) - 1),
              named_struct(
                'l', CAST(arr[0].y AS DOUBLE),
                'b', CAST(arr[1].y - arr[0].y AS DOUBLE)),
              (acc, x) -> named_struct(
                'l', {a} * x.y + {1 - a} * (acc.l + acc.b),
                'b', {b} * (({a} * x.y + {1 - a} * (acc.l + acc.b)) - acc.l)
                     + {1 - b} * acc.b)
            ) AS st
            """
        )
    )
    horizons = spark.range(1, _HOLT_H + 1).select(
        F.col("id").cast("int").alias("horizon")
    )
    fin = series.select(
        F.col("st.l").alias("l"), F.col("st.b").alias("b")
    )
    return horizons.join(F.broadcast(fin)).select(
        "horizon",
        F.round(F.col("l") + F.col("horizon") * F.col("b"), 6).alias("forecast"),
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
    )


# --------------------------------------------------------------------------
# x229 — hour-of-day seasonality via a 4-harmonic DFT (micro-unit trig)
# --------------------------------------------------------------------------

# ONE Python-generated micro-unit trig table feeds BOTH engines (the x217
# pinned-literal discipline applied to a whole basis): cos/sin(2πkh/24)
# rounded to integer millionths at module import. Every projection is then
# Σ n_h · trig_u — EXACT int64 sums, immune to summation order and libm —
# and floats appear only in the display epilogue.
import math as _math  # noqa: E402

_DFT_K = 4
_DFT_TABLE = tuple(
    (
        k,
        h,
        round(_math.cos(2 * _math.pi * k * h / 24) * 1_000_000),
        round(_math.sin(2 * _math.pi * k * h / 24) * 1_000_000),
    )
    for k in range(1, _DFT_K + 1)
    for h in range(24)
)

_DFT_VALUES = ", ".join(f"({k}, {h}, {c}, {s})" for k, h, c, s in _DFT_TABLE)

_DFT_ORACLE = f"""
WITH prof AS (
  SELECT CAST(hour(ts) AS INTEGER) AS h, COUNT(*) AS n FROM events
  GROUP BY hour(ts)
),
trig(k, h, cos_u, sin_u) AS (VALUES {_DFT_VALUES}),
proj AS (
  SELECT t.k,
         SUM(p.n * t.cos_u) AS a_u,
         SUM(p.n * t.sin_u) AS b_u
  FROM prof p JOIN trig t ON p.h = t.h
  GROUP BY t.k
),
amp AS (
  SELECT k,
         CAST((((a_u + 5000) - (((a_u + 5000) % 10000 + 10000) % 10000)) // 10000) AS BIGINT) AS a_c,
         CAST((((b_u + 5000) - (((b_u + 5000) % 10000 + 10000) % 10000)) // 10000) AS BIGINT) AS b_c
  FROM proj
),
pw AS (SELECT k, a_c, b_c, (CAST(a_c AS HUGEINT) * a_c + CAST(b_c AS HUGEINT) * b_c) AS power_u FROM amp),
tot AS (SELECT k, a_c, b_c, power_u, SUM(power_u) OVER () AS tot_u FROM pw)
SELECT CAST(k AS INTEGER) AS k,
       (a_c / 100.0) AS a_k,
       (b_c / 100.0) AS b_k,
       (CAST(((power_u + 50) - (((power_u + 50) % 100 + 100) % 100)) // 100 AS BIGINT) / 100.0) AS power,
       (CAST((((power_u * CAST(2000000 AS HUGEINT) + tot_u) - (((power_u * CAST(2000000 AS HUGEINT) + tot_u) % (2 * CAST(tot_u AS HUGEINT)) + (2 * CAST(tot_u AS HUGEINT))) % (2 * CAST(tot_u AS HUGEINT)))) // (2 * CAST(tot_u AS HUGEINT))) AS BIGINT) / 1000000.0) AS power_share
FROM tot
"""


@register("ts_seasonality_dft", oracle=_DFT_ORACLE)
def ts_seasonality_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x229: HOUR-OF-DAY SEASONALITY spectrum — project the 24-bin hourly
    activity profile onto its first 4 Fourier harmonics (k=1 the daily
    wave, k=2 the 12-hour commute double-hump, ...) and report each
    harmonic's amplitude components and share of cyclic power. The
    spectral sibling of x167's weekday index and x180's moving-average
    decomposition: power concentrated at k=1 means a clean diurnal cycle;
    spread across k means multi-modal days (bot traffic shows up as flat
    spectra with high k residue).

    Determinism device: the trig basis is ONE Python-generated micro-unit
    table injected into BOTH engines as integer literals, so each
    projection a_k = Σ n_h·cos_u is an EXACT int64 sum — no libm, no
    summation-order exposure anywhere before the display epilogue
    (power/share derive from the already-pinned 2dp amplitudes).

    100 TB: the only corpus-size work is the 24-bin hourly aggregate
    (map-side combined); the DFT itself is a broadcast join of a 96-row
    constant against 24 rows. Longer periods (weekly=168 bins) and more
    harmonics change only the constant table."""
    ev = load_table(spark, sf_dir, "events")
    prof = (
        ev.select(F.hour("ts").cast("int").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trig = spark.createDataFrame(
        list(_DFT_TABLE), schema="k int, h int, cos_u long, sin_u long"
    )
    proj = (
        prof.join(F.broadcast(trig), "h")
        .groupBy("k")
        .agg(
            F.sum(F.col("n") * F.col("cos_u")).alias("a_u"),
            F.sum(F.col("n") * F.col("sin_u")).alias("b_u"),
        )
    )
    def cents(u: F.Column) -> F.Column:
        # half-up micro->cent pin in integer land (flagship._pin2's device,
        # signed-safe via pmod); a_u/b_u are exact int64 projections
        t = u + F.lit(5000)
        return ((t - F.pmod(t, F.lit(10000))) / F.lit(10000)).cast("long")

    amp = proj.select(
        "k", cents(F.col("a_u")).alias("a_c"), cents(F.col("b_u")).alias("b_c")
    )
    pw = amp.withColumn(
        "power_u",
        # DECIMAL(38): a_c^2 ~ 1e18 at sf1 (BIGINT edge), ~1e22 at sf100
        F.col("a_c").cast("decimal(38,0)") * F.col("a_c")
        + F.col("b_c").cast("decimal(38,0)") * F.col("b_c"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot_u = F.sum("power_u").over(w_all)
    pu50 = F.col("power_u") + F.lit(50)
    st = F.col("power_u").cast("decimal(38,0)") * F.lit(2_000_000) + tot_u
    sn2 = (tot_u * 2).cast("decimal(38,0)")
    return pw.select(
        "k",
        (F.col("a_c").cast("double") / F.lit(100.0)).alias("a_k"),
        (F.col("b_c").cast("double") / F.lit(100.0)).alias("b_k"),
        (((pu50 - F.pmod(pu50, F.lit(100))).cast("decimal(38,0)")
          / F.lit(100)).cast("long")
         .cast("double") / F.lit(100.0)).alias("power"),
        (((st - F.pmod(st, sn2)) / sn2).cast("long").cast("double")
         / F.lit(1000000.0)).alias("power_share"),
    )


# --------------------------------------------------------------------------
# x231 — shipment vintage curves (cohort maturation, credit-risk idiom)
# --------------------------------------------------------------------------

_VINTAGE_ORACLE = """
WITH li AS (
  SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1) AS cohort_m,
         (year(l.l_shipdate) * 12 + month(l.l_shipdate))
           - (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS age_k
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cell AS (
  SELECT cohort_m, age_k, COUNT(*) AS n_shipped FROM li GROUP BY cohort_m, age_k
),
tot AS (SELECT cohort_m, SUM(n_shipped) AS n_cohort FROM cell GROUP BY cohort_m)
SELECT CAST(c.cohort_m // 12 AS BIGINT) AS cohort_year,
       CAST(c.cohort_m % 12 + 1 AS BIGINT) AS cohort_month,
       CAST(c.age_k AS BIGINT) AS age_k,
       CAST(c.n_shipped AS BIGINT) AS n_shipped,
       CAST(SUM(c.n_shipped) OVER (PARTITION BY c.cohort_m ORDER BY c.age_k
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_shipped,
       ROUND(CAST(SUM(c.n_shipped) OVER (PARTITION BY c.cohort_m
                                         ORDER BY c.age_k
                                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / t.n_cohort, 6) AS cum_share
FROM cell c JOIN tot t ON t.cohort_m = c.cohort_m
"""


@register("orders_vintage_curve", oracle=_VINTAGE_ORACLE)
def orders_vintage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x231: VINTAGE CURVES — the credit-risk/SaaS maturation idiom applied
    to fulfilment: for each order-month cohort, the cumulative share of
    its line items shipped by k months after order. Stacked vintages
    expose operational drift (a younger cohort maturing slower than older
    ones at the same age is the early-warning signal that no single
    aggregate shows) — the order-grain complement of x59's user retention
    triangle.

    All-integer device: cohort and age are linearized month indices
    (year*12+month differences — never DATEDIFF('month'), whose day-of-
    month conventions differ across engines), counts are exact, and
    cum_share is one float division of a running integer sum by the
    cohort total.

    100 TB: fact join is orderkey-colocated, the cell agg collapses to a
    (cohort x age) grid (≤ a few hundred rows for years of data), and the
    cumulative window runs on that grid — the big data never meets a
    window."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    mo = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ms = F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1
    cell = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(mo.alias("cohort_m"), (ms - mo).alias("age_k"))
        .groupBy("cohort_m", "age_k")
        .agg(F.count(F.lit(1)).alias("n_shipped"))
    )
    w_run = Window.partitionBy("cohort_m").orderBy("age_k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy("cohort_m")
    return cell.select(
        (F.col("cohort_m") / 12).cast("long").alias("cohort_year"),
        (F.col("cohort_m") % 12 + 1).cast("long").alias("cohort_month"),
        F.col("age_k").cast("long").alias("age_k"),
        F.col("n_shipped").cast("long").alias("n_shipped"),
        F.sum("n_shipped").over(w_run).cast("long").alias("cum_shipped"),
        F.round(
            F.sum("n_shipped").over(w_run).cast("double")
            / F.sum("n_shipped").over(w_tot),
            6,
        ).alias("cum_share"),
    )


# --------------------------------------------------------------------------
# x232 — irregular-spacing EWMA via a pinned decay table (per-type fold)
# --------------------------------------------------------------------------

_EMA_TAU_MIN = 30.0
_EMA_MAX_BUCKET = 120

# One Python-generated decay table feeds both engines (x229's shared-basis
# device): decay(m) = exp(-m/tau) for integer minute-gaps m, capped at
# _EMA_MAX_BUCKET, rounded to 6dp literals. Inside the recursion only
# +,-,* touch these literals, so state stays bit-identical cross-engine.
_EMA_DECAY = tuple(
    (m, round(_math.exp(-m / _EMA_TAU_MIN), 6)) for m in range(_EMA_MAX_BUCKET + 1)
)
_EMA_VALUES = ", ".join(f"({m}, {d})" for m, d in _EMA_DECAY)

_EMA_ORACLE = f"""
WITH RECURSIVE
ev AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, value
  FROM events WHERE day(ts) <= 7
),
seq AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts_us, event_id) AS i,
         LEAST((ts_us - LAG(ts_us) OVER (PARTITION BY event_type
                                         ORDER BY ts_us, event_id))
               // 60000000, {_EMA_MAX_BUCKET}) AS gap_m
  FROM ev
),
decay(m, d) AS (VALUES {_EMA_VALUES}),
wd AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, which would
  -- re-evaluate the window+join pipeline on EVERY recursion step
  SELECT s.event_type, s.value, s.i, dc.d
  FROM seq s LEFT JOIN decay dc ON dc.m = s.gap_m
),
nn AS (SELECT event_type, MAX(i) AS t FROM wd GROUP BY event_type),
ema(event_type, i, l) AS (
  SELECT event_type, CAST(1 AS BIGINT), value FROM wd WHERE i = 1
  UNION ALL
  -- no WHERE guard needed: the i+1 join itself empties the working
  -- table at each series' end, and dropping the correlated subquery
  -- keeps the recursion free of per-row rescans
  SELECT e.event_type, e.i + 1, x.d * e.l + (1 - x.d) * x.value
  FROM ema e
  JOIN wd x ON x.event_type = e.event_type AND x.i = e.i + 1
)
SELECT e.event_type, CAST(n.t AS BIGINT) AS n_events,
       ROUND(e.l, 6) AS ema_final
FROM ema e JOIN nn n ON n.event_type = e.event_type AND e.i = n.t
"""


@register("ts_ema_irregular", oracle=_EMA_ORACLE)
def ts_ema_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x232: IRREGULAR-SPACING EWMA — time-decayed smoothing where the
    decay between consecutive observations depends on the ACTUAL gap
    (decay = exp(-Δt/τ)), the correct treatment for event streams whose
    arrival spacing carries information (x90's row-EMA assumes regular
    spacing and over-weights burst samples). Emits the final smoothed
    value per event type.

    Two determinism devices composed: (1) the decay function is a
    PINNED Python-generated table over integer minute-gap buckets
    (capped at {_EMA_MAX_BUCKET} — beyond two hours the memory is
    negligible anyway), so no engine ever calls exp(); (2) the recursion
    l' = d·l + (1-d)·y runs as a Catalyst aggregate() fold per type vs
    DuckDB's recursive CTE with IDENTICAL parenthesization — x224's
    bit-exact IEEE argument, here with a per-step table-looked-up
    coefficient.

    100 TB: gap bucketing and the decay join are narrow row-grain maps;
    the fold state is O(1) but the collected per-key series is O(n_key)
    — right for per-entity series that fit an executor (metrics per
    host, prices per symbol). For larger keys, chunk the series and
    carry the chunk-boundary state via the segment identity
    l_out = D_chunk·l_in + c_chunk (each chunk folds to an affine map;
    compose left-to-right) — noted, not needed at this grain."""
    ev = load_table(spark, sf_dir, "events").filter(F.dayofmonth("ts") <= 7)
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        "ts_us",
        "event_id",
        F.least(
            ((F.col("ts_us") - F.lag("ts_us").over(w)) / 60_000_000).cast("long"),
            F.lit(_EMA_MAX_BUCKET),
        ).alias("gap_m"),
    )
    decay = spark.createDataFrame(list(_EMA_DECAY), schema="m long, d double")
    wd = seq.join(F.broadcast(decay), seq.gap_m == decay.m, "left").select(
        "event_type", "value", "ts_us", "event_id", "d"
    )
    folded = (
        wd.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "value", "d"))
            ).alias("arr")
        )
        .select(
            "event_type",
            F.size("arr").cast("long").alias("n_events"),
            F.expr(
                """
                aggregate(
                  slice(arr, 2, size(arr) - 1),
                  CAST(arr[0].value AS DOUBLE),
                  (acc, x) -> x.d * acc + (1 - x.d) * x.value
                ) AS ema_raw
                """
            ),
        )
    )
    return folded.select(
        "event_type", "n_events", F.round("ema_raw", 6).alias("ema_final")
    )


# --------------------------------------------------------------------------
# x236 — Lorenz concentration deciles of user activity
# --------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH uv AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, n,
         NTILE(10) OVER (ORDER BY n DESC, user_id) AS decile
  FROM uv
),
cell AS (
  SELECT decile, COUNT(*) AS n_users, SUM(n) AS n_events
  FROM ranked GROUP BY decile
),
tot AS (SELECT SUM(n_events) AS t FROM cell)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(n_events AS DOUBLE) / (SELECT t FROM tot), 6) AS share_events,
       ROUND(CAST(SUM(n_events) OVER (ORDER BY decile
                                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / (SELECT t FROM tot), 6) AS cum_share
FROM cell
"""


@register("events_user_lorenz", oracle=_LORENZ_ORACLE)
def events_user_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x236: LORENZ CONCENTRATION deciles — users ranked by event volume,
    bucketed into deciles (heaviest first), each decile's share and
    cumulative share of all events. The "top 10% of users generate X% of
    traffic" table: x135's Gini is this curve's scalar area; the decile
    table is what capacity, abuse, and monetization teams actually read
    (and the direct input to x20-style skew-mitigation decisions — decile
    1's share IS the salting argument).

    Deterministic: NTILE ties pinned by (volume DESC, user_id) — both
    engines define NTILE by identical row ordering; shares are single
    float divisions of exact integer sums.

    100 TB: the user-grain agg is the only row-scale work; NTILE needs a
    total order over |users| — fine to ~10⁸ users on one partition of
    (user, count) pairs, beyond that swap for approx-quantile volume
    cutoffs exactly as x68's note prescribes (same trade, documented
    there)."""
    ev = load_table(spark, sf_dir, "events")
    uv = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = uv.select(
        "n",
        F.ntile(10)
        .over(Window.orderBy(F.col("n").desc(), F.col("user_id")))
        .alias("decile"),
    )
    cell = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return cell.select(
        F.col("decile").cast("int").alias("decile"),
        "n_users",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(w_all), 6
        ).alias("share_events"),
        F.round(
            F.sum("n_events").over(w_cum).cast("double")
            / F.sum("n_events").over(w_all),
            6,
        ).alias("cum_share"),
    )


# --------------------------------------------------------------------------
# x237 — Haar wavelet multi-resolution decomposition of the daily series
# --------------------------------------------------------------------------

_HAAR_N = 32  # zero-padded dyadic length for the ~30-day series
_HAAR_LEVELS = 5
# ts_wavelet_haar builds level k from two references to level k-1's array
# column and relies on CollapseProject not inlining them; if a Spark version
# does inline, the expression tree grows as 2^_HAAR_LEVELS (32x at 5). Past 5
# levels, materialize each level with its own select instead.
assert _HAAR_LEVELS <= 5


def _haar_level_sql(k: int) -> str:
    prev = f"a{k - 1}"
    return f"""
a{k} AS (
  SELECT pos // 2 AS pos,
         (MAX(CASE WHEN pos % 2 = 0 THEN v END)
          + MAX(CASE WHEN pos % 2 = 1 THEN v END)) / 2 AS v,
         (MAX(CASE WHEN pos % 2 = 0 THEN v END)
          - MAX(CASE WHEN pos % 2 = 1 THEN v END)) / 2 AS d
  FROM {prev} GROUP BY pos // 2
)"""


_HAAR_ORACLE = (
    f"""
WITH daily AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day, COUNT(*) AS n
  FROM events GROUP BY 1
),
base AS (SELECT MIN(day) AS d0 FROM daily),
a0 AS (
  SELECT g.pos, CAST(COALESCE(dd.n, 0) AS DOUBLE) AS v, CAST(NULL AS DOUBLE) AS d
  FROM (SELECT unnest(generate_series(0, {_HAAR_N - 1})) AS pos) g
  LEFT JOIN (SELECT day - (SELECT d0 FROM base) AS pos, n FROM daily) dd
    ON dd.pos = g.pos
),"""
    + ",".join(_haar_level_sql(k) for k in range(1, _HAAR_LEVELS + 1))
    + f"""
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({k} AS INTEGER) AS level, CAST(pos AS INTEGER) AS pos, "
      f"'detail' AS kind, ROUND(d, 6) AS coef FROM a{k}"
      for k in range(1, _HAAR_LEVELS + 1)
  )}
  UNION ALL
  SELECT CAST({_HAAR_LEVELS} AS INTEGER), CAST(pos AS INTEGER), 'approx',
         ROUND(v, 6) FROM a{_HAAR_LEVELS}
)
"""
)


@register("ts_wavelet_haar", oracle=_HAAR_ORACLE)
def ts_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x237: HAAR WAVELET multi-resolution decomposition of the daily
    event-count series — the dyadic rollup that keeps BOTH the smoothed
    signal and what each smoothing step threw away: level-k approx =
    2^k-day averages, level-k details = the half-difference lost going
    coarser. Large |detail| pinpoints change at that time-scale (a spike
    lights small scales; a regime shift lights coarse ones) — the
    multi-scale sibling of x131's single-scale CUSUM, and the classic
    compression basis (zero small details, reconstruct).

    Exactness: counts are integers and every Haar step is (a±b)/2 —
    DYADIC rationals, exact in binary floating point at every level, so
    cross-engine equality holds to the last bit with no rounding device
    (the same argument as x224, here with exactly representable state).
    The series zero-pads to {_HAAR_N} (padding is explicit data, not an
    engine default).

    100 TB: the daily agg is the only row-scale work; each level is a
    map-combined groupBy(pos DIV 2) on a frame that HALVES per level.
    Years of daily data = a few thousand positions; the same plan serves
    per-key decompositions by adding the key to every grouping."""
    # r15 restructure (guide §1.2 step 1 — remove passes; the x240
    # events_markov_stationary single-row array device applied here): the
    # whole dyadic state is ≤ _HAAR_N values, bounded by the CALENDAR at
    # any corpus size, so the decomposition runs on ONE packed row —
    # grid lookup as a day→n map, each level a transform() over the
    # previous level's array column (withColumn chaining keeps the tree
    # linear; CollapseProject does not inline multi-referenced non-cheap
    # aliases), one explode of the concatenated coefficient structs. This
    # replaces the grid join + {_HAAR_LEVELS} per-level eager
    # localCheckpoint jobs (the former trap-#11 union-of-branches shape)
    # with a single job: interleaved 5-shot medians 1.14 -> 0.41 s at
    # sf0.1, rows identical. Arithmetic is the same (a±b)/2 dyadic chain
    # on the same coalesce(n,0) doubles — exact in binary FP, so
    # cross-engine bit-equality is unchanged.
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select((F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row = daily.agg(
        F.min("day").alias("d0"),
        F.map_from_entries(F.collect_list(F.struct("day", "n"))).alias("mp"),
    )
    row = row.withColumn(
        "a0",
        F.expr(
            f"transform(sequence(0, {_HAAR_N - 1}),"
            f" i -> CAST(coalesce(mp[d0 + i], 0) AS DOUBLE))"
        ),
    )
    for k in range(1, _HAAR_LEVELS + 1):
        n_k = _HAAR_N >> k
        row = row.withColumn(
            f"a{k}",
            F.expr(
                f"transform(sequence(0, {n_k - 1}),"
                f" j -> (a{k - 1}[2*j] + a{k - 1}[2*j+1]) / 2)"
            ),
        ).withColumn(
            f"d{k}",
            F.expr(
                f"transform(sequence(0, {n_k - 1}),"
                f" j -> (a{k - 1}[2*j] - a{k - 1}[2*j+1]) / 2)"
            ),
        )
    branches = " , ".join(
        f"transform(d{k}, (x, p) -> struct(CAST({k} AS INT) AS level,"
        f" CAST(p AS INT) AS pos, 'detail' AS kind, round(x, 6) AS coef))"
        for k in range(1, _HAAR_LEVELS + 1)
    )
    all_coefs = (
        f"concat({branches}, transform(a{_HAAR_LEVELS}, (x, p) ->"
        f" struct(CAST({_HAAR_LEVELS} AS INT) AS level, CAST(p AS INT) AS pos,"
        f" 'approx' AS kind, round(x, 6) AS coef)))"
    )
    return row.select(F.explode(F.expr(all_coefs)).alias("c")).select(
        "c.level", "c.pos", "c.kind", "c.coef"
    )


# --------------------------------------------------------------------------
# x240 — stationary distribution of the event-type Markov chain
# --------------------------------------------------------------------------

_MKSTAT_ITERS = 20
# Iteration state is EXACT integer fixed-point at 1e-10 scale (r11): the
# former 10dp-per-iteration float pin bounded drift but could not exclude a
# round straddle at extreme tightness; integers can.


def _mkstat_iter_sql(k: int) -> str:
    # MATERIALIZED per iteration too: inlining a 20-deep CTE chain makes
    # DuckDB's planner itself the bottleneck (~8 s of plan expansion for
    # microseconds of 5-row joins).
    # Exact integer fixed-point step (r11 straddle-family closure): pi is
    # held at 1e-10 scale, m at 1e-6; the product sum is exact BIGINT
    # (~1e17 max) and the rescale is half-up INTEGER division — no float
    # accumulation survives anywhere in the 20-round chain.
    prev = f"pi{k - 1}"
    return f"""
pi{k} AS MATERIALIZED (
  SELECT m.dst AS state,
         CAST((SUM(p.p_u * m.p_u) + 500000) // 1000000 AS BIGINT) AS p_u
  FROM {prev} p JOIN m ON m.src = p.state
  GROUP BY m.dst
)"""


_MKSTAT_ORACLE = (
    f"""
WITH pairs AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, COUNT(*) AS c FROM pairs WHERE dst IS NOT NULL
  GROUP BY src, dst
),
m AS MATERIALIZED (
  -- MATERIALIZED: 20 unrolled iteration CTEs each reference m, and DuckDB
  -- inlines plain CTEs — without this the row-scale lag+window pipeline
  -- re-evaluates once per iteration (x232's lesson; 22.8 s -> ~1 s)
  SELECT src, dst,
         CAST(ROUND(CAST(c AS DOUBLE)
                    / SUM(c) OVER (PARTITION BY src) * 1000000) AS BIGINT)
           AS p_u
  FROM cnt
),
states AS (SELECT DISTINCT src AS state FROM m),
nn AS (SELECT COUNT(*) AS k FROM states),
pi0 AS (
  SELECT state,
         CAST(ROUND(1e10 / (SELECT k FROM nn)) AS BIGINT) AS p_u
  FROM states
),"""
    + ",".join(_mkstat_iter_sql(k) for k in range(1, _MKSTAT_ITERS + 1))
    + f"""
-- restrict to states with observed OUTGOING transitions: a state seen only
-- as a sequence terminator (dst-only) would otherwise survive here as an
-- output row while the Spark side's src-built index drops it (r8 parity
-- fix; both engines now report the distribution over src states, where
-- dst-only sinks absorb mass without re-emitting it in either engine)
SELECT state, ROUND(CAST(p_u AS DOUBLE) / 1e10, 6) AS stationary_p
FROM pi{_MKSTAT_ITERS}
WHERE state IN (SELECT state FROM states)
"""
)


@register("events_markov_stationary", oracle=_MKSTAT_ORACLE)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x240: STATIONARY DISTRIBUTION of the x65 event-type Markov chain —
    where user behavior settles if the observed transition dynamics run
    forever, the steady-state the per-step matrix only implies. Twenty
    power iterations π' = πM from uniform; with the chain's small state
    space the heavy work is BUILDING M (row-scale lag + count), and the
    iteration is pure epilogue.

    Plan shape: the iteration runs as ONE Catalyst aggregate() fold over
    a dense k x k matrix assembled by sort+collect from the aggregated
    transition table (x192's fold device at matrix rank) — zero driver
    loops, zero per-round scheduling floors (contrast x63's 5 join
    rounds: right for graph-sized state, waste for k=5). The whole
    20-round chain is EXACT integer fixed-point (r11 straddle closure):
    pi at 1e-10 scale, M at 1e-6, half-up integer-division rescale per
    step — fold order vs SQL SUM order cannot differ because no float
    is ever accumulated; one display division at the end.

    100 TB: M's grain is |types|² regardless of event volume; the lag
    window shuffles once on user_id. A 10⁶-state chain would flip back
    to x63's join-per-round shape — the crossover is whether k² fits one
    task's memory."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    m = cnt.select(
        "src",
        "dst",
        F.round(
            F.col("c").cast("double")
            / F.sum("c").over(Window.partitionBy("src"))
            * 1_000_000
        )
        .cast("long")
        .alias("p_u"),
    )
    # dense k x k matrix + state list, assembled in one tiny collect-free
    # aggregation: rows sorted by (src, dst) so indexing is deterministic
    states = m.select(F.col("src").alias("state")).distinct()
    idx = states.select(
        "state",
        (F.dense_rank().over(Window.orderBy("state")) - 1).alias("i"),
    )
    entries = (
        m.join(idx.withColumnRenamed("state", "src").withColumnRenamed("i", "si"), "src")
        .join(idx.withColumnRenamed("state", "dst").withColumnRenamed("i", "di"), "dst")
        .select("si", "di", "p_u")
    )
    packed = entries.agg(
        F.array_sort(F.collect_list(F.struct("si", "di", "p_u"))).alias("mm"),
        F.max("si").alias("kmax"),
    )
    # exact integer fixed-point fold (r11): pi at 1e-10 scale, m at 1e-6;
    # the per-state dot product is a BIGINT sum (max ~1e17) and the rescale
    # is half-up integer division — the fold order can no longer shift a
    # ulp because there are no floats to shift
    folded = packed.select(
        F.expr(
            f"""
            aggregate(
              sequence(1, {_MKSTAT_ITERS}),
              transform(sequence(0, kmax),
                        i -> CAST(round(1e10 / (kmax + 1)) AS BIGINT)),
              (pi, it) -> transform(
                sequence(0, kmax),
                j -> CAST((
                  aggregate(
                    filter(mm, e -> e.di = j),
                    CAST(0 AS BIGINT),
                    (acc, e) -> acc + pi[e.si] * e.p_u)
                  + 500000) div 1000000 AS BIGINT))
            ) AS pif
            """
        )
    )
    out = folded.select(
        F.posexplode("pif").alias("i", "p_u")
    ).join(F.broadcast(idx), "i")
    return out.select(
        "state",
        F.round(F.col("p_u").cast("double") / 1e10, 6).alias("stationary_p"),
    )


# --------------------------------------------------------------------------
# x242 — single change-point by binary segmentation (variance reduction)
# --------------------------------------------------------------------------

_BINSEG_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1
),
seq AS MATERIALIZED (
  SELECT day, y,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s,
         SUM(y * y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS q,
         COUNT(*) OVER () AS n,
         SUM(y) OVER () AS st,
         SUM(y * y) OVER () AS qt
  FROM daily
),
scored AS (
  -- split AFTER index i: left = 1..i, right = i+1..n; SSE via the
  -- prefix-sum identity SSE = Q - S^2/m, all from exact integer S/Q
  SELECT day, i,
         ROUND((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
               - ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / i)
                  + (CAST(qt - q AS DOUBLE)
                     - CAST(st - s AS DOUBLE) * (st - s) / (n - i))), 6)
           AS gain,
         ROUND(CAST(s AS DOUBLE) / i, 6) AS mean_left,
         ROUND(CAST(st - s AS DOUBLE) / (n - i), 6) AS mean_right
  FROM seq WHERE i < n
)
SELECT day AS split_day, gain, mean_left, mean_right
FROM scored
ORDER BY gain DESC, split_day
LIMIT 1
"""


@register("ts_changepoint_binseg", oracle=_BINSEG_ORACLE)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x242: SINGLE CHANGE-POINT by binary segmentation — the split of the
    daily series that maximizes variance reduction (total SSE minus the
    two segments' SSEs), with the segment means on each side. The
    offline/global complement of x131's sequential CUSUM: binseg answers
    "WHERE did the level shift?", CUSUM answers "has it shifted YET?";
    recursing on the winning halves yields the classic multi-change
    algorithm (one level implemented — the recursion is this same plan
    re-rooted).

    Exactness: every candidate split is scored from PREFIX SUMS of y and
    y² — exact BIGINTs — via SSE = Q - S²/m, so each gain is one
    identically-parenthesized float expression over exact operands; the
    argmax pins ties by day. No per-split rescan exists anywhere (the
    naive per-split re-aggregation would be O(n²)).

    100 TB: the day grain collapses first; the scoring window is an
    ordered prefix scan over |days| rows and the argmax is a 1-row limit.
    Per-key change-points = partition the windows by key, same plan."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select((F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seq = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum("y").over(w_run).alias("s"),
        F.sum(F.col("y") * F.col("y")).over(w_run).alias("q"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("y").over(w_all).alias("st"),
        F.sum(F.col("y") * F.col("y")).over(w_all).alias("qt"),
    )
    sse_tot = F.col("qt").cast("double") - F.col("st").cast("double") * F.col("st") / F.col("n")
    sse_l = F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("i")
    sse_r = (F.col("qt") - F.col("q")).cast("double") - (
        F.col("st") - F.col("s")
    ).cast("double") * (F.col("st") - F.col("s")) / (F.col("n") - F.col("i"))
    scored = seq.filter(F.col("i") < F.col("n")).select(
        F.col("day").alias("split_day"),
        F.round(sse_tot - (sse_l + sse_r), 6).alias("gain"),
        F.round(F.col("s").cast("double") / F.col("i"), 6).alias("mean_left"),
        F.round(
            (F.col("st") - F.col("s")).cast("double") / (F.col("n") - F.col("i")), 6
        ).alias("mean_right"),
    )
    return scored.orderBy(F.col("gain").desc(), "split_day").limit(1)


# --------------------------------------------------------------------------
# x247 — difference-in-differences (quasi-experimental causal estimate)
# --------------------------------------------------------------------------

_DID_ORACLE = """
WITH tagged AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN (('0x' || substring(md5('did:' || user_id), 1, 3))::BIGINT
                    % 2) = 1 THEN 1 ELSE 0 END AS treated,
         CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS post
  FROM events
),
cell AS (
  SELECT treated, post, COUNT(*) AS n, SUM(cents) AS s
  FROM tagged GROUP BY treated, post
),
means AS (
  SELECT treated, post, n,
         ROUND(CAST(s AS DOUBLE) / n / 100, 6) AS mean_value
  FROM cell
)
SELECT m.treated, m.post, CAST(m.n AS BIGINT) AS n, m.mean_value,
       ROUND((SELECT mean_value FROM means WHERE treated = 1 AND post = 1)
             - (SELECT mean_value FROM means WHERE treated = 1 AND post = 0)
             - ((SELECT mean_value FROM means WHERE treated = 0 AND post = 1)
                - (SELECT mean_value FROM means WHERE treated = 0 AND post = 0)),
             6) AS did_estimate
FROM means m
"""


@register("events_diff_in_diff", oracle=_DID_ORACLE)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x247: DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    for when you could NOT randomize at exposure time: effect =
    (treated_post - treated_pre) - (control_post - control_pre), which
    cancels both the groups' level difference and the common time trend
    (the parallel-trends assumption is the price). Completes the causal
    suite's designs: x126/x175 randomized reads, x151 variance-reduced,
    x205 gates the randomization itself — DiD is what's left when the
    rollout was geography/cohort-staggered instead of coin-flipped.

    The 2x2 panel emits all four cell means (the honest way to report
    DiD — readers check parallel-trends plausibility from the pre-period
    row pair) with the pooled estimate repeated per row. Treated =
    deterministic md5 split (stand-in for the real exposure flag);
    pre/post = calendar half-month. Exact integer cents sums; means and
    the estimate are pinned divisions/differences.

    100 TB: one map-combined 4-cell aggregate — the entire computation
    after the scan is constant-size. Clustered standard errors (the
    production upgrade) group the same scan by cluster first."""
    ev = load_table(spark, sf_dir, "events")
    treated = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("did:"), F.col("user_id"))), 1, 3),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    tagged = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        treated.alias("treated"),
        F.when(F.dayofmonth("ts") > 15, 1).otherwise(0).alias("post"),
    )
    means = (
        tagged.groupBy("treated", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .select(
            "treated",
            "post",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("s").cast("double") / F.col("n") / 100, 6).alias(
                "mean_value"
            ),
        )
    )
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_value"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    did = F.round(
        pick(1, 1).over(w_all)
        - pick(1, 0).over(w_all)
        - (pick(0, 1).over(w_all) - pick(0, 0).over(w_all)),
        6,
    )
    return means.select("treated", "post", "n", "mean_value", did.alias("did_estimate"))


# --------------------------------------------------------------------------
# x250 — counterfactual impact vs a control-series regression forecast
# --------------------------------------------------------------------------

_CI_ORACLE = """
WITH tagged AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_idx,
         CASE WHEN (('0x' || substring(md5('ci:' || user_id), 1, 3))::BIGINT
                    % 2) = 1 THEN 1 ELSE 0 END AS treated,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         day(ts) AS dom
  FROM events
),
daily AS MATERIALIZED (
  SELECT day_idx, MAX(dom) AS dom,
         SUM(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS y,
         SUM(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS x
  FROM tagged GROUP BY day_idx
),
fit AS MATERIALIZED (
  SELECT (COUNT(*) * SUM(CAST(x AS DOUBLE) * y)
          - CAST(SUM(x) AS DOUBLE) * SUM(y))
         / (COUNT(*) * SUM(CAST(x AS DOUBLE) * x)
            - CAST(SUM(x) AS DOUBLE) * SUM(x)) AS b,
         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar,
         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS xbar
  FROM daily WHERE dom <= 15
),
post AS (
  SELECT d.day_idx,
         ROUND(CAST(d.y AS DOUBLE) / 100, 2) AS actual,
         (f.ybar + f.b * (d.x - f.xbar)) / 100 AS pred_raw
  FROM daily d, fit f
  WHERE d.dom > 15
),
eff AS (
  SELECT day_idx, actual, ROUND(pred_raw, 6) AS predicted,
         CAST(actual - pred_raw AS DOUBLE) AS e_raw,
         SUM(actual - pred_raw) OVER (ORDER BY day_idx
                                      ROWS UNBOUNDED PRECEDING) AS cum_raw
  FROM post
)
SELECT day_idx, actual, predicted,
       ROUND(e_raw, 6) AS effect,
       ROUND(cum_raw, 6) AS cum_effect
FROM eff
"""


@register("events_causal_impact", oracle=_CI_ORACLE)
def events_causal_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x250: COUNTERFACTUAL IMPACT via a control-series regression — the
    CausalImpact idea in its minimal honest form: fit treated-vs-control
    daily totals on the PRE period (one-regressor OLS in the centered
    spelling ŷ = ȳ + b·(x − x̄)), forecast the post period from the live
    control, and report per-day and CUMULATIVE effect = actual − predicted.
    The time-series complement of x247's four-cell DiD: DiD assumes
    parallel trends, this LEARNS the treated↔control mapping from the
    pre-window and hands you the running total a launch review quotes.

    Determinism: the OLS moments are sums of exact cent integers; b, the
    predictions, and the ordered running sum are identically-
    parenthesized float chains (an ORDERED prefix sum is sequential on
    both engines — x98's argument), each display-rounded at 6dp.

    100 TB: the user-hash split and daily collapse are one map-combined
    pass; everything after runs on the |days| grid with the 1-row fit
    broadcast. More regressors = x196's normal-equations device on the
    same grid."""
    ev = load_table(spark, sf_dir, "events")
    treated = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ci:"), F.col("user_id"))), 1, 3),
            16,
            10,
        ).cast("long")
        % 2
    )
    daily = (
        ev.select(
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day_idx"),
            F.dayofmonth("ts").alias("dom"),
            treated.alias("treated"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_idx")
        .agg(
            F.max("dom").alias("dom"),
            F.sum(F.when(F.col("treated") == 1, F.col("cents")).otherwise(0)).alias(
                "y"
            ),
            F.sum(F.when(F.col("treated") == 0, F.col("cents")).otherwise(0)).alias(
                "x"
            ),
        )
    )
    daily = daily.localCheckpoint(eager=True)
    pre = daily.filter(F.col("dom") <= 15)
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum(F.col("x").cast("double") * F.col("y"))
    sxx = F.sum(F.col("x").cast("double") * F.col("x"))
    fit = pre.agg(
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("b"),
        (sy / n).alias("ybar"),
        (sx / n).alias("xbar"),
    )
    post = (
        daily.filter(F.col("dom") > 15)
        .join(F.broadcast(fit))
        .select(
            "day_idx",
            F.round(F.col("y").cast("double") / 100, 2).alias("actual"),
            (
                (F.col("ybar") + F.col("b") * (F.col("x") - F.col("xbar"))) / 100
            ).alias("pred_raw"),
        )
    )
    w_run = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return post.select(
        "day_idx",
        "actual",
        F.round("pred_raw", 6).alias("predicted"),
        F.round(F.col("actual") - F.col("pred_raw"), 6).alias("effect"),
        F.round(
            F.sum(F.col("actual") - F.col("pred_raw")).over(w_run), 6
        ).alias("cum_effect"),
    )


# --------------------------------------------------------------------------
# x253 — Holt-Winters additive (level + trend + weekly seasonality)
# --------------------------------------------------------------------------

_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2
_HW_M = 7
_HW_H = 7

_HW_ORACLE = f"""
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y FROM daily
),
nn AS (SELECT MAX(i) AS t FROM idx),
seed AS MATERIALIZED (
  -- integer-valued doubles: the seed sums are exact under ANY order
  SELECT (SELECT SUM(y) FROM idx WHERE i <= {_HW_M}) / {_HW_M} AS l0,
         ((SELECT SUM(y) FROM idx WHERE i > {_HW_M} AND i <= {2 * _HW_M})
            / {_HW_M}
          - (SELECT SUM(y) FROM idx WHERE i <= {_HW_M}) / {_HW_M})
           / {_HW_M} AS b0
),
s0 AS MATERIALIZED (
  -- lambda captures sd.l0 as an outer COLUMN: DuckDB rejects subqueries
  -- inside lambda bodies
  SELECT list_transform(l.ys, v -> v - sd.l0) AS s
  FROM (SELECT list(y ORDER BY i) AS ys FROM idx WHERE i <= {_HW_M}) l,
       seed sd
),
hw(i, l, b, s) AS (
  SELECT CAST({_HW_M} AS BIGINT), (SELECT l0 FROM seed),
         (SELECT b0 FROM seed), (SELECT s FROM s0)
  UNION ALL
  SELECT h.i + 1,
         {_HW_A} * (x.y - h.s[CAST((h.i) % {_HW_M} + 1 AS INTEGER)])
           + {1 - _HW_A} * (h.l + h.b),
         {_HW_B} * (({_HW_A} * (x.y - h.s[CAST((h.i) % {_HW_M} + 1 AS INTEGER)])
                     + {1 - _HW_A} * (h.l + h.b)) - h.l)
           + {1 - _HW_B} * h.b,
         list_transform(generate_series(1, {_HW_M}), k ->
           CASE WHEN k = CAST((h.i) % {_HW_M} + 1 AS INTEGER)
                THEN {_HW_G} * (x.y
                       - ({_HW_A} * (x.y
                            - h.s[CAST((h.i) % {_HW_M} + 1 AS INTEGER)])
                          + {1 - _HW_A} * (h.l + h.b)))
                     + {1 - _HW_G} * h.s[CAST((h.i) % {_HW_M} + 1 AS INTEGER)]
                ELSE h.s[k] END)
  FROM hw h JOIN idx x ON x.i = h.i + 1
),
fin AS (SELECT l, b, s FROM hw WHERE i = (SELECT t FROM nn))
SELECT CAST(g.h AS INTEGER) AS horizon,
       ROUND((SELECT l FROM fin) + g.h * (SELECT b FROM fin)
             + (SELECT s[CAST(((SELECT t FROM nn) + g.h - 1) % {_HW_M} + 1
                              AS INTEGER)] FROM fin), 6) AS forecast,
       ROUND((SELECT s[CAST(((SELECT t FROM nn) + g.h - 1) % {_HW_M} + 1
                            AS INTEGER)] FROM fin), 6) AS seasonal
FROM (SELECT unnest(generate_series(1, {_HW_H})) AS h) g
"""


@register("ts_holt_winters", oracle=_HW_ORACLE)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x253: HOLT-WINTERS ADDITIVE — level + trend + weekly seasonality,
    completing the classical smoothing ladder (x90 flat EMA -> x224
    level+trend -> x232 irregular spacing -> THIS): l_t = α(y_t − s_{t−m})
    + (1−α)(l+b); b_t as in Holt; s_t = γ(y_t − l_t) + (1−γ)s_{t−m};
    forecast ŷ_{T+h} = l_T + h·b_T + s_{(T+h−1) mod m + 1}. The go-to for
    any weekly-cyclic operational series; emits the 7-day forecast with
    its seasonal component broken out.

    Engineering point: the seasonal state is a LENGTH-7 ARRAY carried
    INSIDE the Catalyst aggregate() fold (updated functionally via
    transform-with-index), mirrored by a DuckDB recursive CTE carrying a
    LIST column — both engines walk identical IEEE arithmetic over
    identical operand order, so state stays bit-exact (x224's argument
    extended to array state). Seeds: l₀ = week-1 mean, b₀ = (week-2 mean
    − week-1 mean)/7, s seeds = week-1 deviations — integer-valued
    doubles, exact under any summation order.

    100 TB: the daily agg is the only row-scale work; the fold is a
    single-task epilogue over |days|; per-key series parallelize by
    adding the key to the groupBy (x224's note)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select((F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    a, b, g, m = _HW_A, _HW_B, _HW_G, _HW_M
    folded = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    ).select(
        F.size("arr").alias("t"),
        F.expr(
            f"""
            aggregate(
              slice(arr, {m + 1}, size(arr) - {m}),
              named_struct(
                'i', CAST({m} AS INT),
                'l', aggregate(slice(arr, 1, {m}), CAST(0.0 AS DOUBLE),
                               (acc, e) -> acc + e.y) / {m},
                'b', (aggregate(slice(arr, {m + 1}, {m}), CAST(0.0 AS DOUBLE),
                                (acc, e) -> acc + e.y) / {m}
                      - aggregate(slice(arr, 1, {m}), CAST(0.0 AS DOUBLE),
                                  (acc, e) -> acc + e.y) / {m}) / {m},
                's', transform(sequence(1, {m}), k ->
                       arr[k - 1].y
                       - aggregate(slice(arr, 1, {m}), CAST(0.0 AS DOUBLE),
                                   (acc, e) -> acc + e.y) / {m})),
              (st, x) -> named_struct(
                'i', st.i + 1,
                'l', {a} * (x.y - st.s[st.i % {m}])
                     + {1 - a} * (st.l + st.b),
                'b', {b} * (({a} * (x.y - st.s[st.i % {m}])
                             + {1 - a} * (st.l + st.b)) - st.l)
                     + {1 - b} * st.b,
                's', transform(sequence(1, {m}), k ->
                       CASE WHEN k - 1 = st.i % {m}
                            THEN {g} * (x.y
                                   - ({a} * (x.y - st.s[st.i % {m}])
                                      + {1 - a} * (st.l + st.b)))
                                 + {1 - g} * st.s[st.i % {m}]
                            ELSE st.s[k - 1] END))
            ) AS st
            """
        ).alias("st"),
    )
    horizons = spark.range(1, _HW_H + 1).select(
        F.col("id").cast("int").alias("horizon")
    )
    fin = folded.select(
        "t", F.col("st.l").alias("l"), F.col("st.b").alias("b"), F.col("st.s").alias("s")
    )
    out = horizons.join(F.broadcast(fin)).select(
        "horizon",
        F.round(
            F.col("l")
            + F.col("horizon") * F.col("b")
            + F.element_at(
                F.col("s"), ((F.col("t") + F.col("horizon") - 1) % _HW_M + 1).cast("int")
            ),
            6,
        ).alias("forecast"),
        F.round(
            F.element_at(
                F.col("s"), ((F.col("t") + F.col("horizon") - 1) % _HW_M + 1).cast("int")
            ),
            6,
        ).alias("seasonal"),
    )
    return out


# --------------------------------------------------------------------------
# x254 — lagged cross-correlation between two event-type series
# --------------------------------------------------------------------------

_XC_MAX_LAG = 7
_XC_A, _XC_B = "view", "purchase"

_XCORR_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         SUM(CASE WHEN event_type = '{_XC_A}' THEN 1 ELSE 0 END) AS xa,
         SUM(CASE WHEN event_type = '{_XC_B}' THEN 1 ELSE 0 END) AS xb
  FROM events WHERE event_type IN ('{_XC_A}', '{_XC_B}')
  GROUP BY 1
),
lags AS (SELECT unnest(generate_series(-{_XC_MAX_LAG}, {_XC_MAX_LAG})) AS lag),
joined AS (
  SELECT l.lag, a.xa, b.xb
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + l.lag
),
mo AS (
  SELECT lag, COUNT(*) AS n,
         SUM(xa) AS sa, SUM(xb) AS sb,
         SUM(xa * xb) AS sab, SUM(xa * xa) AS saa, SUM(xb * xb) AS sbb
  FROM joined GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_days,
       ROUND((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb)
             / SQRT((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
                    * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb)),
             6) AS xcorr
FROM mo WHERE n >= {_XC_MAX_LAG}
"""


@register("ts_xcorr_lagged", oracle=_XCORR_ORACLE)
def ts_xcorr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x254: LAGGED CROSS-CORRELATION between the daily '{_XC_A}' and
    '{_XC_B}' series over lags -{_XC_MAX_LAG}..+{_XC_MAX_LAG} — the
    lead/lag detector ("do views lead purchases, and by how many
    days?"): the argmax lag is the causal-delay hypothesis every funnel
    model starts from, and the symmetric profile distinguishes shared
    seasonality (flat ridge) from genuine lead (off-center peak). The
    cross-series sibling of x147's autocorrelation.

    Exactness: daily counts are integers, so all five Pearson moments
    per lag are EXACT integer sums (no order exposure); the correlation
    is one identically-parenthesized float expression with a correctly-
    rounded sqrt, display-pinned at 6dp. Short-overlap lags (< 
    {_XC_MAX_LAG} shared days) are dropped rather than reported on
    meaningless support.

    100 TB: the series collapse to |days| rows first; the lag expansion
    is a bounded 15x explode JOINED ON DAY (an equi-join — never a
    window-per-lag rescan), and the moment agg is map-combined per
    lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin(_XC_A, _XC_B))
        .select(
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
            F.when(F.col("event_type") == _XC_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == _XC_B, 1).otherwise(0).alias("ib"),
        )
        .groupBy("day")
        .agg(F.sum("ia").alias("xa"), F.sum("ib").alias("xb"))
        .localCheckpoint(eager=True)
    )
    expanded = daily.select(
        "day",
        "xa",
        F.explode(
            F.sequence(F.lit(-_XC_MAX_LAG), F.lit(_XC_MAX_LAG))
        ).alias("lag"),
    ).withColumn("bday", F.col("day") + F.col("lag"))
    joined = expanded.join(
        daily.select(F.col("day").alias("bday"), "xb"), "bday"
    )
    n = F.count(F.lit(1))
    sa = F.sum("xa")
    sb = F.sum("xb")
    sab = F.sum(F.col("xa") * F.col("xb"))
    saa = F.sum(F.col("xa") * F.col("xa"))
    sbb = F.sum(F.col("xb") * F.col("xb"))
    mo = joined.groupBy("lag").agg(
        n.alias("n"),
        sa.alias("sa"),
        sb.alias("sb"),
        sab.alias("sab"),
        saa.alias("saa"),
        sbb.alias("sbb"),
    )
    num = F.col("n") * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb")
    den = F.sqrt(
        (
            F.col("n") * F.col("saa").cast("double")
            - F.col("sa").cast("double") * F.col("sa")
        )
        * (
            F.col("n") * F.col("sbb").cast("double")
            - F.col("sb").cast("double") * F.col("sb")
        )
    )
    return (
        mo.filter(F.col("n") >= _XC_MAX_LAG)
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.round(num / den, 6).alias("xcorr"),
        )
    )


# --------------------------------------------------------------------------
# x257 — rolling-origin backtest: naive vs seasonal-naive forecasters
# --------------------------------------------------------------------------

_BT_HORIZON_DAYS = 14

_BT_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY event_type, 2
),
mx AS (SELECT MAX(day) AS dmax FROM daily),
scored AS (
  SELECT c.event_type,
         ABS(c.y - n1.y) AS e_naive,
         ABS(c.y - n7.y) AS e_snaive
  FROM daily c
  JOIN daily n1 ON n1.event_type = c.event_type AND n1.day = c.day - 1
  JOIN daily n7 ON n7.event_type = c.event_type AND n7.day = c.day - 7
  WHERE c.day > (SELECT dmax FROM mx) - {_BT_HORIZON_DAYS}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_origins,
       CAST(SUM(e_naive) AS BIGINT) AS sae_naive,
       CAST(SUM(e_snaive) AS BIGINT) AS sae_snaive,
       ROUND(CAST(SUM(e_naive) AS DOUBLE) / COUNT(*), 6) AS mae_naive,
       ROUND(CAST(SUM(e_snaive) AS DOUBLE) / COUNT(*), 6) AS mae_snaive,
       CAST(CASE WHEN SUM(e_snaive) < SUM(e_naive) THEN 1 ELSE 0 END
         AS INTEGER) AS snaive_wins
FROM scored GROUP BY event_type
"""


@register("ts_backtest_naive", oracle=_BT_ORACLE)
def ts_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x257: ROLLING-ORIGIN BACKTEST of the two baseline forecasters —
    naive (ŷ_t = y_{t-1}) vs seasonal-naive (ŷ_t = y_{t-7}) — per event
    type over the last {_BT_HORIZON_DAYS} origins. THE forecast-eval
    methodology in its minimal form: every model in the suite (x138,
    x224, x253) must beat these two on exactly this protocol before it
    ships, and snaive-beats-naive IS the standard test for "does this
    series have weekly structure worth modeling". Origins where a lag is
    missing drop out (join semantics — never a silently-imputed zero
    error).

    All-integer: counts, absolute errors, and their sums are exact;
    MAE is the only division, display-pinned. The winner flag compares
    the INTEGER sums, so it can never disagree with the displayed MAEs.

    100 TB: the day-grain collapse is the only row-scale work; the two
    lag alignments are equi self-joins on (type, day) — x138's
    sparse-series argument: row-offset lags mis-align on missing days,
    calendar joins cannot."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)
    )
    n1 = daily.select(
        F.col("event_type").alias("event_type"),
        (F.col("day") + 1).alias("day"),
        F.col("y").alias("y1"),
    )
    n7 = daily.select(
        F.col("event_type").alias("event_type"),
        (F.col("day") + 7).alias("day"),
        F.col("y").alias("y7"),
    )
    # global max day via an unpartitioned window over the COLLAPSED
    # day-grain frame (pareto_abc's rule) — a 1-row broadcast cross would
    # be a needless BNLJ allowlist entry
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = (
        daily.withColumn("dmax", F.max("day").over(w_all))
        .join(n1, ["event_type", "day"])
        .join(n7, ["event_type", "day"])
        .filter(F.col("day") > F.col("dmax") - _BT_HORIZON_DAYS)
        .select(
            "event_type",
            F.abs(F.col("y") - F.col("y1")).alias("e_naive"),
            F.abs(F.col("y") - F.col("y7")).alias("e_snaive"),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_origins"),
        F.sum("e_naive").cast("long").alias("sae_naive"),
        F.sum("e_snaive").cast("long").alias("sae_snaive"),
        F.round(F.sum("e_naive").cast("double") / F.count(F.lit(1)), 6).alias(
            "mae_naive"
        ),
        F.round(F.sum("e_snaive").cast("double") / F.count(F.lit(1)), 6).alias(
            "mae_snaive"
        ),
        F.when(F.sum("e_snaive") < F.sum("e_naive"), 1)
        .otherwise(0)
        .cast("int")
        .alias("snaive_wins"),
    )


# --------------------------------------------------------------------------
# x264 — per-type spectral entropy of the hourly profile (full spectrum)
# --------------------------------------------------------------------------

# x229's micro-unit trig discipline extended to the full positive spectrum
# (k = 1..11, Nyquist-1 for period 24): one Python-generated integer table
# feeds both engines, so every projection is an exact int64 sum.
_SPEC_K = 11
_SPEC_TABLE = tuple(
    (
        k,
        h,
        round(_math.cos(2 * _math.pi * k * h / 24) * 1_000_000),
        round(_math.sin(2 * _math.pi * k * h / 24) * 1_000_000),
    )
    for k in range(1, _SPEC_K + 1)
    for h in range(24)
)
_SPEC_VALUES = ", ".join(f"({k}, {h}, {c}, {s})" for k, h, c, s in _SPEC_TABLE)

_SPECENT_ORACLE = f"""
WITH prof AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS h, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
trig(k, h, cos_u, sin_u) AS (VALUES {_SPEC_VALUES}),
proj AS (
  SELECT p.event_type, t.k,
         SUM(p.n * t.cos_u) AS a_u, SUM(p.n * t.sin_u) AS b_u
  FROM prof p JOIN trig t ON p.h = t.h
  GROUP BY p.event_type, t.k
),
pw AS (
  SELECT event_type, k,
         ROUND((CAST(a_u AS DOUBLE) / 1e6) * (a_u / 1e6)
               + (CAST(b_u AS DOUBLE) / 1e6) * (b_u / 1e6), 2) AS power
  FROM proj
),
sh AS (
  SELECT event_type, k, power,
         ROUND(power / SUM(power) OVER (PARTITION BY event_type), 6) AS p_share
  FROM pw
),
ent AS (
  SELECT event_type,
         SUM(CASE WHEN p_share > 0
                  THEN CAST(ROUND(-p_share * ln(p_share) * 1000000) AS BIGINT)
                  ELSE 0 END) AS h_u
  FROM sh GROUP BY event_type
)
SELECT s.event_type, s.k, s.power, s.p_share,
       ROUND(e.h_u / 1e6 / ln({_SPEC_K}), 6) AS spectral_entropy
FROM sh s JOIN ent e ON e.event_type = s.event_type
"""


@register("ts_spectral_entropy", oracle=_SPECENT_ORACLE)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x264: SPECTRAL ENTROPY of each type's hourly profile — x229's DFT
    extended per-type to the full positive spectrum (k=1..{_SPEC_K}) with
    the one-number summary on top: normalized Shannon entropy of the
    power shares. Near 0 = all cyclic power in one harmonic (clean
    diurnal habit); near 1 = flat spectrum — the standard
    "is there any rhythm at all?" signal (bot/noise traffic scores
    high), complementing x185's variance-based regularity and x261's
    circular concentration.

    Determinism: integer trig projections (x229's table at k≤{_SPEC_K}),
    power pinned 2dp, shares pinned 6dp, each entropy term −p·ln p
    rounded to integer micro-nats BEFORE the sum (x113's device) so the
    per-type entropy is an exact integer sum under any order.

    100 TB: row grain touches only the (type, hour) agg; everything
    after is |types|·24 rows against a 264-row broadcast constant."""
    ev = load_table(spark, sf_dir, "events")
    prof = (
        ev.select("event_type", F.hour("ts").cast("int").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trig = spark.createDataFrame(
        list(_SPEC_TABLE), schema="k int, h int, cos_u long, sin_u long"
    )
    proj = (
        prof.join(F.broadcast(trig), "h")
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("n") * F.col("cos_u")).alias("a_u"),
            F.sum(F.col("n") * F.col("sin_u")).alias("b_u"),
        )
    )
    pw = proj.select(
        "event_type",
        "k",
        F.round(
            (F.col("a_u").cast("double") / 1e6) * (F.col("a_u") / 1e6)
            + (F.col("b_u").cast("double") / 1e6) * (F.col("b_u") / 1e6),
            2,
        ).alias("power"),
    )
    w_t = Window.partitionBy("event_type")
    sh = pw.select(
        "event_type",
        "k",
        "power",
        F.round(F.col("power") / F.sum("power").over(w_t), 6).alias("p_share"),
    )
    # r15 (guide §2.4): the entropy total used to be a groupBy + join back
    # on event_type — the join's agg side re-derived the whole corpus
    # (type, hour) subtree (SortMergeJoin in the before plan). The total is
    # a per-type SUM over the same ≤_SPEC_K rows, so it rides the SAME
    # window partition as p_share — no join, one corpus derivation. Same
    # exact integers. Interleaved 5-shot medians 0.95 -> 0.82 s at sf0.1.
    h_u = F.sum(
        F.when(
            F.col("p_share") > 0,
            F.round(-F.col("p_share") * F.log("p_share") * 1_000_000).cast(
                "long"
            ),
        ).otherwise(0)
    ).over(w_t)
    return sh.select(
        "event_type",
        "k",
        "power",
        "p_share",
        F.round(h_u / 1e6 / _math.log(_SPEC_K), 6).alias("spectral_entropy"),
    )


# --------------------------------------------------------------------------
# x265 — theta-method forecast (SES + half-drift, M3 baseline)
# --------------------------------------------------------------------------

_THETA_ALPHA = 0.3
_THETA_H = 7

_THETA_ORACLE = f"""
WITH RECURSIVE
daily AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y FROM daily),
nn AS (SELECT MAX(i) AS t, COUNT(*) AS n FROM idx),
mom AS (
  SELECT COUNT(*) AS n, SUM(i) AS si, SUM(y) AS sy,
         SUM(i * i) AS sii, SUM(i * y) AS siy
  FROM idx
),
ses(i, l) AS (
  SELECT CAST(1 AS BIGINT), (SELECT y FROM idx WHERE i = 1)
  UNION ALL
  SELECT s.i + 1, {_THETA_ALPHA} * x.y + {1 - _THETA_ALPHA} * s.l
  FROM ses s JOIN idx x ON x.i = s.i + 1
  WHERE s.i < (SELECT t FROM nn)
),
fin AS (SELECT l FROM ses WHERE i = (SELECT t FROM nn)),
drift AS (
  SELECT (CAST(n * siy - si * sy AS DOUBLE) / (n * sii - si * si)) / 2 AS d
  FROM mom
)
SELECT CAST(g.h AS INTEGER) AS horizon,
       ROUND((SELECT l FROM fin) + g.h * (SELECT d FROM drift), 6) AS forecast,
       ROUND((SELECT l FROM fin), 6) AS ses_level,
       ROUND((SELECT d FROM drift), 6) AS half_drift
FROM (SELECT UNNEST(generate_series(1, {_THETA_H})) AS h) g
"""


@register("ts_theta_forecast", oracle=_THETA_ORACLE)
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x265: THETA-METHOD forecast of the daily count — the M3
    competition's surprise winner and still the baseline every neural
    forecaster is measured against: average of the theta=0 line (pure
    linear trend) and theta=2 curve, algebraically equivalent to SES
    plus HALF the OLS drift. Slots between x224's Holt (adaptive trend)
    and x138's seasonal naive on the ladder; x257's backtest protocol is
    how you pick among them.

    Determinism: the SES recursion runs as a Catalyst aggregate() fold
    vs DuckDB's recursive CTE with identical parenthesization —
    bit-identical state (x224's argument); the drift comes from exact
    integer OLS moments (day index × integer counts), one expression.

    100 TB: distributed daily agg, then a single-task |days| fold + a
    1-row broadcast onto the horizon frame — x224's shape exactly."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select((F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    a = _THETA_ALPHA
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "y"
    )
    mom = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").alias("si"),
        F.sum("y").alias("sy"),
        F.sum(F.col("i") * F.col("i")).alias("sii"),
        F.sum(F.col("i") * F.col("y")).alias("siy"),
    )
    ses = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    ).select(
        F.expr(
            f"""
            aggregate(
              slice(arr, 2, size(arr) - 1),
              CAST(arr[0].y AS DOUBLE),
              (acc, x) -> {a} * x.y + {1 - a} * acc
            ) AS l
            """
        )
    )
    drift = mom.select(
        (
            (
                F.col("n") * F.col("siy") - F.col("si") * F.col("sy")
            ).cast("double")
            / (F.col("n") * F.col("sii") - F.col("si") * F.col("si"))
            / 2
        ).alias("d")
    )
    horizons = spark.range(1, _THETA_H + 1).select(
        F.col("id").cast("int").alias("horizon")
    )
    return (
        horizons.join(F.broadcast(ses))
        .join(F.broadcast(drift))
        .select(
            "horizon",
            F.round(F.col("l") + F.col("horizon") * F.col("d"), 6).alias(
                "forecast"
            ),
            F.round("l", 6).alias("ses_level"),
            F.round("d", 6).alias("half_drift"),
        )
    )


# --------------------------------------------------------------------------
# x266 — Hurst exponent by rescaled-range (R/S) analysis
# --------------------------------------------------------------------------

_HURST_SIZES = (5, 10, 15)
_HURST_SIZES_SQL = ", ".join(str(m) for m in _HURST_SIZES)

_HURST_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
sz(m) AS (SELECT UNNEST(ARRAY[{_HURST_SIZES_SQL}])),
blk AS (
  SELECT x.event_type, s.m, (x.i - 1) // s.m AS b, (x.i - 1) % s.m + 1 AS t,
         x.y
  FROM idx x CROSS JOIN sz s
),
full_blk AS (
  SELECT event_type, m, b,
         SUM(y) AS s, SUM(y * y) AS ssq, COUNT(*) AS cnt
  FROM blk GROUP BY 1, 2, 3 HAVING COUNT(*) = m
),
dev AS (
  SELECT k.event_type, k.m, k.b,
         MAX(pd.d) - MIN(pd.d) AS rng_m,
         k.s, k.ssq
  FROM full_blk k JOIN (
    SELECT event_type, m, b, t,
           m * SUM(y) OVER (PARTITION BY event_type, m, b ORDER BY t
                            ROWS UNBOUNDED PRECEDING)
             - t * SUM(y) OVER (PARTITION BY event_type, m, b) AS d
    FROM blk
  ) pd ON pd.event_type = k.event_type AND pd.m = k.m AND pd.b = k.b
  GROUP BY 1, 2, 3, k.s, k.ssq
),
rs AS (
  SELECT event_type, m, b,
         CAST(ROUND(CAST(rng_m AS DOUBLE)
                    / sqrt(CAST(m * ssq - s * s AS DOUBLE)) * 1000000)
              AS BIGINT) AS rs_u
  FROM dev WHERE m * ssq - s * s > 0
),
lvl AS (
  SELECT event_type, m, COUNT(*) AS n_blocks,
         ROUND(SUM(rs_u) / (COUNT(*) * 1e6), 6) AS rs_mean,
         CAST(ROUND(ln(SUM(rs_u) / (COUNT(*) * 1e6)) * 1000000) AS BIGINT)
           AS lny_u,
         CAST(ROUND(ln(m) * 1000000) AS BIGINT) AS lnx_u
  FROM rs GROUP BY event_type, m
),
fit AS (
  SELECT event_type,
         ROUND((COUNT(*) * SUM(CAST(lnx_u AS DOUBLE) / 1e6 * lny_u / 1e6)
                - SUM(CAST(lnx_u AS DOUBLE) / 1e6) * SUM(CAST(lny_u AS DOUBLE) / 1e6))
               / (COUNT(*) * SUM(CAST(lnx_u AS DOUBLE) / 1e6 * lnx_u / 1e6)
                  - SUM(CAST(lnx_u AS DOUBLE) / 1e6) * SUM(CAST(lnx_u AS DOUBLE) / 1e6)),
               6) AS hurst
  FROM lvl GROUP BY event_type
)
SELECT l.event_type, CAST(l.m AS INTEGER) AS m, CAST(l.n_blocks AS BIGINT)
         AS n_blocks,
       l.rs_mean, f.hurst
FROM lvl l JOIN fit f ON f.event_type = l.event_type
"""


@register("ts_hurst_rs", oracle=_HURST_ORACLE)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x266: HURST EXPONENT by classical rescaled-range analysis per
    event type — the long-memory diagnostic (H≈0.5 random walk, H>0.5
    persistent/trending, H<0.5 mean-reverting) that says whether x62's
    anomaly fences can assume independent days at all. Block sizes
    {_HURST_SIZES}: each type's day series splits into full blocks, R =
    range of cumulative mean-deviations, S = block std, H = log-log
    slope of mean(R/S) against block size.

    Determinism: inside a block, the t-th cumulative deviation times m
    is the INTEGER m·prefix_t − t·sum (no rational mean ever
    materializes), so R·m and m·ssq − s² are exact; each block's R/S
    rounds to integer micro-units before averaging (x113), and the
    3-point log-log OLS runs on micro-nat integer logs. The one sqrt is
    correctly-rounded IEEE.

    100 TB: all work after the daily agg is at (type, size, block)
    grain — a decade of days is ~730 blocks/type. The window prefix-sum
    partitions by (type, m, b): bounded m-length frames, perfectly
    parallel."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    idx = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    sz = spark.createDataFrame([(m,) for m in _HURST_SIZES], schema="m int")
    blk = idx.join(F.broadcast(sz)).select(
        "event_type",
        "m",
        ((F.col("i") - 1) / F.col("m")).cast("long").alias("b"),
        ((F.col("i") - 1) % F.col("m") + 1).alias("t"),
        "y",
    )
    w_pre = (
        Window.partitionBy("event_type", "m", "b")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_blk = Window.partitionBy("event_type", "m", "b")
    pd_ = blk.select(
        "event_type",
        "m",
        "b",
        "y",
        (
            F.col("m") * F.sum("y").over(w_pre)
            - F.col("t") * F.sum("y").over(w_blk)
        ).alias("d"),
    )
    agg = pd_.groupBy("event_type", "m", "b").agg(
        (F.max("d") - F.min("d")).alias("rng_m"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ssq"),
        F.count(F.lit(1)).alias("cnt"),
    ).filter(F.col("cnt") == F.col("m"))
    disc = F.col("m") * F.col("ssq") - F.col("s") * F.col("s")
    rs = agg.filter(disc > 0).select(
        "event_type",
        "m",
        F.round(
            F.col("rng_m").cast("double") / F.sqrt(disc.cast("double")) * 1_000_000
        )
        .cast("long")
        .alias("rs_u"),
    )
    lvl = rs.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.round(F.sum("rs_u") / (F.count(F.lit(1)) * 1e6), 6).alias("rs_mean"),
        F.round(
            F.log(F.sum("rs_u") / (F.count(F.lit(1)) * 1e6)) * 1_000_000
        )
        .cast("long")
        .alias("lny_u"),
        F.round(F.log(F.col("m").cast("double")) * 1_000_000)
        .cast("long")
        .alias("lnx_u"),
    )
    lx = F.col("lnx_u").cast("double") / 1e6
    ly = F.col("lny_u").cast("double") / 1e6
    fit = lvl.groupBy("event_type").agg(
        F.round(
            (
                F.count(F.lit(1)) * F.sum(lx * F.col("lny_u") / 1e6)
                - F.sum(lx) * F.sum(ly)
            )
            / (
                F.count(F.lit(1)) * F.sum(lx * F.col("lnx_u") / 1e6)
                - F.sum(lx) * F.sum(lx)
            ),
            6,
        ).alias("hurst")
    )
    return lvl.join(fit, "event_type").select(
        "event_type",
        F.col("m").cast("int").alias("m"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        "rs_mean",
        "hurst",
    )


# --------------------------------------------------------------------------
# x267 — Granger-style lead test: does "view" yesterday predict "purchase"?
# --------------------------------------------------------------------------

_GRANGER_SRC = "view"
_GRANGER_DST = "purchase"

_GRANGER_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events WHERE event_type IN ('{_GRANGER_SRC}', '{_GRANGER_DST}')
  GROUP BY 1, 2
),
rows_ AS (
  SELECT d.day, d.y AS yt, dl.y AS yl, xl.y AS xl
  FROM daily d
  JOIN daily dl ON dl.event_type = '{_GRANGER_DST}' AND dl.day = d.day - 1
  JOIN daily xl ON xl.event_type = '{_GRANGER_SRC}' AND xl.day = d.day - 1
  WHERE d.event_type = '{_GRANGER_DST}'
),
mom AS (
  SELECT COUNT(*) AS n, SUM(yt) AS sy, SUM(yl) AS s1, SUM(xl) AS s2,
         SUM(yl * yl) AS s11r, SUM(xl * xl) AS s22r, SUM(yl * xl) AS s12r,
         SUM(yl * yt) AS s1yr, SUM(xl * yt) AS s2yr, SUM(yt * yt) AS syyr
  FROM rows_
),
cen AS (
  SELECT n,
         n * s11r - s1 * s1 AS s11, n * s22r - s2 * s2 AS s22,
         n * s12r - s1 * s2 AS s12, n * s1yr - s1 * sy AS s1y,
         n * s2yr - s2 * sy AS s2y, n * syyr - sy * sy AS syy
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(s1y AS DOUBLE) * s1y / (CAST(s11 AS DOUBLE) * syy), 6)
         AS r2_restricted,
       ROUND((CAST(s22 AS DOUBLE) * s1y * s1y
              - 2 * CAST(s12 AS DOUBLE) * s1y * s2y
              + CAST(s11 AS DOUBLE) * s2y * s2y)
             / ((CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                * syy), 6) AS r2_full,
       ROUND(((CAST(s22 AS DOUBLE) * s1y * s1y
               - 2 * CAST(s12 AS DOUBLE) * s1y * s2y
               + CAST(s11 AS DOUBLE) * s2y * s2y)
              / ((CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                 * syy)
              - CAST(s1y AS DOUBLE) * s1y / (CAST(s11 AS DOUBLE) * syy))
             / (1 - (CAST(s22 AS DOUBLE) * s1y * s1y
                     - 2 * CAST(s12 AS DOUBLE) * s1y * s2y
                     + CAST(s11 AS DOUBLE) * s2y * s2y)
                    / ((CAST(s11 AS DOUBLE) * s22
                        - CAST(s12 AS DOUBLE) * s12) * syy))
             * (n - 3), 6) AS f_stat
FROM cen
"""


@register("ts_granger_lite", oracle=_GRANGER_ORACLE)
def ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x267: GRANGER-STYLE lead-lag test at lag 1 — does yesterday's
    '{_GRANGER_SRC}' count improve the prediction of today's
    '{_GRANGER_DST}' count beyond what yesterday's own value gives?
    Restricted AR(1) model y_t ~ y_{{t-1}} vs full y_t ~ (y_{{t-1}},
    x_{{t-1}}); F = ΔR²/(1−R²_full)·(n−3) is the incremental-explanatory
    test. The hypothesis-testing sibling of x254's lagged
    cross-correlation (which finds the peak lag; this prices lag 1's
    significance against the autoregression baseline).

    Determinism: both models' R² come from ONE set of exact integer
    moments (counts × counts; lag alignment by CALENDAR equi-join on
    day−1, x257's device, so missing days drop instead of silently
    shifting), composed in one fixed-parenthesization expression — the
    x253 bit-exactness argument; 2-regressor closed form is x196's
    Cramer solve.

    100 TB: row grain is the daily agg; everything else is |days| rows,
    two self-equi-joins on day, and a 1-row moment reduce. At daily
    counts ≥ ~3e9 the n·Σxx products need DECIMAL(38) (x196's note)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin(_GRANGER_SRC, _GRANGER_DST))
        .select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    d = daily.filter(F.col("event_type") == _GRANGER_DST).select(
        "day", F.col("y").alias("yt")
    )
    dl = daily.filter(F.col("event_type") == _GRANGER_DST).select(
        (F.col("day") + 1).alias("day"), F.col("y").alias("yl")
    )
    xl = daily.filter(F.col("event_type") == _GRANGER_SRC).select(
        (F.col("day") + 1).alias("day"), F.col("y").alias("xl")
    )
    rows_ = d.join(dl, "day").join(xl, "day")
    mom = rows_.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sy"),
        F.sum("yl").alias("s1"),
        F.sum("xl").alias("s2"),
        F.sum(F.col("yl") * F.col("yl")).alias("s11r"),
        F.sum(F.col("xl") * F.col("xl")).alias("s22r"),
        F.sum(F.col("yl") * F.col("xl")).alias("s12r"),
        F.sum(F.col("yl") * F.col("yt")).alias("s1yr"),
        F.sum(F.col("xl") * F.col("yt")).alias("s2yr"),
        F.sum(F.col("yt") * F.col("yt")).alias("syyr"),
    )
    cen = mom.select(
        "n",
        (F.col("n") * F.col("s11r") - F.col("s1") * F.col("s1")).alias("s11"),
        (F.col("n") * F.col("s22r") - F.col("s2") * F.col("s2")).alias("s22"),
        (F.col("n") * F.col("s12r") - F.col("s1") * F.col("s2")).alias("s12"),
        (F.col("n") * F.col("s1yr") - F.col("s1") * F.col("sy")).alias("s1y"),
        (F.col("n") * F.col("s2yr") - F.col("s2") * F.col("sy")).alias("s2y"),
        (F.col("n") * F.col("syyr") - F.col("sy") * F.col("sy")).alias("syy"),
    )
    r2_r = (
        F.col("s1y").cast("double")
        * F.col("s1y")
        / (F.col("s11").cast("double") * F.col("syy"))
    )
    num_f = (
        F.col("s22").cast("double") * F.col("s1y") * F.col("s1y")
        - 2 * F.col("s12").cast("double") * F.col("s1y") * F.col("s2y")
        + F.col("s11").cast("double") * F.col("s2y") * F.col("s2y")
    )
    den_f = (
        F.col("s11").cast("double") * F.col("s22")
        - F.col("s12").cast("double") * F.col("s12")
    ) * F.col("syy")
    r2_f = num_f / den_f
    return cen.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(r2_r, 6).alias("r2_restricted"),
        F.round(r2_f, 6).alias("r2_full"),
        F.round((r2_f - r2_r) / (1 - r2_f) * (F.col("n") - 3), 6).alias(
            "f_stat"
        ),
    )


# --------------------------------------------------------------------------
# x268 — SAX symbolization of the daily series (PAA + rank terciles)
# --------------------------------------------------------------------------

_SAX_W = 5  # days per PAA block

_SAX_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
paa AS (
  SELECT event_type, (i - 1) // {_SAX_W} AS blk,
         SUM(y) AS s, COUNT(*) AS cnt
  FROM idx GROUP BY 1, 2 HAVING COUNT(*) = {_SAX_W}
),
rk AS (
  SELECT event_type, blk, s,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s, blk) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM paa
)
SELECT event_type, CAST(blk AS BIGINT) AS blk,
       ROUND(CAST(s AS DOUBLE) / {_SAX_W}, 6) AS paa_mean,
       CAST(r AS BIGINT) AS paa_rank,
       CASE WHEN r * 3 <= m THEN 'a'
            WHEN r * 3 <= 2 * m THEN 'b'
            ELSE 'c' END AS symbol
FROM rk
"""


@register("ts_sax_symbols", oracle=_SAX_ORACLE)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x268: SAX SYMBOLIZATION (Lin/Keogh) of each type's daily series —
    Piecewise Aggregate Approximation over {_SAX_W}-day blocks, then a
    3-letter alphabet by RANK terciles: the dimensionality reduction
    that turns a numeric series into a short string, unlocking string
    machinery (x67's pattern matching, x5's fingerprints, motif/anomaly
    discovery by symbol n-gram counts) on time-series data.

    Rank terciles instead of the classical Gaussian breakpoints: the
    symbol is decided by integer comparison r·3 ≤ m (ties pinned by
    block index) — no float threshold a cross-engine .5 can straddle,
    and no normality assumption on counts data. paa_mean is display
    only (exact integer sum / constant).

    100 TB: all work past the daily agg is at block grain (|days|/{_SAX_W}
    rows per type); the rank window partitions per type — a decade is
    ~730 blocks, trivially in-memory per partition."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    idx = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    paa = (
        idx.groupBy(
            "event_type",
            ((F.col("i") - 1) / _SAX_W).cast("long").alias("blk"),
        )
        .agg(F.sum("y").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == _SAX_W)
    )
    rk = paa.select(
        "event_type",
        "blk",
        "s",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("s", "blk"))
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("m"),
    )
    return rk.select(
        "event_type",
        F.col("blk").cast("long").alias("blk"),
        F.round(F.col("s").cast("double") / _SAX_W, 6).alias("paa_mean"),
        F.col("r").cast("long").alias("paa_rank"),
        F.when(F.col("r") * 3 <= F.col("m"), "a")
        .when(F.col("r") * 3 <= 2 * F.col("m"), "b")
        .otherwise("c")
        .alias("symbol"),
    )


# --------------------------------------------------------------------------
# x276 — day-over-day KS drift trajectory (x259's device at day grain)
# --------------------------------------------------------------------------

_KSD_ORACLE = """
WITH pts AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
cnt AS (
  SELECT event_type, day, cents, COUNT(*) AS c FROM pts GROUP BY 1, 2, 3
),
paired AS (
  SELECT event_type, day, cents, c, 2 AS side FROM cnt
  UNION ALL
  SELECT event_type, day + 1 AS day, cents, c, 1 AS side FROM cnt
),
grid AS (
  SELECT event_type, day, cents,
         SUM(CASE WHEN side = 1 THEN c ELSE 0 END) AS d1,
         SUM(CASE WHEN side = 2 THEN c ELSE 0 END) AS d2
  FROM paired GROUP BY 1, 2, 3
),
ecdf AS (
  SELECT event_type, day,
         SUM(d1) OVER (PARTITION BY event_type, day ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(d2) OVER (PARTITION BY event_type, day ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS c2,
         SUM(d1) OVER (PARTITION BY event_type, day) AS n1,
         SUM(d2) OVER (PARTITION BY event_type, day) AS n2
  FROM grid
),
stat AS (
  SELECT event_type, day, MAX(n1) AS n1, MAX(n2) AS n2,
         MAX(ABS(c1 * n2 - c2 * n1)) AS d_num
  FROM ecdf GROUP BY event_type, day
  HAVING MAX(n1) > 0 AND MAX(n2) > 0
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(n1 AS BIGINT) AS n_prev, CAST(n2 AS BIGINT) AS n_cur,
       CAST(d_num AS BIGINT) AS d_num,
       ROUND(CAST(d_num AS DOUBLE) / (n1 * n2), 6) AS ks_d,
       CAST(CASE WHEN (CAST(d_num AS DOUBLE) / (n1 * n2))
                      * (CAST(d_num AS DOUBLE) / (n1 * n2))
                      * (CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) > 1.8444
                 THEN 1 ELSE 0 END AS INTEGER) AS drift_flag
FROM stat
"""


@register("events_ks_drift_daily", oracle=_KSD_ORACLE)
def events_ks_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x276: DAY-OVER-DAY KS drift trajectory — x259's exact-integer
    two-sample KS statistic computed for every (type, day) against the
    previous day: the monitoring TIME SERIES (st18's PSI trajectory with
    a bin-free, shape-sensitive statistic). drift_flag fires when
    λ² = D²·n₁n₂/(n₁+n₂) exceeds 1.8444 — the α=5% Smirnov critical
    value ((K⁻¹(0.95)/1)² with 2e^{-2λ²}=0.05 ⇒ λ²=ln(40)/2), spelled
    as an INTEGER-derived comparison so the flag cannot straddle a
    rounding boundary the way a pinned p-value could.

    The day-pairing is the UNION device (each day's value histogram
    participates once as "current", once shifted +1 as "previous") —
    one extra copy of the (type, day, value) grain, no self-join of
    row-grain data, missing days simply produce no paired row.

    100 TB: row grain collapses to (type, day, value) counts first
    (map-combined); the ECDF windows run per (type, day) partition over
    |distinct values| rows. Same int64 headroom note as x259."""
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Explode-union (r14, the graph_triangle_count device): each histogram
    # row participates once as "current" (side 2) and once shifted +1 as
    # "previous" (side 1) via ONE explode(array(...)) instead of a 2-branch
    # union — the union re-derived the corpus scan+agg per branch (2 scans,
    # 0 runtime ReusedExchange, verified), the explode derives it once and
    # fans out the bounded (type, day, cents) grain 2x. Local wash at
    # sf0.1; at scale the corpus agg volume halves.
    paired = cnt.select(
        "event_type",
        "cents",
        "c",
        F.explode(
            F.array(
                F.struct(F.col("day").alias("day"), F.lit(2).alias("side")),
                F.struct(
                    (F.col("day") + 1).alias("day"), F.lit(1).alias("side")
                ),
            )
        ).alias("ds"),
    ).select(
        "event_type", F.col("ds.day").alias("day"), "cents", "c", "ds.side"
    )
    grid = paired.groupBy("event_type", "day", "cents").agg(
        F.sum(F.when(F.col("side") == 1, F.col("c")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("side") == 2, F.col("c")).otherwise(0)).alias("d2"),
    )
    w_cum = (
        Window.partitionBy("event_type", "day")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type", "day")
    ecdf = grid.select(
        "event_type",
        "day",
        F.sum("d1").over(w_cum).alias("c1"),
        F.sum("d2").over(w_cum).alias("c2"),
        F.sum("d1").over(w_all).alias("n1"),
        F.sum("d2").over(w_all).alias("n2"),
    )
    stat = (
        ecdf.groupBy("event_type", "day")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("d_num"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    ks_d = F.col("d_num").cast("double") / (F.col("n1") * F.col("n2"))
    lam2 = (
        ks_d
        * ks_d
        * (F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2")))
    )
    return stat.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("n1").cast("long").alias("n_prev"),
        F.col("n2").cast("long").alias("n_cur"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(ks_d, 6).alias("ks_d"),
        F.when(lam2 > 1.8444, 1).otherwise(0).cast("int").alias("drift_flag"),
    )


# --------------------------------------------------------------------------
# x281 — dispersion panel: Fano factor / CV² / burstiness per type
# --------------------------------------------------------------------------

_DISP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
acc AS (
  SELECT event_type, COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS ssq
  FROM daily GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_daily,
       ROUND((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1), 6)
         AS var_daily,
       ROUND(((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             / (CAST(s AS DOUBLE) / n), 6) AS fano,
       ROUND(((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             / ((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 6) AS cv2,
       ROUND((sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
              - CAST(s AS DOUBLE) / n)
             / (sqrt((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
                + CAST(s AS DOUBLE) / n), 6) AS burstiness
FROM acc
"""


@register("events_dispersion_panel", oracle=_DISP_ORACLE)
def events_dispersion_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x281: DISPERSION PANEL of each type's daily counts — the three
    standard over/under-dispersion diagnostics in one agg: FANO factor
    (var/mean; 1 = Poisson, >1 clumped arrivals, <1 regular/rate-limited
    — the statistical test x185's bot detector applies informally), CV²
    (the scale-free version), and Goh-Barabási BURSTINESS B =
    (σ−μ)/(σ+μ) ∈ (−1, 1) — the index the human-dynamics literature
    standardized on. x260 asks "is there a trend?"; this asks "is the
    noise even Poisson?" — the answer decides whether x62's z fences or
    a negative-binomial model is honest.

    Determinism: all three derive from the exact integer moments
    (n, Σy, Σy²) in ONE fixed-parenthesization expression each; sqrt is
    correctly-rounded IEEE. Sample (n−1) variance, pinned 6dp.

    100 TB: x260's shape — a map-combined daily agg then |types| rows.
    Σy² caps int64 at ~3e9 events/day-cell (DECIMAL swap noted)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    acc = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ssq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ssq").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    sd = F.sqrt(var)
    return acc.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("fano"),
        F.round(var / (mean * mean), 6).alias("cv2"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


# --------------------------------------------------------------------------
# x285 — largest-triangle downsampling with fixed bucket-mean anchors
# --------------------------------------------------------------------------

_LTTB_W = 3  # days per bucket

_LTTB_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1)
           // {_LTTB_W} AS b
  FROM daily
),
anch AS (
  SELECT event_type, b, SUM(day) AS sx, SUM(y) AS sy, COUNT(*) AS m
  FROM idx GROUP BY event_type, b
),
lim AS (
  SELECT event_type, MAX(b) AS bmax FROM idx GROUP BY event_type
),
scored AS (
  SELECT i.event_type, i.b, i.day, i.y,
         ABS((p.sx * n.m - n.sx * p.m) * (i.y * p.m - p.sy)
             - (p.sx - i.day * p.m) * (n.sy * p.m - p.sy * n.m)) AS area_key
  FROM idx i
  JOIN anch p ON p.event_type = i.event_type AND p.b = i.b - 1
  JOIN anch n ON n.event_type = i.event_type AND n.b = i.b + 1
),
picked AS (
  SELECT event_type, b, day, y, area_key,
         ROW_NUMBER() OVER (PARTITION BY event_type, b
                            ORDER BY area_key DESC, day) AS r
  FROM scored
),
edges AS (
  SELECT i.event_type, i.b, i.day, i.y,
         CAST(NULL AS BIGINT) AS area_key,
         CASE WHEN i.b = 0 THEN \'first\' ELSE \'last\' END AS rule,
         ROW_NUMBER() OVER (PARTITION BY i.event_type, i.b
                            ORDER BY CASE WHEN i.b = 0 THEN i.day END ASC,
                                     i.day DESC) AS r
  FROM idx i JOIN lim l ON l.event_type = i.event_type
  WHERE i.b = 0 OR i.b = l.bmax
)
SELECT event_type, CAST(b AS BIGINT) AS bucket, CAST(day AS BIGINT) AS day,
       CAST(y AS BIGINT) AS y, CAST(area_key AS BIGINT) AS area_key,
       \'area\' AS rule
FROM picked WHERE r = 1
UNION ALL
SELECT event_type, CAST(b AS BIGINT), CAST(day AS BIGINT), CAST(y AS BIGINT),
       area_key, rule
FROM edges WHERE r = 1
"""


@register("ts_downsample_lttb", oracle=_LTTB_ORACLE)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x285: LARGEST-TRIANGLE DOWNSAMPLING (Steinarsson\'s LTTB, the
    plot-decimation standard) with FIXED bucket-mean anchors: per
    {_LTTB_W}-day bucket keep the point subtending the largest triangle
    against the neighboring buckets\' mean points — the point a human eye
    would miss most if dropped. Classical LTTB anchors on the previously
    SELECTED point (inherently sequential); the fixed-anchor variant
    anchors both sides on bucket means, which parallelizes perfectly and
    is the documented accuracy-neutral simplification for monitoring
    dashboards. First/last buckets keep their boundary points (the
    series endpoints must survive any decimation).

    Determinism: the triangle area is ranked by |cross product| SCALED
    THROUGH by both anchor divisors — area·2·m_prev·m_next =
    |(Sx_p·m_n − Sx_n·m_p)(y·m_p − Sy_p) − (Sx_p − x·m_p)(Sy_n·m_p −
    Sy_p·m_n)| — an exact int64 on both engines (the x266 clear-the-
    rational-mean device on a 2-D cross product); ties pin by day.

    100 TB: everything past the daily agg is at day/bucket grain; the
    anchor join is bucket-grain equi, the argmax one bounded window per
    bucket. Decimating a row-grain series swaps \'day\' for the raw
    timestamp — same shape, W spans more rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    idx = daily.select(
        "event_type",
        "day",
        "y",
        (
            (
                F.row_number()
                .over(Window.partitionBy("event_type").orderBy("day"))
                - 1
            )
            / _LTTB_W
        )
        .cast("long")
        .alias("b"),
    )
    anch = idx.groupBy("event_type", "b").agg(
        F.sum("day").alias("sx"), F.sum("y").alias("sy"), F.count(F.lit(1)).alias("m")
    )
    lim = idx.groupBy("event_type").agg(F.max("b").alias("bmax"))
    p = anch.select(
        F.col("event_type").alias("et_p"),
        (F.col("b") + 1).alias("b_p"),
        F.col("sx").alias("sxp"),
        F.col("sy").alias("syp"),
        F.col("m").alias("mp"),
    )
    n = anch.select(
        F.col("event_type").alias("et_n"),
        (F.col("b") - 1).alias("b_n"),
        F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
        F.col("m").alias("mn"),
    )
    scored = (
        idx.join(
            p, (F.col("event_type") == F.col("et_p")) & (F.col("b") == F.col("b_p"))
        )
        .join(
            n, (F.col("event_type") == F.col("et_n")) & (F.col("b") == F.col("b_n"))
        )
        .select(
            "event_type",
            "b",
            "day",
            "y",
            F.abs(
                (F.col("sxp") * F.col("mn") - F.col("sxn") * F.col("mp"))
                * (F.col("y") * F.col("mp") - F.col("syp"))
                - (F.col("sxp") - F.col("day") * F.col("mp"))
                * (F.col("syn") * F.col("mp") - F.col("syp") * F.col("mn"))
            ).alias("area_key"),
        )
    )
    w_pick = Window.partitionBy("event_type", "b").orderBy(
        F.col("area_key").desc(), "day"
    )
    picked = (
        scored.withColumn("r", F.row_number().over(w_pick))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("b").cast("long").alias("bucket"),
            F.col("day").cast("long").alias("day"),
            F.col("y").cast("long").alias("y"),
            F.col("area_key").cast("long").alias("area_key"),
            F.lit("area").alias("rule"),
        )
    )
    edge_rows = idx.join(lim, "event_type").filter(
        (F.col("b") == 0) | (F.col("b") == F.col("bmax"))
    )
    w_edge = Window.partitionBy("event_type", "b").orderBy(
        F.when(F.col("b") == 0, F.col("day")).asc(), F.col("day").desc()
    )
    edges = (
        edge_rows.withColumn("r", F.row_number().over(w_edge))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("b").cast("long").alias("bucket"),
            F.col("day").cast("long").alias("day"),
            F.col("y").cast("long").alias("y"),
            F.lit(None).cast("long").alias("area_key"),
            F.when(F.col("b") == 0, "first").otherwise("last").alias("rule"),
        )
    )
    return picked.unionByName(edges)


# --------------------------------------------------------------------------
# x290 — Ljung-Box portmanteau whiteness test on the daily series
# --------------------------------------------------------------------------

_LB_MAXLAG = 7
# chi2 95% critical values for df = 1..7, pinned literals (trap #18: never
# an in-SQL inverse CDF; both engines compare against the same constant).
_LB_CRIT = (3.841459, 5.991465, 7.814728, 9.487729, 11.070498, 12.591587,
            14.067140)
_LB_CRIT_SQL = " ".join(
    f"WHEN k = {i + 1} THEN {c}" for i, c in enumerate(_LB_CRIT)
)

_LB_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         SUM(y) OVER (PARTITION BY event_type) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
dev AS (
  SELECT event_type, i, n, CAST(n * y - t AS BIGINT) AS d FROM idx
),
den AS (
  SELECT event_type, MAX(n) AS n, SUM(CAST(d AS HUGEINT) * d) AS s0
  FROM dev GROUP BY event_type
),
lags AS (SELECT UNNEST(generate_series(1, {_LB_MAXLAG})) AS k),
num AS (
  SELECT a.event_type, l.k, SUM(CAST(a.d AS HUGEINT) * b.d) AS sk
  FROM dev a
  JOIN lags l ON a.i > l.k
  JOIN dev b ON b.event_type = a.event_type AND b.i = a.i - l.k
  GROUP BY a.event_type, l.k
),
acf AS (
  SELECT nm.event_type, nm.k, dn.n,
         CAST(ROUND(CAST(nm.sk AS DOUBLE) / CAST(dn.s0 AS DOUBLE) * 1000000)
              AS BIGINT) AS r_u
  FROM num nm JOIN den dn ON nm.event_type = dn.event_type
),
q AS (
  -- exact integer Q accumulation (r11 straddle closure): each lag's term
  -- r_u^2/(n-k) pins to a BIGINT at 1e-12 scale (one division), the
  -- running window sums INTEGERS (engine-internal accumulation order is
  -- irrelevant), and n(n+2)*sum stays exact (~2e15 max)
  SELECT event_type, k, n, r_u,
         n * (n + 2)
           * SUM(CAST(ROUND(CAST(r_u * r_u AS DOUBLE) / (n - k)) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY k
                     ROWS UNBOUNDED PRECEDING) AS q_u
  FROM acf
),
qq AS (
  SELECT event_type, k, n, r_u, q_u,
         ROUND(CAST(q_u AS DOUBLE) / 1e12, 4) AS q_k
  FROM q
)
SELECT event_type, CAST(k AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(r_u AS DOUBLE) / 1000000.0, 6) AS r_k, q_k,
       CAST(CASE WHEN q_k > (CASE {_LB_CRIT_SQL} END)
                 THEN 1 ELSE 0 END AS INTEGER) AS wn_reject
FROM qq
"""


@register("ts_ljung_box", oracle=_LB_ORACLE)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x290: LJUNG-BOX portmanteau test per event type — cumulative
    Q(K) = n(n+2) Σ r_k²/(n−k) over lags 1..7 on the daily
    count series, each lag's Q against its own pinned chi2(k) 95%
    critical value: the WHITENESS gate that says whether x229's ACF
    peaks are signal or noise, and whether a forecast's residual ladder
    (x257's backtest) has left structure on the table.

    Exactness: r_k's numerator and denominator both use the n·y−T
    integer-deviation device (x266 — no rational mean ever
    materializes; the n² factors cancel in the ratio), products in
    HUGEINT/DECIMAL(38); r_k publishes at 6dp and Q composes FROM the
    published r_k (x196's device) through an ORDERED prefix window —
    sequential in the same lag order on both engines. Critical values
    are pinned literals (trap #18).

    100 TB: everything past the daily agg is |types|·|days| grain; the
    lag joins are |days|-row equi self-joins per type partition."""
    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w_t.orderBy("day")).alias("i"),
        F.sum("y").over(w_t).alias("t"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    dev = idx.select(
        "event_type",
        "i",
        "n",
        (F.col("n") * F.col("y") - F.col("t")).cast("long").alias("d"),
    )
    den = dev.groupBy("event_type").agg(
        F.max("n").alias("n"), F.sum(dec("d") * F.col("d")).alias("s0")
    )
    # lag fan-out by EXPLODE of a pinned literal array (not a cross join —
    # keeps the plan BNLJ-free; the equi self-join below is a hash join)
    b = dev.select(
        F.col("event_type").alias("event_type_b"),
        F.col("i").alias("i_b"),
        F.col("d").alias("d_b"),
    )
    num = (
        dev.withColumn(
            "k",
            F.explode(
                F.array(*[F.lit(k).cast("long") for k in range(1, _LB_MAXLAG + 1)])
            ),
        )
        .filter(F.col("i") > F.col("k"))
        .join(
            b,
            (F.col("event_type_b") == F.col("event_type"))
            & (F.col("i_b") == F.col("i") - F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(F.sum(dec("d") * F.col("d_b")).alias("sk"))
    )
    acf = num.join(den, "event_type").select(
        "event_type",
        "k",
        "n",
        F.round(
            F.col("sk").cast("double") / F.col("s0").cast("double") * 1_000_000
        )
        .cast("long")
        .alias("r_u"),
    )
    wq = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exact integer Q accumulation (r11): per-lag term pinned to BIGINT at
    # 1e-12 scale, window sums integers, n(n+2)*sum stays exact
    q = acf.select(
        "event_type",
        "k",
        "n",
        "r_u",
        (
            F.col("n")
            * (F.col("n") + 2)
            * F.sum(
                F.round(
                    (F.col("r_u") * F.col("r_u")).cast("double")
                    / (F.col("n") - F.col("k"))
                ).cast("long")
            ).over(wq)
        ).alias("q_u"),
    ).withColumn("q_k", F.round(F.col("q_u").cast("double") / 1e12, 4))
    crit = F.lit(None).cast("double")
    for i, cv in enumerate(_LB_CRIT):
        crit = F.when(F.col("k") == i + 1, F.lit(cv)).otherwise(crit)
    return q.select(
        "event_type",
        F.col("k").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("r_u").cast("double") / 1_000_000.0, 6).alias("r_k"),
        "q_k",
        F.when(F.col("q_k") > crit, 1).otherwise(0).cast("int").alias(
            "wn_reject"
        ),
    )


# --------------------------------------------------------------------------
# x291 — Wald-Wolfowitz runs test on the daily series vs its median
# --------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT event_type, day, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY y, day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
med AS (
  SELECT event_type, MIN(CASE WHEN rn = (n + 1) // 2 THEN y END) AS med
  FROM rk GROUP BY event_type
),
s AS (
  SELECT d.event_type, d.day,
         CASE WHEN d.y > m.med THEN 1 ELSE 0 END AS sgn
  FROM daily d JOIN med m ON d.event_type = m.event_type
  WHERE d.y <> m.med
),
runs AS (
  SELECT event_type, sgn,
         CASE WHEN LAG(sgn) OVER (PARTITION BY event_type ORDER BY day)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS brk
  FROM s
),
agg AS (
  SELECT event_type, CAST(SUM(brk) AS BIGINT) AS r,
         CAST(SUM(sgn) AS BIGINT) AS n1,
         CAST(SUM(1 - sgn) AS BIGINT) AS n2
  FROM runs GROUP BY event_type
)
SELECT event_type, r AS n_runs, n1 AS n_above, n2 AS n_below,
       ROUND(1 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
       ROUND((r - (1 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (n1 + n2 - 1))), 6) AS z_score
FROM agg
"""


@register("ts_runs_test", oracle=_RUNS_ORACLE)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x291: WALD-WOLFOWITZ runs test per event type — is the daily
    series RANDOM around its own median, or does it trend/oscillate?
    Too few runs = persistence (x266's H>0.5 read as a test), too many
    = alternation. The distribution-free sibling of x262's Mann-Kendall
    (which needs a direction; this only needs exchangeability).

    Signs vs the rank-discrete LOWER median (x129's device), ties AT
    the median dropped (the textbook convention — keeps n1/n2 exact
    integers); runs counted as sign-change breaks via LAG over the day
    order (IS DISTINCT FROM makes the first row a break, so R = Σbrk
    directly). R, n1, n2 exact integers; E[R], Var[R], z one
    identically-parenthesized float epilogue at 6dp.

    100 TB: daily agg then |types|·|days| windows; the median rank pass
    partitions per type. Nothing leaves type-partition grain."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    rk = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(w_t.orderBy("y", "day")).alias("rn"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    med = rk.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("y"))
        ).alias("med")
    )
    s = (
        daily.join(med, "event_type")
        .filter(F.col("y") != F.col("med"))
        .select(
            "event_type",
            "day",
            F.when(F.col("y") > F.col("med"), 1).otherwise(0).alias("sgn"),
        )
    )
    runs = s.select(
        "event_type",
        "sgn",
        F.when(
            ~F.lag("sgn")
            .over(w_t.orderBy("day"))
            .eqNullSafe(F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("brk").cast("long").alias("r"),
        F.sum("sgn").cast("long").alias("n1"),
        F.sum(1 - F.col("sgn")).cast("long").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    e_r = 1 + 2.0 * n1 * n2 / (n1 + n2)
    var_r = (
        2.0
        * n1
        * n2
        * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        "event_type",
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        F.round(e_r, 6).alias("expected_runs"),
        F.round((r - e_r) / F.sqrt(var_r), 6).alias("z_score"),
    )


# --------------------------------------------------------------------------
# x292 — Pettitt change-point test (exact integer U trajectory)
# --------------------------------------------------------------------------

_PETTITT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
cnt AS (
  SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1, 2
),
w AS (
  SELECT event_type, y,
         COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS c_lt,
         SUM(c) OVER (PARTITION BY event_type) AS n_tot, c
  FROM cnt
),
wi AS (
  SELECT event_type, y,
         CAST(n_tot - c_lt - c AS BIGINT) - CAST(c_lt AS BIGINT) AS wv
  FROM w
),
u AS (
  SELECT d.event_type, d.day,
         SUM(wi.wv) OVER (PARTITION BY d.event_type ORDER BY d.day
                          ROWS UNBOUNDED PRECEDING) AS u_t,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn,
         COUNT(*) OVER (PARTITION BY d.event_type) AS n
  FROM daily d JOIN wi ON d.event_type = wi.event_type AND d.y = wi.y
),
inner_u AS (SELECT * FROM u WHERE rn < n),
k AS (
  SELECT event_type, MAX(ABS(u_t)) AS k_stat, MAX(n) AS n
  FROM inner_u GROUP BY event_type
)
SELECT k.event_type, CAST(k.n AS BIGINT) AS n_days,
       CAST(k.k_stat AS BIGINT) AS k_stat,
       CAST(MIN(i.day) AS BIGINT) AS change_day,
       ROUND(2 * EXP(-6.0 * k.k_stat * k.k_stat
                     / (CAST(k.n AS DOUBLE) * k.n * k.n
                        + CAST(k.n AS DOUBLE) * k.n)), 6) AS p_approx,
       CAST(CASE WHEN 6 * k.k_stat * k.k_stat
                      > 3.688879 * (CAST(k.n AS DOUBLE) * k.n * k.n
                                    + CAST(k.n AS DOUBLE) * k.n)
                 THEN 1 ELSE 0 END AS INTEGER) AS shift_detected
FROM k JOIN inner_u i
  ON i.event_type = k.event_type AND ABS(i.u_t) = k.k_stat
GROUP BY k.event_type, k.n, k.k_stat
"""


@register("ts_pettitt", oracle=_PETTITT_ORACLE)
def ts_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x292: PETTITT change-point test per event type — the rank-based
    (distribution-free) sibling of x228's CUSUM: K = max_t |U_t| with
    U_t = Σ_{i≤t, j>t} sgn(y_j − y_i), locating the most probable
    single level shift without assuming normal residuals.

    The trajectory is EXACT integers end-to-end via the antisymmetry
    identity U_t = Σ_{i≤t} W_i where W_i = #{j: y_j > y_i} − #{j: y_j <
    y_i} (the i,j≤t half cancels): W comes from one value-grain count
    rollup + prefix window (no pairwise join — x259's ECDF philosophy),
    U_t is a prefix sum over days. change_day is the EARLIEST argmax
    (tie-pinned by MIN). Significance two ways: shift_detected is the
    integer-sided compare 6K² > ln(2/α)·(n³+n²) with ln(40)=3.688879
    pinned (no exp at the decision point), p_approx is the display-only
    2·exp(−6K²/(n³+n²)) rounded 6dp.

    100 TB: value-grain collapse first (|distinct y| per type), then
    |days| windows per type partition; no row-grain pairing ever."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    cnt = daily.groupBy("event_type", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = cnt.select(
        "event_type",
        "y",
        F.coalesce(
            F.sum("c").over(
                w_t.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("c_lt"),
        F.sum("c").over(w_t).alias("n_tot"),
        "c",
    )
    wi = w.select(
        "event_type",
        "y",
        (
            (F.col("n_tot") - F.col("c_lt") - F.col("c")).cast("long")
            - F.col("c_lt").cast("long")
        ).alias("wv"),
    )
    u = daily.join(wi, ["event_type", "y"]).select(
        "event_type",
        "day",
        F.sum("wv")
        .over(
            w_t.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("u_t"),
        F.row_number().over(w_t.orderBy("day")).alias("rn"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    inner_u = u.filter(F.col("rn") < F.col("n"))
    k = inner_u.groupBy("event_type").agg(
        F.max(F.abs(F.col("u_t"))).alias("k_stat"), F.max("n").alias("n")
    )
    n, ks = F.col("n"), F.col("k_stat")
    cubic = n.cast("double") * n * n + n.cast("double") * n
    return (
        k.join(inner_u.select("event_type", "day", "u_t"), "event_type")
        .filter(F.abs(F.col("u_t")) == ks)
        .groupBy("event_type", "n", "k_stat")
        .agg(F.min("day").cast("long").alias("change_day"))
        .select(
            "event_type",
            n.cast("long").alias("n_days"),
            ks.cast("long").alias("k_stat"),
            "change_day",
            F.round(2 * F.exp(-6.0 * ks * ks / cubic), 6).alias("p_approx"),
            F.when(6 * ks * ks > 3.688879 * cubic, 1)
            .otherwise(0)
            .cast("int")
            .alias("shift_detected"),
        )
    )


# --------------------------------------------------------------------------
# x293 — Croston's method for intermittent demand (partitioned SES folds)
# --------------------------------------------------------------------------

_CRO_ALPHA = 0.2
_CRO_TOPK = 25

_CRO_ORACLE = f"""
WITH RECURSIVE
demand AS (
  SELECT l_partkey AS pk,
         CAST(epoch_us(l_shipdate) AS BIGINT) // 86400000000 AS day,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS q
  FROM lineitem GROUP BY 1, 2
),
origin AS (SELECT MIN(day) AS d0 FROM demand),
top AS (
  SELECT pk, m FROM (
    SELECT pk, COUNT(*) AS m,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pk) AS rk
    FROM demand GROUP BY pk) t
  WHERE rk <= {_CRO_TOPK} AND m >= 3
),
seq AS (
  SELECT d.pk, t.m, d.q,
         ROW_NUMBER() OVER (PARTITION BY d.pk ORDER BY d.day) AS i,
         CAST(COALESCE(
           d.day - LAG(d.day) OVER (PARTITION BY d.pk ORDER BY d.day),
           d.day - (SELECT d0 FROM origin) + 1) AS DOUBLE) AS gap
  FROM demand d JOIN top t ON d.pk = t.pk
),
cro(pk, i, z, p) AS (
  SELECT pk, CAST(1 AS BIGINT), q, gap FROM seq WHERE i = 1
  UNION ALL
  SELECT c.pk, c.i + 1,
         {_CRO_ALPHA} * s.q + {1 - _CRO_ALPHA} * c.z,
         {_CRO_ALPHA} * s.gap + {1 - _CRO_ALPHA} * c.p
  FROM cro c JOIN seq s ON s.pk = c.pk AND s.i = c.i + 1
),
fin AS (
  SELECT c.pk, c.z, c.p, s.m
  FROM cro c
  JOIN (SELECT pk, MAX(i) AS mi, MAX(m) AS m FROM seq GROUP BY pk) s
    ON s.pk = c.pk AND c.i = s.mi
)
SELECT CAST(pk AS BIGINT) AS partkey, CAST(m AS BIGINT) AS n_demands,
       ROUND(z, 6) AS z_level, ROUND(p, 6) AS p_level,
       ROUND(ROUND(z, 6) / ROUND(p, 6), 6) AS demand_rate
FROM fin
"""


@register("ts_croston", oracle=_CRO_ORACLE)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x293: CROSTON'S METHOD for intermittent demand — the forecasting
    standard for sparse series where x224/x265 are wrong by construction
    (SES over mostly-zero days converges to ~0 and misses every spike):
    separate SES folds over the NONZERO demand sizes z and the
    inter-demand intervals p, forecast rate = z/p per day. Run per part
    over the top-25 most-regularly-demanded parts (rank-pinned ties by
    partkey, ≥3 demand days).

    Determinism: x224's argument — both engines spell the recursion
    z' = αq + (1−α)z, p' = αgap + (1−α)p with identical parenthesization
    over literal coefficients, so the folds are bit-identical (Spark
    Catalyst aggregate() with a (z,p) named_struct state vs DuckDB
    recursive CTE joined on (pk, i)). Init: z = first demand, p = days
    from the GLOBAL first demand day (+1) — pure integers cast to
    double. demand_rate composes FROM the published 6dp levels.

    100 TB: the fold is partitioned BY PART (embarrassingly parallel —
    x224's 'per-series variant' made real): one (part, day) map-combined
    agg, a top-k rank, then |parts| independent |demands|-length array
    folds. The 1-row origin frame is a broadcast cross (bounded)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = _CRO_ALPHA
    demand = (
        li.select(
            F.col("l_partkey").alias("pk"),
            F.expr(
                "timestampdiff(DAY, CAST('1970-01-01 00:00:00' AS"
                " TIMESTAMP_NTZ), l_shipdate)"
            )
            .cast("long")
            .alias("day"),
            F.round("l_quantity").cast("long").alias("qi"),
        )
        .groupBy("pk", "day")
        .agg(F.sum("qi").cast("double").alias("q"))
    )
    origin = demand.agg(F.min("day").alias("d0"))
    top = (
        demand.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("m"))
        .select(
            "pk",
            "m",
            F.row_number()
            .over(Window.orderBy(F.col("m").desc(), "pk"))
            .alias("rk"),
        )
        .filter((F.col("rk") <= _CRO_TOPK) & (F.col("m") >= 3))
        .drop("rk")
    )
    w_p = Window.partitionBy("pk").orderBy("day")
    seq = (
        demand.join(top, "pk")
        .crossJoin(F.broadcast(origin))
        .select(
            "pk",
            "m",
            "q",
            F.row_number().over(w_p).alias("i"),
            F.coalesce(
                F.col("day") - F.lag("day").over(w_p),
                F.col("day") - F.col("d0") + 1,
            )
            .cast("double")
            .alias("gap"),
        )
    )
    folded = (
        seq.groupBy("pk", "m")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "q", "gap"))).alias(
                "arr"
            )
        )
        .select(
            "pk",
            "m",
            F.expr(
                f"""
                aggregate(
                  slice(arr, 2, size(arr) - 1),
                  named_struct(
                    'z', CAST(arr[0].q AS DOUBLE),
                    'p', CAST(arr[0].gap AS DOUBLE)),
                  (acc, x) -> named_struct(
                    'z', {a} * x.q + {1 - a} * acc.z,
                    'p', {a} * x.gap + {1 - a} * acc.p)
                ) AS st
                """
            ),
        )
    )
    return folded.select(
        F.col("pk").cast("long").alias("partkey"),
        F.col("m").cast("long").alias("n_demands"),
        F.round(F.col("st.z"), 6).alias("z_level"),
        F.round(F.col("st.p"), 6).alias("p_level"),
        F.round(F.round(F.col("st.z"), 6) / F.round(F.col("st.p"), 6), 6).alias(
            "demand_rate"
        ),
    )


# --------------------------------------------------------------------------
# x294 — Bollinger bands (7-day trailing mean ± 2σ breach monitor)
# --------------------------------------------------------------------------

_BOLL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, day, y,
         CAST(SUM(y) OVER w AS BIGINT) AS s1,
         CAST(SUM(y * y) OVER w AS BIGINT) AS s2,
         COUNT(*) OVER w AS c
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS BIGINT) AS day, y,
       ROUND(s1 / 7.0, 6) AS ma7,
       ROUND(sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / 42.0), 6) AS sd7,
       ROUND(s1 / 7.0
             + 2 * sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / 42.0), 6)
         AS upper_band,
       ROUND(s1 / 7.0
             - 2 * sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / 42.0), 6)
         AS lower_band,
       CAST(CASE
         WHEN y > s1 / 7.0
                  + 2 * sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / 42.0)
           THEN 1
         WHEN y < s1 / 7.0
                  - 2 * sqrt((7.0 * s2 - CAST(s1 AS DOUBLE) * s1) / 42.0)
           THEN -1
         ELSE 0 END AS INTEGER) AS breach
FROM win WHERE c = 7
"""


@register("ts_bollinger", oracle=_BOLL_ORACLE)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x294: BOLLINGER BANDS per event type — 7-day trailing mean ± 2
    sample-σ with a breach flag (+1 above, −1 below): the classic
    volatility-adaptive monitor that sits between x62's global z fences
    (one σ for the whole history) and x90's EMA (no band at all). Bands
    include the current day (the charting convention); the frame is ROW
    -based over OBSERVED days — densifying gaps first is x36's job.

    Exactness: integer window sums S1, S2 (Σy² in int64 to ~3e9
    events/day); mean and σ via the n·S2 − S1² closed form in ONE
    identically-parenthesized expression; the breach compare runs
    integer y against the UNROUNDED band expression (same expression
    both engines — no published-value straddle), bands display at 6dp.

    100 TB: one shuffle on event_type, value-bounded 7-row frames;
    Catalyst collapses all window specs into a single sort."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    win = daily.select(
        "event_type",
        "day",
        "y",
        F.sum("y").over(w).cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("s2"),
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") == 7)
    sd = F.sqrt(
        (7.0 * F.col("s2") - F.col("s1").cast("double") * F.col("s1")) / 42.0
    )
    ma = F.col("s1") / 7.0
    return win.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "y",
        F.round(ma, 6).alias("ma7"),
        F.round(sd, 6).alias("sd7"),
        F.round(ma + 2 * sd, 6).alias("upper_band"),
        F.round(ma - 2 * sd, 6).alias("lower_band"),
        F.when(F.col("y") > ma + 2 * sd, 1)
        .when(F.col("y") < ma - 2 * sd, -1)
        .otherwise(0)
        .cast("int")
        .alias("breach"),
    )


# --------------------------------------------------------------------------
# x295 — rolling-origin forecast tournament (3 closed-form baselines)
# --------------------------------------------------------------------------

_TOUR_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
tr AS (
  SELECT event_type, CAST(SUM(y) AS BIGINT) AS t_tr,
         CAST(COUNT(*) AS BIGINT) AS n_tr,
         CAST(MAX(CASE WHEN i = n - 7 THEN y END) AS BIGINT) AS y_last
  FROM idx WHERE i <= n - 7 GROUP BY event_type
),
te AS (
  SELECT a.event_type, a.y, b.y AS y_l7
  FROM idx a
  JOIN idx b ON b.event_type = a.event_type AND b.i = a.i - 7
  WHERE a.i > a.n - 7
),
err AS (
  SELECT e.event_type,
         CAST(SUM(ABS(e.y - t.y_last)) AS BIGINT) AS e_naive,
         CAST(SUM(ABS(e.y - e.y_l7)) AS BIGINT) AS e_snaive,
         CAST(SUM(ABS(t.n_tr * e.y - t.t_tr)) AS BIGINT) AS e_mean_sc,
         CAST(SUM(e.y) AS BIGINT) AS d, CAST(MAX(t.n_tr) AS BIGINT) AS n_tr
  FROM te e JOIN tr t ON t.event_type = e.event_type
  GROUP BY e.event_type
),
keyed AS (
  SELECT event_type, 'mean' AS model, e_mean_sc AS ekey,
         ROUND(CAST(e_mean_sc AS DOUBLE) / (n_tr * d), 6) AS wape
  FROM err
  UNION ALL
  SELECT event_type, 'naive', e_naive * n_tr,
         ROUND(CAST(e_naive AS DOUBLE) / d, 6)
  FROM err
  UNION ALL
  SELECT event_type, 'snaive', e_snaive * n_tr,
         ROUND(CAST(e_snaive AS DOUBLE) / d, 6)
  FROM err
)
SELECT event_type, model, wape,
       CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY ekey, model) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS is_winner
FROM keyed
"""


@register("ts_backtest_tournament", oracle=_TOUR_ORACLE)
def ts_backtest_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x295: FORECAST TOURNAMENT per event type — x257's rolling-origin
    protocol run as a three-way closed-form bake-off on the last-7-day
    holdout: naive (last train value), seasonal-naive (lag-7), train
    mean; WAPE per model and an EXACT winner flag. The model-selection
    layer above the forecaster ladder (x138/x224/x265/x293): you don't
    ship a forecaster that loses to last-week's value.

    Exact winner: all three error sums are integers brought to the
    COMMON denominator n_tr·D (the mean model's |n_tr·y − T| device
    avoids a rational prediction; the others scale by n_tr), so the
    argmin is a pure integer compare, ties pinned by model name. WAPE
    displays at 6dp from the same integers.

    100 TB: one daily agg, one |days|-grain lag-7 equi self-join per
    type, a |types|-row integer reduce, 3 rows per type out."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.col("ts_us") / _US_PER_DAY).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w_t.orderBy("day")).alias("i"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    tr = (
        idx.filter(F.col("i") <= F.col("n") - 7)
        .groupBy("event_type")
        .agg(
            F.sum("y").cast("long").alias("t_tr"),
            F.count(F.lit(1)).cast("long").alias("n_tr"),
            F.max(F.when(F.col("i") == F.col("n") - 7, F.col("y")))
            .cast("long")
            .alias("y_last"),
        )
    )
    b = idx.select(
        F.col("event_type").alias("event_type_b"),
        F.col("i").alias("i_b"),
        F.col("y").alias("y_l7"),
    )
    te = (
        idx.filter(F.col("i") > F.col("n") - 7)
        .join(
            b,
            (F.col("event_type_b") == F.col("event_type"))
            & (F.col("i_b") == F.col("i") - 7),
        )
        .select("event_type", "y", "y_l7")
    )
    err = te.join(tr, "event_type").groupBy("event_type").agg(
        F.sum(F.abs(F.col("y") - F.col("y_last"))).cast("long").alias("e_naive"),
        F.sum(F.abs(F.col("y") - F.col("y_l7"))).cast("long").alias("e_snaive"),
        F.sum(F.abs(F.col("n_tr") * F.col("y") - F.col("t_tr")))
        .cast("long")
        .alias("e_mean_sc"),
        F.sum("y").cast("long").alias("d"),
        F.max("n_tr").cast("long").alias("n_tr"),
    )
    keyed = err.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.lit("mean").alias("model"),
                    F.col("e_mean_sc").alias("ekey"),
                    F.round(
                        F.col("e_mean_sc").cast("double")
                        / (F.col("n_tr") * F.col("d")),
                        6,
                    ).alias("wape"),
                ),
                F.struct(
                    F.lit("naive").alias("model"),
                    (F.col("e_naive") * F.col("n_tr")).alias("ekey"),
                    F.round(F.col("e_naive").cast("double") / F.col("d"), 6).alias(
                        "wape"
                    ),
                ),
                F.struct(
                    F.lit("snaive").alias("model"),
                    (F.col("e_snaive") * F.col("n_tr")).alias("ekey"),
                    F.round(
                        F.col("e_snaive").cast("double") / F.col("d"), 6
                    ).alias("wape"),
                ),
            )
        ).alias("m"),
    ).select("event_type", "m.model", "m.ekey", "m.wape")
    wr = Window.partitionBy("event_type").orderBy("ekey", "model")
    return keyed.select(
        "event_type",
        "model",
        "wape",
        F.when(F.row_number().over(wr) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_winner"),
    )


# --------------------------------------------------------------------------
# x301 — local-maxima peak detection with a window-mean prominence guard
# --------------------------------------------------------------------------

_PEAKS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ctx AS (
  SELECT event_type, day, y,
         LAG(y) OVER w AS y_prev,
         LEAD(y) OVER w AS y_next,
         CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS win_sum,
         CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS win_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, CAST(day AS BIGINT) AS day, y,
       CAST(y_prev AS BIGINT) AS y_prev, CAST(y_next AS BIGINT) AS y_next,
       win_sum, win_n,
       CAST(CASE WHEN win_n * y > 2 * win_sum THEN 1 ELSE 0 END AS INTEGER)
         AS is_major
FROM ctx
WHERE y_prev IS NOT NULL AND y_next IS NOT NULL
  AND y > y_prev AND y > y_next
"""


@register("ts_peaks", oracle=_PEAKS_ORACLE)
def ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x301: PEAK DETECTION per event type — strict local maxima of the
    daily count series (y above BOTH neighbors, edges excluded) with a
    prominence guard flag: is_major fires when the peak exceeds 2× the
    mean of its centered ±3-day window, spelled as the INTEGER cross-
    multiplied compare win_n·y > 2·win_sum (no mean is ever a float —
    x259's device on a window). The discrete complement of x194's
    deseasonalized anomalies and x131's CUSUM: those find level shifts,
    this finds spikes, and ts_downsample_lttb keeps exactly these rows
    visually.

    100 TB: one event_type shuffle; lag/lead and the ±3 frame share one
    window sort (Catalyst collapses same-spec windows); all outputs
    exact integers."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-3, 3)
    ctx = daily.select(
        "event_type",
        "day",
        "y",
        F.lag("y").over(w).alias("y_prev"),
        F.lead("y").over(w).alias("y_next"),
        F.sum("y").over(w7).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w7).cast("long").alias("win_n"),
    )
    return ctx.filter(
        F.col("y_prev").isNotNull()
        & F.col("y_next").isNotNull()
        & (F.col("y") > F.col("y_prev"))
        & (F.col("y") > F.col("y_next"))
    ).select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "y",
        F.col("y_prev").cast("long").alias("y_prev"),
        F.col("y_next").cast("long").alias("y_next"),
        "win_sum",
        "win_n",
        F.when(F.col("win_n") * F.col("y") > 2 * F.col("win_sum"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_major"),
    )


# --------------------------------------------------------------------------
# x302 — EWMA volatility (RiskMetrics lambda=0.94) trajectory per type
# --------------------------------------------------------------------------

_EWVOL_ORACLE = """
WITH RECURSIVE
daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT event_type, day,
         y - LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS dy,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
  FROM daily
),
dd AS (SELECT event_type, day, dy, i FROM d WHERE i >= 1),
rec(event_type, day, i, s2) AS (
  SELECT event_type, day, i, CAST(dy AS DOUBLE) * dy FROM dd WHERE i = 1
  UNION ALL
  SELECT n.event_type, n.day, n.i,
         0.94 * r.s2 + 0.06 * (CAST(n.dy AS DOUBLE) * n.dy)
  FROM rec r JOIN dd n ON n.event_type = r.event_type AND n.i = r.i + 1
)
SELECT r.event_type, CAST(r.day AS BIGINT) AS day,
       CAST(dd.dy AS BIGINT) AS d_count,
       ROUND(r.s2, 6) AS sigma2, ROUND(sqrt(r.s2), 6) AS ew_vol
FROM rec r JOIN dd ON dd.event_type = r.event_type AND dd.i = r.i
"""


@register("ts_ewvol", oracle=_EWVOL_ORACLE)
def ts_ewvol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x302: EWMA VOLATILITY (RiskMetrics, λ=0.94) per event type over
    the day-over-day count changes — σ²_t = 0.94·σ²_{t−1} + 0.06·d_t²,
    the variance twin of x90's EMA mean and the adaptive-σ input a
    volatility-scaled monitor wants where x294's equal-weight 7-day σ
    lags regime changes. Emits the full trajectory, not just the final
    state.

    Determinism: x293's argument — both engines run the IDENTICAL IEEE
    recursion (literal 0.94/0.06 coefficients, init σ²₁ = d₁²): DuckDB
    as a recursive CTE, Spark as per-prefix aggregate() folds over the
    sorted per-type array. A prefix fold replays exactly the ops of the
    incremental recursion in the same order, so the trajectories are
    bit-identical (the d² terms are integers squared into doubles).

    100 TB: day-grain bounded after the daily collapse (|days| ≤ ~4e4
    even for a century) — the O(|days|²) prefix folds are ~1e9 flat
    float ops worst case, per type, map-local; past that, the linear
    single-pass form is the same fold emitted from applyInPandas."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type",
        "day",
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        (F.row_number().over(w) - 1).alias("i"),
    ).filter(F.col("i") >= 1)
    arr = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("i", "day", "dy"))).alias("arr")
    )
    traj = arr.select(
        "event_type",
        F.explode(
            F.expr(
                """
                transform(arr, (x, j) -> named_struct(
                  'day', x.day,
                  'dy', x.dy,
                  's2', aggregate(
                    slice(arr, 2, j),
                    CAST(arr[0].dy AS DOUBLE) * arr[0].dy,
                    (acc, e) -> 0.94 * acc + 0.06 * (CAST(e.dy AS DOUBLE) * e.dy))
                ))
                """
            )
        ).alias("s"),
    )
    return traj.select(
        "event_type",
        F.col("s.day").cast("long").alias("day"),
        F.col("s.dy").cast("long").alias("d_count"),
        F.round(F.col("s.s2"), 6).alias("sigma2"),
        F.round(F.sqrt(F.col("s.s2")), 6).alias("ew_vol"),
    )


# --------------------------------------------------------------------------
# x307 — McNemar's paired test (purchase behavior, first vs second half)
# --------------------------------------------------------------------------

_MCN_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day
  FROM events
),
mid AS (
  SELECT (MIN(day) + MAX(day) + 1) // 2 AS m FROM ev
),
u AS (
  SELECT e.user_id,
         MAX(CASE WHEN e.day < mid.m THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN e.day >= mid.m THEN 1 ELSE 0 END) AS in2,
         MAX(CASE WHEN e.day < mid.m AND e.event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS p1,
         MAX(CASE WHEN e.day >= mid.m AND e.event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS p2
  FROM ev e CROSS JOIN mid
  GROUP BY e.user_id
),
pairs AS (SELECT p1, p2 FROM u WHERE in1 = 1 AND in2 = 1),
ct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n00,
         CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n01,
         CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n10,
         CAST(SUM(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n11
  FROM pairs
)
SELECT n_pairs, n00, n01, n10, n11,
       ROUND(CASE WHEN n01 + n10 = 0 THEN 0.0
                  ELSE CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
                            AS DOUBLE) / (n01 + n10) END, 6) AS chi2_cc,
       CAST(CASE WHEN n01 + n10 > 0
                 AND CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
                          AS DOUBLE) / (n01 + n10) > 3.841459
                 THEN 1 ELSE 0 END AS INTEGER) AS marginal_shift
FROM ct
"""


@register("events_mcnemar", oracle=_MCN_ORACLE)
def events_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x307: McNEMAR'S PAIRED TEST — did the per-user purchase propensity
    SHIFT between the first and second half of the observation window?
    Pairs are users active in BOTH halves; only the discordant cells
    (n01 converts-late, n10 lapses) carry information, with the
    continuity-corrected χ² = (|b−c|−1)²/(b+c) vs the pinned χ²₁ 95%
    literal. The within-subject complement of x175's independent-sample
    χ² and x247's diff-in-diff (which need separate groups).

    Exactness: the half boundary is pure integer day arithmetic
    ((min+max+1) div 2 — no calendar, no float); all five cells are
    exact integer conditional sums; χ² is one integer-ratio expression
    and the flag compares the UNROUNDED value (x294's device).

    100 TB: one map-combined per-user agg (the 1-row mid frame
    broadcast-crossed), then a 1-row reduce. Nothing at event grain
    leaves the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.expr("ts_us div 86400000000").alias("day")
    )
    mid = e.agg(
        F.expr("(MIN(day) + MAX(day) + 1) div 2").alias("m")
    )
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("day") < F.col("m"), 1).otherwise(0)).alias("in1"),
            F.max(F.when(F.col("day") >= F.col("m"), 1).otherwise(0)).alias("in2"),
            F.max(
                F.when(
                    (F.col("day") < F.col("m"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("p1"),
            F.max(
                F.when(
                    (F.col("day") >= F.col("m"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("p2"),
        )
        .filter((F.col("in1") == 1) & (F.col("in2") == 1))
    )
    ct = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
    )
    b, c = F.col("n10"), F.col("n01")
    chi2 = ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)).cast("double") / (c + b)
    return ct.select(
        "n_pairs",
        "n00",
        "n01",
        "n10",
        "n11",
        F.round(F.when(c + b == 0, F.lit(0.0)).otherwise(chi2), 6).alias(
            "chi2_cc"
        ),
        F.when((c + b > 0) & (chi2 > 3.841459), 1)
        .otherwise(0)
        .cast("int")
        .alias("marginal_shift"),
    )


# --------------------------------------------------------------------------
# x308 — effect-size panel (Cohen d / Hedges g / Glass delta / VD-A)
# --------------------------------------------------------------------------

_EFF_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
),
cell AS (
  SELECT cents,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM v GROUP BY cents
),
pre AS (
  SELECT cents, c1, c2,
         CAST(COALESCE(SUM(c2) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum2_lt
  FROM cell
),
a AS (
  SELECT CAST(SUM(c1 * (2 * cum2_lt + c2)) AS BIGINT) AS a_num2 FROM pre
),
g AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS n2,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
      AS BIGINT) AS t1,
    CAST(SUM(CASE WHEN event_type = 'click' THEN cents ELSE 0 END)
      AS BIGINT) AS t2,
    SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(cents AS DECIMAL(38, 0)) * cents ELSE 0 END) AS s1,
    SUM(CASE WHEN event_type = 'click'
             THEN CAST(cents AS DECIMAL(38, 0)) * cents ELSE 0 END) AS s2
  FROM v
),
m AS (
  SELECT n1, n2,
         CAST(t1 AS DOUBLE) / n1 - CAST(t2 AS DOUBLE) / n2 AS md,
         (CAST(s1 AS DOUBLE) - CAST(t1 AS DOUBLE) / n1 * t1) / (n1 - 1) AS v1,
         (CAST(s2 AS DOUBLE) - CAST(t2 AS DOUBLE) / n2 * t2) / (n2 - 1) AS v2
  FROM g
)
SELECT m.n1 AS n_purchase, m.n2 AS n_click,
       ROUND(md / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 6)
         AS cohens_d,
       ROUND(md / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g,
       ROUND(md / sqrt(v2), 6) AS glass_delta,
       ROUND(CAST(a.a_num2 AS DOUBLE) / (2.0 * n1 * n2), 6) AS vd_a
FROM m CROSS JOIN a
"""


@register("events_effect_sizes", oracle=_EFF_ORACLE)
def events_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x308: EFFECT-SIZE PANEL purchase vs click — Cohen's d (pooled σ),
    Hedges' g (small-sample bias factor 1 − 3/(4N−9)), Glass's Δ
    (control-group σ), and the Vargha-Delaney A measure P(X>Y) +
    ½P(X=Y): the magnitude readouts x297's t-test deliberately doesn't
    give (significance says "not noise"; these say "how big"). A is the
    effect-size twin of x144's Mann-Whitney U and is computed EXACTLY:
    2·A·n1·n2 = Σ c1·(2·cum2_lt + c2) over the shared value grid — an
    integer in half-units (x259's cross-multiplied ECDF device), never
    an O(n²) pair join.

    Exactness: moments exact (x297's accumulators), the three
    standardized differences are one shared-parenthesization double
    epilogue; A is an exact integer ratio pinned at 6dp.

    100 TB: one conditional-sum agg + one value-grain rollup with a
    single unpartitioned prefix window — bounded by the cents domain
    (x300's note), not the row count."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    is_p = F.col("event_type") == "purchase"
    cell = v.groupBy("cents").agg(
        F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(~is_p, 1).otherwise(0)).cast("long").alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    pre = cell.select(
        "c1",
        "c2",
        F.coalesce(F.sum("c2").over(w), F.lit(0)).cast("long").alias("cum2_lt"),
    )
    a = pre.agg(
        F.sum(F.col("c1") * (2 * F.col("cum2_lt") + F.col("c2")))
        .cast("long")
        .alias("a_num2")
    )
    cdec = F.col("cents").cast("decimal(38,0)")
    g = v.agg(
        F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~is_p, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(is_p, F.col("cents")).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(~is_p, F.col("cents")).otherwise(0)).cast("long").alias("t2"),
        F.sum(F.when(is_p, cdec * F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(F.when(~is_p, cdec * F.col("cents")).otherwise(0)).alias("s2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    md = F.col("t1").cast("double") / n1 - F.col("t2").cast("double") / n2
    v1 = (F.col("s1").cast("double") - F.col("t1").cast("double") / n1 * F.col("t1")) / (n1 - 1)
    v2 = (F.col("s2").cast("double") - F.col("t2").cast("double") / n2 * F.col("t2")) / (n2 - 1)
    sp = F.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d = md / sp
    return g.crossJoin(F.broadcast(a)).select(
        n1.alias("n_purchase"),
        n2.alias("n_click"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (F.lit(1.0) - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6).alias(
            "hedges_g"
        ),
        F.round(md / F.sqrt(v2), 6).alias("glass_delta"),
        F.round(F.col("a_num2").cast("double") / (2.0 * n1 * n2), 6).alias(
            "vd_a"
        ),
    )


# --------------------------------------------------------------------------
# x309 — session statistics panel (bounce rate by session-length bucket)
# --------------------------------------------------------------------------

_SESSTAT_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us, event_id
  FROM events
),
brk AS (
  SELECT user_id, event_type, us, event_id,
         CASE WHEN us - LAG(us) OVER w > 1800000000
              OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS b
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sid AS (
  SELECT user_id, event_type, us,
         SUM(b) OVER (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM brk
),
sess AS (
  SELECT user_id, s, CAST(COUNT(*) AS BIGINT) AS n_ev,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
  FROM sid GROUP BY user_id, s
),
bkt AS (
  SELECT CASE WHEN n_ev = 1 THEN '1'
              WHEN n_ev <= 3 THEN '2-3'
              WHEN n_ev <= 9 THEN '4-9'
              ELSE '10+' END AS bucket,
         n_ev, dur_us, has_p
  FROM sess
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM sess), 6) AS session_share,
       ROUND(CAST(SUM(n_ev) AS DOUBLE) / COUNT(*), 6) AS avg_events,
       ROUND(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1e6, 6)
         AS avg_duration_s,
       ROUND(CAST(SUM(has_p) AS DOUBLE) / COUNT(*), 6) AS purchase_rate
FROM bkt GROUP BY bucket
"""


@register("events_session_stats", oracle=_SESSTAT_ORACLE)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x309: SESSION STATISTICS PANEL — x58's 30-minute gaps-and-islands
    sessionization collapsed to the product readout: session count,
    share, mean events, mean duration and purchase-conversion rate per
    session-LENGTH bucket (1 = the bounce row, 2-3, 4-9, 10+). The
    engagement distribution x77's DAU/WAU and x137's diversity don't
    see (both count users, not visits).

    Exactness: x58's ordering contract — (ts_us, event_id) tiebreaker
    makes lag and the running break-sum deterministic; bucket edges are
    integer compares; the four ratios are exact-integer divisions
    pinned at 6dp.

    100 TB: ONE shuffle on user_id serves both windows and the session
    aggregate; the bucket rollup is 4 rows. The 1-row total joins as a
    scalar subquery (broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    brk = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000)
            | F.lag("ts_us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    sid = brk.select(
        "user_id",
        "event_type",
        "ts_us",
        F.sum("b")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s"),
    )
    sess = sid.groupBy("user_id", "s").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        (F.max("ts_us") - F.min("ts_us")).cast("long").alias("dur_us"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_p"
        ),
    )
    # r15 (guide §2.4 + §3.4; the x201 single-pass-bucket-shares device):
    # every session lands in exactly one bucket, so the grand total is the
    # SUM over the ≤4-row bucket frame itself — bucket-agg once, global
    # window over ≤4 rows for the denominator. The old crossJoin(broadcast
    # (tot)) was a BroadcastNestedLoopJoin whose tot side re-derived the
    # whole two-window sessionization a second time. Same exact integers
    # (sum_ev/n_sessions ≡ the old sum/count over the same rows).
    # Interleaved 5-shot medians 1.14 -> 0.98 s at sf0.1; sessionization
    # derivations 2 -> 1, BNLJ gone.
    bkt = sess.select(
        F.when(F.col("n_ev") == 1, "1")
        .when(F.col("n_ev") <= 3, "2-3")
        .when(F.col("n_ev") <= 9, "4-9")
        .otherwise("10+")
        .alias("bucket"),
        "n_ev",
        "dur_us",
        "has_p",
    )
    per = bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_ev").cast("long").alias("sum_ev"),
        F.sum("dur_us").cast("long").alias("sum_dur"),
        F.sum("has_p").cast("long").alias("sum_p"),
    )
    n_tot = F.sum("n_sessions").over(Window.partitionBy())
    return per.select(
        "bucket",
        "n_sessions",
        F.round(F.col("n_sessions").cast("double") / n_tot, 6).alias(
            "session_share"
        ),
        F.round(F.col("sum_ev").cast("double") / F.col("n_sessions"), 6).alias(
            "avg_events"
        ),
        F.round(
            F.col("sum_dur").cast("double") / F.col("n_sessions") / 1e6, 6
        ).alias("avg_duration_s"),
        F.round(F.col("sum_p").cast("double") / F.col("n_sessions"), 6).alias(
            "purchase_rate"
        ),
    )


# --------------------------------------------------------------------------
# x315 — matrix profile (7-day motif / discord discovery, exact integers)
# --------------------------------------------------------------------------

_MP_W = 7  # subsequence length
_MP_EXCL = 4  # exclusion zone: |i - j| >= ceil(w/2) kills trivial matches

_MP_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
sub AS (
  SELECT event_type, i, day,
         y AS y0,
         LEAD(y, 1) OVER w AS y1, LEAD(y, 2) OVER w AS y2,
         LEAD(y, 3) OVER w AS y3, LEAD(y, 4) OVER w AS y4,
         LEAD(y, 5) OVER w AS y5, LEAD(y, 6) OVER w AS y6
  FROM idx
  WINDOW w AS (PARTITION BY event_type ORDER BY i)
),
s AS (SELECT * FROM sub WHERE y6 IS NOT NULL),
pairs AS (
  SELECT a.event_type, a.i, a.day,
         b.i AS j, b.day AS nn_day,
         (a.y0-b.y0)*(a.y0-b.y0) + (a.y1-b.y1)*(a.y1-b.y1)
         + (a.y2-b.y2)*(a.y2-b.y2) + (a.y3-b.y3)*(a.y3-b.y3)
         + (a.y4-b.y4)*(a.y4-b.y4) + (a.y5-b.y5)*(a.y5-b.y5)
         + (a.y6-b.y6)*(a.y6-b.y6) AS d2
  FROM s a JOIN s b
    ON b.event_type = a.event_type AND ABS(a.i - b.i) >= {_MP_EXCL}
),
prof AS (
  SELECT event_type, i, day, nn_day, d2,
         ROW_NUMBER() OVER (PARTITION BY event_type, i
                            ORDER BY d2, j) AS rk
  FROM pairs
),
mp AS (SELECT event_type, i, day, nn_day, d2 FROM prof WHERE rk = 1)
SELECT event_type, CAST(day AS BIGINT) AS day, CAST(nn_day AS BIGINT) AS nn_day,
       CAST(d2 AS BIGINT) AS mp_dist2,
       CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY d2, i) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS is_motif,
       CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY d2 DESC, i) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS is_discord
FROM mp
"""


@register("ts_matrix_profile", oracle=_MP_ORACLE)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x315: MATRIX PROFILE (Yeh et al. 2016) over each type's daily
    series, window 7 — for every 7-day subsequence the squared distance
    to its nearest non-trivial neighbor (exclusion zone |i−j| ≥ ⌈w/2⌉),
    plus the motif flag (the series' most-repeated week) and the
    discord flag (its most anomalous week): subsequence-shape mining
    that x62/x127 (point outliers) and x131 (level shifts) cannot see.
    Distances are UN-normalized Σ(aᵢ−bᵢ)² on integer counts — EXACT
    int64, so nearest-neighbor argmins and both flags are integer
    compares (ties index-pinned); z-normalized variants trade that
    exactness away.

    100 TB: the all-pairs form is O(m²) per type at DAY grain — m ≤
    ~4e4 even for a century, and the pair join is type-partitioned
    with a 7-int row payload. Past that, STOMP's O(m²)-work/O(m)-
    memory streaming recurrence maps to applyInPandas per type — same
    output, noted not needed at any tabular-day scale.

    Plan: one daily collapse, LEAD×6 in ONE window sort, the
    type-partitioned self-join, two rank windows at subsequence grain."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr("ts_us div 86400000000").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("i")
    idx = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    cols = [F.col("y").alias("y0")] + [
        F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, _MP_W)
    ]
    s = idx.select("event_type", "i", "day", *cols).filter(
        F.col(f"y{_MP_W - 1}").isNotNull()
    )
    a, b = s.alias("a"), s.alias("b")
    d2 = None
    for k in range(_MP_W):
        t = (F.col(f"a.y{k}") - F.col(f"b.y{k}")) * (
            F.col(f"a.y{k}") - F.col(f"b.y{k}")
        )
        d2 = t if d2 is None else d2 + t
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.abs(F.col("a.i") - F.col("b.i")) >= _MP_EXCL),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.i").alias("i"),
        F.col("a.day").alias("day"),
        F.col("b.i").alias("j"),
        F.col("b.day").alias("nn_day"),
        d2.alias("d2"),
    )
    w_i = Window.partitionBy("event_type", "i").orderBy("d2", "j")
    mp = (
        pairs.select("*", F.row_number().over(w_i).alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk", "j")
    )
    w_mot = Window.partitionBy("event_type").orderBy("d2", "i")
    w_dis = Window.partitionBy("event_type").orderBy(F.col("d2").desc(), "i")
    return mp.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("nn_day").cast("long").alias("nn_day"),
        F.col("d2").cast("long").alias("mp_dist2"),
        F.when(F.row_number().over(w_mot) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_motif"),
        F.when(F.row_number().over(w_dis) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_discord"),
    )


# --------------------------------------------------------------------------
# x316 — dominant seasonality period via the ACF argmax (lags 2..14)
# --------------------------------------------------------------------------

_DP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
dev AS (SELECT event_type, i, n, n * y - t AS d FROM idx),
den AS (
  SELECT event_type, MAX(n) AS n,
         SUM(CAST(d AS DECIMAL(38, 0)) * d) AS s0
  FROM dev GROUP BY event_type
),
lags AS (
  SELECT a.event_type, k.k, MAX(a.n) AS n,
         SUM(CAST(a.d AS DECIMAL(38, 0)) * b.d) AS sk
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS k) k
  JOIN dev b ON b.event_type = a.event_type AND b.i = a.i - k.k
  GROUP BY a.event_type, k.k
),
r AS (
  SELECT l.event_type, l.k, l.n,
         CAST(l.sk AS DOUBLE) / CAST(d.s0 AS DOUBLE) AS rk
  FROM lags l JOIN den d ON d.event_type = l.event_type
),
best AS (
  SELECT event_type, k, n, rk,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY rk DESC, k) AS pick
  FROM r
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(k AS BIGINT) AS dominant_lag,
       ROUND(rk, 6) AS r_dominant,
       CAST(CASE WHEN rk * sqrt(CAST(n AS DOUBLE)) > 2.0 THEN 1 ELSE 0 END
            AS INTEGER) AS significant
FROM best WHERE pick = 1
"""


@register("ts_dominant_period", oracle=_DP_ORACLE)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x316: DOMINANT SEASONALITY PERIOD per type — argmax of the ACF
    over candidate lags 2..14 (lag 1 excluded: it measures smoothness,
    not season), with the Bartlett-band significance flag r·√n > 2:
    the scalar answer ("is there a weekly cycle, and is it real?")
    that x147 leaves as a table and x229's spectrum leaves as bins.
    Autocovariances via the n·y − T integer-deviation device (x266 —
    the n² factor cancels in the ratio), DECIMAL(38) products, argmax
    ties lag-pinned; the significance compare runs the shared
    UNROUNDED expression.

    100 TB: day-grain bounded — deviations collapse once, the 13 lags
    come from ONE generate_series cross join + a day-grain equi-join
    (never 13 window re-sorts)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr("ts_us div 86400000000").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w_t.orderBy("day")).alias("i"),
        F.sum("y").over(w_t).cast("long").alias("t"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    dev = idx.select(
        "event_type",
        "i",
        "n",
        (F.col("n") * F.col("y") - F.col("t")).alias("d"),
    )
    den = dev.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("s0"),
    )
    ks = dev.select(
        "event_type",
        "i",
        "d",
        F.explode(F.sequence(F.lit(2), F.lit(14))).alias("k"),
    )
    b = dev.select(
        F.col("event_type").alias("bet"),
        F.col("i").alias("bi"),
        F.col("d").alias("bd"),
    )
    lags = (
        ks.join(
            b,
            (F.col("bet") == F.col("event_type"))
            & (F.col("bi") == F.col("i") - F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("bd")).alias("sk")
        )
    )
    r = lags.join(den, "event_type").select(
        "event_type",
        "k",
        "n",
        (F.col("sk").cast("double") / F.col("s0").cast("double")).alias("rk"),
    )
    best = r.select(
        "*",
        F.row_number()
        .over(w_t.orderBy(F.col("rk").desc(), "k"))
        .alias("pick"),
    ).filter(F.col("pick") == 1)
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("dominant_lag"),
        F.round(F.col("rk"), 6).alias("r_dominant"),
        F.when(F.col("rk") * F.sqrt(F.col("n").cast("double")) > 2.0, 1)
        .otherwise(0)
        .cast("int")
        .alias("significant"),
    )


# --------------------------------------------------------------------------
# x325 — inter-event gap memory coefficient (Goh-Barabási M)
# --------------------------------------------------------------------------

_MEM_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS us, event_id
  FROM events
),
gaps AS (
  SELECT event_type,
         us - LAG(us) OVER (PARTITION BY event_type ORDER BY us, event_id)
           AS g,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY us, event_id)
           AS i
  FROM e
),
pairs AS (
  SELECT a.event_type, a.g AS g1, b.g AS g2
  FROM gaps a JOIN gaps b
    ON b.event_type = a.event_type AND b.i = a.i + 1
  WHERE a.g IS NOT NULL AND b.g IS NOT NULL
),
mo AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g1) AS BIGINT) AS s1, CAST(SUM(g2) AS BIGINT) AS s2,
         SUM(CAST(g1 AS DECIMAL(38, 0)) * g2) AS s12,
         SUM(CAST(g1 AS DECIMAL(38, 0)) * g1) AS s11,
         SUM(CAST(g2 AS DECIMAL(38, 0)) * g2) AS s22
  FROM pairs GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
       ROUND((CAST(s1 AS DOUBLE) + s2) / (2.0 * n) / 1e6, 6) AS mean_gap_s,
       ROUND((CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * s2)
             / (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1)
                * sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * s2)), 6) AS memory_coeff
FROM mo
"""


@register("events_gap_memory", oracle=_MEM_ORACLE)
def events_gap_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x325: GAP MEMORY COEFFICIENT per type — Goh & Barabási's M, the
    Pearson correlation of CONSECUTIVE inter-event gaps: completes the
    (B, M) burstiness plane whose B half x281 computed (B alone can't
    tell a heavy-tailed renewal process from true correlation —
    clustered failures have M > 0, Poisson and shuffled-gap processes
    M ≈ 0). Gaps at µs grain over the (ts_us, event_id) total order
    (x58's tiebreak contract).

    Exactness: gaps are exact integer µs; the five correlation moments
    are DECIMAL(38)/HUGEINT (µs² products overflow int64 immediately);
    M is one shared-parenthesization double epilogue per type.

    100 TB: ONE event_type shuffle serves the lag window and the
    consecutive-pair self-join (same partitioning — Catalyst reuses
    the exchange); moments collapse map-side."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    # Consecutive gap pairs are LEAD over the same (type, ts, id) window —
    # row i pairs (g_i, g_{i+1}); both-non-null keeps exactly i = 2..n-1,
    # the same pair set the old i+1 self-join produced (r14: the join
    # re-shuffled the gap stream onto a synthetic (type, i+1) key and
    # hash-probed |gaps| rows; lead rides the already-sorted window
    # partition — one exchange, one sort, no join).
    gaps = ev.select(
        "event_type",
        "ts_us",
        "event_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("g1"),
    )
    pairs = (
        gaps.select(
            "event_type", "g1", F.lead("g1").over(w).alias("g2")
        )
        .filter(F.col("g1").isNotNull() & F.col("g2").isNotNull())
        .select("event_type", "g1", "g2")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mo = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g1").cast("long").alias("s1"),
        F.sum("g2").cast("long").alias("s2"),
        F.sum(dec("g1") * F.col("g2")).alias("s12"),
        F.sum(dec("g1") * F.col("g1")).alias("s11"),
        F.sum(dec("g2") * F.col("g2")).alias("s22"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    num = n.cast("double") * F.col("s12").cast("double") - s1.cast("double") * s2
    den = F.sqrt(
        n.cast("double") * F.col("s11").cast("double") - s1.cast("double") * s1
    ) * F.sqrt(
        n.cast("double") * F.col("s22").cast("double") - s2.cast("double") * s2
    )
    return mo.select(
        "event_type",
        n.alias("n_pairs"),
        F.round((s1.cast("double") + s2) / (2.0 * n) / 1e6, 6).alias(
            "mean_gap_s"
        ),
        F.round(num / den, 6).alias("memory_coeff"),
    )


# --------------------------------------------------------------------------
# x327 — pinball-loss evaluation of quantile forecasts (p50 / p90)
# --------------------------------------------------------------------------

_PIN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
tr AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY y, day) AS vr,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM idx WHERE i <= n - 7
),
fc AS (
  SELECT event_type,
         CAST(MAX(CASE WHEN vr = (m + 1) // 2 THEN y END) AS BIGINT) AS f50,
         CAST(MAX(CASE WHEN vr = (9 * m + 9) // 10 THEN y END) AS BIGINT)
           AS f90
  FROM tr GROUP BY event_type
),
te AS (SELECT event_type, y FROM idx WHERE i > n - 7),
loss AS (
  SELECT t.event_type, 50 AS q_level, f.f50 AS forecast,
         CAST(SUM(5 * ABS(t.y - f.f50)) AS BIGINT) AS loss_tenths,
         CAST(SUM(CASE WHEN t.y <= f.f50 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM te t JOIN fc f ON f.event_type = t.event_type
  GROUP BY t.event_type, f.f50
  UNION ALL
  SELECT t.event_type, 90, f.f90,
         CAST(SUM(CASE WHEN t.y > f.f90 THEN 9 * (t.y - f.f90)
                       ELSE f.f90 - t.y END) AS BIGINT),
         CAST(SUM(CASE WHEN t.y <= f.f90 THEN 1 ELSE 0 END) AS BIGINT)
  FROM te t JOIN fc f ON f.event_type = t.event_type
  GROUP BY t.event_type, f.f90
)
SELECT event_type, CAST(q_level AS INTEGER) AS q_level, forecast,
       loss_tenths,
       ROUND(loss_tenths / 70.0, 6) AS avg_pinball,
       ROUND(n_covered / 7.0, 6) AS coverage
FROM loss
"""


@register("ts_pinball_eval", oracle=_PIN_ORACLE)
def ts_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x327: PINBALL-LOSS EVALUATION of quantile forecasts — hold out
    the last 7 days per type (x257's protocol), forecast the p50 and
    p90 as rank-discrete train quantiles, and score with the pinball
    (quantile) loss L_q = q(y−f)⁺ + (1−q)(f−y)⁺ plus empirical
    coverage: the evaluation layer for PROBABILISTIC forecasts that
    x295's WAPE tournament (point forecasts) cannot score — a p90
    that never covers 90% is wrong no matter its WAPE.

    Exactness: rank-discrete quantiles are integer order statistics
    ((m+1) div 2, ceil(9m/10) = (9m+9) div 10 — pure integer ranks);
    both losses live in TENTH-units (q ∈ {.5, .9} ⇒ 5|y−f| and
    9(y−f)⁺ + (f−y)⁺ are exact integers — the doubled-cents device at
    q grain); coverage is an exact /7 ratio.

    100 TB: day-grain bounded; one rank window over the train rows per
    type + a 7-row test join."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.expr("ts_us div 86400000000").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w_t = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(w_t.orderBy("day")).alias("i"),
        F.count(F.lit(1)).over(w_t).alias("n"),
    )
    tr = idx.filter(F.col("i") <= F.col("n") - 7).select(
        "event_type",
        "y",
        F.row_number().over(w_t.orderBy("y", "day")).alias("vr"),
        F.count(F.lit(1)).over(w_t).alias("m"),
    )
    fc = tr.groupBy("event_type").agg(
        F.max(
            F.when(F.col("vr") == F.expr("(m + 1) div 2"), F.col("y"))
        )
        .cast("long")
        .alias("f50"),
        F.max(
            F.when(F.col("vr") == F.expr("(9 * m + 9) div 10"), F.col("y"))
        )
        .cast("long")
        .alias("f90"),
    )
    # r15 (guide §2.4; the x91 union→explode device): the l50/l90 UNION
    # branches each re-derived the test-tail join (and behind it the
    # daily agg + rank windows). Both quantile levels now come from ONE
    # agg over the joined tail — fc is per-type, so grouping by
    # (event_type, f50, f90) is the same grain as the old per-branch
    # (event_type, forecast) — then one explode(array(...)) emits the two
    # report rows. Same exact integers. Interleaved 5-shot medians
    # 0.65 -> 0.60 s at sf0.1; corpus derivations 2 -> 1.
    te = idx.filter(F.col("i") > F.col("n") - 7).select("event_type", "y")
    j = te.join(F.broadcast(fc), "event_type")
    both = j.groupBy("event_type", "f50", "f90").agg(
        F.sum(5 * F.abs(F.col("y") - F.col("f50")))
        .cast("long")
        .alias("loss50"),
        F.sum(F.when(F.col("y") <= F.col("f50"), 1).otherwise(0))
        .cast("long")
        .alias("cov50"),
        F.sum(
            F.when(
                F.col("y") > F.col("f90"), 9 * (F.col("y") - F.col("f90"))
            ).otherwise(F.col("f90") - F.col("y"))
        )
        .cast("long")
        .alias("loss90"),
        F.sum(F.when(F.col("y") <= F.col("f90"), 1).otherwise(0))
        .cast("long")
        .alias("cov90"),
    )
    rows = both.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.lit(50).cast("int").alias("q_level"),
                    F.col("f50").alias("forecast"),
                    F.col("loss50").alias("loss_tenths"),
                    F.col("cov50").alias("n_covered"),
                ),
                F.struct(
                    F.lit(90).cast("int").alias("q_level"),
                    F.col("f90").alias("forecast"),
                    F.col("loss90").alias("loss_tenths"),
                    F.col("cov90").alias("n_covered"),
                ),
            )
        ).alias("r"),
    ).select(
        "event_type", "r.q_level", "r.forecast", "r.loss_tenths", "r.n_covered"
    )
    return rows.select(
        "event_type",
        "q_level",
        "forecast",
        "loss_tenths",
        F.round(F.col("loss_tenths") / 70.0, 6).alias("avg_pinball"),
        F.round(F.col("n_covered") / 7.0, 6).alias("coverage"),
    )


# --------------------------------------------------------------------------
# x337 — Theil-Sen robust trend slope per type (median of pairwise slopes)
# --------------------------------------------------------------------------

_THEILSEN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         ROUND(CAST(b.y - a.y AS DOUBLE) / (b.day - a.day), 6) AS slope6,
         a.day AS d1, b.day AS d2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
rk AS (
  SELECT event_type, slope6,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope6, d1, d2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM pairs
)
SELECT event_type,
       CAST(MAX(np) AS BIGINT) AS n_pairs,
       MAX(CASE WHEN rn = (np + 1) // 2 THEN slope6 END) AS sen_slope,
       CAST(CASE WHEN MAX(CASE WHEN rn = (np + 1) // 2 THEN slope6 END) > 0
                 THEN 1
                 WHEN MAX(CASE WHEN rn = (np + 1) // 2 THEN slope6 END) < 0
                 THEN -1 ELSE 0 END AS INTEGER) AS trend_sign
FROM rk GROUP BY event_type
"""


@register("ts_theil_sen", oracle=_THEILSEN_ORACLE)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x337: THEIL-SEN robust trend slope of each type's daily volume —
    the MAGNITUDE companion to x264's Mann-Kendall (which only answers
    direction): the median of all pairwise slopes tolerates up to ~29%
    wild days before it budges, where x66's OLS slope is dragged by a
    single outage day. Sen (1968) over the day-grain series.

    Exactness: each pairwise slope is ONE IEEE divide of exact integers,
    pinned 6dp BEFORE ranking, so both engines rank the identical
    multiset; the median is rank-discrete (lower median at rank
    (n+1) div 2 over the (slope6, d1, d2)-pinned total order) — a VALUE
    from the set, never an average of two.

    100 TB: the corpus collapses to the |types| x |days| daily frame
    FIRST (x38's lesson); the pair join is an equi hash join on
    event_type with a day< residual — day-grain bounded quadratic
    (a decade is ~6.7M pairs per type), the x260 class, never
    event-grain. Rank window partitions by type on the pair frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("d2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(
        b, (a.event_type == F.col("et2")) & (F.col("d1") < F.col("d2"))
    ).select(
        "event_type",
        F.round(
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("d2") - F.col("d1")),
            6,
        ).alias("slope6"),
        "d1",
        "d2",
    )
    w = Window.partitionBy("event_type").orderBy("slope6", "d1", "d2")
    wc = Window.partitionBy("event_type")
    rk = pairs.select(
        "event_type",
        "slope6",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("np"),
    )
    med = F.max(
        F.when(F.col("rn") == F.floor((F.col("np") + 1) / 2), F.col("slope6"))
    )
    return rk.groupBy("event_type").agg(
        F.max("np").cast("long").alias("n_pairs"),
        med.alias("sen_slope"),
        F.when(med > 0, 1)
        .when(med < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("trend_sign"),
    )


# --------------------------------------------------------------------------
# x338 — Durbin-Watson residual autocorrelation test per type
# --------------------------------------------------------------------------

_DW_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
  FROM daily
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty, CAST(SUM(t * t) AS BIGINT) AS stt
  FROM idx GROUP BY event_type
),
coef AS (
  SELECT event_type, n,
         CAST(n * sty - st * sy AS DOUBLE) / (n * stt - st * st) AS b,
         (CAST(sy AS DOUBLE) - CAST(n * sty - st * sy AS DOUBLE)
            / (n * stt - st * st) * st) / n AS a
  FROM mom
),
res AS (
  SELECT i.event_type, i.t,
         CAST(ROUND((i.y - (c.a + c.b * i.t)) * 1e6) AS BIGINT) AS e_mu
  FROM idx i JOIN coef c ON i.event_type = c.event_type
),
lagd AS (
  SELECT event_type, e_mu,
         LAG(e_mu) OVER (PARTITION BY event_type ORDER BY t) AS pe
  FROM res
)
SELECT l.event_type, c.n AS n_days,
       ROUND(CAST(SUM(CASE WHEN l.pe IS NULL THEN 0
                           ELSE CAST(l.e_mu - l.pe AS HUGEINT)
                                * (l.e_mu - l.pe) END) AS DOUBLE)
             / SUM(CAST(l.e_mu AS HUGEINT) * l.e_mu), 6) AS dw,
       ROUND(1.0 - CAST(SUM(CASE WHEN l.pe IS NULL THEN 0
                                 ELSE CAST(l.e_mu - l.pe AS HUGEINT)
                                      * (l.e_mu - l.pe) END) AS DOUBLE)
             / SUM(CAST(l.e_mu AS HUGEINT) * l.e_mu) / 2.0, 6) AS rho_hat,
       CAST(CASE WHEN CAST(SUM(CASE WHEN l.pe IS NULL THEN 0
                                    ELSE CAST(l.e_mu - l.pe AS HUGEINT)
                                         * (l.e_mu - l.pe) END) AS DOUBLE)
                      / SUM(CAST(l.e_mu AS HUGEINT) * l.e_mu) < 1.5
                 THEN 1 ELSE 0 END AS INTEGER) AS positive_autocorr
FROM lagd l JOIN coef c ON l.event_type = c.event_type
GROUP BY l.event_type, c.n
"""


@register("ts_durbin_watson", oracle=_DW_ORACLE)
def ts_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x338: DURBIN-WATSON residual autocorrelation per type — the test
    x66's OLS trend SHOULD have run on itself: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² on
    the detrended daily series says whether successive residuals drag
    each other (DW≈2 none, <1.5 positive drag), i.e. whether the OLS
    standard errors x66 publishes are honest or the series needs x339's
    AR(1) treatment first.

    Exactness: OLS closed form from five exact integer moments, a and b
    ONE identically-parenthesized double expression both engines;
    residuals pinned to micro-units (ROUND(e·1e6) — x305's lnmu device
    on the residual scale) so the DW quotient is a ratio of exact
    DECIMAL(38)/HUGEINT integer sums; 6dp publish.

    100 TB: corpus → day grain first; moments map-combine per type; the
    5-row coefficient frame broadcast-joins back; lag window partitions
    by type on the day-grain frame. Everything after the first agg is
    |types|x|days| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    idx = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
    )
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    coef = mom.select(
        F.col("event_type").alias("c_type"),
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    res = idx.join(
        F.broadcast(coef), idx.event_type == F.col("c_type")
    ).select(
        "event_type",
        "t",
        "n",
        F.round(
            (F.col("y") - (F.col("a") + F.col("b") * F.col("t"))) * 1e6
        )
        .cast("long")
        .alias("e_mu"),
    )
    lagd = res.select(
        "event_type",
        "n",
        "e_mu",
        F.lag("e_mu")
        .over(Window.partitionBy("event_type").orderBy("t"))
        .alias("pe"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = F.sum(
        F.when(F.col("pe").isNull(), F.lit(0).cast("decimal(38,0)")).otherwise(
            dec(F.col("e_mu") - F.col("pe")) * (F.col("e_mu") - F.col("pe"))
        )
    )
    den = F.sum(dec(F.col("e_mu")) * F.col("e_mu"))
    dw = num.cast("double") / den.cast("double")
    return lagd.groupBy("event_type", F.col("n").alias("n_days")).agg(
        F.round(dw, 6).alias("dw"),
        F.round(1.0 - dw / 2.0, 6).alias("rho_hat"),
        F.when(dw < 1.5, 1).otherwise(0).cast("int").alias("positive_autocorr"),
    )


# --------------------------------------------------------------------------
# x339 — AR(1) fit + mean-reversion half-life per type
# --------------------------------------------------------------------------

_AR1_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS x
  FROM daily
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM idx WHERE x IS NOT NULL GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
         AS phi,
       ROUND((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
       ROUND(CASE WHEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx) < 1.0
                  THEN ((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                           / (n * sxx - sx * sx) * sx) / n)
                       / (1.0 - CAST(n * sxy - sx * sy AS DOUBLE)
                          / (n * sxx - sx * sx)) END, 6) AS long_run_mean,
       ROUND(CASE WHEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx) > 0.0
                   AND CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx) < 1.0
                  THEN -LN(2.0) / LN(CAST(n * sxy - sx * sy AS DOUBLE)
                                     / (n * sxx - sx * sx)) END, 6)
         AS halflife_days
FROM mom
"""


@register("ts_ar1_halflife", oracle=_AR1_ORACLE)
def ts_ar1_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x339: AR(1) FIT + MEAN-REVERSION HALF-LIFE per type — the model
    x338's DW verdict demands when it says 'residuals drag': yₜ = c +
    φ·yₜ₋₁ over the observed-day sequence, with the two numbers an
    operator actually uses — the long-run mean c/(1−φ) the series
    reverts TO, and the half-life −ln2/lnφ it reverts AT (NULL unless
    0<φ<1: explosive or anti-persistent series have no half-life; the
    NULL is the finding).

    Exactness: lag pairs over the (day)-ordered per-type window; five
    exact integer moments; φ / intercept / mean / half-life ONE shared-
    parenthesization double epilogue (φ's expression REPEATED verbatim
    in each formula both engines — never read back through a rounded
    column); ln is libm on identical doubles under a 6dp pin.

    100 TB: corpus → day grain first; ONE (type) shuffle serves lag
    window AND moment agg (same key, exchange reused); output |types|
    rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    idx = daily.select(
        "event_type",
        "y",
        F.lag("y")
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("x"),
    ).filter(F.col("x").isNotNull())
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    phi = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    intercept = (F.col("sy").cast("double") - phi * F.col("sx")) / F.col("n")
    return mom.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(phi, 6).alias("phi"),
        F.round(intercept, 6).alias("intercept"),
        F.round(
            F.when(phi < 1.0, intercept / (1.0 - phi)), 6
        ).alias("long_run_mean"),
        F.round(
            F.when((phi > 0.0) & (phi < 1.0), -F.log(F.lit(2.0)) / F.log(phi)),
            6,
        ).alias("halflife_days"),
    )


# --------------------------------------------------------------------------
# x340 — Wilcoxon signed-rank: paired per-user first-half vs second-half
# --------------------------------------------------------------------------

_WSR_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events GROUP BY user_id
),
d AS (
  SELECT user_id, c2 - c1 AS diff, ABS(c2 - c1) AS ad
  FROM per_user WHERE c2 <> c1
),
rk AS (
  SELECT diff,
         2 * RANK() OVER (ORDER BY ad) - 1
           + COUNT(*) OVER (PARTITION BY ad) AS r2
  FROM d
),
ties AS (
  SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tsum
  FROM (SELECT COUNT(*) AS t FROM d GROUP BY ad)
),
acc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2p
  FROM rk
)
SELECT a.n AS n_nonzero,
       ROUND(a.w2p / 2.0, 1) AS w_plus,
       ROUND((CAST(a.w2p AS DOUBLE) - CAST(a.n AS DOUBLE) * (a.n + 1) / 2)
             / SQRT(CAST(a.n AS DOUBLE) * (a.n + 1) * (2 * a.n + 1) / 6.0
                    - CAST(t.tsum AS DOUBLE) / 12.0), 6) AS z_stat,
       CAST(CASE WHEN ABS((CAST(a.w2p AS DOUBLE)
                           - CAST(a.n AS DOUBLE) * (a.n + 1) / 2)
                          / SQRT(CAST(a.n AS DOUBLE) * (a.n + 1)
                                 * (2 * a.n + 1) / 6.0
                                 - CAST(t.tsum AS DOUBLE) / 12.0))
                      > 1.959964 THEN 1 ELSE 0 END AS INTEGER) AS reject_05
FROM acc a CROSS JOIN ties t
"""


@register("events_wilcoxon_signed_rank", oracle=_WSR_ORACLE)
def events_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x340: WILCOXON SIGNED-RANK on PAIRED per-user activity, first vs
    second half-month — the within-subject member the two-sample family
    lacks: x144's Mann-Whitney compares two INDEPENDENT samples, but
    'did the same users move?' needs the pairing (each user is their own
    control, killing the between-user variance that swamps unpaired
    tests). Zero differences dropped per Wilcoxon's convention.

    Exactness: per-user half counts are exact integers; |d| midranks
    held as the DOUBLED integers (x144's 2·rank−1+tiecount device), so
    W⁺ is an exact integer in doubled units with E[2W⁺] = n(n+1)/2
    EXACT; tie-corrected variance Var[2W⁺] = n(n+1)(2n+1)/6 − Σ(t³−t)/12
    from exact HUGEINT tie sums; one z epilogue vs the pinned 1.959964.

    100 TB: one (user) agg collapses the corpus; the rank window runs on
    the |users-who-moved| frame (never event grain); tie agg rides the
    same collapsed frame. DECIMAL(38) upgrade note past ~3e9 users."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.dayofmonth("ts") > 15, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    d = per_user.filter(F.col("c2") != F.col("c1")).select(
        (F.col("c2") - F.col("c1")).alias("diff"),
        F.abs(F.col("c2") - F.col("c1")).alias("ad"),
    )
    tie_n = F.count(F.lit(1)).over(Window.partitionBy("ad"))
    rk = d.select(
        "diff",
        (2 * F.rank().over(Window.orderBy("ad")) - 1 + tie_n).alias("r2"),
        tie_n.alias("t"),
    )
    # Per-row tie identity: each |d|-tie group of size t contributes t rows
    # of (t^2 - 1), so sum_rows(t^2 - 1) == sum_groups(t^3 - t) — the tie
    # term rides the SAME single agg as n and W+, no second frame, no join.
    acc = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w2p"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") - 1
        ).alias("tsum"),
    )
    n = F.col("n")
    z = (
        F.col("w2p").cast("double") - n.cast("double") * (n + 1) / 2
    ) / F.sqrt(
        n.cast("double") * (n + 1) * (2 * n + 1) / 6.0
        - F.col("tsum").cast("double") / 12.0
    )
    return acc.select(
        n.alias("n_nonzero"),
        F.round(F.col("w2p") / 2.0, 1).alias("w_plus"),
        F.round(z, 6).alias("z_stat"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).cast("int").alias(
            "reject_05"
        ),
    )


# --------------------------------------------------------------------------
# x341 — Friedman test: day blocks x event-type treatments
# --------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT d.day, t.event_type, COALESCE(x.y, 0) AS y
  FROM (SELECT DISTINCT day FROM daily) d
  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
  LEFT JOIN daily x ON x.day = d.day AND x.event_type = t.event_type
),
rk AS (
  SELECT day, event_type,
         2 * RANK() OVER (PARTITION BY day ORDER BY y) - 1
           + COUNT(*) OVER (PARTITION BY day, y) AS r2
  FROM grid
),
pt AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2j FROM rk
  GROUP BY event_type
),
sq AS (
  SELECT CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS sr22,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
  FROM rk
)
SELECT s.n AS n_blocks, s.k AS k_treatments,
       ROUND((CAST(s.k AS DOUBLE) - 1)
             * SUM(CAST((p.r2j - s.n * (s.k + 1))
                        * (p.r2j - s.n * (s.k + 1)) AS DOUBLE))
             / (CAST(s.sr22 AS DOUBLE) - CAST(s.n AS DOUBLE) * s.k
                * (s.k + 1) * (s.k + 1)), 6) AS chi2_stat,
       CAST(CASE WHEN (CAST(s.k AS DOUBLE) - 1)
                      * SUM(CAST((p.r2j - s.n * (s.k + 1))
                                 * (p.r2j - s.n * (s.k + 1)) AS DOUBLE))
                      / (CAST(s.sr22 AS DOUBLE) - CAST(s.n AS DOUBLE) * s.k
                         * (s.k + 1) * (s.k + 1))
                      > {crit} THEN 1 ELSE 0 END AS INTEGER) AS reject_05
FROM pt p CROSS JOIN sq s
GROUP BY s.n, s.k, s.sr22
"""

_CHI2_95_TS = {
    1: 3.841459,
    2: 5.991465,
    3: 7.814728,
    4: 9.487729,
    5: 11.070498,
    6: 12.591587,
    7: 14.067140,
    8: 15.507313,
    9: 16.918978,
}


@register(
    "events_friedman_test",
    oracle=_FRIEDMAN_ORACLE.replace(
        "{crit}",
        "CASE s.k - 1 "
        + " ".join(f"WHEN {df} THEN {cv}" for df, cv in _CHI2_95_TS.items())
        + " ELSE 1e308 END",
    ),
)
def events_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x341: FRIEDMAN TEST on the day x type volume grid — the BLOCKED
    k-sample test completing x329's family: Kruskal-Wallis pools all
    rows and a high-volume DAY masquerades as a type effect; Friedman
    ranks WITHIN each day block, so day-level shocks cancel and only
    consistent between-type ordering survives. Zero-filled grid (a type
    absent on a day is rank-bottom, not missing — the honest treatment).

    Exactness: within-day midranks as DOUBLED integers; the
    tie-corrected statistic assembled from Σ(R2j − n(k+1))² and
    Σ(r2²) − nk(k+1)² — both exact HUGEINT/DECIMAL(38) (the doubled
    form absorbs the classical /4 factors so NO intermediate is
    fractional); one ratio, 6dp, vs the pinned chi2(k-1) table.

    100 TB: corpus → (type, day) grain first; the grid is
    |days| x |types| rows; rank windows partition by day on that tiny
    frame. Everything after the first agg is grid-sized. Plan note
    (verified on the executed plan): Catalyst rewrites the days/types
    distincts into SEPARATE column-pruned scans (ts-only / type-only,
    partial distinct map-side) rather than reusing the daily agg — two
    extra single-column scans, each a few % of the main scan's bytes;
    cache/localCheckpoint daily if even that matters on a given layout."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("y", F.lit(0)).alias("y"))
    )
    rk = grid.select(
        "day",
        "event_type",
        (
            2 * F.rank().over(Window.partitionBy("day").orderBy("y"))
            - 1
            + F.count(F.lit(1)).over(Window.partitionBy("day", "y"))
        ).alias("r2"),
    )
    # Single-agg epilogue (no cross join): per-type partials carry the
    # block count (grid is complete, so count-per-type == |days|) and the
    # r2^2 partial; the k rank sums come back as ONE array column and the
    # deviance fold is a HOF over k elements — everything after the grid
    # windows is one k-row agg then one 1-row select.
    pt = rk.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2j"),
        F.count(F.lit(1)).cast("long").alias("n_j"),
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).alias(
            "sr22_j"
        ),
    )
    one = pt.agg(
        F.collect_list("r2j").alias("r2js"),
        F.max("n_j").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sr22_j").alias("sr22"),
    )
    n, k = F.col("n"), F.col("k")
    # r2j and n(k+1) are exact integers well under 2^53, so the double
    # deviance fold is exact term-by-term and order-free.
    devsum = F.aggregate(
        "r2js",
        F.lit(0.0),
        lambda acc, x: acc + F.pow(x - n * (k + 1), F.lit(2)),
    )
    chi2 = (
        (k.cast("double") - 1)
        * devsum
        / (
            F.col("sr22").cast("double")
            - n.cast("double") * k * (k + 1) * (k + 1)
        )
    )
    crit = F.lit(1e308)
    for df_, cv in _CHI2_95_TS.items():
        crit = F.when(k - 1 == df_, F.lit(cv)).otherwise(crit)
    return one.select(
        n.alias("n_blocks"),
        k.alias("k_treatments"),
        F.round(chi2, 6).alias("chi2_stat"),
        F.when(chi2 > crit, 1).otherwise(0).cast("int").alias("reject_05"),
    )


# --------------------------------------------------------------------------
# x342 — Jonckheere-Terpstra ordered-trend test across weekday groups
# --------------------------------------------------------------------------


def _jt_oracle() -> str:
    c = [f"CAST(SUM(CASE WHEN wd = {i} THEN 1 ELSE 0 END) AS BIGINT)" for i in range(7)]
    cols = ",\n         ".join(f"{e} AS c{i}" for i, e in enumerate(c))
    cums = ",\n         ".join(
        f"SUM(c{i}) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - c{i} "
        f"AS lt{i}, SUM(c{i}) OVER () AS n{i}" for i in range(7)
    )
    u2 = " + ".join(
        f"SUM(CAST(c{j} AS HUGEINT) * (2 * lt{i} + c{i}))"
        for i in range(7)
        for j in range(i + 1, 7)
    )
    e2 = " + ".join(
        f"CAST(MAX(n{i}) AS HUGEINT) * MAX(n{j})"
        for i in range(7)
        for j in range(i + 1, 7)
    )
    nsum = " + ".join(f"MAX(n{i})" for i in range(7))
    vterm = " + ".join(
        f"CAST(MAX(n{i}) AS DOUBLE) * MAX(n{i}) * (2 * MAX(n{i}) + 3)"
        for i in range(7)
    )
    return f"""
WITH v AS (
  SELECT (CAST(epoch_us(ts) AS BIGINT) // 86400000000 + 3) % 7 AS wd,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
pc AS (
  SELECT cents,
         {cols}
  FROM v GROUP BY cents
),
cum AS (
  SELECT cents,
         {cums},
         c0, c1, c2, c3, c4, c5, c6
  FROM pc
)
SELECT CAST(({nsum}) AS BIGINT) AS n_rows,
       CAST(({u2}) AS BIGINT) AS jt2,
       CAST(({e2}) AS BIGINT) AS e2,
       ROUND((CAST(({u2}) AS DOUBLE) - CAST(({e2}) AS DOUBLE))
             / (2 * SQRT((CAST(({nsum}) AS DOUBLE) * ({nsum})
                          * (2 * ({nsum}) + 3) - ({vterm})) / 72.0)), 6)
         AS z_stat
FROM cum
"""


@register("events_jonckheere_terpstra", oracle=_jt_oracle())
def events_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x342: JONCKHEERE-TERPSTRA ordered-alternative test — do values
    trend MONOTONICALLY across the ordered weekday groups Mon→Sun?
    x329's Kruskal-Wallis asks 'any difference, any shape'; JT spends
    its power only on the ordered alternative (θ₁≤…≤θ₇ with at least
    one strict), which is what a day-of-week load or pricing drift
    actually looks like — and so detects trends KW dilutes away.

    Exactness: JT = Σ_{i<j} U_ij assembled at VALUE grain from pivoted
    per-weekday counts — U2_ij = Σ_x c_j(x)·(2·LT_i(x) + c_i(x)) in
    x144's doubled units (the +c_i term IS the half-tie credit), all 21
    pair terms exact HUGEINT/DECIMAL(38); E[JT2] = Σ n_i n_j exact; the
    classical tie-free null variance (documented: ties enter the
    statistic, not the variance — the standard first-order JT), one z
    epilogue 6dp.

    100 TB: ONE (cents) groupBy collapses the corpus to |support| rows
    with 7 count columns; the cumulative windows run on that collapsed
    frame only; 21 pair terms are expressions on the SAME row — no pair
    join, no group-pair shuffle, ever."""
    ev = load_table(spark, sf_dir, "events")
    # Epoch day 0 (1970-01-01) is a Thursday, so (day + 3) % 7 maps
    # Mon=0 .. Sun=6 — the ordered alternative the docstring states.
    v = ev.select(
        ((F.expr("ts_us div 86400000000") + 3) % 7).alias("wd"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pc = v.groupBy("cents").agg(
        *[
            F.sum(F.when(F.col("wd") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in range(7)
        ]
    )
    w_ord = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = pc.select(
        "cents",
        *[F.col(f"c{i}") for i in range(7)],
        *[
            (F.sum(f"c{i}").over(w_ord) - F.col(f"c{i}")).alias(f"lt{i}")
            for i in range(7)
        ],
        *[F.sum(f"c{i}").over(w_all).alias(f"n{i}") for i in range(7)],
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u2 = None
    for i in range(7):
        for j in range(i + 1, 7):
            term = F.sum(
                dec(F.col(f"c{j}")) * (2 * F.col(f"lt{i}") + F.col(f"c{i}"))
            )
            u2 = term if u2 is None else u2 + term
    e2 = None
    for i in range(7):
        for j in range(i + 1, 7):
            term = dec(F.max(f"n{i}")) * F.max(f"n{j}")
            e2 = term if e2 is None else e2 + term
    nsum = None
    for i in range(7):
        t = F.max(f"n{i}")
        nsum = t if nsum is None else nsum + t
    vterm = None
    for i in range(7):
        t = (
            F.max(f"n{i}").cast("double")
            * F.max(f"n{i}")
            * (2 * F.max(f"n{i}") + 3)
        )
        vterm = t if vterm is None else vterm + t
    z = (u2.cast("double") - e2.cast("double")) / (
        2
        * F.sqrt(
            (nsum.cast("double") * nsum * (2 * nsum + 3) - vterm) / 72.0
        )
    )
    return cum.agg(
        nsum.cast("long").alias("n_rows"),
        u2.cast("long").alias("jt2"),
        e2.cast("long").alias("e2"),
        F.round(z, 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# x343 — Cochran's Q: per-user purchase incidence across three dekads
# --------------------------------------------------------------------------

_COCHRANQ_ORACLE = """
WITH b AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 90
                   AND day(ts) <= 10 THEN 1 ELSE 0 END) AS b1,
         MAX(CASE WHEN event_type = 'purchase' AND value > 90
                   AND day(ts) > 10 AND day(ts) <= 20 THEN 1 ELSE 0 END) AS b2,
         MAX(CASE WHEN event_type = 'purchase' AND value > 90
                   AND day(ts) > 20 THEN 1 ELSE 0 END) AS b3
  FROM events GROUP BY user_id
),
acc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(b1) AS BIGINT) AS t1, CAST(SUM(b2) AS BIGINT) AS t2,
         CAST(SUM(b3) AS BIGINT) AS t3,
         CAST(SUM(b1 + b2 + b3) AS BIGINT) AS s,
         CAST(SUM((b1 + b2 + b3) * (b1 + b2 + b3)) AS BIGINT) AS ss
  FROM b
)
SELECT n_users, t1, t2, t3,
       ROUND(2.0 * CAST((3 * t1 - s) * (3 * t1 - s)
                        + (3 * t2 - s) * (3 * t2 - s)
                        + (3 * t3 - s) * (3 * t3 - s) AS DOUBLE)
             / (3.0 * (3 * s - ss)), 6) AS q_stat,
       CAST(CASE WHEN 2.0 * CAST((3 * t1 - s) * (3 * t1 - s)
                                 + (3 * t2 - s) * (3 * t2 - s)
                                 + (3 * t3 - s) * (3 * t3 - s) AS DOUBLE)
                      / (3.0 * (3 * s - ss)) > 5.991465
                 THEN 1 ELSE 0 END AS INTEGER) AS reject_05
FROM acc
"""


@register("events_cochran_q", oracle=_COCHRANQ_ORACLE)
def events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x343: COCHRAN'S Q — did the per-user propensity to make a
    HIGH-VALUE purchase (value > 90, ~top decile) shift across the
    month's three dekads (1-10 / 11-20 / 21+)? Raw purchase incidence
    saturates (every active user buys in every dekad ⇒ all-k blocks
    only and the denominator vanishes — verified at sf0.001); the
    thresholded outcome is the honest binary with real variation. The BINARY
    member of the blocked family: x341's Friedman ranks counts, Q needs
    only yes/no per (user, period) — the right test when the outcome is
    incidence, with each user their own block (x340's pairing logic, k=3
    periods). McNemar (x312) is exactly Q at k=2.

    Exactness: Q = (k−1)·Σ_j(k·T_j − S)² / (k·(k·S − Σu²)) is ALL-INTEGER
    until one final divide — the k·T−S form absorbs the classical mean
    fractions (the x330 device); blocks with all-0 or all-k incidence
    cancel algebraically (proof in the classical identity: they shift
    every k·T_j − S equally by 0 and add k² − k² = 0 to the
    denominator), so no block filtering is needed or done. Pinned
    chi2(2) 95% literal.

    100 TB: ONE (user) agg with three conditional MAXes collapses the
    corpus; the Q assembly is a 1-row epilogue. int64 safe to ~3e9
    users (S ≤ 3n; (kT−S)² ≤ 9n² — DECIMAL note past that)."""
    ev = load_table(spark, sf_dir, "events")
    dom = F.dayofmonth("ts")
    isp = (F.col("event_type") == "purchase") & (F.col("value") > 90)
    b = ev.groupBy("user_id").agg(
        F.max(F.when(isp & (dom <= 10), 1).otherwise(0)).alias("b1"),
        F.max(F.when(isp & (dom > 10) & (dom <= 20), 1).otherwise(0)).alias(
            "b2"
        ),
        F.max(F.when(isp & (dom > 20), 1).otherwise(0)).alias("b3"),
    )
    u = F.col("b1") + F.col("b2") + F.col("b3")
    acc = b.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("b1").cast("long").alias("t1"),
        F.sum("b2").cast("long").alias("t2"),
        F.sum("b3").cast("long").alias("t3"),
        F.sum(u).cast("long").alias("s"),
        F.sum(u * u).cast("long").alias("ss"),
    )
    s = F.col("s")
    num = None
    for tcol in ("t1", "t2", "t3"):
        d = 3 * F.col(tcol) - s
        num = d * d if num is None else num + d * d
    q = 2.0 * num.cast("double") / (3.0 * (3 * s - F.col("ss")))
    return acc.select(
        "n_users",
        "t1",
        "t2",
        "t3",
        F.round(q, 6).alias("q_stat"),
        F.when(q > 5.991465, 1).otherwise(0).cast("int").alias("reject_05"),
    )


# --------------------------------------------------------------------------
# x344 — Lo-MacKinlay variance-ratio test per type (random walk vs momentum)
# --------------------------------------------------------------------------

_VR_Q = 5  # aggregation horizon (days)

_VR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
lagd AS (
  SELECT event_type, day, d,
         LAG(d, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
         LAG(d, {_VR_Q}) OVER (PARTITION BY event_type ORDER BY day) AS pq
  FROM daily
),
mom AS (
  SELECT event_type,
         CAST(COUNT(p1) AS BIGINT) AS nx,
         CAST(SUM(d - p1) AS BIGINT) AS sx,
         CAST(SUM(CAST(d - p1 AS HUGEINT) * (d - p1)) AS HUGEINT) AS sxx,
         CAST(COUNT(pq) AS BIGINT) AS ny,
         CAST(SUM(d - pq) AS BIGINT) AS sy,
         CAST(SUM(CAST(d - pq AS HUGEINT) * (d - pq)) AS HUGEINT) AS syy
  FROM lagd GROUP BY event_type
)
SELECT event_type, nx AS n_diffs,
       ROUND((CAST(nx * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              / (nx * CAST(nx AS HUGEINT)))
             / CAST({_VR_Q} AS DOUBLE), 6) AS var1_q,
       ROUND(CAST(ny * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
             / (ny * CAST(ny AS HUGEINT)), 6) AS varq,
       ROUND((CAST(ny * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
              / (ny * CAST(ny AS HUGEINT)))
             / ((CAST(nx * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 / (nx * CAST(nx AS HUGEINT)))
                * {_VR_Q}), 6) AS vr,
       CAST(CASE WHEN CAST(ny * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT)
                      * (nx * CAST(nx AS HUGEINT)) >
                      CAST(nx * sxx - CAST(sx AS HUGEINT) * sx AS HUGEINT)
                      * ({_VR_Q} * ny * CAST(ny AS HUGEINT))
                 THEN 1 ELSE 0 END AS INTEGER) AS momentum
FROM mom
"""


@register("ts_variance_ratio", oracle=_VR_ORACLE)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x344: LO-MACKINLAY VARIANCE-RATIO test per type — is the daily
    revenue series a random walk? Under the null, the variance of
    q-day differences is exactly q x the variance of 1-day differences;
    VR(q) = Var(d_t - d_{t-q}) / (q * Var(d_t - d_{t-1})) > 1 means
    momentum (shocks persist), < 1 mean reversion — the diagnostic that
    decides whether x257's naive backtest horizon or x339's AR(1)
    half-life applies to the series at all (Lo & MacKinlay 1988;
    population variances, overlapping q-differences, the standard
    estimator).

    Exactness: daily totals are exact integer cents; both difference
    series and all five moments are exact BIGINT/HUGEINT-DECIMAL(38)
    integers; the three published doubles divide those exact integers
    with identical parenthesization both engines (x338's device); the
    momentum verdict never touches a float — it cross-multiplies the
    two variance numerators in integer land.

    100 TB: corpus collapses to |types| x |days| at the FIRST agg
    (map-side combine); both lags ride ONE window partitioned by type;
    the moment agg is 5 rows out. Nothing after the daily agg scales
    with the corpus."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("d")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = daily.select(
        "event_type",
        "d",
        F.lag("d", 1).over(w).alias("p1"),
        F.lag("d", _VR_Q).over(w).alias("pq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = F.col("d") - F.col("p1")
    y = F.col("d") - F.col("pq")
    mom = lagd.groupBy("event_type").agg(
        F.count("p1").cast("long").alias("nx"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(dec(x) * x).alias("sxx"),
        F.count("pq").cast("long").alias("ny"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(dec(y) * y).alias("syy"),
    )
    nx, sx, sxx = F.col("nx"), F.col("sx"), F.col("sxx")
    ny, sy, syy = F.col("ny"), F.col("sy"), F.col("syy")
    num_x = nx * sxx - dec(sx) * sx  # n*Sxx - Sx^2, exact
    num_y = ny * syy - dec(sy) * sy
    var1 = num_x.cast("double") / (nx * dec(nx))
    varq = num_y.cast("double") / (ny * dec(ny))
    return mom.select(
        "event_type",
        nx.alias("n_diffs"),
        F.round(var1 / float(_VR_Q), 6).alias("var1_q"),
        F.round(varq, 6).alias("varq"),
        F.round(varq / (var1 * float(_VR_Q)), 6).alias("vr"),
        F.when(
            num_y * (nx * dec(nx)) > num_x * (_VR_Q * ny * dec(ny)), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("momentum"),
    )


# --------------------------------------------------------------------------
# x345 — turning-points randomness test per type
# --------------------------------------------------------------------------

_TP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ctx AS (
  SELECT event_type, y,
         LAG(y)  OVER (PARTITION BY event_type ORDER BY day) AS pv,
         LEAD(y) OVER (PARTITION BY event_type ORDER BY day) AS nx
  FROM daily
),
cnt AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                        AND ((y > pv AND y > nx) OR (y < pv AND y < nx))
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ctx GROUP BY event_type
)
SELECT event_type, n AS n_days, tp AS turning_points,
       ROUND(2.0 * (n - 2) / 3.0, 6) AS expected_tp,
       ROUND((tp - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z,
       CAST(CASE WHEN abs((tp - 2.0 * (n - 2) / 3.0)
                          / sqrt((16.0 * n - 29.0) / 90.0)) > 1.959964
                 THEN 1 ELSE 0 END AS INTEGER) AS reject_randomness_05
FROM cnt
"""


@register("ts_turning_points", oracle=_TP_ORACLE)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x345: TURNING-POINTS randomness test per type — count interior
    local extrema of the daily-count series (strict peaks + strict
    troughs); an i.i.d. series has E[T] = 2(n-2)/3 and
    Var[T] = (16n-29)/90 (Kendall's classic), so too FEW turning points
    means trend/drag (the x260 Mann-Kendall family's cheap screen) and
    too MANY means alternating noise. Equal-neighbor plateaus count as
    no turn (strict inequalities; documented, both spellings agree).

    Exactness: T and n are exact integers from integer lag/lead
    compares; the z statistic is one fixed-parenthesization double
    expression over (tp, n) — IEEE sqrt is correctly rounded, so both
    engines emit identical doubles; the verdict compares |z| to a
    literal.

    100 TB: corpus -> |types| x |days| grain at the first map-combined
    agg; ONE window (partitioned by type) serves both lag and lead;
    the test statistic is a 5-row epilogue."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type",
        "y",
        F.lag("y").over(w).alias("pv"),
        F.lead("y").over(w).alias("nx"),
    )
    is_turn = (
        F.col("pv").isNotNull()
        & F.col("nx").isNotNull()
        & (
            ((F.col("y") > F.col("pv")) & (F.col("y") > F.col("nx")))
            | ((F.col("y") < F.col("pv")) & (F.col("y") < F.col("nx")))
        )
    )
    cnt = ctx.groupBy("event_type").agg(
        F.sum(F.when(is_turn, 1).otherwise(0)).cast("long").alias("tp"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    n, tp = F.col("n"), F.col("tp")
    z = (tp - 2.0 * (n - 2) / 3.0) / F.sqrt((16.0 * n - 29.0) / 90.0)
    return cnt.select(
        "event_type",
        n.alias("n_days"),
        tp.alias("turning_points"),
        F.round(2.0 * (n - 2) / 3.0, 6).alias("expected_tp"),
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > 1.959964, 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_randomness_05"),
    )


# --------------------------------------------------------------------------
# x346 — ADF-lite unit-root screen per type (Dickey-Fuller, lag 0)
# --------------------------------------------------------------------------

_ADF_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
lagd AS (
  SELECT event_type, y,
         LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS x
  FROM daily
),
mom AS (
  SELECT event_type,
         CAST(COUNT(x) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y - x) AS BIGINT) AS sg,
         CAST(SUM(CAST(x AS HUGEINT) * (y - x)) AS HUGEINT) AS sxg,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y - x AS HUGEINT) * (y - x)) AS HUGEINT) AS sgg
  FROM lagd WHERE x IS NOT NULL GROUP BY event_type
),
c AS (
  SELECT event_type, n,
         n * sxg - CAST(sx AS HUGEINT) * sg AS cxg,
         n * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
         n * sgg - CAST(sg AS HUGEINT) * sg AS cgg
  FROM mom
)
SELECT event_type, n AS n_obs,
       ROUND(CAST(cxg AS DOUBLE) / CAST(cxx AS DOUBLE), 6) AS gamma,
       ROUND(CAST(cxg AS DOUBLE)
             / sqrt(CAST(cxx * cgg - cxg * cxg AS DOUBLE) / (n - 2)), 6)
         AS t_stat,
       CAST(CASE WHEN CAST(cxg AS DOUBLE)
                      / sqrt(CAST(cxx * cgg - cxg * cxg AS DOUBLE) / (n - 2))
                      < -2.89 THEN 1 ELSE 0 END AS INTEGER) AS stationary_05
FROM c
"""


@register("ts_adf_lite", oracle=_ADF_ORACLE)
def ts_adf_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x346: DICKEY-FULLER unit-root screen (lag 0, constant absorbed by
    the centered moments) per type — regress the daily-count CHANGE on
    the lagged LEVEL: gamma = 0 is a random walk (x344's VR asks the
    same question from the variance side; this is the regression side
    the econometrics canon actually tables), gamma < 0 with t below the
    DF critical value (-2.89: constant-only, n~25-50 band) says the
    series mean-reverts and x339's AR(1) half-life is meaningful.

    Exactness: all six moments are exact integers (counts x counts in
    HUGEINT / DECIMAL(38)); the centered cross-moments cxg/cxx/cgg stay
    exact; gamma and t are each ONE identically-parenthesized double
    expression (IEEE sqrt correctly rounded; x338's conversion device);
    the verdict compares the identical double to a literal.

    100 TB: corpus -> day grain at the first map-combined agg; one lag
    window per type; moments map-combine; 5-row epilogue. The DF
    critical value is a constant, not a per-row computation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = daily.select(
        "event_type", "y", F.lag("y").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = F.col("y") - F.col("x")
    mom = lagd.groupBy("event_type").agg(
        F.count("x").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(g).cast("long").alias("sg"),
        F.sum(dec(F.col("x")) * g).alias("sxg"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(g) * g).alias("sgg"),
    )
    n = F.col("n")
    cxg = n * F.col("sxg") - dec(F.col("sx")) * F.col("sg")
    cxx = n * F.col("sxx") - dec(F.col("sx")) * F.col("sx")
    cgg = n * F.col("sgg") - dec(F.col("sg")) * F.col("sg")
    c = mom.select("event_type", "n", cxg.alias("cxg"), cxx.alias("cxx"), cgg.alias("cgg"))
    t_stat = F.col("cxg").cast("double") / F.sqrt(
        (F.col("cxx") * F.col("cgg") - F.col("cxg") * F.col("cxg")).cast("double")
        / (F.col("n") - 2)
    )
    return c.select(
        "event_type",
        F.col("n").alias("n_obs"),
        F.round(
            F.col("cxg").cast("double") / F.col("cxx").cast("double"), 6
        ).alias("gamma"),
        F.round(t_stat, 6).alias("t_stat"),
        F.when(t_stat < -2.89, 1).otherwise(0).cast("int").alias("stationary_05"),
    )


# --------------------------------------------------------------------------
# x353 — G-test of event_type x weekday independence
# --------------------------------------------------------------------------

_GTEST_ORACLE = """
WITH cell AS (
  SELECT event_type,
         CAST((CAST(epoch_us(ts) AS BIGINT) // 86400000000 + 3) % 7
              AS BIGINT) AS wd,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
marg AS (
  SELECT c.event_type, c.wd, c.o,
         SUM(c.o) OVER (PARTITION BY c.event_type) AS r,
         SUM(c.o) OVER (PARTITION BY c.wd) AS cl,
         SUM(c.o) OVER () AS n
  FROM cell c
),
terms AS (
  SELECT CAST(ROUND(1000000.0 * o *
                    ln(CAST(o AS DOUBLE) * n
                       / (CAST(r AS DOUBLE) * cl))) AS BIGINT) AS term_u,
         n, event_type, wd
  FROM marg
),
acc AS (
  SELECT CAST(SUM(term_u) AS BIGINT) AS su, CAST(MAX(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
         CAST(COUNT(DISTINCT wd) AS BIGINT) AS nc
  FROM terms
)
SELECT n AS n_events, n_cells,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
       ROUND(2.0 * su / 1000000.0, 6) AS g_stat,
       CAST(CASE WHEN 2.0 * su / 1000000.0 > 36.415 THEN 1 ELSE 0 END
            AS INTEGER) AS reject_indep_05
FROM acc
"""


@register("events_g_test_independence", oracle=_GTEST_ORACLE)
def events_g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x353: G-TEST of event_type x weekday independence — the
    likelihood-ratio chi-square G = 2*SUM O*ln(O*N/(R*C)) over the 5x7
    contingency: does the traffic MIX shift by weekday (x175's chi2
    tests one 2x2 arm; this is the full-table LR form that is additive
    across partitions and the statistic x321's LLR uses pairwise)?
    df = (r-1)(c-1) = 24; 5% critical 36.415 (literal).

    Exactness: cells and margins exact integers; each cell's ln term is
    ONE identically-parenthesized double pinned to micro-nat longs
    (x338's residual device on the log scale) BEFORE summation, so the
    cross-cell sum is an exact integer sum — float-sum order never
    materializes; zero cells can't occur in the pinned expression (a
    missing (type, wd) cell simply contributes no row, the 0*ln0 = 0
    limit).

    100 TB: corpus collapses to <= 35 cells at the first map-combined
    agg; margins are windows over 35 rows; 1-row epilogue."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        F.expr("(ts_us div 86400000000 + 3) % 7").cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    marg = cell.select(
        "event_type",
        "wd",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("wd")).alias("cl"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    term_u = F.round(
        1000000.0
        * F.col("o")
        * F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("r").cast("double") * F.col("cl"))
        )
    ).cast("long")
    terms = marg.select(
        term_u.alias("term_u"), "n", "event_type", "wd"
    )
    acc = terms.agg(
        F.sum("term_u").cast("long").alias("su"),
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("wd").cast("long").alias("nc"),
    )
    g = 2.0 * F.col("su") / 1000000.0
    return acc.select(
        F.col("n").alias("n_events"),
        "n_cells",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("df"),
        F.round(g, 6).alias("g_stat"),
        F.when(g > 36.415, 1).otherwise(0).cast("int").alias("reject_indep_05"),
    )


# --------------------------------------------------------------------------
# x354 — Shewhart individuals / moving-range control chart per type
# --------------------------------------------------------------------------

_SPC_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
mr AS (
  SELECT event_type, day, d,
         abs(d - LAG(d) OVER (PARTITION BY event_type ORDER BY day)) AS mrv
  FROM daily
),
stat AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS s,
         CAST(SUM(mrv) AS BIGINT) AS mrs
  FROM mr GROUP BY event_type
)
SELECT m.event_type, st.n AS n_days,
       ROUND(CAST(st.s AS DOUBLE) / st.n / 100.0, 6) AS center,
       ROUND((CAST(st.s AS DOUBLE) / st.n
              + 2.66 * st.mrs / (st.n - 1)) / 100.0, 6) AS ucl,
       ROUND((CAST(st.s AS DOUBLE) / st.n
              - 2.66 * st.mrs / (st.n - 1)) / 100.0, 6) AS lcl,
       CAST(SUM(CASE WHEN abs(CAST(st.n AS HUGEINT) * m.d - st.s)
                          * (st.n - 1) * 50 >
                          CAST(st.n AS HUGEINT) * st.mrs * 133
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_control
FROM mr m JOIN stat st ON m.event_type = st.event_type
GROUP BY m.event_type, st.n, st.s, st.mrs
"""


@register("ts_spc_individuals", oracle=_SPC_ORACLE)
def ts_spc_individuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x354: SHEWHART I-MR control chart per type — daily revenue as
    individual observations, sigma estimated from the mean moving range
    (MRbar/d2, d2 = 1.128, so limits = xbar +/- 2.66*MRbar — the SPC
    constant): which days breach 3-sigma control? The process-control
    complement to x62's z-score anomalies (which estimate sigma from
    the global stddev a single outage day inflates; MRbar is the
    short-term, shift-robust estimator control charts standardized on).

    Exactness: dailies are exact integer cents; S and SUM(MR) exact;
    the out-of-control verdict is ALL-INTEGER — |n*d - S|*(n-1)*50 >
    n*MRS*133 cross-multiplies 2.66 = 133/50 through both rational
    limits; center/ucl/lcl are display-only identically-parenthesized
    divisions.

    100 TB: corpus -> day grain map-combined; one lag window per type;
    the breach count re-joins the 5-row stat frame (broadcast) to the
    |types| x |days| frame. Output |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("d")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    mr = daily.select(
        "event_type",
        "day",
        "d",
        F.abs(F.col("d") - F.lag("d").over(w)).alias("mrv"),
    )
    stat = mr.groupBy(F.col("event_type").alias("s_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum("mrv").cast("long").alias("mrs"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = mr.join(F.broadcast(stat), mr.event_type == stat.s_type)
    center = F.col("s").cast("double") / F.col("n") / 100.0
    spread = 2.66 * F.col("mrs") / (F.col("n") - 1)
    breach = (
        F.abs(dec(F.col("n")) * F.col("d") - F.col("s")) * (F.col("n") - 1) * 50
        > dec(F.col("n")) * F.col("mrs") * 133
    )
    return j.groupBy("event_type", "n", "s", "mrs").agg(
        F.sum(F.when(breach, 1).otherwise(0)).cast("long").alias("n_out_of_control")
    ).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(center, 6).alias("center"),
        F.round(
            (F.col("s").cast("double") / F.col("n") + spread) / 100.0, 6
        ).alias("ucl"),
        F.round(
            (F.col("s").cast("double") / F.col("n") - spread) / 100.0, 6
        ).alias("lcl"),
        "n_out_of_control",
    )


# --------------------------------------------------------------------------
# x355 — inter-purchase rhythm segmentation (gap-CV buckets per customer)
# --------------------------------------------------------------------------

_RHYTHM_ORACLE = """
WITH g AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS BIGINT) AS gap
  FROM orders
),
cust AS (
  SELECT o_custkey,
         CAST(COUNT(gap) AS BIGINT) AS n,
         CAST(SUM(gap) AS BIGINT) AS s,
         CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS ss
  FROM g WHERE gap IS NOT NULL
  GROUP BY o_custkey
  HAVING COUNT(gap) >= 2 AND SUM(gap) > 0
),
b AS (
  SELECT o_custkey, n, s,
         CASE WHEN 4 * (n * ss - CAST(s AS HUGEINT) * s)
                   < CAST(s AS HUGEINT) * s THEN 'regular'
              WHEN (n * ss - CAST(s AS HUGEINT) * s)
                   < CAST(s AS HUGEINT) * s THEN 'variable'
              ELSE 'erratic' END AS rhythm
  FROM cust
)
SELECT rhythm,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(s) AS DOUBLE) / SUM(n), 6) AS avg_gap_days
FROM b GROUP BY rhythm
"""


@register("customers_interpurchase_rhythm", oracle=_RHYTHM_ORACLE)
def customers_interpurchase_rhythm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x355: INTER-PURCHASE RHYTHM segmentation — bucket customers by the
    coefficient of variation of their order-date gaps: CV < 0.5 regular
    (subscription-like, predictable), CV < 1 variable, else erratic
    (Poisson-or-worse) — the purchase-cadence complement to x68's RFM
    (which scores recency/volume, not REGULARITY) and x185's bot screen
    on events. Customers need >= 2 gaps and a positive gap sum
    (same-day-only histories carry no rhythm signal).

    Exactness: gaps are exact integer day diffs off a
    (o_orderdate, o_orderkey)-pinned lag; the CV bucket is ALL-INTEGER
    — CV^2 < t^2 cross-multiplies to t2num * (n*SS - S^2) < S^2 in
    HUGEINT/DECIMAL(38); the only float is the display-only avg gap.

    100 TB: ONE custkey shuffle serves the lag window and the per-
    customer moments (same partitioning); the bucket agg map-combines
    to 3 rows."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("gap"),
    ).filter(F.col("gap").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cust = (
        g.groupBy("o_custkey")
        .agg(
            F.count("gap").cast("long").alias("n"),
            F.sum("gap").cast("long").alias("s"),
            F.sum(dec(F.col("gap")) * F.col("gap")).alias("ss"),
        )
        .filter((F.col("n") >= 2) & (F.col("s") > 0))
    )
    var_num = F.col("n") * F.col("ss") - dec(F.col("s")) * F.col("s")
    s2 = dec(F.col("s")) * F.col("s")
    b = cust.select(
        "n",
        "s",
        F.when(4 * var_num < s2, "regular")
        .when(var_num < s2, "variable")
        .otherwise("erratic")
        .alias("rhythm"),
    )
    return b.groupBy("rhythm").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n").cast("long").alias("n_gaps"),
        F.round(F.sum("s").cast("double") / F.sum("n"), 6).alias("avg_gap_days"),
    )


# --------------------------------------------------------------------------
# x357 — quantile treatment effect by decile (A/B beyond the mean)
# --------------------------------------------------------------------------

_QTE_ORACLE = """
WITH v AS (
  SELECT user_id % 2 AS grp,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
rk AS (
  SELECT grp, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM v
),
d AS (SELECT CAST(k AS BIGINT) AS dec FROM
        (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) tv(k)),
q AS (
  SELECT d.dec, rk.grp, MAX(CASE WHEN rk.rn = (d.dec * rk.n + 9) // 10
                                 THEN rk.cents END) AS qv
  FROM d JOIN rk ON rk.rn = (d.dec * rk.n + 9) // 10
  GROUP BY d.dec, rk.grp
)
SELECT a.dec AS decile,
       a.qv AS q_treat_cents,
       b.qv AS q_ctrl_cents,
       CAST(a.qv - b.qv AS BIGINT) AS qte_cents
FROM q a JOIN q b ON a.dec = b.dec AND a.grp = 1 AND b.grp = 0
"""


@register("events_qte_deciles", oracle=_QTE_ORACLE)
def events_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x357: QUANTILE TREATMENT EFFECT by decile — the A/B readout past
    the mean: at each decile (ceil-rank discrete quantile), the
    treatment-minus-control purchase-value difference. A zero mean lift
    with positive upper-decile QTE is a whale effect; uniform QTE is a
    location shift — x126's lift and x182's uplift deciles (which
    bucket by SCORE) can't distinguish these. Variant = user_id % 2,
    the house A/B split (x126/x144/x151).

    Exactness: values quantized to exact integer cents; the decile is
    RANK-DISCRETE (row rn = ceil(dec*n/10) over a cents-ordered
    total... ties at the same cents value share the value, so which
    tied row holds the rank is irrelevant) — quantiles are VALUES from
    the data, differences exact integers. No floats anywhere.

    100 TB: one filter + grp partition windows (2 partitions — the
    rank window is the dominant sort, same as any exact-percentile op:
    use x184's sketch when approximate suffices); the 9-row decile
    table broadcasts; output 9 rows."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("grp").orderBy("cents")
    wc = Window.partitionBy("grp")
    rk = v.select(
        "grp",
        "cents",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
    )
    d = spark.createDataFrame([(k,) for k in range(1, 10)], ["dec"]).select(
        F.col("dec").cast("long").alias("dec")
    )
    q = (
        F.broadcast(d)
        .join(rk, rk.rn == F.expr("(dec * n + 9) div 10"))
        .groupBy("dec", "grp")
        .agg(F.max("cents").alias("qv"))
    )
    a = q.filter(F.col("grp") == 1).select(
        F.col("dec").alias("decile"), F.col("qv").alias("q_treat_cents")
    )
    b = q.filter(F.col("grp") == 0).select(
        F.col("dec").alias("b_dec"), F.col("qv").alias("q_ctrl_cents")
    )
    return a.join(b, a.decile == F.col("b_dec")).select(
        "decile",
        "q_treat_cents",
        "q_ctrl_cents",
        (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
        .cast("long")
        .alias("qte_cents"),
    )


# --------------------------------------------------------------------------
# x359 — KPSS level-stationarity test per type (the ADF complement)
# --------------------------------------------------------------------------

_KPSS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
e AS (
  SELECT d.event_type, d.day, t.n,
         CAST(t.n AS HUGEINT) * d.y - t.s AS ep
  FROM daily d JOIN tot t ON d.event_type = t.event_type
),
cum AS (
  SELECT event_type, n, ep,
         SUM(ep) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sp
  FROM e
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(sp * sp) AS DOUBLE)
             / (MAX(n) * CAST(SUM(ep * ep) AS DOUBLE)), 6) AS kpss_eta,
       CAST(CASE WHEN CAST(SUM(sp * sp) AS DOUBLE)
                      / (MAX(n) * CAST(SUM(ep * ep) AS DOUBLE)) < 0.463
                 THEN 1 ELSE 0 END AS INTEGER) AS stationary_05
FROM cum GROUP BY event_type
"""


@register("ts_kpss_lite", oracle=_KPSS_ORACLE)
def ts_kpss_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x359: KPSS level-stationarity test per type (lag-0 long-run
    variance) — the COMPLEMENT of x346's ADF: here the NULL is
    stationarity (eta = SUM S_t^2 / (n^2 sigma^2) on partial sums of the
    demeaned series; reject above the 0.463 5% critical value). Running
    both closes the inference gap — ADF failing to reject says "can't
    rule out a unit root", KPSS failing to reject says "can't rule out
    stationarity"; disagreement flags near-integrated series neither
    test resolves (the standard confirmatory pairing).

    Exactness: demeaning multiplies through by n (e' = n*y - S, exact
    HUGEINT/DECIMAL(38)); partial sums are an exact integer window; the
    n^2/n^3 scale factors cancel to eta = SUM(S'^2)/(n*SUM(e'^2)), ONE
    identically-parenthesized division; verdict vs a literal.

    100 TB: day-grain collapse first; the 5-row total frame joins back
    (broadcast); one cumulative window per type; 5-row epilogue."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    tot = daily.groupBy(F.col("event_type").alias("t_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e = daily.join(F.broadcast(tot), daily.event_type == tot.t_type).select(
        "event_type",
        "day",
        "n",
        (dec(F.col("n")) * F.col("y") - F.col("s")).alias("ep"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = e.select(
        "event_type", "n", "ep", F.sum("ep").over(w).alias("sp")
    )
    eta = F.sum(F.col("sp") * F.col("sp")).cast("double") / (
        F.max("n") * F.sum(F.col("ep") * F.col("ep")).cast("double")
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(eta, 6).alias("kpss_eta"),
        F.when(eta < 0.463, 1).otherwise(0).cast("int").alias("stationary_05"),
    )


# --------------------------------------------------------------------------
# x361 — peak-to-mean (crest factor) load concentration per type
# --------------------------------------------------------------------------

_CREST_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT event_type, hr, c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c DESC, hr) AS rn
  FROM hourly
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(r.c) AS BIGINT) AS n_events,
       CAST(MAX(CASE WHEN r.rn = 1 THEN r.c END) AS BIGINT) AS peak_count,
       CAST(MAX(CASE WHEN r.rn = 1 THEN r.hr % 24 END) AS BIGINT)
         AS peak_hour_of_day,
       ROUND(CAST(MAX(CASE WHEN r.rn = 1 THEN r.c END) AS DOUBLE)
             * COUNT(*) / SUM(r.c), 6) AS crest_factor
FROM rk r GROUP BY r.event_type
"""


@register("events_peak_to_mean", oracle=_CREST_ORACLE)
def events_peak_to_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x361: PEAK-TO-MEAN (crest factor) load concentration per type —
    max hourly volume over mean hourly volume, plus the rank-pinned
    peak hour-of-day: the capacity-planning number (a crest of 3 means
    provisioning for mean burns at peak; x121's heatmap shows WHERE,
    this is the single provisioning ratio) and the burst screen next to
    x281's dispersion panel. Hours with zero events contribute no row
    (observed-hour mean — documented; a true wall-clock mean would
    divide by the fixed horizon instead).

    Exactness: hourly counts exact integers; the peak is
    (count DESC, hour) rank-pinned; crest = peak * n_hours / total is
    ONE identically-parenthesized division of exact integers.

    100 TB: corpus collapses to |types| x |hours| at the first
    map-combined agg; one rank window per type on that frame; 5-row
    output."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("ts_us div 3600000000").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.col("c").desc(), "hr")
    rk = hourly.withColumn("rn", F.row_number().over(w))
    peak = F.max(F.when(F.col("rn") == 1, F.col("c")))
    return rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_events"),
        peak.cast("long").alias("peak_count"),
        F.max(F.when(F.col("rn") == 1, F.col("hr") % 24))
        .cast("long")
        .alias("peak_hour_of_day"),
        F.round(peak.cast("double") * F.count(F.lit(1)) / F.sum("c"), 6).alias(
            "crest_factor"
        ),
    )


# --------------------------------------------------------------------------
# x362 — weekly-seasonality strength per type (ANOVA decomposition)
# --------------------------------------------------------------------------


def _seas_terms_sql(pfx: str) -> str:
    """Within-weekday SS as a FIXED-ORDER sum of 7 terms, each
    (n_w*SS_w - S_w^2)/n_w with a zero-guard — one expression, never a
    float agg across rows (x356's pivot device)."""
    return " + ".join(
        f"(CASE WHEN {pfx}n{w} = 0 THEN 0.0 ELSE "
        f"CAST({pfx}n{w} * {pfx}ss{w} - CAST({pfx}s{w} AS HUGEINT) * {pfx}s{w}"
        f" AS DOUBLE) / {pfx}n{w} END)"
        for w in range(7)
    )


_SEAS_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS d
  FROM events GROUP BY 1, 2
),
wd AS (
  SELECT event_type, CAST((day + 3) % 7 AS BIGINT) AS w, d FROM daily
),
piv AS (
  SELECT event_type,
         {", ".join(
            f"CAST(SUM(CASE WHEN w = {w} THEN 1 ELSE 0 END) AS BIGINT) AS n{w},"
            f" CAST(SUM(CASE WHEN w = {w} THEN d ELSE 0 END) AS BIGINT) AS s{w},"
            f" SUM(CASE WHEN w = {w} THEN CAST(d AS HUGEINT) * d ELSE 0 END) AS ss{w}"
            for w in range(7)
         )},
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS s,
         SUM(CAST(d AS HUGEINT) * d) AS ss
  FROM wd GROUP BY event_type
)
SELECT event_type, n AS n_days,
       ROUND(1.0 - ({_seas_terms_sql("")})
             / (CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / n), 6)
         AS seasonal_strength,
       CAST(CASE WHEN 1.0 - ({_seas_terms_sql("")})
                      / (CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / n)
                      > 0.6 THEN 1 ELSE 0 END AS INTEGER) AS strong_weekly
FROM piv
"""


@register("ts_seasonal_strength", oracle=_SEAS_ORACLE)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x362: WEEKLY-SEASONALITY STRENGTH per type — the one-way-ANOVA
    decomposition F_s = 1 - SSW/SST with weekday as the seasonal factor
    (Hyndman's seasonal-strength measure with a weekday-mean seasonal
    component instead of an STL fit): ~0 means weekday explains nothing,
    > 0.6 (flagged) means the weekly cycle dominates and x138's seasonal-
    naive forecast / x167's weekday index are the right tools.

    Exactness: the 7 weekday groups pivot to COLUMNS (x356's device), so
    SSW is ONE fixed-order 7-term expression — never a float agg across
    rows; each term's numerator n_w*SS_w - S_w^2 is exact
    HUGEINT/DECIMAL(38); SST's numerator likewise; two divisions per
    term/total, identical parenthesization both engines.

    100 TB: corpus -> day grain map-combined; ONE |types|-group pivot agg
    (22 aggregates, all map-combinable); 5-row epilogue."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("d")
    )
    wd = daily.select(
        "event_type", F.expr("(day + 3) % 7").cast("long").alias("w"), "d"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = []
    for w in range(7):
        hit = F.col("w") == w
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"n{w}"),
            F.sum(F.when(hit, F.col("d")).otherwise(0)).cast("long").alias(f"s{w}"),
            F.sum(F.when(hit, dec(F.col("d")) * F.col("d")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(f"ss{w}"),
        ]
    aggs += [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(dec(F.col("d")) * F.col("d")).alias("ss"),
    ]
    piv = wd.groupBy("event_type").agg(*aggs)
    ssw = None
    for w in range(7):
        # r12 advisor (medium): s_w*s_w in long*long silently wraps under
        # non-ANSI Spark while the DuckDB BIGINT*BIGINT raises — pin the
        # square to decimal(38,0)/HUGEINT exactly like the SST term below.
        term = F.when(F.col(f"n{w}") == 0, F.lit(0.0)).otherwise(
            (
                F.col(f"n{w}") * F.col(f"ss{w}")
                - dec(F.col(f"s{w}")) * F.col(f"s{w}")
            ).cast("double")
            / F.col(f"n{w}")
        )
        ssw = term if ssw is None else ssw + term
    sst = (
        F.col("n") * F.col("ss") - dec(F.col("s")) * F.col("s")
    ).cast("double") / F.col("n")
    strength = 1.0 - ssw / sst
    return piv.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(strength, 6).alias("seasonal_strength"),
        F.when(strength > 0.6, 1).otherwise(0).cast("int").alias("strong_weekly"),
    )


# --------------------------------------------------------------------------
# x363 — burst-episode detection per type (threshold islands)
# --------------------------------------------------------------------------

_BURST_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh, CAST(SUM(c) AS BIGINT) AS s
  FROM hourly GROUP BY event_type
),
bursty AS (
  SELECT h.event_type, h.hr, h.c
  FROM hourly h JOIN tot t ON h.event_type = t.event_type
  WHERE CAST(t.nh AS HUGEINT) * h.c > 2 * CAST(t.s AS HUGEINT)
),
isl AS (
  SELECT event_type, hr, c,
         hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
           AS island
  FROM bursty
),
ep AS (
  SELECT event_type, island, CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MAX(c) AS BIGINT) AS peak
  FROM isl GROUP BY event_type, island
)
SELECT t.event_type,
       t.nh AS n_hours,
       CAST(COALESCE(SUM(ep.len), 0) AS BIGINT) AS n_bursty_hours,
       CAST(COALESCE(COUNT(ep.island), 0) AS BIGINT) AS n_episodes,
       CAST(COALESCE(MAX(ep.len), 0) AS BIGINT) AS longest_episode,
       CAST(COALESCE(MAX(ep.peak), 0) AS BIGINT) AS peak_hour_count
FROM tot t LEFT JOIN ep ON t.event_type = ep.event_type
GROUP BY t.event_type, t.nh
"""


@register("events_burst_episodes", oracle=_BURST_ORACLE)
def events_burst_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x363: BURST-EPISODE detection per type — hours whose volume
    exceeds 2x the type's observed-hour mean, grouped into maximal
    CONSECUTIVE runs (the gaps-and-islands device, x58's sessionize on
    the hour grid): episode count, longest run, peak hour. The
    Kleinberg-lite burst view — x62 flags single anomalous points,
    x139's hysteresis tracks one alert stream; this counts and sizes
    the EPISODES (a 1-hour spike and a 6-hour sustained burst are
    different incidents).

    Exactness: the bursty gate is ALL-INTEGER (nh*c > 2*S cross-
    multiplies the mean); islands = hr - row_number, exact; every
    output column an exact integer (types with no bursty hours emit
    zeros via the left join).

    100 TB: corpus -> |types| x |hours| map-combined; the 5-row total
    frame broadcasts; one rank window per type over the BURSTY subset
    only; |types|-row output."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("ts_us div 3600000000").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = hourly.groupBy(F.col("event_type").alias("t_type")).agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("c").cast("long").alias("s"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    bursty = hourly.join(
        F.broadcast(tot), hourly.event_type == tot.t_type
    ).filter(dec(F.col("nh")) * F.col("c") > 2 * dec(F.col("s"))).select(
        "event_type", "hr", "c"
    )
    isl = bursty.select(
        "event_type",
        "c",
        (
            F.col("hr")
            - F.row_number().over(
                Window.partitionBy("event_type").orderBy("hr")
            )
        ).alias("island"),
    )
    ep = isl.groupBy(F.col("event_type").alias("e_type"), "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.max("c").cast("long").alias("peak"),
    )
    return (
        tot.join(ep, tot.t_type == ep.e_type, "left")
        .groupBy(F.col("t_type").alias("event_type"), "nh")
        .agg(
            F.coalesce(F.sum("len"), F.lit(0)).cast("long").alias("n_bursty_hours"),
            F.count("island").cast("long").alias("n_episodes"),
            F.coalesce(F.max("len"), F.lit(0)).cast("long").alias("longest_episode"),
            F.coalesce(F.max("peak"), F.lit(0)).cast("long").alias("peak_hour_count"),
        )
        .select(
            "event_type",
            F.col("nh").alias("n_hours"),
            "n_bursty_hours",
            "n_episodes",
            "longest_episode",
            "peak_hour_count",
        )
    )
