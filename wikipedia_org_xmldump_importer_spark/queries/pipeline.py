"""SURVEY.md §2.15 — training-data pipeline operators (x45-x48).

The four curation stages every large-scale pretraining pipeline runs after
dedup/quality (which §2.11-2.12 already cover): benchmark decontamination
(drop training docs that leak eval n-grams), deterministic train/val/test
splitting, per-stratum mixture re-sampling, and packing documents into
fixed token-budget training sequences.

All four are deterministic (hash- or order-derived, no RNG) so — unlike
o3's engine-specific sampler — every one carries a full DuckDB SQL oracle.

100 TB notes shared: the hash ops (x47, x48) are pure narrow maps — zero
shuffles, trivially resumable because membership is a pure function of the
row; decontamination (x45) broadcasts the eval-set n-grams (benchmarks are
MBs even when the corpus is 100 TB); packing (x46) windows inside
(lang, source) shards so no global sort ever exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.bloom import build_bitmap, screen_with_bitmap
from ..io import load_table, load_table_spread
from ..registry import register

# --------------------------------------------------------------------------
# x45 — eval-set decontamination by word n-gram overlap
# --------------------------------------------------------------------------

# Production decontamination uses 8-13-gram windows; the fixture corpus is
# a small-vocabulary word soup where 5-grams almost never recur (1 hit at
# sf0.01), so the registered query uses 3-grams to keep the oracle check
# discriminating (171 flagged docs at sf0.01). The operator is N-generic.
_NGRAM_N = 3
_EVAL_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" set (~1%)

_DECON_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + {_NGRAM_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - {_NGRAM_N - 1}, 0))) AS i
    FROM tok
  )
),
ev AS (SELECT DISTINCT doc_id AS eval_id, gram FROM grams
       WHERE doc_id % {_EVAL_MOD} = 0),
tr AS (SELECT DISTINCT doc_id, gram FROM grams
       WHERE doc_id % {_EVAL_MOD} <> 0)
SELECT tr.doc_id, COUNT(DISTINCT tr.gram) AS n_shared_grams,
       COUNT(DISTINCT ev.eval_id) AS n_eval_docs
FROM tr JOIN ev ON tr.gram = ev.gram
GROUP BY tr.doc_id
"""


@register("decontaminate_ngram", oracle=_DECON_ORACLE)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x45: benchmark decontamination — flag every training document that
    shares a word 5-gram with the held-out eval set (doc_id % 97 == 0 here;
    in production the eval side is the benchmark suite). Output per
    contaminated doc: distinct leaked grams + distinct eval docs hit; a
    curation pipeline drops or audits these rows before training.

    100 TB notes: the eval side is tiny (benchmarks are MBs) → its distinct
    gram set is explicitly broadcast, so the corpus-side scan is one narrow
    pass: shingle, hash-join against the broadcast set, partial-agg per
    doc. No corpus-vs-corpus shuffle exists; cost is O(corpus tokens).
    Token array is materialized as a named column before the transform()
    lambda (NOTES.md trap #1) and the gram array uses explode_outer +
    null-filter so Catalyst can't infer a size()-filter that re-evaluates
    the shingling below the exchange (trap #2)."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs.
    grams_arr = F.when(
        F.size(t) >= _NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (_NGRAM_N - 1)),
            lambda i: F.array_join(F.slice(t, i, _NGRAM_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        toks.select("doc_id", grams_arr.alias("grams"))
        .select("doc_id", F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    ev = F.broadcast(
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "gram")
        .distinct()
    )
    # r14 (guide §2.2): NO .distinct() on the train side — the downstream
    # countDistinct aggregates are duplicate-insensitive and the eval join
    # is broadcast, so the pre-join distinct was a full corpus-gram
    # exchange that changed nothing but the join's input row count; the
    # matched stream the agg actually dedups is contamination-sized.
    tr = grams.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        tr.join(ev, "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


# --------------------------------------------------------------------------
# x46 — pack documents into fixed token-budget training sequences
# --------------------------------------------------------------------------

_PACK_BUDGET = 2048

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, lang, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT doc_id, lang, source, n_tok,
       CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c
"""
# ^ CASTs matter: DuckDB's windowed SUM(BIGINT) yields HUGEINT (int128),
# and // / % propagate it; the driver's value-hash canonicalizes int128
# differently from int64 (r03 hash_match=false root cause).


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x46: sequence packing — lay documents head-to-tail in doc_id order
    within each (lang, source) shard and assign each to the 2048-token
    training sequence its first token lands in (seq_id + offset). The
    contiguous-fill strategy wastes zero tokens (docs straddle sequence
    boundaries, the standard causal-LM packing choice) and is fully
    deterministic, so the map is reproducible and SQL-oracle-checkable.

    100 TB notes: the window is PARTITIONED BY (lang, source) — packing is
    per-shard exactly as production pipelines do it (a global document
    order would serialize the sort and create one unbounded partition).
    One shuffle on the shard key; within a shard the running sum is a
    single sort + linear pass. Skewed shards split further by salting the
    shard key into (shard, doc_id div K) ranges if a shard outgrows a
    task."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    # Integer DIV, not floor(x / k): double division can misround a large
    # int64 running sum; DIV stays in exact integer arithmetic end-to-end.
    # INVARIANT: cum - n_tok >= 0 (a running sum of non-negative token
    # counts minus its last addend). That non-negativity is load-bearing
    # for cross-engine parity: Spark's DIV truncates toward zero while
    # DuckDB's // floors, and % signs differ likewise — the two only agree
    # on non-negative operands. If this expression could ever go negative,
    # both sides would need explicit floor-division semantics.
    return c.select(
        "doc_id",
        "lang",
        "source",
        "n_tok",
        F.expr(f"(cum - n_tok) DIV {_PACK_BUDGET}").cast("long").alias("seq_id"),
        F.expr(f"(cum - n_tok) % {_PACK_BUDGET}").cast("long").alias("seq_offset"),
    )


# --------------------------------------------------------------------------
# x47 — deterministic hash-based train/valid/test split
# --------------------------------------------------------------------------

# First 3 md5 hex chars → uniform 0..4095 → ‰ bucket. Spark's conv() and
# DuckDB's '0x'-cast read the same hex, so membership is engine-portable —
# the property that makes the split stable across reruns AND across engines
# (no RNG, no sampler state; re-ingesting a doc can never flip its split).
_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3))::BIGINT
           % 1000 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'valid'
            ELSE 'test' END AS split
FROM b
"""


@register("split_train_hash", oracle=_SPLIT_ORACLE)
def split_train_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x47: 90/5/5 train/valid/test assignment from a content-key hash —
    split = f(md5(doc_id)), no RNG. Unlike sample_frac (o3, rows-only),
    this is exactly reproducible in any engine, so it carries a full SQL
    oracle.

    100 TB notes: pure narrow map over the scan — zero shuffles, zero
    state; the split survives re-partitioning, incremental ingest, and
    engine migration because membership depends only on the key. This is
    the only split strategy that stays consistent when the corpus is
    rebuilt from scratch."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10)
        .cast("long")
        % 1000
    )
    b = docs.select("doc_id", bucket.alias("bucket"))
    return b.select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 900, "train")
        .when(F.col("bucket") < 950, "valid")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# x48 — stratified mixture re-sampling (per-language keep rates)
# --------------------------------------------------------------------------

# Keep-rates in ‰ per stratum: down-weight the dominant language, keep the
# rest — the "data mixing" step that turns raw crawl proportions into the
# training mixture. Salted hash ("strata:" prefix) decorrelates this
# decision from the x47 split buckets.
_STRATA_RATES = {"en": 250, "de": 600, "fr": 600, "es": 600, "zh": 600}
_STRATA_DEFAULT = 500

_STRATA_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {rate}" for lang, rate in _STRATA_RATES.items()
)

_SAMPLE_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, source,
         ('0x' || substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 3))
           ::BIGINT % 1000 AS bucket,
         CASE {_STRATA_CASE} ELSE {_STRATA_DEFAULT} END AS keep_rate
  FROM documents
)
SELECT doc_id, lang, source, bucket, keep_rate
FROM b WHERE bucket < keep_rate
"""


@register("sample_stratified", oracle=_SAMPLE_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x48: deterministic stratified sampling — each language keeps a
    configured fraction (en down-weighted to 25%, others 50-60%), chosen by
    a salted content hash rather than RNG so the mixture is reproducible
    and engine-portable (full SQL oracle; contrast o3's rows-only
    sampler).

    100 TB notes: narrow map + filter on the scan — no shuffle, no
    coordination; per-stratum rates are a broadcast-free CASE expression.
    Changing the mixture re-runs as a pure filter over the same corpus
    with bit-identical membership for unchanged strata (bucket is
    rate-independent), which makes mixture sweeps cheap and diffable."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strata:"), F.col("doc_id").cast("string"))),
                1,
                3,
            ),
            16,
            10,
        )
        .cast("long")
        % 1000
    )
    rate = F.lit(_STRATA_DEFAULT)
    for lang, r in reversed(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    staged = docs.select(
        "doc_id", "lang", "source", bucket.alias("bucket"), rate.alias("keep_rate")
    )
    return staged.filter(F.col("bucket") < F.col("keep_rate"))


# --------------------------------------------------------------------------
# x55 — temperature-based mixture resampling
# --------------------------------------------------------------------------

# Target corpus size for the resampled mixture and the temperature alpha.
# alpha = 0.5 is applied as sqrt(): sqrt is IEEE-correctly-rounded on both
# engines (a general pow(x, alpha) need not be). The denominator
# sum_w = SUM(sqrt(n_l)) is summation-ORDER-dependent, so it is pinned to
# 6 dp on BOTH sides before the division — otherwise a 1-ulp difference
# could flip floor(rate*1000) for a language whose rate lands exactly on a
# permille boundary and silently change row membership. Retune knobs:
# alpha -> 1 approaches natural proportions, alpha -> 0 approaches
# uniform-per-lang; _TEMP_TARGET scales the overall sample size (rates
# clamp at 1.0 per lang).
_TEMP_TARGET = 200

_TEMP_ORACLE = f"""
WITH lc AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
tot AS (SELECT round(SUM(sqrt(CAST(n_l AS DOUBLE))), 6) AS sum_w FROM lc),
rates AS (
  SELECT lang,
         CAST(floor(least(1.0,
                {_TEMP_TARGET} * sqrt(CAST(n_l AS DOUBLE)) / t.sum_w / n_l)
              * 1000) AS INTEGER) AS keep_permille
  FROM lc CROSS JOIN tot t
),
b AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3))::BIGINT
           % 1000 AS bucket
  FROM documents
)
SELECT b.doc_id, b.lang, b.bucket, r.keep_permille
FROM b JOIN rates r ON b.lang = r.lang
WHERE b.bucket < r.keep_permille
"""


@register("sample_temperature", oracle=_TEMP_ORACLE)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x55: temperature-based mixture resampling — per-language keep rates
    proportional to n_lang^alpha / n_lang (alpha = 0.5), the standard LLM
    pre-training recipe for up-weighting low-resource languages without
    flattening the mixture entirely (contrast x48's hand-set per-stratum
    rates: here the rates DERIVE from the corpus counts).

    Membership is the same md5-permille trick as x47/x48 — no RNG, so the
    sample is reproducible across engines and runs, and a doc's membership
    only changes if its language's rate crosses its bucket. Rates are
    floored to integer permille so the final membership comparison is
    integer-vs-integer on both engines.

    100 TB: one tiny groupBy(lang) count, rates broadcast back, then a
    narrow hash filter on the scan — the corpus is never shuffled.
    """
    docs = load_table(spark, sf_dir, "documents")
    lc = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = lc.agg(F.round(F.sum(F.sqrt(F.col("n_l").cast("double"))), 6).alias("sum_w"))
    rates = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(_TEMP_TARGET)
                * F.sqrt(F.col("n_l").cast("double"))
                / F.col("sum_w")
                / F.col("n_l"),
            )
            * 1000
        )
        .cast("int")
        .alias("keep_permille"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10)
        .cast("long")
        % 1000
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("bucket") < F.col("keep_permille"))
        .select("doc_id", "lang", "bucket", "keep_permille")
    )


# --------------------------------------------------------------------------
# x155 — quantile normalization across groups (exact integer rational form)
# --------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
),
g AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY 1, 2
),
gc AS (
  SELECT event_type, cents, t,
         SUM(t) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
         SUM(t) OVER (PARTITION BY event_type) AS n_g
  FROM g
),
gl AS (
  SELECT cents AS gv, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY 1
),
glc AS (
  SELECT gv, SUM(t) OVER (ORDER BY gv
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_glob,
         SUM(t) OVER () AS n_glob
  FROM gl
),
anchors AS (
  SELECT grp.event_type, glc.cum_glob * grp.n_g AS key, 1 AS is_anchor,
         glc.gv, NULL::BIGINT AS cents, NULL::BIGINT AS cum_g,
         grp.n_g, glc.n_glob
  FROM glc CROSS JOIN (SELECT DISTINCT event_type, n_g FROM gc) grp
),
probes AS (
  SELECT gc.event_type, gc.cum_g * glc.n_glob AS key, 0 AS is_anchor,
         NULL::BIGINT AS gv, gc.cents, gc.cum_g, gc.n_g, glc.n_glob
  FROM gc CROSS JOIN (SELECT DISTINCT n_glob FROM glc) glc
),
scan AS (
  SELECT *,
         LAST_VALUE(gv IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY key DESC, is_anchor DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS norm_cents
  FROM (SELECT * FROM anchors UNION ALL SELECT * FROM probes)
)
SELECT event_type,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS value,
       ROUND(CAST(cum_g AS DOUBLE) / n_g, 6) AS group_quantile,
       ROUND(CAST(norm_cents AS DOUBLE) / 100.0, 2) AS normalized_value
FROM scan WHERE is_anchor = 0
"""


@register("quantile_normalize", oracle=_QNORM_ORACLE)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x155: QUANTILE NORMALIZATION — map each group's value distribution
    onto the pooled distribution by rank: a value at group-quantile q
    becomes the smallest pooled value at global quantile ≥ q (the discrete
    inverse CDF). The batch-effect remover of bioinformatics and the
    feature normalizer that makes per-segment metrics comparable when the
    segments have different scales.

    The inverse-CDF lookup is the UNION-SCAN device, exact in integers:
    the quantile comparison cum_g/n_g ≤ cum_glob/n_glob cross-multiplies
    to BIGINT (cum_g·n_glob vs cum_glob·n_g — no float CDFs anywhere);
    pooled CDF rows become ANCHORS, group CDF rows PROBES, one descending
    sort per group with ignore-nulls last_value carries the matching
    anchor onto every probe (anchors win key ties: quantile exactly
    attained). Products bound by n² — DECIMAL(38,0) past ~3e9 rows.

    100 TB: both CDFs live at VALUE grain (bounded by the price grid, not
    the row count — the same collapse x144 uses); the anchor table
    replicates per group (|types|×|grid| rows), the scan windows are
    per-group sorts over that tiny union. Row-scale work is the two
    value-grain aggs."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    wg = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ONE corpus pass (r14): the (type, cents) count histogram is bounded
    # by |types|×|price grid| at any corpus size and BOTH CDFs derive from
    # it — the global counts are Σ over types of the per-type counts (same
    # exact integers), so the old second full scan+agg of events for glc
    # is gone. The eager pin also stops the 4 downstream consumers
    # (probes, grp, anchors, nglob) re-deriving the corpus agg.
    cv = (
        v.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .localCheckpoint()
    )
    gc = cv.select(
        "event_type",
        "cents",
        F.sum("t").over(wg).alias("cum_g"),
        F.sum("t").over(Window.partitionBy("event_type")).alias("n_g"),
    )
    wglob = Window.orderBy("gv").rowsBetween(Window.unboundedPreceding, 0)
    glc = (
        cv.groupBy(F.col("cents").alias("gv"))
        .agg(F.sum("t").cast("long").alias("t"))
        .select(
            "gv",
            F.sum("t").over(wglob).alias("cum_glob"),
            F.sum("t").over(Window.partitionBy()).alias("n_glob"),
        )
    )
    grp = gc.select("event_type", "n_g").distinct()
    anchors = glc.crossJoin(F.broadcast(grp)).select(
        "event_type",
        (F.col("cum_glob") * F.col("n_g")).alias("key"),
        F.lit(1).alias("is_anchor"),
        "gv",
        F.lit(None).cast("long").alias("cents"),
        F.lit(None).cast("long").alias("cum_g"),
        "n_g",
        "n_glob",
    )
    nglob = glc.select("n_glob").distinct()
    probes = gc.crossJoin(F.broadcast(nglob)).select(
        "event_type",
        (F.col("cum_g") * F.col("n_glob")).alias("key"),
        F.lit(0).alias("is_anchor"),
        F.lit(None).cast("long").alias("gv"),
        "cents",
        "cum_g",
        "n_g",
        "n_glob",
    )
    wscan = (
        Window.partitionBy("event_type")
        .orderBy(F.col("key").desc(), F.col("is_anchor").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scan = anchors.unionByName(probes).withColumn(
        "norm_cents", F.last("gv", ignorenulls=True).over(wscan)
    )
    return scan.filter(F.col("is_anchor") == 0).select(
        "event_type",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("value"),
        F.round(F.col("cum_g").cast("double") / F.col("n_g"), 6).alias(
            "group_quantile"
        ),
        F.round(F.col("norm_cents").cast("double") / 100.0, 2).alias(
            "normalized_value"
        ),
    )


# --------------------------------------------------------------------------
# x181 — train/eval split leakage audit (cross-split exact-dup contamination)
# --------------------------------------------------------------------------

_LEAK_ORACLE = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3))
                   ::BIGINT % 1000 < 900 THEN 'train'
              WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3))
                   ::BIGINT % 1000 < 950 THEN 'valid'
              ELSE 'test' END AS split,
         md5(lower(trim(text))) AS h
  FROM documents
),
train_h AS (SELECT DISTINCT h FROM s WHERE split = 'train')
SELECT s.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked,
       ROUND(CAST(SUM(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS leak_rate
FROM s LEFT JOIN train_h t ON s.h = t.h
WHERE s.split <> 'train'
GROUP BY s.split
"""


@register("split_leakage_audit", oracle=_LEAK_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x181: SPLIT LEAKAGE audit — for each held-out split (valid/test),
    how many documents' normalized content hashes also appear in train?
    Composes x47's hash split with l1's content hash: x45 decontaminates
    against an EXTERNAL benchmark at n-gram grain; this row audits the
    pipeline's OWN eval splits at exact-duplicate grain — the leak that
    silently inflates eval numbers when dedup runs before splitting but
    the corpus is re-ingested after. Non-zero rows here mean "run l1/l2
    BEFORE x47, not after".

    100 TB: one narrow map (split + hash), one distinct on the train-hash
    side (uniform 128-bit key — no skew), one hash join, a 2-row agg.
    The train-hash set at web scale is big — this left join shuffles both
    sides on h, which is the right plan (a broadcast would need the set
    to fit an executor; a bloom pre-filter is the standard upgrade and
    Spark injects one under runtime filters when stats warrant)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3), 16, 10)
        .cast("long")
        % 1000
    )
    s = docs.select(
        F.when(bucket < 900, "train")
        .when(bucket < 950, "valid")
        .otherwise("test")
        .alias("split"),
        F.md5(F.lower(F.trim("text"))).alias("h"),
    )
    train_h = s.filter(F.col("split") == "train").select("h").distinct()
    ev = s.filter(F.col("split") != "train")
    marked = ev.join(
        train_h.select(F.col("h").alias("th")),
        ev.h == F.col("th"),
        "left",
    )
    return marked.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("th").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_leaked"),
        F.round(
            F.sum(F.when(F.col("th").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("leak_rate"),
    )


# --------------------------------------------------------------------------
# x197 — class-balanced downsampling (hash-ranked, deterministic)
# --------------------------------------------------------------------------

_BAL_ORACLE = """
WITH c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
),
m AS (SELECT MIN(n) AS target FROM c),
r AS (
  SELECT vec_id, label,
         CAST(ROW_NUMBER() OVER (PARTITION BY label
                                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
              AS BIGINT) AS rk
  FROM embeddings
)
SELECT r.label, r.vec_id, r.rk
FROM r CROSS JOIN m WHERE r.rk <= m.target
"""


@register("sample_class_balance", oracle=_BAL_ORACLE)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x197: CLASS-BALANCED downsampling — keep exactly min(|class|) rows
    per label, chosen by md5-of-key rank: deterministic (re-runs, engine
    swaps and incremental rebuilds pick the SAME rows — x47's argument at
    class grain), uniform-in-expectation within each class, and exact-
    count (never the approximate fractions sampleBy gives). The imbalance
    fix a classifier-training pipeline applies before x48's language
    stratification; the complement (the dropped majority rows) is the
    candidate pool for hard-negative mining.

    100 TB: per-label rank is one shuffle on label — SKEWED by definition
    (the majority class is one partition); at scale replace row_number
    with a two-pass threshold: sample the md5 space to estimate the
    target-quantile hash cutoff, keep rows below it (constant memory, no
    per-class sort), then exact-trim the boundary bucket.

    Oracle caveat: rank ties cannot exist (vec_id unique ⇒ md5 unique),
    so the order is total on both engines."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = c.agg(F.min("n").alias("target"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    r = emb.select(
        "label", "vec_id", F.row_number().over(w).cast("long").alias("rk")
    )
    return r.crossJoin(F.broadcast(m)).filter(
        F.col("rk") <= F.col("target")
    ).select("label", "vec_id", "rk")


# --------------------------------------------------------------------------
# x216 — group-aware holdout split (all of a source stays on one side)
# --------------------------------------------------------------------------

_GRP_SPLIT_ORACLE = """
WITH s AS (
  SELECT doc_id, source,
         CASE WHEN ('0x' || substring(md5('grp:' || source), 1, 3))
                   ::BIGINT % 10 < 8 THEN 'train' ELSE 'heldout' END AS split
  FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM s GROUP BY split
"""


@register("split_group_holdout", oracle=_GRP_SPLIT_ORACLE)
def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x216: GROUP-AWARE holdout split — membership is a hash of the
    SOURCE, not the document, so every document of a source lands on the
    same side (80/20 by source). The GroupKFold principle: when
    near-duplicates and style leakage concentrate within a provenance
    group, a doc-grain split (x47) leaks group-level signal into eval
    even after x181's exact-dup audit passes — eval on held-out GROUPS
    or the number is inflated. Same engine-portable md5 device as x47,
    salted 'grp:' so the two splits are independent.

    The group-atomicity invariant (no source spans splits) is by
    construction — the test checks it anyway, against the assignment
    actually emitted.

    100 TB: a narrow map keyed on an already-present column — zero
    shuffles before the summary agg; the split survives re-ingest
    because membership depends only on the group key."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("grp:"), F.col("source"))), 1, 3),
            16,
            10,
        ).cast("long")
        % 10
    )
    s = docs.select(
        "source",
        F.when(bucket < 8, "train").otherwise("heldout").alias("split"),
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


# --------------------------------------------------------------------------
# x225 — deterministic systematic PPS sampling (probability ∝ size)
# --------------------------------------------------------------------------

_PPS_K = 20  # target draws per stratum

_PPS_ORACLE = f"""
WITH wtd AS (
  SELECT c_mktsegment, c_custkey,
         CAST(ROUND(GREATEST(c_acctbal, 0) * 100) AS BIGINT) + 1 AS w
  FROM customer
),
cum AS (
  SELECT c_mktsegment, c_custkey, w,
         SUM(w) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY c_mktsegment) AS tw
  FROM wtd
),
hits AS (
  SELECT c_mktsegment, c_custkey, w,
         ((tw + {_PPS_K} - 1) // {_PPS_K}) AS step,
         (cw - (((tw + {_PPS_K} - 1) // {_PPS_K}) // 2)
            + ((tw + {_PPS_K} - 1) // {_PPS_K}))
           // ((tw + {_PPS_K} - 1) // {_PPS_K})
         - ((cw - w) - (((tw + {_PPS_K} - 1) // {_PPS_K}) // 2)
            + ((tw + {_PPS_K} - 1) // {_PPS_K}))
           // ((tw + {_PPS_K} - 1) // {_PPS_K}) AS n_hits
  FROM cum
)
SELECT c_mktsegment, c_custkey, w, CAST(n_hits AS BIGINT) AS n_hits
FROM hits WHERE n_hits >= 1
"""


@register("sample_systematic_pps", oracle=_PPS_ORACLE)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x225: SYSTEMATIC PPS sampling — k draws per stratum with inclusion
    probability proportional to account balance, the survey-statistics
    workhorse (Madow '49) behind audit sampling and weighted eval-set
    draws. A fixed grid of k points (spacing step = ceil(W/k), offset
    step//2) is laid over the stratum's cumulative-weight axis; a unit is
    drawn once per grid point inside its (cum-w, cum] weight interval, so
    a unit carrying > step weight is drawn with multiplicity (n_hits —
    certainty units, reported not resampled, exactly as PPS theory says).

    Fully deterministic and exact: weights are cents-integers (+1 floor so
    zero/negative balances keep a positive draw chance), the grid hit
    count is a difference of two integer divisions, and every operand is
    shifted +step so both engines divide strictly positive integers
    (floored and truncating division agree there — DuckDB // floors,
    Spark DIV truncates, trap-class: never let a sampling boundary ride
    negative division).

    100 TB: one running-sum window per stratum (O(1) streaming frame) —
    the same single shuffle any partitioned window pays. The offset is a
    PINNED midpoint, not RNG: re-runs and backfills select identical
    units, which is exactly what an auditable sample requires (o3 covers
    the RNG case)."""
    cust = load_table(spark, sf_dir, "customer")
    wtd = cust.select(
        "c_mktsegment",
        "c_custkey",
        (
            F.round(F.greatest(F.col("c_acctbal"), F.lit(0)) * 100).cast("long")
            + 1
        ).alias("w"),
    )
    w_run = Window.partitionBy("c_mktsegment").orderBy("c_custkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_seg = Window.partitionBy("c_mktsegment")
    cum = wtd.select(
        "c_mktsegment",
        "c_custkey",
        "w",
        F.sum("w").over(w_run).alias("cw"),
        F.sum("w").over(w_seg).alias("tw"),
    )
    step = F.expr(f"(tw + {_PPS_K} - 1) DIV {_PPS_K}")
    hits = cum.withColumn("step", step).withColumn(
        "n_hits",
        F.expr(
            "(cw - (step DIV 2) + step) DIV step"
            " - ((cw - w) - (step DIV 2) + step) DIV step"
        ),
    )
    return hits.filter(F.col("n_hits") >= 1).select(
        "c_mktsegment", "c_custkey", "w", F.col("n_hits").cast("long").alias("n_hits")
    )


# --------------------------------------------------------------------------
# x255 — deterministic shard assignment + order-independent manifest
# --------------------------------------------------------------------------

_SHARD_N = 16

_MANIFEST_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         ('0x' || substring(md5('shard:' || doc_id), 1, 4))::BIGINT
           % {_SHARD_N} AS shard,
         -- 48-bit member hashes: an int64 SUM then holds ~32k members
         -- per shard before overflow (ANSI long overflow is an ABORT in
         -- Spark — the price_index lesson); wider shards widen the
         -- accumulator to DECIMAL(38)/HUGEINT, same plan
         ('0x' || substring(md5('member:' || doc_id || ':' || n_chars),
                            1, 12))::BIGINT AS member_h
  FROM documents
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(member_h) AS BIGINT) AS member_checksum
FROM assigned GROUP BY shard
"""


@register("pipeline_shard_manifest", oracle=_MANIFEST_ORACLE)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x255: SHARD MANIFEST — deterministic doc->shard assignment (md5 of
    the key, x47's membership device) plus the per-shard manifest a
    corpus release actually ships: doc count, byte budget, id range, and
    an ORDER-INDEPENDENT member checksum (sum of per-member content-keyed
    hashes — commutative, so any writer parallelism or retry order yields
    the same checksum, and a reader can verify a shard without sorting
    it). This is the publish step after x46/x47/x48 decide what goes in:
    WebDataset/tar-shard pipelines (x234 reads the container this writes
    the plan for) need exactly this manifest to validate transfers.

    Determinism: everything is integer — hash-derived shard and member
    hashes, exact sums. The checksum hashes (doc_id : n_chars) so a
    truncated or substituted member changes it (content-sensitive via the
    size field; a full-content checksum would hash the payload bytes —
    same plan, disclosed simplification for the text column).

    100 TB: one narrow hash projection + a {_SHARD_N}-group map-combined
    agg; zero shuffles beyond the final collapse. The shard count scales
    with target shard bytes, not row count."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id",
        "n_chars",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id"))), 1, 4),
                16,
                10,
            ).cast("long")
            % _SHARD_N
        ).alias("shard"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("member:"),
                        F.col("doc_id"),
                        F.lit(":"),
                        F.col("n_chars"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("member_h"),
    )
    return assigned.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.sum("member_h").cast("long").alias("member_checksum"),
    )


# --------------------------------------------------------------------------
# x273 — time-based split with embargo gap (purged time split audit)
# --------------------------------------------------------------------------

_EMBARGO_TRAIN_END = 20  # last day-of-month in train
_EMBARGO_DAYS = 3  # purged gap between train and test

_EMBARGO_ORACLE = f"""
WITH tagged AS (
  SELECT event_type, user_id,
         CASE WHEN day(ts) <= {_EMBARGO_TRAIN_END} THEN 'train'
              WHEN day(ts) <= {_EMBARGO_TRAIN_END + _EMBARGO_DAYS} THEN 'embargo'
              ELSE 'test' END AS split
  FROM events
),
per AS (
  SELECT event_type,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
         SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS n_embargo,
         SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test,
         COUNT(DISTINCT CASE WHEN split = 'train' THEN user_id END)
           AS users_train,
         COUNT(DISTINCT CASE WHEN split = 'test' THEN user_id END)
           AS users_test
  FROM tagged GROUP BY event_type
),
overlap AS (
  SELECT event_type, COUNT(*) AS users_both
  FROM (
    SELECT event_type, user_id FROM tagged WHERE split = 'train'
    INTERSECT
    SELECT event_type, user_id FROM tagged WHERE split = 'test'
  ) GROUP BY event_type
)
SELECT p.event_type,
       CAST(p.n_train AS BIGINT) AS n_train,
       CAST(p.n_embargo AS BIGINT) AS n_embargo,
       CAST(p.n_test AS BIGINT) AS n_test,
       CAST(p.users_train AS BIGINT) AS users_train,
       CAST(p.users_test AS BIGINT) AS users_test,
       CAST(COALESCE(o.users_both, 0) AS BIGINT) AS users_both,
       ROUND(CAST(COALESCE(o.users_both, 0) AS DOUBLE)
             / NULLIF(p.users_test, 0), 6) AS entity_overlap_rate
FROM per p LEFT JOIN overlap o ON o.event_type = p.event_type
"""


@register("split_time_embargo", oracle=_EMBARGO_ORACLE)
def split_time_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x273: TIME-BASED train/test split with an EMBARGO gap — the
    leakage-safe evaluation protocol for anything with temporal
    autocorrelation (de Prado's purged split): train ends day
    {_EMBARGO_TRAIN_END}, the next {_EMBARGO_DAYS} days are DISCARDED so
    trailing features computed at train time (x274's windows, x90's
    EMAs) cannot straddle the boundary, test is the remainder. The audit
    reports what x181 reports for random splits: per-type volumes plus
    the ENTITY overlap between train and test users — time splits stop
    temporal leakage but users recur across both sides, and
    entity_overlap_rate is the number you must disclose (or push through
    x216's group holdout) before claiming generalization.

    Determinism: split boundaries are integer day-of-month comparisons;
    overlap is an exact set intersection at (type, user) grain.

    100 TB: tag-and-aggregate off one scan (map-combined); the overlap
    intersect runs at distinct (type, user) grain — both sides collapse
    before any join, nothing pairs at event grain."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        "user_id",
        F.when(F.dayofmonth("ts") <= _EMBARGO_TRAIN_END, "train")
        .when(
            F.dayofmonth("ts") <= _EMBARGO_TRAIN_END + _EMBARGO_DAYS, "embargo"
        )
        .otherwise("test")
        .alias("split"),
    )
    per = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "embargo", 1).otherwise(0))
        .cast("long")
        .alias("n_embargo"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.countDistinct(
            F.when(F.col("split") == "train", F.col("user_id"))
        )
        .cast("long")
        .alias("users_train"),
        F.countDistinct(
            F.when(F.col("split") == "test", F.col("user_id"))
        )
        .cast("long")
        .alias("users_test"),
    )
    tr = (
        tagged.filter(F.col("split") == "train")
        .select("event_type", "user_id")
        .distinct()
    )
    te = (
        tagged.filter(F.col("split") == "test")
        .select("event_type", "user_id")
        .distinct()
    )
    overlap = (
        tr.join(te, ["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("users_both"))
    )
    return per.join(overlap, "event_type", "left").select(
        "event_type",
        "n_train",
        "n_embargo",
        "n_test",
        "users_train",
        "users_test",
        F.coalesce("users_both", F.lit(0)).cast("long").alias("users_both"),
        F.round(
            F.coalesce("users_both", F.lit(0)).cast("double")
            / F.nullif(F.col("users_test"), F.lit(0)),
            6,
        ).alias("entity_overlap_rate"),
    )


# --------------------------------------------------------------------------
# x283 — curriculum schedule: quality-phase buckets + deterministic order
# --------------------------------------------------------------------------

_CURR_PHASES = 4

_CURR_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         length(string_split(text, ' ')) AS n_tok,
         length(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
),
keyed AS (
  SELECT doc_id, n_tok, n_uniq,
         n_uniq * 1000000 // n_tok AS score_u,
         substring(md5('curr:' || doc_id), 1, 16) AS order_key
  FROM scored
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_u, doc_id) AS r,
         COUNT(*) OVER () AS n
  FROM keyed
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_uniq AS BIGINT) AS n_uniq,
       CAST(score_u AS BIGINT) AS score_u,
       CAST((r - 1) * {_CURR_PHASES} // n + 1 AS INTEGER) AS phase,
       order_key
FROM ranked
"""


@register("curriculum_schedule", oracle=_CURR_ORACLE)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x283: CURRICULUM SCHEDULE — the training-order stage between
    curation and x255's shard manifest: docs rank into {_CURR_PHASES}
    quality phases (here by lexical-diversity score, unique/total tokens
    in exact integer micro-units — swap in any x9/x73/x270 gate score),
    and WITHIN a phase the order key is a salted md5 — a deterministic
    shuffle, so every re-run of the pipeline materializes the identical
    epoch order (x47's hash-split philosophy applied to ordering:
    curriculum experiments must be reproducible to be comparable).

    Phase boundaries are rank-discrete integer arithmetic
    ((r−1)·{_CURR_PHASES} // n, ties doc_id-pinned) — every phase gets
    ⌊n/{_CURR_PHASES}⌋±1 docs with no float threshold.

    100 TB: scoring is per-doc map work; the rank is ONE global sort at
    doc grain (the x98 caveat — bin scores first at extreme corpus
    sizes); writers consume (phase, order_key) as the sort spec, which
    is exactly the x255 shard writer's input."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq"),
    )
    keyed = scored.select(
        "doc_id",
        "n_tok",
        "n_uniq",
        F.floor(F.col("n_uniq") * 1_000_000 / F.col("n_tok"))
        .cast("long")
        .alias("score_u"),
        F.substring(
            F.md5(F.concat(F.lit("curr:"), F.col("doc_id"))), 1, 16
        ).alias("order_key"),
    )
    w_r = Window.orderBy("score_u", "doc_id")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = keyed.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_uniq").cast("long").alias("n_uniq"),
        "score_u",
        F.row_number().over(w_r).alias("r"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        "order_key",
    )
    # exact INTEGER division (div, not `/`-then-cast: float quotients can
    # land a hair under an exact boundary and truncate differently than
    # DuckDB's //)
    return ranked.select(
        "doc_id",
        "n_tok",
        "n_uniq",
        "score_u",
        (F.expr(f"(r - 1) * {_CURR_PHASES} div n") + 1)
        .cast("int")
        .alias("phase"),
        "order_key",
    )


# --------------------------------------------------------------------------
# x304 — data-mixture water-filling solver (capped source weights)
# --------------------------------------------------------------------------

_MIX_ROUNDS = 3


def _mix_round_sql(t: int) -> str:
    """One water-filling iteration as a chained CTE: integer capped-mass
    and uncapped-count window sums, then one double lambda update."""
    prev = "m0" if t == 1 else f"m{t - 1}"
    return f"""
m{t} AS (
  SELECT source, a, b, target,
         CAST(b - SUM(CASE WHEN lam * target >= CAST(a AS DOUBLE)
                           THEN a ELSE 0 END) OVER () AS DOUBLE)
         / (CAST(SUM(CASE WHEN lam * target >= CAST(a AS DOUBLE)
                          THEN 0 ELSE 1 END) OVER () AS DOUBLE) * target)
           AS lam
  FROM {prev}
)"""


_MIX_ORACLE = f"""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS a
  FROM documents GROUP BY source
),
base AS (
  SELECT source, a,
         CAST(SUM(a) OVER () AS BIGINT) // 2 AS b,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_src
  FROM tok
),
m0 AS (
  SELECT source, a, b, CAST(b AS DOUBLE) / n_src AS target, 1.0 AS lam
  FROM base
),
{",".join(_mix_round_sql(t) for t in range(1, _MIX_ROUNDS + 1))}
SELECT source, a AS tokens,
       ROUND(target, 6) AS target_tokens,
       ROUND(LEAST(1.0, lam * target / CAST(a AS DOUBLE)), 6) AS weight,
       ROUND(LEAST(1.0, lam * target / CAST(a AS DOUBLE))
             * CAST(a AS DOUBLE), 6) AS expected_tokens,
       CAST(CASE WHEN lam * target >= CAST(a AS DOUBLE) THEN 1 ELSE 0 END
            AS INTEGER) AS capped
FROM m{_MIX_ROUNDS}
"""


@register("pipeline_mixture_weights", oracle=_MIX_ORACLE)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x304: DATA-MIXTURE WATER-FILLING — per-source sampling weights
    that hit a token budget B (here half the corpus) at UNIFORM source
    shares under the no-upsampling cap w ≤ 1: the mixing step between
    x55's temperature transform (which reweights but never respects a
    cap) and x197's class balancer (rows, not token mass). Sources too
    small to fill their share cap at 1; the deficit redistributes to
    the uncapped sources by re-solving the water level λ — 3 fixed
    iterations UNROLLED (water-filling converges after ≤|capped set|
    changes; 3 covers the test corpus and any λ error just underfills
    the budget, never breaks the cap).

    Determinism: capped mass and uncapped counts are INTEGER window
    sums (token counts as doubles would lose exactness past 2^53 —
    that's why the CASE sums a, not CAST(a AS DOUBLE)); each λ update
    is one identically-parenthesized double ratio; the cap compare
    λ·target ≥ a runs the same expression both engines (x294's
    device). Uniform targets make the Σtarget window sum a count
    times a constant — order-independent by construction.

    100 TB: one map-combined source-grain agg; all 3 iterations run on
    the |sources|-row frame (the unpartitioned windows are bounded by
    |sources|, not rows)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("a")
    )
    w_all = Window.partitionBy()
    base = tok.select(
        "source",
        "a",
        F.expr(
            "CAST(sum(a) OVER (PARTITION BY 1) AS BIGINT) div 2"
        ).alias("b"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_src"),
    )
    cur = base.select(
        "source",
        "a",
        "b",
        (F.col("b").cast("double") / F.col("n_src")).alias("target"),
        F.lit(1.0).alias("lam"),
    )
    for _ in range(_MIX_ROUNDS):
        capped = F.col("lam") * F.col("target") >= F.col("a").cast("double")
        cur = cur.select(
            "source",
            "a",
            "b",
            "target",
            (
                (
                    F.col("b")
                    - F.sum(F.when(capped, F.col("a")).otherwise(0)).over(w_all)
                ).cast("double")
                / (
                    F.sum(F.when(capped, 0).otherwise(1))
                    .over(w_all)
                    .cast("double")
                    * F.col("target")
                )
            ).alias("lam"),
        )
    w = F.least(
        F.lit(1.0), F.col("lam") * F.col("target") / F.col("a").cast("double")
    )
    return cur.select(
        "source",
        F.col("a").alias("tokens"),
        F.round(F.col("target"), 6).alias("target_tokens"),
        F.round(w, 6).alias("weight"),
        F.round(w * F.col("a").cast("double"), 6).alias("expected_tokens"),
        F.when(
            F.col("lam") * F.col("target") >= F.col("a").cast("double"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("capped"),
    )


# --------------------------------------------------------------------------
# x310 — Horvitz-Thompson estimate off a hash-Bernoulli sample
# --------------------------------------------------------------------------

_HT_M = 20  # nominal inclusion probability = 1/m

_HT_ORACLE = f"""
WITH y AS (
  SELECT ((((l_orderkey * 100 + l_linenumber) % 2147483648) * 2654435761)
          % 4294967296) AS h,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
         CAST(SUM(cents) AS BIGINT) AS truth,
         CAST(SUM(CASE WHEN (h // 65536) % {_HT_M} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_smp,
         CAST(SUM(CASE WHEN (h // 65536) % {_HT_M} = 0 THEN cents ELSE 0 END) AS BIGINT)
           AS y_smp,
         SUM(CASE WHEN (h // 65536) % {_HT_M} = 0
                  THEN CAST(cents AS DECIMAL(38, 0)) * cents ELSE 0 END)
           AS y2_smp
  FROM y
)
SELECT CAST({_HT_M} AS BIGINT) AS m, n_pop, n_smp, truth AS truth_cents,
       y_smp * {_HT_M} AS ht_estimate_cents,
       ROUND(CAST(y_smp * {_HT_M} - truth AS DOUBLE) / truth, 6) AS rel_error,
       ROUND(sqrt(CAST(y2_smp AS DOUBLE) * {_HT_M * (_HT_M - 1)}), 2)
         AS ht_se_cents,
       ROUND(CAST(y_smp * {_HT_M} - truth AS DOUBLE)
             / sqrt(CAST(y2_smp AS DOUBLE) * {_HT_M * (_HT_M - 1)}), 6)
         AS z_residual
FROM s
"""


@register("sample_ht_estimate", oracle=_HT_ORACLE)
def sample_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x310: HORVITZ-THOMPSON TOTAL off a hash-Bernoulli sample — draw
    each lineitem with nominal π = 1/{m} via a Knuth multiplicative
    hash of the unit key, estimate total revenue as Σ y/π, and report
    the estimate against the full-scan truth with the Bernoulli HT
    standard error Σy²·(1−π)/π² and its z-residual: the estimator
    audit that certifies a sampling pipeline end-to-end (x225 draws
    PPS samples; this closes the loop by PROVING the expansion
    estimator lands within noise of truth on the same engine run).

    Determinism: the "randomness" is the pinned integer hash
    ((key mod 2³¹)·2654435761 mod 2³²) — pure int64 arithmetic both
    engines (xxhash64 has no DuckDB twin; the pre-reduction keeps the
    product under int64 at ANY key scale). The sample gate reads the
    HIGH bits (h div 2¹⁶ mod m): a multiplicative hash leaves its low
    bits congruent to the key's (A ≡ 1 mod 4 here), which skewed the
    draw 1.8× under a low-bit gate — Knuth's high-bit rule, verified
    by the z-residual invariant test; sums exact (y² in
    DECIMAL(38)); the two ratios are 6dp-pinned doubles. Re-runs and
    engines select the identical sample.

    100 TB: one scan, one conditional-sum aggregate, 1 row out — the
    cheapest possible audit; π uniformity rests on the hash, which is
    the same trade every hash-split in this repo (x47) makes."""
    li = load_table(spark, sf_dir, "lineitem")
    m = _HT_M
    key = F.col("l_orderkey") * 100 + F.col("l_linenumber")
    h = ((key % 2147483648) * 2654435761) % 4294967296
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    y = li.select(h.alias("h"), cents.alias("cents"))
    smp = F.expr("h div 65536") % m == 0
    s = y.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("cents").cast("long").alias("truth"),
        F.sum(F.when(smp, 1).otherwise(0)).cast("long").alias("n_smp"),
        F.sum(F.when(smp, F.col("cents")).otherwise(0)).cast("long").alias("y_smp"),
        F.sum(
            F.when(smp, F.col("cents").cast("decimal(38,0)") * F.col("cents")).otherwise(0)
        ).alias("y2_smp"),
    )
    est = F.col("y_smp") * m
    se = F.sqrt(F.col("y2_smp").cast("double") * (m * m - m))
    return s.select(
        F.lit(m).cast("long").alias("m"),
        "n_pop",
        "n_smp",
        F.col("truth").alias("truth_cents"),
        est.alias("ht_estimate_cents"),
        F.round((est - F.col("truth")).cast("double") / F.col("truth"), 6).alias(
            "rel_error"
        ),
        F.round(se, 2).alias("ht_se_cents"),
        F.round((est - F.col("truth")).cast("double") / se, 6).alias(
            "z_residual"
        ),
    )


# --------------------------------------------------------------------------
# x317 — bloom-filter decontamination audit (bloom vs exact, measured FP)
# --------------------------------------------------------------------------

_BLOOM_M = 262144  # 2^18 bit positions
_BLOOM_N = 3  # n-gram length (matches x45's fixture-tuned choice)
_BLOOM_MOD = 97  # eval split (matches x45)


def _bloom_gram_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, gram, h) frame shared by x317 and x367 — ONE def
    site so the relational audit and the bitmap screen can never drift
    apart (their decision-equivalence test compares these ops pairwise).

    Short-doc guard (r13 advisor): ``sequence(1, greatest(size-2, 0))``
    expands DESCENDING to [1, 0] when the doc has < n tokens (Spark fills
    step = -1 for start > stop) and ``slice(toks, 0, n)`` then throws
    under ANSI — x45's when/otherwise empty-array device makes short docs
    contribute zero grams, matching DuckDB's empty generate_series(1, 0).
    """
    n = _BLOOM_N
    toks = F.split("text", " ")
    grams_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select("doc_id", F.explode(grams_arr).alias("gram"))
    return grams.select(
        "doc_id",
        "gram",
        F.conv(F.substring(F.md5("gram"), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()

_BLOOM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + {_BLOOM_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - {_BLOOM_N - 1}, 0)))
             AS i
    FROM tok
  )
),
gh AS (
  SELECT DISTINCT doc_id, gram,
         ('0x' || substring(md5(gram), 1, 12))::BIGINT AS h
  FROM grams
),
ev AS (SELECT DISTINCT gram, h FROM gh WHERE doc_id % {_BLOOM_MOD} = 0),
tr AS (SELECT doc_id, gram, h FROM gh WHERE doc_id % {_BLOOM_MOD} <> 0),
bloom AS (
  SELECT DISTINCT p FROM (
    SELECT h % {_BLOOM_M} AS p FROM ev
    UNION ALL SELECT (h >> 15) % {_BLOOM_M} FROM ev
    UNION ALL SELECT (h >> 30) % {_BLOOM_M} FROM ev
  ) u
),
hits AS (
  SELECT t.doc_id, t.gram,
         CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
              AND b3.p IS NOT NULL THEN 1 ELSE 0 END AS bloom_hit,
         CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
  FROM tr t
  LEFT JOIN bloom b1 ON b1.p = t.h % {_BLOOM_M}
  LEFT JOIN bloom b2 ON b2.p = (t.h >> 15) % {_BLOOM_M}
  LEFT JOIN bloom b3 ON b3.p = (t.h >> 30) % {_BLOOM_M}
  LEFT JOIN (SELECT DISTINCT gram FROM ev) e ON e.gram = t.gram
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_train_grams,
       CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(exact_hit) AS BIGINT) AS n_exact_hits,
       CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS n_false_positives,
       ROUND(CAST(SUM(bloom_hit) - SUM(exact_hit) AS DOUBLE)
             / (COUNT(*) - SUM(exact_hit)), 6) AS fp_rate,
       CAST(COUNT(DISTINCT CASE WHEN bloom_hit = 1 THEN doc_id END)
            AS BIGINT) AS n_docs_flagged_bloom,
       CAST(COUNT(DISTINCT CASE WHEN exact_hit = 1 THEN doc_id END)
            AS BIGINT) AS n_docs_flagged_exact
FROM hits
"""


@register("decontaminate_bloom", oracle=_BLOOM_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x317: BLOOM-FILTER DECONTAMINATION AUDIT — the scale path for
    x45: build a 2^18-position, k=3 Bloom filter over the eval set's
    3-gram hashes, screen every train gram through it, and report
    bloom hits vs EXACT hits side by side with the measured
    false-positive rate and per-doc flag counts. Zero false negatives
    by construction (a Bloom filter never misses a member) — verified
    by the invariant test; the FP rate is the price, measured here
    against theory (1−e^(−kn/m))^k.

    Determinism: gram hashes are the portable md5-derived 48-bit
    integers (x6's device); the 3 bit positions are pure shifts/mods
    of that integer — no RNG, no engine hash. Bloom membership is
    spelled RELATIONALLY (3 semi-joins against the distinct-positions
    table): the oracle-checkable twin of the bitmap form.

    100 TB: the positions table is ≤ 2^18 rows ≈ 2 MB — a broadcast;
    production swaps it for an actual broadcast bitmap (aggregate
    positions into a BinaryType array, test bits in a vectorized
    expression) with identical decisions. Train grams stream through
    map-side; only the distinct-eval-gram build shuffles. The exact
    join (here for the audit) is what the Bloom screen REPLACES at
    scale — survivors alone proceed to x45's exact confirm."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    gh = _bloom_gram_hashes(docs)
    is_ev = F.col("doc_id") % _BLOOM_MOD == 0
    # r14 optimization (guide §2.4): checkpoint the distinct eval-gram
    # frame — it feeds FIVE consumers (3 bloom-position unions, the
    # position-distinct, the exact-hit join), each of which had been
    # re-deriving the full gram-explode + md5 + distinct subtree (52
    # Exchanges in the before-plan). Eval sets are small by
    # definition, so the materialization is cheap at any scale. Measured
    # (interleaved 3-shot medians, sf0.1): 2.4-2.5 s -> 1.9-2.0 s.
    ev = gh.filter(is_ev).select("gram", "h").distinct().localCheckpoint(eager=True)
    tr = gh.filter(~is_ev)
    m = _BLOOM_M
    pos = [F.col("h") % m, F.shiftright("h", 15) % m, F.shiftright("h", 30) % m]
    bloom = (
        ev.select(pos[0].alias("p"))
        .unionAll(ev.select(pos[1].alias("p")))
        .unionAll(ev.select(pos[2].alias("p")))
        .distinct()
    )
    b = [bloom.select(F.col("p").alias(f"p{i}")) for i in range(3)]
    hits = (
        tr.join(F.broadcast(b[0]), pos[0] == F.col("p0"), "left")
        .join(F.broadcast(b[1]), pos[1] == F.col("p1"), "left")
        .join(F.broadcast(b[2]), pos[2] == F.col("p2"), "left")
        .join(
            F.broadcast(ev.select(F.col("gram").alias("eg")).distinct()),
            F.col("gram") == F.col("eg"),
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("p0").isNotNull()
                & F.col("p1").isNotNull()
                & F.col("p2").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("bloom_hit"),
            F.when(F.col("eg").isNotNull(), 1).otherwise(0).alias("exact_hit"),
        )
    )
    cnt = F.count(F.lit(1))
    bh, eh = F.sum("bloom_hit"), F.sum("exact_hit")
    return hits.agg(
        cnt.cast("long").alias("n_train_grams"),
        bh.cast("long").alias("n_bloom_hits"),
        eh.cast("long").alias("n_exact_hits"),
        (bh - eh).cast("long").alias("n_false_positives"),
        F.round((bh - eh).cast("double") / (cnt - eh), 6).alias("fp_rate"),
        F.countDistinct(F.when(F.col("bloom_hit") == 1, F.col("doc_id")))
        .cast("long")
        .alias("n_docs_flagged_bloom"),
        F.countDistinct(F.when(F.col("exact_hit") == 1, F.col("doc_id")))
        .cast("long")
        .alias("n_docs_flagged_exact"),
    )


# --------------------------------------------------------------------------
# x318 — Neyman optimal stratified allocation (largest-remainder rounding)
# --------------------------------------------------------------------------

_NEY_BUDGET = 1000

_NEY_ORACLE = f"""
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
mo AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(cents) AS BIGINT) AS t,
         SUM(CAST(cents AS DECIMAL(38, 0)) * cents) AS s2
  FROM v GROUP BY event_type
),
sd AS (
  SELECT event_type, nh,
         sqrt((CAST(s2 AS DOUBLE) - CAST(t AS DOUBLE) / nh * t) / (nh - 1))
           AS sh
  FROM mo
),
q AS (
  SELECT event_type, nh, sh,
         {_NEY_BUDGET} * (nh * sh) / SUM(nh * sh) OVER () AS quota,
         {_NEY_BUDGET} * CAST(nh AS DOUBLE) / SUM(nh) OVER () AS prop_quota
  FROM sd
),
fl AS (
  SELECT event_type, nh, sh, quota, prop_quota,
         CAST(FLOOR(quota) AS BIGINT) AS base,
         quota - FLOOR(quota) AS rem,
         CAST({_NEY_BUDGET} - SUM(CAST(FLOOR(quota) AS BIGINT)) OVER ()
              AS BIGINT) AS deficit,
         ROW_NUMBER() OVER (ORDER BY quota - FLOOR(quota) DESC, event_type)
           AS rk
  FROM q
)
SELECT event_type, nh AS n_stratum,
       ROUND(sh, 6) AS stddev_cents,
       ROUND(quota, 6) AS neyman_quota,
       CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS n_alloc,
       ROUND(prop_quota, 6) AS proportional_quota
FROM fl
"""


@register("sample_neyman_allocation", oracle=_NEY_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x318: NEYMAN OPTIMAL ALLOCATION — split a 1000-unit sampling
    budget across the event-type strata with n_h ∝ N_h·S_h (the
    minimum-variance allocation for a stratified mean; Neyman 1934),
    integerized by LARGEST-REMAINDER rounding so the allocations sum
    to the budget EXACTLY; the proportional quota rides along as the
    naive contrast. Completes the sampling suite: x48 executes
    proportional draws, x225 PPS draws, x310 audits the estimator —
    this decides the sizes.

    Determinism: S_h from exact integer moments (DECIMAL(38) squares),
    quotas are shared-parenthesization doubles of those, floors/
    remainders derive from the quotas, and the remainder rank is
    (remainder DESC, type) pinned — the +1 winners are identical in
    both engines.

    100 TB: one map-combined 3-moment agg; everything after runs on
    the |strata|-row frame (unpartitioned windows bounded by the
    stratum count, pareto_abc's rule)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    mo = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("cents").cast("long").alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    sh = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("t").cast("double") / F.col("nh") * F.col("t")
        )
        / (F.col("nh") - 1)
    )
    sd = mo.select("event_type", "nh", sh.alias("sh"))
    w_all = Window.partitionBy()
    q = sd.select(
        "event_type",
        "nh",
        "sh",
        (
            _NEY_BUDGET
            * (F.col("nh") * F.col("sh"))
            / F.sum(F.col("nh") * F.col("sh")).over(w_all)
        ).alias("quota"),
        (
            _NEY_BUDGET
            * F.col("nh").cast("double")
            / F.sum("nh").over(w_all)
        ).alias("prop_quota"),
    )
    fl = q.select(
        "*",
        F.floor("quota").cast("long").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    ).select(
        "*",
        (F.lit(_NEY_BUDGET) - F.sum("base").over(w_all))
        .cast("long")
        .alias("deficit"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("rk"),
    )
    return fl.select(
        "event_type",
        F.col("nh").alias("n_stratum"),
        F.round("sh", 6).alias("stddev_cents"),
        F.round("quota", 6).alias("neyman_quota"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_alloc"),
        F.round("prop_quota", 6).alias("proportional_quota"),
    )


# --------------------------------------------------------------------------
# x352 — temperature-mixture epoch allocator (token-budget planning)
# --------------------------------------------------------------------------

_ALLOC_BUDGET = 1_000_000  # target training tokens across all sources
# temperature tau = 0.5: weights proportional to sqrt(token count) — the
# standard multilingual/multi-source rebalancing curve (upweights tails
# without letting a giant source dominate).

_ALLOC_ORACLE = f"""
WITH t AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wq
  FROM t
),
s AS (SELECT CAST(SUM(wq) AS HUGEINT) AS sw FROM w)
SELECT w.source, w.n_tokens,
       ROUND(CAST(w.wq AS DOUBLE) / CAST(s.sw AS DOUBLE), 6) AS mix_weight,
       CAST(CAST({_ALLOC_BUDGET} AS HUGEINT) * w.wq // s.sw AS BIGINT)
         AS target_tokens,
       ROUND(CAST(CAST({_ALLOC_BUDGET} AS HUGEINT) * w.wq AS DOUBLE)
             / CAST(s.sw * w.n_tokens AS DOUBLE), 6) AS sample_rate,
       CAST((CAST({_ALLOC_BUDGET} AS HUGEINT) * w.wq + s.sw * w.n_tokens - 1)
            // (s.sw * w.n_tokens) AS BIGINT) AS epochs
FROM w CROSS JOIN s
"""


@register("pipeline_epoch_allocator", oracle=_ALLOC_ORACLE)
def pipeline_epoch_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x352: TEMPERATURE-MIXTURE EPOCH ALLOCATOR — turn per-source token
    counts into a training plan for a fixed token budget: mixture weight
    w_s proportional to sqrt(tokens) (tau = 0.5, the multilingual
    rebalancing curve), target tokens = budget * w_s / SUM(w), sampling
    rate vs the source's own supply, and EPOCHS = ceil(rate) — rate > 1
    means the source repeats, the early-overfit warning x304's mixture
    weights don't surface. Complements x55 (which SAMPLES docs at a
    temperature) by emitting the PLAN for a budget.

    Exactness: token counts are exact integers; sqrt is one correctly-
    rounded IEEE op per source, quantized to micro-unit longs BEFORE
    the sum (float-sum order never materializes); target_tokens and
    epochs are exact integer floor/ceil divisions in HUGEINT/
    DECIMAL(38); the two published ratios are identically-
    parenthesized single divisions, 6dp.

    100 TB: ONE map-combined (source) agg over the corpus; everything
    after runs on |sources| rows with a 1-row broadcast total."""
    docs = load_table(spark, sf_dir, "documents")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long"))
        .cast("long")
        .alias("n_tokens")
    )
    w = t.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("long")
        .alias("wq"),
    )
    s = w.agg(F.sum("wq").cast("decimal(38,0)").alias("sw"))
    j = w.crossJoin(F.broadcast(s))
    budget_wq = dec(F.lit(_ALLOC_BUDGET)) * F.col("wq")
    supply = F.col("sw") * F.col("n_tokens")
    return j.select(
        "source",
        "n_tokens",
        F.round(F.col("wq").cast("double") / F.col("sw").cast("double"), 6).alias(
            "mix_weight"
        ),
        F.expr(
            f"cast((cast({_ALLOC_BUDGET} as decimal(38,0)) * wq) div sw as bigint)"
        ).alias("target_tokens"),
        F.round(
            budget_wq.cast("double") / supply.cast("double"), 6
        ).alias("sample_rate"),
        F.expr(
            f"cast((cast({_ALLOC_BUDGET} as decimal(38,0)) * wq"
            " + sw * n_tokens - 1) div (sw * n_tokens) as bigint)"
        ).alias("epochs"),
    )


# --------------------------------------------------------------------------
# x366 — DSIR-lite importance weights (target-domain selection)
# --------------------------------------------------------------------------

_DSIR_TARGET = "src0"  # the "domain" whose distribution we select toward
_DSIR_TOP = 50

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
  FROM documents
),
ct AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
  WHERE source = '{_DSIR_TARGET}' GROUP BY w
),
cs AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
  WHERE source <> '{_DSIR_TARGET}' GROUP BY w
),
vocab AS (
  SELECT w FROM ct UNION SELECT w FROM cs
),
consts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok
          WHERE source = '{_DSIR_TARGET}') AS nt,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM tok
          WHERE source <> '{_DSIR_TARGET}') AS ns,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM vocab) AS v
),
term AS (
  SELECT vocab.w,
         CAST(ROUND(1000000.0 * ln(
           (CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) * (k.ns + k.v))
           / (CAST(COALESCE(cs.c, 0) + 1 AS DOUBLE) * (k.nt + k.v))
         )) AS BIGINT) AS tu
  FROM vocab
  LEFT JOIN ct ON vocab.w = ct.w
  LEFT JOIN cs ON vocab.w = cs.w
  CROSS JOIN consts k
),
docw AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(term.tu) AS BIGINT) AS wu
  FROM tok t JOIN term ON t.w = term.w
  WHERE t.source <> '{_DSIR_TARGET}'
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       ROUND(wu / 1000000.0, 6) AS dsir_logratio,
       ROUND(CAST(wu AS DOUBLE) / n_tokens / 1000000.0, 6)
         AS per_token_logratio
FROM docw
ORDER BY wu DESC, doc_id
LIMIT {_DSIR_TOP}
"""


@register("pipeline_dsir_weights", oracle=_DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x366: DSIR-LITE importance weights — per out-of-domain doc, the
    log-likelihood ratio of the TARGET source's add-1-smoothed unigram
    LM over the raw pool's (Xie et al. 2023's data-selection-with-
    importance-resampling recipe at the unigram level): the top-k docs
    are the raw-pool slice that most resembles the target domain — the
    principled version of 'grab more data like src0' that x55's
    temperature sampler and x352's allocator can't express (they weigh
    SOURCES; this weighs DOCUMENTS).

    Exactness: both LMs' counts, totals and vocab size are exact
    integers; each vocab type's log ratio is ONE identically-
    parenthesized ln over exact integers, pinned to micro-nat longs
    (x353's device) so per-doc sums are exact integer sums; the top-50
    rank is (weight_u DESC, doc_id)-pinned; displays are single
    divisions of the exact integers.

    100 TB: token-grain (w) joins hash on the vocab key and
    map-combine; the per-type term table is |vocab| rows (broadcasts
    when it fits); the top-50 is orderBy+limit —
    TakeOrderedAndProject, never a global window or driver sort.

    r14: the target counts, pool counts, vocab and all three totals
    collapse into ONE vocab-grain pass — `wc = tok.groupBy(w).agg(
    c_t, c_s)` (both conditional sums in one shuffle; a word absent
    from a side gets an exact 0 where the old LEFT JOIN coalesced a
    NULL — the same integer), nt/ns/v are sums/count over wc, and the
    term table is a projection of wc. The old spelling derived the
    corpus token explode FOUR times (ct, cs, totals, docw) with two
    vocab joins on top; now the corpus is exploded twice (wc + docw,
    the latter irreducible — per-doc sums need doc_id) and wc (vocab-
    grain, bounded sub-corpus — the text_ngram_coverage adjudication)
    is checkpointed once for its two consumers."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    is_t = F.col("source") == _DSIR_TARGET
    wc = (
        tok.groupBy("w")
        .agg(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("c_t"),
            F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("c_s"),
        )
        .localCheckpoint()
    )
    consts = wc.agg(
        F.sum("c_t").cast("long").alias("nt"),
        F.sum("c_s").cast("long").alias("ns"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    term = wc.crossJoin(F.broadcast(consts)).select(
        "w",
        F.round(
            1000000.0
            * F.log(
                (
                    (F.col("c_t") + 1).cast("double")
                    * (F.col("ns") + F.col("v"))
                )
                / (
                    (F.col("c_s") + 1).cast("double")
                    * (F.col("nt") + F.col("v"))
                )
            )
        )
        .cast("long")
        .alias("tu"),
    )
    docw = (
        tok.filter(~is_t)
        .join(term, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("tu").cast("long").alias("wu"),
        )
    )
    return (
        docw.orderBy(F.col("wu").desc(), "doc_id")
        .limit(_DSIR_TOP)
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("wu") / 1000000.0, 6).alias("dsir_logratio"),
            F.round(
                F.col("wu").cast("double") / F.col("n_tokens") / 1000000.0, 6
            ).alias("per_token_logratio"),
        )
    )


# --------------------------------------------------------------------------
# x367 — cross-corpus decontamination via the k1 broadcast-bitmap kernel
# --------------------------------------------------------------------------

_BMAP_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i : i + {_BLOOM_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - {_BLOOM_N - 1}, 0)))
             AS i
    FROM tok
  )
),
gh AS (
  SELECT DISTINCT doc_id, gram,
         ('0x' || substring(md5(gram), 1, 12))::BIGINT AS h
  FROM grams
),
ev AS (SELECT DISTINCT h FROM gh WHERE doc_id % {_BLOOM_MOD} = 0),
bloom AS (
  SELECT DISTINCT p FROM (
    SELECT h % {_BLOOM_M} AS p FROM ev
    UNION ALL SELECT (h >> 15) % {_BLOOM_M} FROM ev
    UNION ALL SELECT (h >> 30) % {_BLOOM_M} FROM ev
  ) u
),
tr AS (SELECT doc_id, h FROM gh WHERE doc_id % {_BLOOM_MOD} <> 0),
hits AS (
  SELECT t.doc_id,
         CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
              AND b3.p IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM tr t
  LEFT JOIN bloom b1 ON b1.p = t.h % {_BLOOM_M}
  LEFT JOIN bloom b2 ON b2.p = (t.h >> 15) % {_BLOOM_M}
  LEFT JOIN bloom b3 ON b3.p = (t.h >> 30) % {_BLOOM_M}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(hit) AS BIGINT) AS n_bloom_hits,
       CAST(CASE WHEN SUM(hit) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS is_contaminated
FROM hits GROUP BY doc_id
"""


@register("decontaminate_bitmap", oracle=_BMAP_ORACLE)
def decontaminate_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x367: CROSS-CORPUS DECONTAMINATION on the k1 BITMAP KERNEL — the
    r12-verdict task that turns functions/bloom.py from a pytest-only
    kernel into driver-attested contract surface. Same eval split, gram
    length, hash family and k=3 position derivation as x317's relational
    audit, but the SCREEN runs the production path: build_bitmap collects
    the eval set's distinct bit positions (O(m)=2^18 driver hop, 32 KB),
    ships ONE broadcast bitmap, and screen_with_bitmap tests every train
    gram with a vectorized numpy bit-AND inside mapInPandas — zero joins
    on the hot side. Output is the per-doc decontamination verdict
    (n_grams, n_bloom_hits, is_contaminated) a curation pipeline acts on.

    The DuckDB oracle replicates the bloom DECISION relationally (the
    x317 3-semi-join spelling) — decision equivalence between the bitmap
    and relational forms is exactly what tests/test_bloom_bitmap.py
    proves, so a full SQL hash check is sound: zero false negatives by
    construction, false positives identical gram-for-gram because both
    engines derive positions from the same md5-48bit integers with pure
    shifts/mods (no RNG, no engine hash).

    100 TB: gram explode + hash are narrow maps over doc-partitioned
    input; the screen is map-local (bitmap broadcast, one Arrow batch in
    / one bit-test per row, NO shuffle — vs x317's 3 broadcast joins).
    MapInPandas clears the output-partitioning property, so the per-doc
    agg DOES plan one exchange — but only after the map-side partial
    combine, which (input being doc_id-partitioned) already collapses to
    ONE row per doc: the shuffle moves |docs| summary rows, not grams
    (verified in the formatted plan: Exchange sits above the partial
    HashAggregate). The eval side stays bounded: the driver hop collects
    distinct BIT POSITIONS (<= m), never eval grams, so a 100x bigger
    benchmark suite costs the same 32 KB broadcast.

    CAVEAT (r13 advisor): plan construction is NOT side-effect-free for
    this one query — build_bitmap runs an eager .collect() Spark job at
    DataFrame-construction time (the bitmap must exist before the screen
    plan can reference it), unlike every other registered query which
    stays lazy until the caller acts. Plan-only tooling (explain sweeps,
    audits) triggers that job; the repo's own audit/invariance tools
    already account for it."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    gh = _bloom_gram_hashes(docs)
    is_ev = F.col("doc_id") % _BLOOM_MOD == 0
    bitmap = build_bitmap(gh.filter(is_ev).select("h"), _BLOOM_M)
    tr = gh.filter(~is_ev).select("doc_id", "h")
    screened = screen_with_bitmap(tr, bitmap, _BLOOM_M)
    hit = F.sum("bloom_hit")
    return screened.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        hit.cast("long").alias("n_bloom_hits"),
        F.when(hit > 0, 1).otherwise(0).cast("int").alias("is_contaminated"),
    )


# --------------------------------------------------------------------------
# x368 — composed curation flagship: import -> quality -> dedup -> pack ->
#        manifest (+ x304 mixture weights at source grain)
# --------------------------------------------------------------------------

from .textops import (  # noqa: E402
    _GOPHER_MAX_MWL,
    _GOPHER_MAX_SYMBOL,
    _GOPHER_MAX_WORDS,
    _GOPHER_MIN_MWL,
    _GOPHER_MIN_WORDS,
)

def _e2e_round_sql(t: int) -> str:
    """One x304 water-filling iteration over the MANIFEST frame: source-
    grain capped mass / uncapped counts as global window sums gated on the
    per-source first-row indicator rn1 (the manifest is (lang, source)
    grain, so ungated sums would count each source once per lang). Same
    integer-sum / shared-parenthesization devices as _mix_round_sql."""
    prev = "f0" if t == 1 else f"f{t - 1}"
    return f"""
f{t} AS (
  SELECT lang, source, n_docs_raw, n_docs_quality, n_docs_kept, tokens_kept,
         max_cum, a, rn1, b, target,
         CAST(b - SUM(CASE WHEN rn1 = 1
                           AND lam * target >= CAST(a AS DOUBLE)
                           THEN a ELSE 0 END) OVER () AS DOUBLE)
         / (CAST(SUM(CASE WHEN rn1 = 1
                          THEN (CASE WHEN lam * target >= CAST(a AS DOUBLE)
                                     THEN 0 ELSE 1 END)
                          ELSE 0 END) OVER () AS DOUBLE) * target)
           AS lam
  FROM {prev}
)"""


_E2E_ORACLE = f"""
WITH d0 AS (
  SELECT doc_id, lang, source, n_chars, text,
         string_split(text, ' ') AS w
  FROM documents
),
met AS (
  SELECT doc_id, lang, source, n_chars,
         len(w) AS n_words,
         CAST(len(w) AS BIGINT) AS n_tok,
         round(list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w), 6)
           AS mwl,
         CASE WHEN len(text) > 0
              THEN round(len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         * 1.0 / len(text), 6)
              ELSE 0.0 END AS symr,
         list_min(list_transform(
           list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                          i -> w[i] || ' ' || coalesce(w[i+1], '') || ' ' ||
                               coalesce(w[i+2], '')),
           s -> md5(s))) AS content_key
  FROM d0
),
flagged AS (
  SELECT *,
         (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
           AND (mwl BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL})
           AND (symr < {_GOPHER_MAX_SYMBOL}) AS q
  FROM met
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY content_key
           ORDER BY (CASE WHEN q THEN 0 ELSE 1 END), n_chars DESC, doc_id
         ) AS rk
  FROM flagged
),
kd AS (SELECT *, (q AND rk = 1) AS kept FROM ranked),
packed AS (
  SELECT *,
         SUM(CASE WHEN kept THEN n_tok ELSE 0 END) OVER (
           PARTITION BY lang, source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM kd
),
seq AS (
  SELECT *,
         CASE WHEN kept
              THEN CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) END AS seq_id
  FROM packed
),
man AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
         CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_quality,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
           AS tokens_kept,
         CAST(MAX(CASE WHEN kept THEN cum END) AS BIGINT) AS max_cum
  FROM seq GROUP BY lang, source
),
e0 AS (
  SELECT *,
         CAST(SUM(tokens_kept) OVER (PARTITION BY source) AS BIGINT) AS a,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY source ORDER BY lang) = 1
              THEN 1 ELSE 0 END AS rn1
  FROM man
),
f0 AS (
  SELECT *,
         CAST(CAST(SUM(tokens_kept) OVER () AS BIGINT) // 2 AS DOUBLE)
           / CAST(SUM(rn1) OVER () AS BIGINT) AS target,
         CAST(SUM(tokens_kept) OVER () AS BIGINT) // 2 AS b,
         1.0 AS lam
  FROM e0
),
{",".join(_e2e_round_sql(t) for t in range(1, _MIX_ROUNDS + 1))}
SELECT lang, source, n_docs_raw, n_docs_quality, n_docs_kept,
       tokens_kept,
       CAST((tokens_kept + {_PACK_BUDGET - 1}) // {_PACK_BUDGET} AS BIGINT)
         AS n_sequences,
       CAST(CASE WHEN COALESCE(max_cum, 0) = tokens_kept
                 THEN 1 ELSE 0 END AS INTEGER) AS pack_reconciles,
       CASE WHEN a = 0 THEN 0.0
            ELSE ROUND(LEAST(1.0, lam * target / CAST(a AS DOUBLE)), 6)
       END AS source_weight
FROM f{_MIX_ROUNDS}
"""


@register("pipeline_e2e_manifest", oracle=_E2E_ORACLE)
def pipeline_e2e_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x368: COMPOSED CURATION FLAGSHIP (r12 verdict task 3) — the five
    pipeline stages the repo attests individually, CHAINED over one scan
    into the release manifest a curation run ships: import -> x73 Gopher
    quality gate -> x96 fingerprint keep-best dedup -> x46 sequence
    packing -> per-(lang, source) manifest, with x304's water-filling
    mixture weight joined at source grain. Per shard: raw/quality/kept
    doc counts, kept token mass, sequence count, and a PACK-RECONCILES
    flag asserting MASS CONSERVATION between the two computation paths:
    the packing window's final running total (max kept cum) must equal
    the aggregate's conditional token sum — the reconciliation the r12
    verdict asked for ('packed token mass == deduped corpus token mass'),
    ASSERTED INSIDE the hash-checked result and re-asserted against the
    standalone stage queries in tests/test_pipeline_e2e.py. (An earlier
    spelling compared max(seq_id)+1 to ceil(tokens/{_PACK_BUDGET}) —
    false whenever a shard's LAST doc straddles a sequence boundary,
    since seq_id marks where a doc STARTS; r13 review counterexample:
    kept docs of 2000+100 tokens give max(seq_id)+1 = 1 but ceil = 2.)

    Stage fusion, not stage re-run: dropped docs are never filtered out
    mid-stream — quality (q) and dedup-survivor (kept) are FLAGS, the
    pack window sums CASE WHEN kept, and the manifest agg counts all
    three populations from the same rows. That turns five conceptual
    passes into ONE linear plan: scan -> narrow metric/fingerprint
    projection -> window(content_key) -> window(lang, source) -> agg
    (lang, source). The keep-best rank orders (q DESC, n_chars DESC,
    doc_id) so a cluster keeps its best QUALITY-PASSING member (a
    cluster of all-rejects keeps nothing — q AND rk=1 is false
    everywhere).

    Exactness: counts/token masses exact BIGINT; seq ids exact integer
    division of a non-negative running sum (x46's DIV device); the
    Gopher float thresholds and the 3-round λ epilogue reuse x73/x304's
    attested expressions verbatim (identical parenthesization, ROUND-6
    publish; a=0 sources guard the weight ratio to 0.0 both engines).

    100 TB: two corpus shuffles (content_key window; lang,source window
    — the agg reuses the second's partitioning) + a |lang x source|-row
    epilogue. The x304 mixture rounds run IN-LINE as global windows over
    the manifest frame, gated on a per-source first-row indicator for the
    source-grain sums — no second branch exists, so the corpus subtree
    executes exactly once (a groupBy(source)+join form re-ran the whole
    scan: branch column-pruning broke exchange reuse; persist() fixed the
    scan but poisoned bench repeats via plan-keyed cache hits). Stage
    order matters: quality+dedup flags collapse BEFORE packing, so
    sequence ids are already final — no re-pack pass exists."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = F.split(F.col("text"), " ")
    # try_element_at, NOT element_at: under Spark 4's default ANSI mode an
    # out-of-bounds element_at THROWS (r13 advisor), while the DuckDB
    # oracle's w[i+1] pads NULL -> coalesce ''. Latent on this fixture
    # (docs >= 10 words) but fatal on any corpus with a < 3-token doc.
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(toks, i),
            F.coalesce(F.try_element_at(toks, i + 1), F.lit("")),
            F.coalesce(F.try_element_at(toks, i + 2), F.lit("")),
        ),
    )
    n_words = F.size(toks)
    # r14 (guide §4.1): Σ len(token) over a single-char split is exactly
    # len(text) − (n_tokens − 1) — the delimiters are the only chars not
    # in a token (empty tokens from space runs contribute 0 both ways).
    # Same integer as the old aggregate() fold, but codegen arithmetic
    # instead of an interpreted per-token lambda (A/B: rows identical).
    sum_len = F.length("text") - (n_words - F.lit(1))
    met = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        n_words.alias("n_words"),
        n_words.cast("long").alias("n_tok"),
        F.round(sum_len.cast("double") / n_words, 6).alias("mwl"),
        F.when(
            F.length("text") > 0,
            F.round(
                F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast(
                    "double"
                )
                / F.length("text"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("symr"),
        F.array_min(F.transform(grams, F.md5)).alias("content_key"),
    )
    q = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mwl").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
        & (F.col("symr") < _GOPHER_MAX_SYMBOL)
    )
    flagged = met.withColumn("q", q)
    w_key = Window.partitionBy("content_key").orderBy(
        F.when(F.col("q"), 0).otherwise(1),
        F.col("n_chars").desc(),
        "doc_id",
    )
    kd = flagged.withColumn("rk", F.row_number().over(w_key)).withColumn(
        "kept", F.col("q") & (F.col("rk") == 1)
    )
    w_pack = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = kd.withColumn(
        "cum",
        F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0)).over(w_pack),
    ).withColumn(
        "seq_id",
        F.when(
            F.col("kept"),
            F.expr(f"(cum - n_tok) DIV {_PACK_BUDGET}").cast("long"),
        ),
    )
    man = (
        seq.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_raw"),
            F.sum(F.when(F.col("q"), 1).otherwise(0)).cast("long").alias(
                "n_docs_quality"
            ),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias(
                "n_docs_kept"
            ),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.max(F.when(F.col("kept"), F.col("cum")))
            .cast("long")
            .alias("max_cum"),
        )
    )
    # x304 epilogue IN-LINE over the manifest frame (never the corpus, no
    # second branch): per-source kept token mass and the global water-fill
    # sums are window functions gated on a per-source first-row indicator,
    # so the 3 unrolled lambda rounds extend the SAME linear plan — one
    # scan by construction, no cache, no join (a persist()-based two-branch
    # form poisoned bench repeats via plan-keyed cache hits; a
    # localCheckpoint form serialized an eager extra job, 5.5 s at sf0.1).
    carry = [
        "lang", "source", "n_docs_raw", "n_docs_quality", "n_docs_kept",
        "tokens_kept", "max_cum",
    ]
    w_all = Window.partitionBy()
    cur = man.select(
        *carry,
        F.sum("tokens_kept")
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("a"),
        F.when(
            F.row_number().over(Window.partitionBy("source").orderBy("lang"))
            == 1,
            1,
        )
        .otherwise(0)
        .alias("rn1"),
    )
    b = F.expr("CAST(sum(tokens_kept) OVER (PARTITION BY 1) AS BIGINT) div 2")
    cur = cur.select(
        *carry,
        "a",
        "rn1",
        b.alias("b"),
        (
            b.cast("double")
            / F.sum("rn1").over(w_all).cast("long")
        ).alias("target"),
        F.lit(1.0).alias("lam"),
    )
    for _ in range(_MIX_ROUNDS):
        capped = F.col("lam") * F.col("target") >= F.col("a").cast("double")
        cur = cur.select(
            *carry,
            "a",
            "rn1",
            "b",
            "target",
            (
                (
                    F.col("b")
                    - F.sum(
                        F.when((F.col("rn1") == 1) & capped, F.col("a"))
                        .otherwise(0)
                    ).over(w_all)
                ).cast("double")
                / (
                    F.sum(
                        F.when(
                            F.col("rn1") == 1,
                            F.when(capped, 0).otherwise(1),
                        ).otherwise(0)
                    )
                    .over(w_all)
                    .cast("double")
                    * F.col("target")
                )
            ).alias("lam"),
        )
    weight = F.when(F.col("a") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.least(
                F.lit(1.0),
                F.col("lam") * F.col("target") / F.col("a").cast("double"),
            ),
            6,
        )
    )
    n_seq = F.expr(
        f"(tokens_kept + {_PACK_BUDGET - 1}) DIV {_PACK_BUDGET}"
    ).cast("long")
    return cur.select(
        "lang",
        "source",
        "n_docs_raw",
        "n_docs_quality",
        "n_docs_kept",
        "tokens_kept",
        n_seq.alias("n_sequences"),
        F.when(
            F.coalesce(F.col("max_cum"), F.lit(0)) == F.col("tokens_kept"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("pack_reconciles"),
        weight.alias("source_weight"),
    )
