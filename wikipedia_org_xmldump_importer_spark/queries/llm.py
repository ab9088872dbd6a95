"""SURVEY.md §2.11 — LLM-data-pipeline operators (l1-l8): dedup, similarity
search, embedding math, kNN classification.

These are the driver-mandated extensions (BASELINE.json north_star): the ops
a 100 TB training-data pipeline runs over its corpus. Everything except the
MinHash-LSH candidate generator (spark.ml, randomized) is pure Catalyst HOF
math with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from math import sqrt as _math_sqrt

from ..functions.vector import as_double, cosine, with_norm
from ..io import load_table, load_table_spread
from ..registry import register

# --------------------------------------------------------------------------
# Shared brute-force similarity kernel (l3 sim_topk_bruteforce + l8
# classify_knn): broadcast probe matrix, Arrow-batched corpus GEMM with
# batch-LOCAL top-k, then a global rank-filtered window re-rank. The local
# top-k is exact for the global top-k because both rank by the same
# (rounded cos desc, vec_id asc) order: any global top-k row is necessarily
# top-k within its own batch.
# --------------------------------------------------------------------------


def _collect_probe_matrix(spark: SparkSession, emb: DataFrame, pred):
    """Collect the bounded probe side (20 rows by construction here; chunk +
    union for large probe sets at scale) and L2-normalize driver-side."""
    import numpy as np  # noqa: PLC0415

    rows = (
        emb.filter(pred)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    qids = np.array([r.vec_id for r in rows], dtype=np.int64)
    qmat = np.array([r.v for r in rows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    return spark.sparkContext.broadcast((qids, qmat))


def _gemm_local_topk(b_probe, k: int, carry_cols=(), exclude_self=False):
    """mapInPandas kernel factory: per Arrow batch, one ``V @ Q.T`` GEMM
    scores the whole batch against every probe, then a numpy lexsort keeps
    the batch-local top-k per probe — the shuffle into the global re-rank
    carries ≤ k·|probes| rows per batch, never the n×|probes| score matrix."""

    def batch_topk(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        qi, qm = b_probe.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            sims = np.round(v @ qm.T, 6)
            cid = pdf["vec_id"].to_numpy()
            carry = {c: pdf[c].to_numpy() for c in carry_cols}
            frames = []
            for j in range(len(qi)):
                col = sims[:, j]
                if exclude_self:
                    idx = np.nonzero(cid != qi[j])[0]
                    # lexsort: primary rounded-sim desc, tiebreak vec_id asc
                    order = idx[np.lexsort((cid[idx], -col[idx]))[:k]]
                else:
                    order = np.lexsort((cid, -col))[:k]
                out = {"qid": qi[j], "vec_id": cid[order]}
                for c in carry_cols:
                    out[c] = carry[c][order]
                out["cos_sim"] = col[order]
                frames.append(pd.DataFrame(out))
            yield pd.concat(frames)

    return batch_topk

# --------------------------------------------------------------------------
# l1 — exact dedup by normalized-content hash
# --------------------------------------------------------------------------

_L1_ORACLE = """
SELECT md5(lower(trim(text))) AS content_md5,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
"""


@register("dedup_exact", oracle=_L1_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep lowest doc_id.

    100 TB notes: ONE shuffle on a 128-bit hash (uniformly distributed — no
    skew by construction). This group-min spelling beats
    row_number-over-window (no sort, partial agg combines map-side) and
    dropDuplicates (which cannot express 'keep smallest id')."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_md5", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# l2 — near-dup candidates via shingling + MinHash-LSH (spark.ml)
# --------------------------------------------------------------------------


_MINHASH_BUCKET_CAP = 64  # max docs per (band, bh) bucket; ≤ cap²/2 pairs each


def _bucket_pairs(exploded: DataFrame, cap: int = _MINHASH_BUCKET_CAP) -> DataFrame:
    """(doc_id, band, bh) → candidate pairs, with the skew cap: keep the
    ``cap`` smallest doc_ids per bucket (sort_array + slice — deterministic
    across runs/engines) so one degenerate bucket cannot emit an unbounded
    quadratic pair set. Factored out so the hot-bucket bound is testable."""
    return (
        exploded.groupBy("band", "bh")
        .agg(F.slice(F.sort_array(F.collect_set("doc_id")), 1, cap).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), F.col("ids"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


@register("dedup_near_minhash", oracle=None)  # banding prune not SQL-expressible
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (Jaccard distance ≤ 0.9 on 2-shingle sets),
    banded-signature form — pure Catalyst, fully deterministic. Recall vs
    brute force is property-tested in tests/test_llm_ops.py (SURVEY §5.5).

    Pipeline: shingle → 16 seeded-xxhash64 min-signatures → 4 bands × 4 rows
    → equi-group on (band, band_hash) → candidate pairs from >1-doc buckets →
    exact Jaccard verify on the shingle sets (array_intersect/array_union).

    100 TB notes: the only shuffles are the (band, band_hash) groupBy and the
    verify joins — candidates materialize per shared band bucket, never
    all-pairs, exactly the LSH band-join shape. Skew guard: bucket
    membership is CAPPED at _MINHASH_BUCKET_CAP docs (smallest doc_ids kept,
    deterministic) — a degenerate boilerplate bucket with 10⁵ docs emits at
    most cap²/2 pairs instead of 10¹⁰ (bounded-pairs property-tested on a
    synthetic hot bucket, tests/test_llm_ops.py). Truncation only loses
    pairs whose docs share no OTHER un-capped band; raise bands /
    rows-per-band to sharpen the similarity threshold the bands admit.

    Cluster retune knobs (defaults are sf0.1-tuned): the banding s-curve
    admits pairs near (1/bands)^(1/rows_per_band) — the 4×4 default ≈ 0.71
    Jaccard. Chasing fainter duplicates (0.5): more bands of fewer rows
    (8×2 ⇒ ≈0.35 threshold, more candidates); stricter near-exact dedup:
    fewer bands of more rows (2×8 ⇒ ≈0.92). Candidate volume scales with
    bucket collision mass, so pair _MINHASH_BUCKET_CAP upward only with
    executor memory (pairs per bucket ≤ cap²/2); n_sig = bands ×
    rows_per_band is the signature cost per doc (one xxhash64 each)."""
    # r = 4 rows/band, b = 4 bands → s-curve threshold (1/b)^(1/r) ≈ 0.71:
    # buckets admit the near-dup regime, not the long tail of
    # share-a-little-vocabulary pairs (which explode candidate volume
    # quadratically on a common-vocabulary corpus). True dups (s≈1) are
    # caught by every band; the exact-Jaccard verify then scores survivors.
    n_sig, n_bands = 16, 4
    # Repartition up front: few input splits would otherwise serialize the
    # CPU-heavy shingle/signature hashing onto as few tasks (see textops).
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # Shingles live as 8-byte integer hashes end-to-end (hash each token
    # once, combine consecutive pairs with xxhash64) — no per-shingle string
    # allocation. The token-hash array is materialized as a named column
    # first: inlining an expression into a transform() lambda re-evaluates
    # it per element (O(tokens²) per doc).
    staged = docs.select(
        "doc_id",
        F.transform(
            F.split(F.lower(F.col("text")), r"\s+"), lambda t: F.xxhash64(t)
        ).alias("th"),
    )
    th = F.col("th")
    empty_h = F.xxhash64(F.lit(""))
    # try_element_at (r13 advisor): ANSI element_at throws past the end
    # before coalesce can pad with the empty-token hash.
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(th) - 1, F.lit(1))),
            lambda i: F.xxhash64(
                F.try_element_at(th, i),
                F.coalesce(F.try_element_at(th, i + 1), empty_h),
            ),
        )
    )
    # Explode straight out of the shingle projection: no size() filter (the
    # sequence lower bound guarantees ≥1 element, and explode drops empty
    # arrays anyway) — a filter or withColumn referencing the array would
    # collapse into the same projection and re-evaluate the whole expression.
    # One explode + one groupBy computes every signature as a codegen'd MIN
    # aggregate over seeded rehashes of the shingle hash; the hashed shingle
    # set rides along (collect_set) for the exact-Jaccard verify. The band
    # explode AND both sides of the verify join consume this sub-plan, but no
    # .cache() is needed: all three consumers sit above the same
    # canonicalized Exchange(hash(doc_id)), so ReuseExchange shares the
    # shuffle files (2 ReusedExchange nodes in the executed plan); caching
    # on top only added block-manager writes + GC pressure (NOTES.md #7).
    # explode_outer: plain explode would make Catalyst infer a size>0 filter
    # and push the whole shingle expression below the repartition exchange,
    # re-evaluating it serially in the scan stage (see textops counterpart).
    flat = staged.select("doc_id", F.explode_outer(shingles).alias("h"))
    sig_df = flat.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("h", F.lit(i))).alias(f"sig{i}") for i in range(n_sig)],
        F.collect_set("h").alias("hset"),
    )
    r = n_sig // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(
                    *[F.col(f"sig{j * r + k}") for k in range(r)], F.lit(j)
                ).alias("bh"),
            )
            for j in range(n_bands)
        ]
    )
    exploded = sig_df.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band", "b.bh"
    )
    pairs = _bucket_pairs(exploded)
    sh_a = sig_df.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("sh_a"))
    sh_b = sig_df.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard_dist", F.round(1 - jac, 3))
        .filter(F.col("jaccard_dist") <= 0.9)
        .select("doc_a", "doc_b", "jaccard_dist")
    )


# --------------------------------------------------------------------------
# l3 — exact cosine top-k neighbors per probe vector
# --------------------------------------------------------------------------

_L3_ORACLE = """
WITH probe AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
),
cand AS (
  SELECT p.qid, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.qv), 6) AS cos_sim
  FROM embeddings e CROSS JOIN probe p
  WHERE e.vec_id <> p.qid
)
SELECT qid, vec_id, cos_sim, rn FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn
  FROM cand
) WHERE rn <= 5
"""


@register("sim_topk_bruteforce", oracle=_L3_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per probe vector (probe = vec_id < 20).

    Ranking is on the ROUNDED similarity with vec_id tiebreak, so the top-k
    frontier is deterministic across engines (SURVEY §4.3).

    Scoring is the shared batch-GEMM kernel (same as classify_knn): the
    probe matrix is broadcast once, the corpus streams through executors in
    Arrow batches, each batch scores itself with one ``V @ Q.T`` and emits
    only its LOCAL top-5 per probe; a rank-filtered window then takes the
    global top-5 (WindowGroupLimit keeps a k-heap, never the full sort).

    100 TB notes: corpus scanned exactly once, no all-pairs shuffle — the
    exchange into the re-rank carries ≤ 5·|probes| rows per batch. For
    large probe sets chunk the broadcast probe matrix and union. Replaces a
    BroadcastNestedLoopJoin + interpreted-HOF cosine fold, the last
    non-vectorized similarity kernel in the repo (~10-100× slower per
    NOTES.md trap #5 — it was the slowest query in an early bench). This
    brute-force kernel is also the recall oracle for the ANN variants
    (sim_ann_lsh, sim_ann_ivf, dedup_near_minhash)."""
    emb = load_table(spark, sf_dir, "embeddings")
    b_probe = _collect_probe_matrix(spark, emb, F.col("vec_id") < 20)
    corpus = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    scored = corpus.mapInPandas(
        _gemm_local_topk(b_probe, 5, exclude_self=True),
        schema="qid bigint, vec_id bigint, cos_sim double",
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


# --------------------------------------------------------------------------
# l4 — all pairs with cosine ≥ τ (threshold self-join)
# --------------------------------------------------------------------------

_L4_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
"""


@register("sim_threshold_join", oracle=_L4_ORACLE)
def sim_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.3), distributed block-matrix
    self-join — EXACT all-pairs, nothing ever collected to the driver.

    Every row lands in one of B hash blocks; each unordered block pair
    (i ≤ j) becomes one cogroup, and inside the group a single BLAS GEMM
    scores block i against block j (`A @ B.T`), emitting only the pairs over
    the threshold in canonical (min_id, max_id) orientation. Each unordered
    row pair is examined in exactly one group, so the result is exact —
    identical semantics to the CROSS JOIN oracle without materializing n²
    rows anywhere.

    100 TB notes: each row is shuffled B+1 times (its row in blocks i==j
    plus one copy per partner block) — with B ≈ √parallelism that is the
    textbook communication-optimal all-pairs schedule; no executor ever
    holds more than two blocks (2·n/B rows), so memory is tunable by B
    alone, and no driver-side state exists. Earlier form collected + torched
    the whole corpus driver-side (fine at sf≤10, driver OOM at scale); the
    cogroup GEMM keeps the same vectorized kernel (~10-100× over
    interpreted HOF folds, NOTES.md trap #5) with bounded memory."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    # B ≈ √parallelism keeps B(B+1)/2 GEMM groups ≥ the core count while
    # holding shuffle amplification at B+1 copies/row: local[32] → B=6
    # (21 groups, 7 copies); a 1000-core cluster → B=32 (528 groups, 33
    # copies, each block n/32 rows — still two blocks per task in memory).
    n_blocks = max(2, round(math.sqrt(spark.sparkContext.defaultParallelism)))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    blocked = emb.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    # A-side: row of block p participates in groups (p, j) for j >= p;
    # B-side: groups (i, p) for i <= p. sequence() fans each row out to its
    # partner blocks JVM-side — no driver-built pair table needed.
    side_a = blocked.select(
        "vec_id",
        "v",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
    )
    side_b = blocked.select(
        "vec_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
    )

    def block_gemm(left, right):
        import pandas as pd  # noqa: PLC0415

        if not len(left) or not len(right):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        a = np.array(left["v"].tolist(), dtype=np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        b = np.array(right["v"].tolist(), dtype=np.float64)
        b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = np.round(a @ b.T, 6)
        aid = left["vec_id"].to_numpy()
        bid = right["vec_id"].to_numpy()
        mask = sims >= 0.3
        if left["bi"].iat[0] == left["bj"].iat[0]:
            # diagonal block: left and right hold the SAME rows, so each
            # unordered pair appears twice — keep the aid<bid orientation.
            # Off-diagonal blocks are disjoint: every cross pair appears
            # exactly once and must be kept whatever its id order.
            mask &= aid[:, None] < bid[None, :]
        ii, jj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "vec_a": np.minimum(aid[ii], bid[jj]),
                "vec_b": np.maximum(aid[ii], bid[jj]),
                "cos_sim": sims[ii, jj],
            }
        )

    return (
        side_a.groupby("bi", "bj")
        .cogroup(side_b.groupby("bi", "bj"))
        .applyInPandas(block_gemm, schema="vec_a bigint, vec_b bigint, cos_sim double")
    )


# --------------------------------------------------------------------------
# l5 — per-document text statistics
# --------------------------------------------------------------------------

_L5_ORACLE = """
SELECT
  doc_id,
  CAST(length(text) AS INTEGER) AS n_chars_actual,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq_tokens,
  round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 6) AS avg_token_len,
  round(len(list_distinct(string_split(text, ' '))) * 1.0
        / len(string_split(text, ' ')), 6) AS ttr
FROM documents
"""


@register("text_stats", oracle=_L5_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts, type-token ratio — the quality-scoring substrate.
    100 TB: shuffle-free narrow map; split() once via a shared subexpression
    (Catalyst CSE handles the repeated split under whole-stage codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks), 6
        ).alias("avg_token_len"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
    )


# --------------------------------------------------------------------------
# l6 — per-language corpus routing stats
# --------------------------------------------------------------------------

_L6_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources,
       ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens
FROM documents
GROUP BY lang
"""


@register("lang_partition", oracle=_L6_ORACLE)
def lang_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language routing stats — the partition key audit before
    sink_parquet(partition_by=['lang']) at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 6).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# l7 — L2-normalize embeddings; per-label centroids
# --------------------------------------------------------------------------

_L7_ORACLE = """
WITH normed AS (
  SELECT label,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
       unnest(list_transform(v, x -> x / nrm)) AS nval
FROM normed WHERE nrm > 0
"""

_L7_ORACLE_AGG = """
WITH normed AS (
  SELECT label,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings
),
flat AS (
  SELECT label,
         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
         unnest(list_transform(v, x -> x / nrm)) AS nval
  FROM normed WHERE nrm > 0
)
SELECT label, pos, ROUND(AVG(nval), 6) AS centroid_val, COUNT(*) AS n_vecs
FROM flat GROUP BY label, pos
"""


@register("embed_norm_centroid", oracle=_L7_ORACLE_AGG)
def embed_norm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize then per-(label, dimension) centroid.

    100 TB notes: posexplode produces n×d rows but partial aggregation
    combines map-side down to |labels|×d before the shuffle — the exchange
    carries only the centroid matrix. For very wide d, aggregate the array
    directly with zip_with-accumulating agg (no explode) instead."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings")).filter(F.col("norm") > 0)
    normed = emb.select(
        "label",
        F.posexplode(
            F.transform(as_double(F.col("embedding")), lambda x: x / F.col("norm"))
        ).alias("pos", "nval"),
    )
    return normed.groupBy("label", "pos").agg(
        F.round(F.avg("nval"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# l8 — kNN label vote
# --------------------------------------------------------------------------

_L8_ORACLE = """
WITH probe AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
),
scored AS (
  SELECT p.qid, e.vec_id, e.label,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.qv), 6) AS cos_sim
  FROM embeddings e CROSS JOIN probe p
  WHERE e.vec_id >= 20
),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
votes AS (
  SELECT qid, label, COUNT(*) AS votes FROM knn GROUP BY qid, label
)
SELECT qid, label AS pred_label, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
  FROM votes
) WHERE vr = 1
"""


@register("classify_knn", oracle=_L8_ORACLE)
def classify_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-NN majority label per probe vector (ties → smallest label).

    Scoring is the block-nested GEMM kernel (SURVEY §4.3): the probe matrix
    is broadcast once, the train corpus streams through executors in Arrow
    batches, each batch scores itself with one `V @ Q.T` and emits only its
    LOCAL top-10 per probe — so the shuffle into the global re-rank window
    carries ≤ 10·|probes| rows per batch, never the n×|probes| score matrix.
    Batch-local then global top-k by the same (rounded cos desc, vec_id asc)
    ordering is exact: every global top-10 row is top-10 within its batch.

    100 TB notes: identical plan shape at scale — corpus scanned once, no
    all-pairs shuffle; for large probe sets chunk the broadcast probe matrix
    and union. Replaces a BroadcastNestedLoopJoin + interpreted-HOF fold
    (~10-100× slower per NOTES.md trap #5)."""
    k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    b_probe = _collect_probe_matrix(spark, emb, F.col("vec_id") < 20)
    train = emb.filter(F.col("vec_id") >= 20).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    scored = train.mapInPandas(
        _gemm_local_topk(b_probe, k, carry_cols=("label",)),
        schema="qid bigint, vec_id bigint, label int, cos_sim double",
    )
    w_knn = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    knn = scored.withColumn("rn", F.row_number().over(w_knn)).filter(F.col("rn") <= k)
    votes = knn.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("votes"))
    w_vote = Window.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("qid", F.col("label").alias("pred_label"), "votes")
    )


# --------------------------------------------------------------------------
# ANN scale path: seeded random-hyperplane LSH bucketing
# --------------------------------------------------------------------------


# CLUSTER RETUNE KNOB: _N_PLANES is sized for the sandbox corpus (~4k
# vectors -> 2^6 = 64 buckets ~= 64 vectors each). The sizing rule is
# P ~= log2(n_corpus / target_bucket_size) with target_bucket_size picked
# so one bucket's candidate scan fits a task (10^3-10^4 vectors): a 1B-row
# corpus wants P ~= 17-20, plus 2-bit multi-probe or 2-4 independent plane
# tables (union of candidates) to hold recall at the finer partitioning.
_N_PLANES = 6
_N_DIMS = 64


def _hyperplanes() -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: parity of md5(f"{plane}:{dim}").
    Computed driver-side once and embedded as literals — no RNG, no per-row
    hashing; reruns and engines agree bit-for-bit."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
            for d in range(_N_DIMS)
        ]
        for p in range(_N_PLANES)
    ]


@register("sim_ann_lsh", oracle=None)  # bucketing is engine-specific; recall tested
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane (SimHash) LSH bucketing with
    multi-probe — the 100 TB scale path next to sim_topk_bruteforce.

    Corpus rows land in ONE bucket (their 6-bit signature); probes expand to
    their own bucket + the 6 Hamming-distance-1 neighbors (multi-probe), so
    recall survives near-boundary vectors. Recall vs brute force is
    property-tested in tests/test_llm_ops.py.

    100 TB notes: one narrow map for signatures, one equi-join on bucket id
    (hash-partitioned — the corpus is never broadcast or crossed), cosine
    kernel only within candidate buckets. Dense-region bucket skew → AQE
    skew split. Cluster retune knobs (defaults are sf0.1-tuned): bucket
    granularity = _N_PLANES (see the sizing rule at its definition); recall
    = probe expansion (1-bit flips here ⇒ P+1 buckets/probe; add 2-bit
    flips for C(P,2) = P(P-1)/2 more) or several independent plane tables
    unioned;
    cost per probe ≈ |corpus| · probes / 2^P candidate rows."""
    import numpy as np  # noqa: PLC0415

    planes_np = np.array(_hyperplanes(), dtype=np.float64)  # P×d, tiny
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )

    def signature(batches):
        """Arrow-batched signature stage: one GEMM against the P×d plane
        matrix per batch replaces P interpreted HOF dot products per row."""
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
            bits = (vecs @ planes_np.T) > 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "norm": np.linalg.norm(vecs, axis=1),
                    "bucket": (bits * (1 << np.arange(_N_PLANES))).sum(axis=1).astype("int32"),
                }
            )

    sig = emb.mapInPandas(
        signature, schema="vec_id bigint, v array<double>, norm double, bucket int"
    )
    # multi-probe: probe's bucket plus each 1-bit flip
    probe = (
        sig.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(_N_PLANES)
                    ],
                )
            ).alias("qbucket"),
        )
    )
    cand = sig.join(
        F.broadcast(probe),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return cand.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= 5
    )


# --------------------------------------------------------------------------
# l9 — scalar int8 quantization of embeddings (storage-side vector op)
# --------------------------------------------------------------------------

_L9_ORACLE = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
sc AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM s
)
SELECT vec_id,
       round(mx, 6) AS scale,
       CASE WHEN mx <> 0 THEN array_to_string(
         list_transform(e, x -> CAST(round(x / mx * 127) AS INTEGER)), ','
       ) ELSE '' END AS codes
FROM sc
"""


@register("vec_quantize_int8", oracle=_L9_ORACLE)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (max-abs) int8 quantization per embedding — the standard
    storage/ANN compression step: 4× smaller than float32, 8× than float64.

    The code vector leaves the operator as a comma-joined STRING: integer
    text renders identically on both engines, and the harness canonicalizer
    cannot hash raw array cells (see fn_array_hof). A real pipeline would
    sink the array<tinyint> column directly; the serialization is
    verification plumbing only.

    100 TB notes: narrow per-row projection, no shuffle; at scale this is
    the write-side transform before the vector index build, and the scale
    column is what the search side needs to dequantize scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    e = F.col("e")
    with_scale = staged.select(
        "vec_id", "e", F.array_max(F.transform(e, F.abs)).alias("mx")
    )
    # Zero-vector guard: mx=0 would make x/mx NaN, where Spark's int cast
    # yields 0 but DuckDB errors — emit '' codes for the degenerate case in
    # BOTH engines instead (scale 0 + empty codes is the honest encoding).
    mx = F.col("mx")
    return with_scale.select(
        "vec_id",
        F.round(mx, 6).alias("scale"),
        F.when(
            mx != 0,
            F.array_join(
                F.transform(e, lambda x: F.round(x / mx * 127, 0).cast("int")), ","
            ),
        )
        .otherwise(F.lit(""))
        .alias("codes"),
    )


# --------------------------------------------------------------------------
# l10 — IVF (inverted-file) ANN: coarse quantizer + nprobe cell search
# --------------------------------------------------------------------------

_N_IVF_CELLS = 16
_IVF_NPROBE = 3
_IVF_KMEANS_ITERS = 5
_IVF_TRAIN_TARGET = 4096  # sandbox-sized; ~256k at web scale


@register("sim_ann_ivf", oracle=None)  # cell assignment engine-specific; recall tested
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF: assign every vector to its nearest coarse-centroid
    cell, then search each probe's nprobe closest cells only — the other
    classic scale path next to sim_ann_lsh's hyperplane buckets.

    The coarse quantizer is a deterministic spherical k-means: init = the
    first _N_IVF_CELLS corpus vectors (stable ids, no RNG), then
    _IVF_KMEANS_ITERS Lloyd rounds on a driver-side training sample —
    assign by cosine, re-center by mean, renormalize, keep the old centroid
    for empty cells. Same inputs → bit-identical centroids on every run and
    engine. One GEMM then assigns cells, the candidate join is equi on cell
    id, and the exact cosine kernel scores within cells. Recall vs brute
    force is property-tested.

    100 TB notes: the centroid table is tiny and broadcast; training input
    is a CONSTANT-size sample at any corpus size — a data-derived modulus
    on xxhash64(vec_id) targets ≈ _IVF_TRAIN_TARGET rows, so the driver
    collect is O(target·d) bytes whether the corpus is 4k or 40B vectors
    (at web scale raise the target to ~256k or swap in spark.ml KMeans,
    mechanics unchanged); the corpus is hash-partitioned by cell (k-means
    balances cells far better than arbitrary seed vectors); per-probe work
    is |corpus| × nprobe / n_cells instead of |corpus|. Recall knob =
    nprobe; cost knob = n_cells (√n is the classic choice)."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # Deterministic bounded training sample: data-derived modulus on
    # xxhash64(vec_id) — not .sample() (RNG), not .limit() (partition-order
    # dependent), and NOT a fixed divisor (a fixed `% 4` collects 25% of
    # the corpus: linear in n, a driver OOM at scale). One columnless
    # count() job sizes the modulus so the collect stays ≈ target rows.
    n_corpus = emb.count()
    modulus = max(1, math.ceil(n_corpus / _IVF_TRAIN_TARGET))
    train_rows = emb.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(modulus)) == 0
    ).collect()
    tmat = np.array([r.v for r in train_rows], dtype=np.float64)
    tmat /= np.linalg.norm(tmat, axis=1, keepdims=True)
    tids = np.array([r.vec_id for r in train_rows])
    cents = tmat[np.argsort(tids)[:_N_IVF_CELLS]].copy()
    for _ in range(_IVF_KMEANS_ITERS):
        assign_t = (tmat @ cents.T).argmax(axis=1)
        for c in range(_N_IVF_CELLS):
            members = tmat[assign_t == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cents[c] = m / nrm
    b_cents = spark.sparkContext.broadcast(cents)

    def assign(batches):
        """Cell = argmax cosine vs the broadcast centroids (one GEMM)."""
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            sims = (vecs / norms[:, None]) @ b_cents.value.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "norm": norms,
                    "cell": sims.argmax(axis=1).astype("int32"),
                }
            )

    def probe_cells(batches):
        """Each probe expands to its _IVF_NPROBE closest cells."""
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            sims = (vecs / norms[:, None]) @ b_cents.value.T
            top = np.argsort(-sims, axis=1)[:, :_IVF_NPROBE]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "qid": pdf["vec_id"].to_numpy().repeat(_IVF_NPROBE),
                    "qv": pdf["v"].to_numpy().repeat(_IVF_NPROBE),
                    "qnorm": norms.repeat(_IVF_NPROBE),
                    "qcell": top.reshape(n * _IVF_NPROBE).astype("int32"),
                }
            )

    assigned = emb.mapInPandas(
        assign, schema="vec_id bigint, v array<double>, norm double, cell int"
    )
    probes = emb.filter(F.col("vec_id") < 20).mapInPandas(
        probe_cells, schema="qid bigint, qv array<double>, qnorm double, qcell int"
    )
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        "vec_id",
        F.round(
            cosine(F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return cand.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= 5
    )


# --------------------------------------------------------------------------
# x43 — embedding-cosine near-dup DEDUP (keeper assignment over l4 pairs)
# --------------------------------------------------------------------------

_EMBED_DEDUP_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cs
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
)
SELECT vb AS dup_id, MIN(va) AS keeper_id, ROUND(MAX(cs), 6) AS max_cos
FROM pairs GROUP BY vb
"""


@register("dedup_embed_cosine", oracle=_EMBED_DEDUP_ORACLE)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x43: embedding-cosine near-dup DEDUP decision — completes the dedup
    taxonomy (exact → minhash → simhash → n-gram jaccard → embedding
    cosine): each vector similar (cos ≥ 0.4) to a lower-id vector is
    dropped, keeper = the smallest such id (deterministic; for full
    transitive clusters feed these pairs to dedup_cluster_cc instead).

    Pairs come from sim_threshold_join's distributed block-GEMM self-join —
    zero new kernel code, the threshold filter rides on its already-rounded
    cos_sim — then one groupBy(dup_id) folds each dup's candidates into the
    keeper choice. 100 TB notes inherit from l4 (B+1 shuffle copies,
    bounded executor memory); the keeper agg touches only over-threshold
    pairs, a vanishing fraction of n². Retune knobs: the 0.4 cosine
    threshold is corpus-dependent (near-dup text embeddings usually sit
    ≥0.9; 0.4 suits the sandbox's synthetic vectors) — raise it to shrink
    pair volume linearly in the similarity tail; at web scale swap the l4
    exact kernel for sim_ann_lsh buckets as the pair source (same
    downstream fold) to avoid the full block-GEMM."""
    pairs = sim_threshold_join(spark, sf_dir).filter(F.col("cos_sim") >= 0.4)
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("keeper_id"),
        F.round(F.max("cos_sim"), 6).alias("max_cos"),
    )


# --------------------------------------------------------------------------
# x132 — PQ (product-quantization) ANN: LUT scoring + exact re-rank
# --------------------------------------------------------------------------

_PQ_M = 8            # subspaces (d=64 → 8 dims each)
_PQ_K = 16           # centroids per subspace → codes fit 4 bits
_PQ_KMEANS_ITERS = 5
_PQ_RERANK = 20      # approx candidates re-ranked exactly per probe


@register("sim_ann_pq", oracle=None)  # codebooks engine-specific; recall tested
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via PRODUCT QUANTIZATION (Jégou et al., TPAMI 2011) —
    the third ANN path next to sim_ann_lsh (buckets) and sim_ann_ivf
    (cells): compress every vector to _PQ_M 4-bit codes (one per
    subspace), score probes against codes through tiny lookup tables
    (LUT[probe, subspace, centroid] = partial dot product), then re-rank
    the approx top-_PQ_RERANK EXACTLY with the shared Catalyst cosine
    kernel, so the emitted similarities are bit-identical to
    sim_topk_bruteforce's.

    Codebooks are deterministic per-subspace Lloyd k-means on the same
    bounded data-derived hash-mod sample as IVF (constant-size driver
    collect at ANY corpus size); init = first _PQ_K sample vectors by
    sorted id — no RNG anywhere.

    100 TB notes: at scale the quantize pass is a WRITE-side transform
    (codes stored: 8×4 bits = 4 bytes/vector vs 512 for float64 — the
    128× compression is the point of PQ) and the scoring pass reads ONLY
    codes + norm; this sandbox fuses quantize+score into one Arrow pass
    over the raw vectors because the code column isn't persisted between
    queries. Scoring is O(m) LUT adds per (probe, vector) instead of
    O(d) multiplies; LUTs are (|probes| × m × k) floats — broadcast
    trivially. Recall knob: _PQ_RERANK (deeper re-rank) and _PQ_K
    (finer codebooks); compression knob: _PQ_M."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    n_corpus = emb.count()
    modulus = max(1, math.ceil(n_corpus / _IVF_TRAIN_TARGET))
    train_rows = emb.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(modulus)) == 0
    ).collect()
    tmat = np.array([r.v for r in train_rows], dtype=np.float64)
    tids = np.array([r.vec_id for r in train_rows])
    tmat = tmat[np.argsort(tids)]
    d = tmat.shape[1]
    subdim = d // _PQ_M
    cents = np.empty((_PQ_M, _PQ_K, subdim))
    for s in range(_PQ_M):
        sub = tmat[:, s * subdim : (s + 1) * subdim]
        c = sub[:_PQ_K].copy()
        for _ in range(_PQ_KMEANS_ITERS):
            # L2 assignment: argmin ||x-c||² = argmax (x·c − ½|c|²)
            scores = sub @ c.T - 0.5 * (c * c).sum(axis=1)
            a = scores.argmax(axis=1)
            for j in range(_PQ_K):
                members = sub[a == j]
                if len(members):
                    c[j] = members.mean(axis=0)
        cents[s] = c

    # Bounded probe side (vec_id < 20, same contract as l3/LSH/IVF) and
    # the per-probe LUTs, all computed once on the driver.
    probe_rows = sorted(
        emb.filter(F.col("vec_id") < 20).collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in probe_rows])
    qmat = np.array([r.v for r in probe_rows], dtype=np.float64)
    qnorms = np.linalg.norm(qmat, axis=1)
    luts = np.stack(
        [
            qmat[:, s * subdim : (s + 1) * subdim] @ cents[s].T
            for s in range(_PQ_M)
        ]
    )  # (m, |probes|, k)
    bc = spark.sparkContext.broadcast((cents, luts, qids, qnorms))

    def quantize_score(batches):
        """One Arrow pass: assign codes per subspace, then LUT-sum the
        approximate dot for every probe — O(m) adds per pair."""
        import pandas as pd  # noqa: PLC0415

        cents_b, luts_b, qids_b, qnorms_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            approx = np.zeros((len(qids_b), len(pdf)))
            for s in range(_PQ_M):
                sub = vecs[:, s * subdim : (s + 1) * subdim]
                scores = sub @ cents_b[s].T - 0.5 * (cents_b[s] * cents_b[s]).sum(axis=1)
                codes = scores.argmax(axis=1)  # the PQ code of this subspace
                approx += luts_b[s][:, codes]
            sims = approx / (qnorms_b[:, None] * norms[None, :])
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids_b, n),
                    "vec_id": np.tile(pdf["vec_id"].to_numpy(), len(qids_b)),
                    "approx_sim": sims.reshape(-1),
                }
            )

    scored = emb.mapInPandas(
        quantize_score, schema="qid bigint, vec_id bigint, approx_sim double"
    ).filter(F.col("qid") != F.col("vec_id"))
    wa = Window.partitionBy("qid").orderBy(
        F.col("approx_sim").desc(), F.col("vec_id").asc()
    )
    cand = scored.withColumn("arn", F.row_number().over(wa)).filter(
        F.col("arn") <= _PQ_RERANK
    )
    # Exact re-rank through the shared Catalyst kernel: similarities leave
    # this operator bit-identical to the brute-force path.
    corpus = with_norm(
        load_table(spark, sf_dir, "embeddings"), "embedding", "norm"
    ).select("vec_id", as_double(F.col("embedding")).alias("v"), "norm")
    probes = with_norm(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20),
        "embedding",
        "qnorm",
    ).select(
        F.col("vec_id").alias("pqid"),
        as_double(F.col("embedding")).alias("qv"),
        "qnorm",
    )
    exact = (
        corpus.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(probes), F.col("qid") == F.col("pqid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                cosine(F.col("v"), F.col("qv"), F.col("norm"), F.col("qnorm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return exact.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= 5
    )


# --------------------------------------------------------------------------
# x141 — Matryoshka truncation quality (norm retention per vector)
# --------------------------------------------------------------------------

_TRUNC_DIMS = 32

_TRUNC_ORACLE = f"""
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(
                CAST(embedding[1:{_TRUNC_DIMS}] AS DOUBLE[]), x -> x * x)))
             / sqrt(list_sum(list_transform(
                CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS retention
FROM embeddings
"""


@register("vec_truncate_retention", oracle=_TRUNC_ORACLE)
def vec_truncate_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x141: MATRYOSHKA truncation quality — for each embedding, the
    cosine between the full vector and its first-{_TRUNC_DIMS}-dims
    truncation, which collapses analytically to the NORM RETENTION ratio
    ‖v[:k]‖/‖v‖ (the cross terms cancel: cos(v, pad(v[:k])) =
    ‖v[:k]‖²/(‖v‖·‖v[:k]‖)). This is the go/no-go diagnostic before
    serving truncated MRL embeddings at a cheaper dimension: a retention
    histogram hugging 1.0 says the prefix carries the information; for
    non-MRL-trained vectors (like these synthetics, ~sqrt(k/d)) it says
    don't. Pure Catalyst HOF arithmetic — slice, the shared left-fold
    norm kernel (functions/vector.py parity with DuckDB's list kernels),
    two correctly-rounded sqrts, one divide.

    100 TB: zero-shuffle narrow projection; the downstream decision
    (store k dims vs d) multiplies straight into index + serving cost —
    pair with vec_quantize_int8 for the compound 4×·(d/k) saving."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    from ..functions.vector import l2_norm  # noqa: PLC0415

    return emb.select(
        "vec_id",
        F.round(
            l2_norm(F.slice(v, 1, _TRUNC_DIMS)) / l2_norm(v), 6
        ).alias("retention"),
    )


# --------------------------------------------------------------------------
# x154 — label-centroid affinity matrix (class-separability diagnostic)
# --------------------------------------------------------------------------

_AFFINITY_ORACLE = """
WITH c AS (
  SELECT label, pos,
         CAST(ROUND(AVG(val) * 1000000.0) AS BIGINT) AS c_u
  FROM (
    SELECT label, UNNEST(CAST(embedding AS DOUBLE[])) AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
  ) GROUP BY label, pos
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.c_u * b.c_u) AS BIGINT) AS dot_u,
         CAST(SUM(a.c_u * a.c_u) AS BIGINT) AS na_u,
         CAST(SUM(b.c_u * b.c_u) AS BIGINT) AS nb_u
  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       ROUND(CAST(dot_u AS DOUBLE)
             / (sqrt(CAST(na_u AS DOUBLE)) * sqrt(CAST(nb_u AS DOUBLE))), 6)
         AS centroid_cos
FROM p
"""


@register("embed_centroid_affinity", oracle=_AFFINITY_ORACLE)
def embed_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x154: label-centroid AFFINITY matrix — cosine similarity between
    every pair of class centroids in embedding space: the class-
    separability diagnostic read before trusting l8's kNN or a linear
    probe (two labels whose centroids cosine ≈ 1 are not separable by
    anything centroid-shaped, and x43's near-dup threshold must clear the
    off-diagonal max). Builds on l7's centroids; output is the
    |labels|×|labels| upper triangle.

    Determinism: per-(label, dim) centroids are PINNED to integer
    micro-units first (l7's avg carries the usual measure-zero rounding
    exposure); dot products and norms are then exact BIGINT sums of
    integer products, so the pair stage is bit-exact on both engines and
    the final cosine is two correctly-rounded sqrts + one divide.

    100 TB: the n×d posexplode partial-aggregates map-side down to the
    |labels|×d centroid matrix before its one shuffle; the pair join runs
    on that tiny matrix (dim-partitioned self-join + pair agg). Scaling
    to many labels keeps the same shape — the quadratic lives at LABEL
    grain, never at row grain."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = (
        emb.select(
            "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val") * 1_000_000.0).cast("long").alias("c_u"))
    )
    a = c.select(
        F.col("label").alias("label_a"), "pos", F.col("c_u").alias("ca")
    )
    b = c.select(F.col("label").alias("label_b"), "pos", F.col("c_u").alias("cb"))
    p = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot_u"),
            F.sum(F.col("ca") * F.col("ca")).cast("long").alias("na_u"),
            F.sum(F.col("cb") * F.col("cb")).cast("long").alias("nb_u"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot_u").cast("double")
            / (
                F.sqrt(F.col("na_u").cast("double"))
                * F.sqrt(F.col("nb_u").cast("double"))
            ),
            6,
        ).alias("centroid_cos"),
    )


# --------------------------------------------------------------------------
# x169 — principal direction via power iteration on the moment matrix
# --------------------------------------------------------------------------

_PCA_ITERS = 5


def _pca_iter_sql(k: int) -> str:
    # Exact integer fixed-point step (r11 straddle-family closure): A at
    # 1e-6 scale, v at 1e-6 — the matvec sum is plain BIGINT (max ~4e16
    # at sf0.1; codegen-friendly, no decimal), rescaled to w_r = w*1e6
    # via double ROUND (sign-safe: an integer half-add would floor in
    # DuckDB but truncate under Spark's div on NEGATIVE components; the
    # exact-int -> double conversion and ROUND are correctly rounded and
    # half-away-from-zero in both engines). The norm is sqrt of an exact
    # BIGINT sum of squares of the 1e4-rescaled components. Only those
    # conversions, the sqrt, and the unit-vector division touch floats,
    # each a single op on bit-identical operands. The former spelling
    # summed 64 DOUBLES per component per round — bounded by a 10dp pin,
    # not excluded.
    prev = f"v{k - 1}"
    return f"""
w{k} AS (
  SELECT a.i,
         CAST(ROUND(CAST(SUM(a.a_r * {prev}.v_u) AS DOUBLE) / 1000000)
              AS BIGINT) AS w_r
  FROM a JOIN {prev} ON a.j = {prev}.j GROUP BY a.i
),
n{k} AS (
  SELECT sqrt(CAST(SUM(wm * wm) AS DOUBLE)) AS nrm_m
  FROM (SELECT CAST(ROUND(CAST(w_r AS DOUBLE) / 100) AS BIGINT) AS wm
        FROM w{k})
),
v{k} AS (
  SELECT w{k}.i AS j,
         CAST(ROUND(CAST(w{k}.w_r AS DOUBLE) / n{k}.nrm_m * 10000)
              AS BIGINT) AS v_u
  FROM w{k} CROSS JOIN n{k}
)"""


_PCA_ORACLE = (
    f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         UNNEST(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
),
q AS (
  SELECT vec_id, pos, CAST(ROUND(val * 1000000) AS BIGINT) AS val_u FROM e
),
a AS (
  -- exact second-moment entries: the row-scale sum is pure BIGINT (r11;
  -- the float-sum spelling could straddle its micro-unit pin under a
  -- different accumulation order), then rescaled once to micro-units
  -- (a_r = A*1e6) so the per-round matvec stays in plain BIGINT range
  SELECT x.pos AS i, y.pos AS j,
         CAST(ROUND(CAST(SUM(x.val_u * y.val_u) AS DOUBLE) / 1000000)
              AS BIGINT) AS a_r
  FROM q x JOIN q y ON x.vec_id = y.vec_id
  GROUP BY x.pos, y.pos
),
v0 AS (SELECT DISTINCT j, CAST(125000 AS BIGINT) AS v_u FROM a),
"""
    + ",".join(_pca_iter_sql(k) for k in range(1, _PCA_ITERS + 1))
    + f"""
SELECT v{_PCA_ITERS}.j AS pos,
       ROUND(CAST(v{_PCA_ITERS}.v_u AS DOUBLE) / 1000000.0, 6) AS loading,
       ROUND(n{_PCA_ITERS}.nrm_m / 10000.0, 6) AS eigenvalue
FROM v{_PCA_ITERS} CROSS JOIN n{_PCA_ITERS}
"""
)


@register("vec_pca_power", oracle=_PCA_ORACLE)
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x169: PRINCIPAL DIRECTION of the embedding cloud by POWER ITERATION
    — {_PCA_ITERS} rounds of v ← A·v/‖A·v‖ on the d×d second-moment matrix
    A = ΣᵥvvT, with the eigenvalue estimate from the final norm: PCA's
    top component without MLlib, as pure joins + aggs. The direction that
    x141's truncation keeps or loses, and the whitening axis for x43's
    cosine threshold. Declared semantics are the {_PCA_ITERS}-round
    iterate (replay-verified); convergence to the true eigenvector goes
    as (λ₂/λ₁)^k, so near-isotropic clouds (these synthetics, by
    construction) need more rounds — the knob, exactly like x152's.

    Determinism (r11 straddle closure): EXACT integer fixed-point
    end-to-end — embeddings quantize to micro-ints at explode, A is an
    exact BIGINT moment matrix (1e-12 scale), each matvec is a
    DECIMAL(38)/HUGEINT dot product with a half-up integer rescale, the
    norm is sqrt of an exact sum of squares, and v₀ = 0.125 is the exact
    integer 125000. The only float ops are one sqrt and one division per
    component per round, on operands that are bit-identical across
    engines and partition layouts — nothing accumulates in float.

    100 TB: the moment-matrix build is one n×d² → d² map-combined agg
    (the heavy stage — d² partial states per task, Arrow-free, all
    codegen); each iteration then runs on the 4096-row A — broadcast-size
    regardless of corpus. Blanczos/subspace iteration generalizes the
    same shape to top-k components."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r14 (guide §4.2/§2.3): the moment matrix A = Σ v·vT was built by a
    # d² posexplode self-join — each input row fanned out ×d through an
    # exchange (82M rows at sf1; the old explicit repartition existed only
    # to spread that fan-out). Quantization stays in the JVM — the SAME
    # per-element Round expression as before, now inside transform() — so
    # the attested micro-int values are bit-identical; the fan-out itself
    # is one numpy int64 X'X per ≤8192-row chunk, merged into unbounded
    # Python ints per task and emitted as d² decimal(38,0) partial rows
    # (the docstring's own "DECIMAL past ~1e7 vectors" envelope, now
    # unconditional). Spark sums the partials; the a_r rescale expression
    # is unchanged, so every downstream value is identical.
    import decimal as _pydec  # noqa: PLC0415

    qarr = emb.select(
        F.transform(
            as_double(F.col("embedding")),
            lambda v: F.round(v * 1_000_000).cast("long"),
        ).alias("qv")
    )

    def _moment_partials(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        acc = None
        d = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["qv"]), dtype=np.int64)
            if acc is None:
                d = m.shape[1]
                acc = [[0] * d for _ in range(d)]
            for lo in range(0, len(m), 8192):
                c = m[lo : lo + 8192]
                g = (c.T @ c).tolist()
                acc = [
                    [a + b for a, b in zip(arow, grow)]
                    for arow, grow in zip(acc, g)
                ]
        if acc is None:
            return
        yield pd.DataFrame(
            {
                "i": [i + 1 for i in range(d) for _ in range(d)],
                "j": [j + 1 for _ in range(d) for j in range(d)],
                "p": [
                    _pydec.Decimal(acc[i][j])
                    for i in range(d)
                    for j in range(d)
                ],
            }
        )

    a = (
        qarr.mapInPandas(_moment_partials, schema="i int, j int, p decimal(38,0)")
        .groupBy("i", "j")
        .agg(
            F.round(F.sum("p").cast("double") / 1_000_000)
            .cast("long")
            .alias("a_r")
        )
    )
    # all 5 rounds run as ONE Catalyst aggregate() fold over the packed
    # 4096-entry matrix (x240's device at d=64): the per-round dataframe
    # loop paid ~0.6 s of scheduling + checkpoint per iteration for
    # microseconds of math (measured r11: 4.3 s loop vs ~1 s fold,
    # isolated sf0.1). State is v_u (slots 1..d) plus the last norm in
    # slot d+1 (as ||w||*1e6) for the eigenvalue output. Each step:
    # plain-BIGINT matvec, sign-safe double-round rescale to w_r = w*1e6
    # (div/floor diverge on negatives), exact BIGINT norm-square on the
    # 1e4-rescaled components, one sqrt + one division per component —
    # identical arithmetic to the unrolled oracle CTEs, no float
    # accumulation anywhere. The element_at(transform(array(...)))
    # wrapper is a let-binding so w materializes once per round.
    # localCheckpoint the ONE-ROW packed frame: the output select consumes
    # the fold from two branches (the eigenvalue column and the posexplode
    # of the loadings), and without the cut Catalyst re-derives the entire
    # n×d² moment-matrix build per branch — measured 26 s vs 9 s at sf1
    # (two FileScans in the executed plan). A 1-row checkpoint makes both
    # branches read the materialized matrix.
    packed = a.agg(
        F.array_sort(F.collect_list(F.struct("i", "j", "a_r"))).alias("mm"),
        F.max("i").alias("dmax"),
    ).localCheckpoint(eager=True)
    folded = packed.select(
        F.expr(
            f"""
            aggregate(
              sequence(1, {_PCA_ITERS}),
              transform(sequence(1, dmax), i -> CAST(125000 AS BIGINT)),
              (vu, it) -> element_at(
                transform(
                  array(transform(sequence(1, dmax),
                    i -> CAST(round(
                           CAST(aggregate(filter(mm, e -> e.i = i),
                                          CAST(0 AS BIGINT),
                                          (acc, e) -> acc + e.a_r * vu[e.j - 1])
                                AS DOUBLE) / 1000000) AS BIGINT))),
                  w -> transform(sequence(1, dmax + 1),
                    i -> CASE WHEN i <= dmax THEN
                           CAST(round(
                             CAST(w[i - 1] AS DOUBLE)
                             / sqrt(CAST(aggregate(
                                 transform(w, x -> CAST(round(
                                   CAST(x AS DOUBLE) / 100) AS BIGINT)),
                                 CAST(0 AS BIGINT),
                                 (acc, m) -> acc + m * m) AS DOUBLE))
                             * 10000) AS BIGINT)
                         ELSE
                           CAST(round(sqrt(CAST(aggregate(
                                 transform(w, x -> CAST(round(
                                   CAST(x AS DOUBLE) / 100) AS BIGINT)),
                                 CAST(0 AS BIGINT),
                                 (acc, m) -> acc + m * m) AS DOUBLE)) * 100)
                                AS BIGINT)
                         END)),
                1)
            ) AS vuf
            """
        ),
        F.col("dmax"),
    )
    out = folded.select(
        F.col("dmax"),
        F.element_at("vuf", F.col("dmax") + 1).alias("nrm_u6"),
        F.posexplode(F.expr("slice(vuf, 1, dmax)")).alias("pos0", "v_u"),
    )
    return out.select(
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v_u").cast("double") / 1_000_000.0, 6).alias("loading"),
        F.round(F.col("nrm_u6").cast("double") / 1_000_000.0, 6).alias(
            "eigenvalue"
        ),
    )


# --------------------------------------------------------------------------
# x178 — deterministic random-hyperplane bit-signature near-dup (embeddings)
# --------------------------------------------------------------------------
# The fully-reproducible cousin of sim_ann_lsh: hyperplane j's component for
# dimension i is ±1 derived from md5('hp:{j}:{i}') (first hex digit < '8' →
# +1), so BOTH engines can rebuild the exact same planes — no RNG, no
# rows-only carve-out. Embeddings are quantized to integer micro-units
# (round(x·1e6)), which makes every signature bit an EXACT BIGINT sign test
# (float summation order can never flip a bit) and the verify threshold an
# exact integer compare: cos ≥ 2/5  ⟺  25·dot² ≥ 4·‖a‖²·‖b‖² ∧ dot > 0,
# held in DECIMAL(38,0)/HUGEINT. Only the REPORTED cos_sim touches floats
# (one identically-parenthesized sqrt/div expression, rounded 6dp).

_BITSIG_PLANES = 48
_BITSIG_BAND_BITS = 12
_BITSIG_BANDS = 4
_BITSIG_Q = 1_000_000
_BITSIG_CAP = 64


def _bitsig_sign(j: int, i: int) -> int:
    """±1 hyperplane component from md5 — matches the oracle's SQL md5."""
    import hashlib

    return 1 if hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[0] < "8" else -1


_BITSIG_SIGNS = [
    [_bitsig_sign(j, i) for i in range(1, 65)] for j in range(_BITSIG_PLANES)
]

_BITSIG_ORACLE = """
WITH q AS (
  SELECT vec_id,
         CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM embeddings
),
p AS (
  SELECT CAST(a.range AS BIGINT) AS j, CAST(b.range AS BIGINT) AS i,
         CASE WHEN substring(md5('hp:' || CAST(a.range AS VARCHAR) || ':'
                                 || CAST(b.range AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE -1 END AS s
  FROM range(48) a CROSS JOIN range(1, 65) b
),
bits AS (
  SELECT q.vec_id, p.j,
         CASE WHEN SUM(p.s * q.qv) >= 0 THEN 1 ELSE 0 END AS bit
  FROM q JOIN p ON p.i = q.i
  GROUP BY q.vec_id, p.j
),
bands AS (
  SELECT vec_id, CAST(j // 12 AS BIGINT) AS band_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(j % 12 AS INTEGER)))
              AS BIGINT) AS bv
  FROM bits GROUP BY vec_id, j // 12
),
bk AS (
  SELECT band_id, bv, COUNT(*) AS n_members
  FROM bands GROUP BY band_id, bv
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bv = b.bv
               AND a.vec_id < b.vec_id
  JOIN bk ON bk.band_id = a.band_id AND bk.bv = a.bv
         AND bk.n_members BETWEEN 2 AND 64
  GROUP BY a.vec_id, b.vec_id
),
norms AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nq FROM q
          GROUP BY vec_id),
dots AS (
  SELECT c.vec_a, c.vec_b, CAST(SUM(qa.qv * qb.qv) AS BIGINT) AS dq
  FROM cand c
  JOIN q qa ON qa.vec_id = c.vec_a
  JOIN q qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
  GROUP BY c.vec_a, c.vec_b
)
SELECT d.vec_a, d.vec_b,
       ROUND(CAST(d.dq AS DOUBLE)
             / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))),
             6) AS cos_sim
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dq > 0
  AND CAST(d.dq AS HUGEINT) * d.dq * 25 >= CAST(na.nq AS HUGEINT) * nb.nq * 4
"""


@register("dedup_embed_bitsig", oracle=_BITSIG_ORACLE)
def dedup_embed_bitsig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x178: DETERMINISTIC random-hyperplane near-dup pairs on embeddings —
    the SRP-LSH candidate+verify pipeline (Charikar, STOC 2002) with every
    source of nondeterminism removed, so unlike sim_ann_lsh (rows-only by
    declaration) this row carries a FULL hash oracle: planes are md5-derived
    ±1 vectors, signature bits are exact integer sign tests on micro-unit
    quantized vectors, the band buckets are value-deterministic, and the
    verify threshold is an exact integer compare (module comment).

    Shape: 48-bit signature in 4 × 12-bit bands (the same band pigeonhole
    as x6's SimHash on text); candidates must share a band bucket, buckets
    capped at 64 members (mirrored in the oracle), verify = exact integer
    cosine test at 2/5. Recall tuning is the standard SRP trade: more
    bands/tables raise recall at the cost of candidate volume; 4×12 targets
    high-cosine near-dups and the sandbox's 0.4 bar keeps the smoke output
    non-empty.

    100 TB: signatures are one exact int64 GEMM per Arrow batch (no
    shuffle; numpy integer matmul is bit-identical to the Catalyst fold
    it replaced and 6× faster — trap #5); the only row-scale shuffle is
    the band-bucket groupBy; pair volume is
    bounded by cap²/2 per bucket; the dot verify re-joins the quantized
    vectors by id (hash join) and never materializes n² anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _BITSIG_Q).cast("long"),
        ).alias("qv"),
    )
    zero = F.lit(0).cast("long")
    dot_self = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: a * b), zero, lambda acc, x: acc + x
    )
    # Three consumers (bands, qa, qb) each re-derive qv/nq from the scan:
    # the quantize+norm is cheap narrow arithmetic over a pruned 2-column
    # read, and recomputing beats materializing a 100 TB checkpoint
    # (trap #16: don't count on exchange reuse across projections anyway).
    q = q.select("vec_id", "qv", dot_self.alias("nq"))

    # Signatures via exact int64 GEMM (numpy, Arrow-batched): qv (n×64)
    # times the ±1 plane matrix (64×48) — integer matrix multiply, so the
    # result is BIT-IDENTICAL to the Catalyst fold spelling (which this
    # replaced: 48 interpreted aggregate() folds per row measured 4.5 s at
    # sf0.1 vs ~0.3 s for the GEMM — trap #5, sign-fold edition). Values
    # stay far inside int64: |dot| ≤ 64·|qv|max ≈ 3.4e7.
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    signs_t = np.array(_BITSIG_SIGNS, dtype=np.int64).T  # 64×48
    pows = np.arange(_BITSIG_BAND_BITS, dtype=np.int64)

    def sig_batches(batches):
        for pdf in batches:
            if pdf.empty:  # an empty Arrow batch would crash np.stack
                continue
            mat = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            bits = (mat @ signs_t >= 0).astype(np.int64)
            out = {"vec_id": pdf["vec_id"]}
            for b in range(_BITSIG_BANDS):
                seg = bits[:, b * _BITSIG_BAND_BITS : (b + 1) * _BITSIG_BAND_BITS]
                out[f"band{b}"] = (seg << pows).sum(axis=1)
            yield pd.DataFrame(out)

    bands = q.select("vec_id", "qv").mapInPandas(
        sig_batches,
        schema="vec_id bigint, band0 bigint, band1 bigint, "
        "band2 bigint, band3 bigint",
    ).selectExpr(
        "vec_id",
        "stack(4, 0L, band0, 1L, band1, 2L, band2, 3L, band3) "
        "as (band_id, bv)",
    )
    buckets = (
        bands.groupBy("band_id", "bv")
        .agg(F.collect_list("vec_id").alias("members"))
        .filter(
            (F.size("members") >= 2) & (F.size("members") <= _BITSIG_CAP)
        )
    )
    cand = (
        buckets.select(F.explode("members").alias("vec_a"), "members")
        .select("vec_a", F.explode("members").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    qa = q.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qv").alias("qva"),
        F.col("nq").alias("na"),
    )
    qb = q.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qv").alias("qvb"),
        F.col("nq").alias("nb"),
    )
    scored = (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.aggregate(
                F.zip_with("qva", "qvb", lambda a, b: a * b),
                zero,
                lambda acc, x: acc + x,
            ).alias("dq"),
            "na",
            "nb",
        )
    )
    dq_dec = F.col("dq").cast("decimal(20,0)")
    lhs = dq_dec * F.col("dq") * F.lit(25)
    rhs = F.col("na").cast("decimal(20,0)") * F.col("nb") * F.lit(4)
    return scored.filter((F.col("dq") > 0) & (lhs >= rhs)).select(
        "vec_a",
        "vec_b",
        F.round(
            F.col("dq").cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            ),
            6,
        ).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# x190 — centroid-distance outliers per label (exact integer ranking)
# --------------------------------------------------------------------------
# Distances to a float centroid are summation-order-dependent (the mean
# itself is), so ranking by them cross-engine is fragile. Scaling by n
# removes the division: ‖v − s/n‖² · n² = Σᵢ(qvᵢ·n − sᵢ)² with qv the
# micro-unit quantized vector and sᵢ the label's per-dimension integer
# sum — ALL-INTEGER, so the outlier ranking is exact and the tie-break
# (vec_id) total. Accumulators in DECIMAL(38,0)/HUGEINT: a term is ~1.6e31
# at 1e9-row labels, far past BIGINT, comfortably inside 38 digits.

_OUTLIER_TOPK = 5

_OUTLIER_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM embeddings
),
lbl AS (
  SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY label, i
),
d AS (
  SELECT q.vec_id, q.label,
         SUM(CAST(q.qv * lbl.n - lbl.s AS HUGEINT)
             * (q.qv * lbl.n - lbl.s)) AS d2n2,
         MAX(lbl.n) AS n
  FROM q JOIN lbl ON lbl.label = q.label AND lbl.i = q.i
  GROUP BY q.vec_id, q.label
)
SELECT label, vec_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY d2n2 DESC, vec_id) AS BIGINT) AS rk,
       ROUND(sqrt(CAST(d2n2 AS DOUBLE)) / n / 1000000.0, 6) AS dist
FROM d QUALIFY rk <= 5
"""


@register("embed_outlier_centroid", oracle=_OUTLIER_ORACLE)
def embed_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x190: per-label CENTROID-DISTANCE OUTLIERS — the {_OUTLIER_TOPK}
    vectors farthest from their label's mean embedding: mislabeled or
    contaminated examples surface here first (the embedding-space data-
    cleaning sweep next to l7's centroids and x110's value-space
    z-scores). Ranking is on the exact integer ‖v−c‖²·n² form (module
    comment) — no float distance ever orders anything; the reported
    distance is display-only, one pinned sqrt/div chain.

    100 TB: one 64× posexplode (same linear expansion as x178's oracle
    path), a (label, dim) partial agg — |labels|·64 rows — joined back
    label-keyed, a per-vector reduce, and a top-k window per label over
    |vectors| rows. No driver state, no n² anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _BITSIG_Q).cast("long"),
            )
        ).alias("pos", "qv"),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("i"), "qv")
    lbl = q.groupBy("label", "i").agg(
        F.sum("qv").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    term = (F.col("qv") * F.col("n") - F.col("s")).cast("decimal(19,0)")
    # r15 (guide §3.1): lbl is (label, i)-grain — |labels|×d rows at ANY
    # corpus size — so broadcasting it turns the centroid join from a
    # shuffle of the n×d quantized stream into a map-side BHJ. Local wash
    # (interleaved medians 0.76 vs 0.78 s; the 128k-row SMJ is cheap
    # here); kept for the corpus-scale shuffle it removes — the
    # graph_degree_powerlaw adjudication class.
    d = (
        q.join(F.broadcast(lbl), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(term * (F.col("qv") * F.col("n") - F.col("s"))).alias("d2n2"),
            F.max("n").alias("n"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("d2n2").desc(), "vec_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _OUTLIER_TOPK)
        .select(
            "label",
            "vec_id",
            "rk",
            F.round(
                F.sqrt(F.col("d2n2").cast("double")) / F.col("n") / 1000000.0, 6
            ).alias("dist"),
        )
    )


# --------------------------------------------------------------------------
# x212 — per-source duplication-rate audit (l1 rolled up to provenance)
# --------------------------------------------------------------------------

_DUPRATE_ORACLE = """
WITH h AS (
  SELECT source, md5(lower(trim(text))) AS ch FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT ch) AS BIGINT) AS n_dups,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate
FROM h GROUP BY source
"""


@register("dedup_rate_by_source", oracle=_DUPRATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x212: DUPLICATION RATE by provenance — l1's normalized content hash
    rolled up per source: docs, distinct contents, exact-dup count and
    rate. The crawl-ops audit that decides which FEEDS to throttle or
    re-crawl (a source whose dup rate jumps is re-serving cached pages);
    l1 answers "which docs to drop", this answers "which pipe is
    broken". Within-source rates by construction — cross-source dups are
    l1's global view.

    100 TB: one (source, hash)-grain distinct expand + source-grain agg,
    both map-combined; the hash is uniform so no skew. Output is
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("source", F.md5(F.lower(F.trim("text"))).alias("ch"))
    n = F.count(F.lit(1)).cast("long")
    nd = F.countDistinct("ch").cast("long")
    return h.groupBy("source").agg(
        n.alias("n_docs"),
        nd.alias("n_unique"),
        (n - nd).alias("n_dups"),
        F.round((n - nd).cast("double") / n, 6).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# x213 — per-dimension variance profile of the embedding space
# --------------------------------------------------------------------------

_DIMVAR_ORACLE = """
WITH q AS (
  SELECT CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM embeddings
),
m AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS HUGEINT) AS s1,
         SUM(CAST(qv AS HUGEINT) * qv) AS s2
  FROM q GROUP BY i
)
SELECT i AS dim,
       ROUND(CAST(s1 AS DOUBLE) / n / 1000000.0, 6) AS mean,
       ROUND(CAST(n * s2 - s1 * s1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * n) / 1e12, 6) AS variance,
       CAST(ROW_NUMBER() OVER (
         ORDER BY n * s2 - s1 * s1 ASC, i) AS BIGINT) AS low_var_rank
FROM m
"""


@register("vec_dim_variance", oracle=_DIMVAR_ORACLE)
def vec_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x213: per-DIMENSION variance profile of the embedding space — mean,
    population variance and a low-variance rank for each of the 64 dims:
    the dead/collapsed-dimension audit run before x131's Matryoshka
    truncation or x11's quantization (a dimension carrying no variance
    carries no information — truncate it first; one carrying huge
    variance dominates int8 scales). Moments are exact micro-unit
    integers (x190's device), so the rank ordering is exact and the two
    float columns are display-only pinned divisions.

    100 TB: one 64× posexplode + a 64-group map-combined agg; the rank
    window runs on 64 rows. Constant output regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _BITSIG_Q).cast("long"),
            )
        ).alias("pos", "qv")
    ).select((F.col("pos") + 1).alias("i"), "qv")
    m = q.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qv").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("qv").cast("decimal(19,0)") * F.col("qv")).alias("s2"),
    )
    spread = F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s1") * F.col("s1")
    w = Window.orderBy(spread.asc(), F.col("i").asc())
    return m.select(
        F.col("i").alias("dim"),
        F.round(
            F.col("s1").cast("double") / F.col("n") / 1000000.0, 6
        ).alias("mean"),
        F.round(
            spread.cast("double")
            / (F.col("n").cast("double") * F.col("n"))
            / 1e12,
            6,
        ).alias("variance"),
        F.row_number().over(w).cast("long").alias("low_var_rank"),
    )


# --------------------------------------------------------------------------
# x238 — deterministic 1-D k-means over account balances (Lloyd, unrolled)
# --------------------------------------------------------------------------

_KM_K = 3
_KM_ITERS = 5


def _km_assign_sql(c0: str, c1: str, c2: str) -> str:
    return f"""CASE
      WHEN ABS(v - {c0}) <= ABS(v - {c1})
       AND ABS(v - {c0}) <= ABS(v - {c2}) THEN 0
      WHEN ABS(v - {c1}) <= ABS(v - {c2}) THEN 1
      ELSE 2 END"""


def _km_iter_sql(n: int) -> str:
    prev = f"cp{n - 1}"
    assign = _km_assign_sql("p.c0", "p.c1", "p.c2")
    return f"""
ag{n} AS (
  SELECT j, CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cent
  FROM (SELECT {assign} AS j, v FROM vals, {prev} p)
  GROUP BY j
),
agp{n} AS (
  SELECT MAX(CASE WHEN j = 0 THEN cent END) AS m0,
         MAX(CASE WHEN j = 1 THEN cent END) AS m1,
         MAX(CASE WHEN j = 2 THEN cent END) AS m2
  FROM ag{n}
),
cp{n} AS (
  SELECT COALESCE(a.m0, p.c0) AS c0,
         COALESCE(a.m1, p.c1) AS c1,
         COALESCE(a.m2, p.c2) AS c2
  FROM agp{n} a, {prev} p
)"""


_KM_ORACLE = (
    """
WITH vals AS (
  SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v FROM customer
),
cp0 AS (
  SELECT MIN(v) AS c0,
         CAST(ROUND((CAST(MIN(v) AS DOUBLE) + MAX(v)) / 2) AS BIGINT) AS c1,
         MAX(v) AS c2
  FROM vals
),"""
    + ",".join(_km_iter_sql(n) for n in range(1, _KM_ITERS + 1))
    + f"""
SELECT j AS cluster_id,
       MAX(c) AS centroid_cents,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(ABS(v - c)) AS BIGINT) AS sad_cents
FROM (
  SELECT v, {_km_assign_sql("p.c0", "p.c1", "p.c2")} AS j,
         CASE {_km_assign_sql("p.c0", "p.c1", "p.c2")}
           WHEN 0 THEN p.c0 WHEN 1 THEN p.c1 ELSE p.c2 END AS c
  FROM vals, cp{_KM_ITERS} p
)
GROUP BY j
"""
)


@register("cluster_kmeans_1d", oracle=_KM_ORACLE)
def cluster_kmeans_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x238: DETERMINISTIC 1-D k-means (Lloyd) over customer balance cents
    — k={_KM_K} segments in {_KM_ITERS} fixed iterations, the first
    hash-oracle-attested CLUSTERING row (x132's PQ trains Lloyd codebooks
    but is legitimately rows-only; making the 1-D case exact shows the
    recipe): integer inputs, centroids re-pinned to integer cents each
    round (ROUND of one exact-int division), assignment by integer
    |v - c| with ties to the lower cluster id, empty clusters keep their
    previous centroid. Init = (min, midrange, max) — pinned, not RNG.

    The Spark side is the x63 driver-loop contract: per round ONE
    map-combined (sum, count) agg per cluster and a {_KM_K}-value bounded
    driver collect; assignment recompiles as a literal CASE, so the data
    path stays in whole-stage codegen with zero joins. DuckDB unrolls the
    same {_KM_ITERS} rounds as CTEs.

    100 TB: per round = one scan + one 3-group agg (map-side combined);
    driver state is 3 integers. The d-dimensional version swaps the CASE
    for a broadcast centroid table + argmin — same loop shape as
    sim_ann_ivf's coarse quantizer, which is exactly how it would scale."""
    import math  # noqa: PLC0415

    def round_half_away(x: float) -> int:
        # SQL ROUND semantics (half AWAY from zero) — Python's round() is
        # banker's and would diverge from both engines at exact .5 means
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    cust = load_table(spark, sf_dir, "customer")
    # r14 (guide §2.4): assignment depends only on v, so every Lloyd round
    # can run on the VALUE HISTOGRAM instead of the corpus — |support| is
    # bounded by the balance domain (≤ ~1.1M distinct cents at ANY corpus
    # size), so one customer scan feeds the whole loop: the old form
    # re-scanned customer ITERS+2 times. sum(v) over rows ≡ sum(v·cnt)
    # over values and count ≡ sum(cnt) in exact integers, so every
    # centroid, assignment and output stat is value-identical.
    hist = (
        cust.select(F.round(F.col("c_acctbal") * 100).cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    row = hist.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()[0]
    cents = [
        int(row.lo),
        round_half_away((row.lo + row.hi) / 2),
        int(row.hi),
    ]

    def assign(cs):
        a0 = F.abs(F.col("v") - cs[0])
        a1 = F.abs(F.col("v") - cs[1])
        a2 = F.abs(F.col("v") - cs[2])
        return (
            F.when((a0 <= a1) & (a0 <= a2), 0)
            .when(a1 <= a2, 1)
            .otherwise(2)
        )

    for _ in range(_KM_ITERS):
        agg = (
            hist.select(assign(cents).alias("j"), "v", "cnt")
            .groupBy("j")
            .agg(
                F.sum(F.col("v") * F.col("cnt")).alias("s"),
                F.sum("cnt").alias("cnt"),
            )
            .collect()
        )
        cents_j = {r.j: round_half_away(r.s / r.cnt) for r in agg}
        cents = [cents_j.get(i, cents[i]) for i in range(_KM_K)]
    c = (
        F.when(F.col("cluster_id") == 0, cents[0])
        .when(F.col("cluster_id") == 1, cents[1])
        .otherwise(cents[2])
        .cast("long")
    )
    return (
        hist.select(assign(cents).alias("cluster_id"), "v", "cnt")
        .withColumn("c", c)
        .groupBy("cluster_id")
        .agg(
            F.max("c").cast("long").alias("centroid_cents"),
            F.sum("cnt").cast("long").alias("n_members"),
            F.sum(F.abs(F.col("v") - F.col("c")) * F.col("cnt"))
            .cast("long")
            .alias("sad_cents"),
        )
    )


# --------------------------------------------------------------------------
# x249 — exact spherical k-means on int8-quantized embeddings
# --------------------------------------------------------------------------

_SKM_K = 4
_SKM_ITERS = 3


def _skm_dims_sql() -> str:
    return """
q AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x / mx * 127) AS INTEGER)) AS qv
  FROM (
    SELECT vec_id, label, embedding,
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> abs(x))) AS mx
    FROM embeddings
  ) WHERE mx <> 0
),
dims AS MATERIALIZED (
  SELECT vec_id, label, d.i AS d, qv[d.i] AS v
  FROM q, UNNEST(generate_series(1, len(qv))) AS d(i)
)"""


def _skm_iter_sql(n: int) -> str:
    prev = f"c{n - 1}"
    return f"""
dot{n} AS (
  SELECT dm.vec_id, c.j, SUM(dm.v * c.v) AS dp
  FROM dims dm JOIN {prev} c ON c.d = dm.d
  GROUP BY dm.vec_id, c.j
),
n2_{n} AS (SELECT j, SUM(v * v) AS n2 FROM {prev} GROUP BY j),
asg{n} AS MATERIALIZED (
  SELECT vec_id, j FROM (
    SELECT d.vec_id, d.j,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY CAST(d.dp AS DOUBLE) / SQRT(CAST(n.n2 AS DOUBLE)) DESC,
                      d.j) AS r
    FROM dot{n} d JOIN n2_{n} n ON n.j = d.j
  ) WHERE r = 1
),
cm{n} AS (
  SELECT a.j, dm.d,
         CAST(ROUND(CAST(SUM(dm.v) AS DOUBLE) / COUNT(*)) AS INTEGER) AS v
  FROM asg{n} a JOIN dims dm ON dm.vec_id = a.vec_id
  GROUP BY a.j, dm.d
),
c{n} AS MATERIALIZED (
  SELECT p.j, p.d, COALESCE(m.v, p.v) AS v
  FROM {prev} p LEFT JOIN cm{n} m ON m.j = p.j AND m.d = p.d
)"""


_SKM_ORACLE = (
    "WITH "
    + _skm_dims_sql().strip()
    + """,
seeds AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT 4),
c0 AS MATERIALIZED (
  -- DENSE_RANK, not ROW_NUMBER: the join fans each seed out to its 64
  -- dims, and ROW_NUMBER would number rows 1..256 instead of seeds 1..4
  SELECT DENSE_RANK() OVER (ORDER BY s.vec_id) - 1 AS j, dm.d, dm.v
  FROM seeds s JOIN dims dm ON dm.vec_id = s.vec_id
),"""
    + ",".join(_skm_iter_sql(n) for n in range(1, _SKM_ITERS + 1))
    + f""",
fdot AS (
  SELECT dm.vec_id, dm.label, c.j, SUM(dm.v * c.v) AS dp
  FROM dims dm JOIN c{_SKM_ITERS} c ON c.d = dm.d
  GROUP BY dm.vec_id, dm.label, c.j
),
fn2 AS (SELECT j, SUM(v * v) AS n2 FROM c{_SKM_ITERS} GROUP BY j),
qn2 AS (SELECT vec_id, SUM(v * v) AS qn2 FROM dims GROUP BY vec_id),
fasg AS MATERIALIZED (
  SELECT vec_id, label, j,
         CAST(ROUND(CAST(dp AS DOUBLE)
                    / SQRT(CAST(n2 AS DOUBLE)) / SQRT(CAST(qn2 AS DOUBLE))
                    * 1000000) AS BIGINT) AS cos_u
  FROM (
    SELECT f.vec_id, f.label, f.j, f.dp, n.n2, qq.qn2,
           ROW_NUMBER() OVER (
             PARTITION BY f.vec_id
             ORDER BY CAST(f.dp AS DOUBLE) / SQRT(CAST(n.n2 AS DOUBLE)) DESC,
                      f.j) AS r
    FROM fdot f
    JOIN fn2 n ON n.j = f.j
    JOIN qn2 qq ON qq.vec_id = f.vec_id
  ) WHERE r = 1
),
lab AS (
  SELECT j, label, COUNT(*) AS nl,
         ROW_NUMBER() OVER (PARTITION BY j
                            ORDER BY COUNT(*) DESC, label) AS lr
  FROM fasg GROUP BY j, label
)
, stats AS (
  SELECT j, COUNT(*) AS n_members, SUM(cos_u) AS s_cos FROM fasg GROUP BY j
)
SELECT s.j AS cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       ROUND(CAST(s.s_cos AS DOUBLE) / s.n_members / 1000000, 6) AS avg_cos,
       CAST(l.label AS INTEGER) AS top_label,
       CAST(l.nl AS BIGINT) AS n_top_label
FROM stats s JOIN lab l ON l.j = s.j AND l.lr = 1
"""
)


@register("vec_kmeans_spherical", oracle=_SKM_ORACLE)
def vec_kmeans_spherical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x249: SPHERICAL K-MEANS on int8-quantized embeddings with a FULL
    hash oracle — the d-dimensional clustering row x238's 1-D recipe
    promised: quantize (x11's exact device), iterate assignment/update
    {_SKM_ITERS} rounds with k={_SKM_K}, report per-cluster size, mean
    member cosine to the centroid, and label purity (majority label) —
    the corpus-structure report an embedding pipeline runs before
    choosing IVF cell counts or routing mixtures.

    Exactness chain: codes and centroids are INTEGER vectors end-to-end
    (updates re-round per dim to int — the d-dimensional analogue of
    x238's integer-cents centroids), so dots and norms are exact BIGINTs;
    the only floats are one dot/sqrt(norm) ordering expression (identical
    IEEE on identical integers => identical argmax, ties pinned by
    cluster id) and micro-unit-pinned cosine display. Init = the {_SKM_K}
    lowest vec_ids' codes (pinned, not RNG; k-means++ swaps in a
    deterministic D² farthest-point sweep at scale).

    Plan shape: assignment runs as a zip_with/aggregate fold against
    BROADCAST literal centroids (k x d integers collected per round —
    the x63 bounded-driver-state contract at {_SKM_K}x64 ints); the
    update is one posexplode + (cluster, dim) map-combined agg per round.
    DuckDB unrolls the same rounds with MATERIALIZED CTEs (trap #27).

    100 TB: per round = one narrow fold pass + one (k x d)-grain agg —
    embarrassingly parallel, centroid state is KB-sized at any corpus
    size; this is literally the IVF trainer (l10) promoted to a
    first-class attested operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("e")
    ).withColumn("mx", F.array_max(F.transform(F.col("e"), F.abs)))
    q = staged.filter(F.col("mx") != 0).select(
        "vec_id",
        "label",
        F.transform(
            F.col("e"), lambda x: F.round(x / F.col("mx") * 127, 0).cast("int")
        ).alias("qv"),
    )
    q = q.localCheckpoint(eager=True)

    seeds = q.orderBy("vec_id").limit(_SKM_K).collect()
    cents = [list(r.qv) for r in seeds]

    # r14 (guide §4.2): assignment + update ran as k interpreted
    # aggregate(zip_with) lambda folds PER ROW per round (2k+1 folds in the
    # final scoring) — no codegen, ~ms/row. Each round is now ONE
    # mapInPandas pass: exact int64 GEMM against the k×d centroid matrix,
    # argmin replicating Spark's struct-min ordering (NaN greatest, ties →
    # lowest j; zero-dot negcos is -0.0 on both paths so signed-zero order
    # never arises), and per-TASK partial (sum-vector, count) rows — k rows
    # per task cross the boundary, never the corpus. The centroid re-round
    # is exact integer half-away-from-zero on (sum, count): Spark's
    # round(sum/count) sees the correctly-rounded double of a rational with
    # |p/cnt − (k+½)| ≥ 1/(2cnt) ≫ ulp whenever it is not exactly the
    # boundary, so both paths agree on every reachable mean. The final
    # cos_u float expression and its F.round stay in Spark unchanged.
    import numpy as _np  # noqa: PLC0415

    _dim = len(cents[0]) if cents else 0

    def _spark_argmin(dots, sqrt_n2):
        """Row-wise argmin over -dots[:, j]/sqrt_n2[j] with Spark's struct
        ordering (NaN greatest, first/lowest j wins ties)."""
        nc = -(dots.astype(_np.float64)) / _np.array(sqrt_n2)[None, :]
        best = nc[:, 0].copy()
        bj = _np.zeros(len(nc), dtype=_np.int64)
        for j in range(1, nc.shape[1]):
            a = nc[:, j]
            lt = (~_np.isnan(a)) & (_np.isnan(best) | (a < best))
            bj[lt] = j
            best[lt] = a[lt]
        return bj

    def _round_half_away(p: int, cnt: int) -> int:
        if p >= 0:
            return (2 * p + cnt) // (2 * cnt)
        return -((2 * (-p) + cnt) // (2 * cnt))

    qv_only = q.select("qv")
    for _ in range(_SKM_ITERS):
        n2 = [sum(int(x) * int(x) for x in c) for c in cents]
        sqrt_n2 = [float(_math_sqrt(x)) for x in n2]
        c_mat = _np.array(cents, dtype=_np.int64)

        def partial_sums(batches, c_mat=c_mat, sqrt_n2=sqrt_n2):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            k = c_mat.shape[0]
            sums = np.zeros((k, c_mat.shape[1]), dtype=np.int64)
            cnts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                qv = np.array(list(pdf["qv"]), dtype=np.int64)
                bj = _spark_argmin(qv @ c_mat.T, sqrt_n2)
                for j in range(k):
                    m = bj == j
                    if m.any():
                        sums[j] += qv[m].sum(axis=0)
                        cnts[j] += int(m.sum())
            yield pd.DataFrame(
                {
                    "j": np.arange(k, dtype=np.int64),
                    "cnt": cnts,
                    "s": [list(map(int, row)) for row in sums],
                }
            )

        upd = qv_only.mapInPandas(
            partial_sums, schema="j long, cnt long, s array<long>"
        ).collect()
        agg_cnt = [0] * _SKM_K
        agg_sum = [[0] * _dim for _ in range(_SKM_K)]
        for r in upd:
            agg_cnt[r.j] += r.cnt
            for d, v in enumerate(r.s):
                agg_sum[r.j][d] += v
        cents = [
            [_round_half_away(agg_sum[j][d], agg_cnt[j]) for d in range(_dim)]
            if agg_cnt[j] > 0
            else cents[j]
            for j in range(_SKM_K)
        ]

    n2 = [sum(int(x) * int(x) for x in c) for c in cents]
    _fin_sqrt_n2 = [float(_math_sqrt(x)) for x in n2]
    _fin_c_mat = _np.array(cents, dtype=_np.int64)
    _lbl_type = dict(q.dtypes)["label"]

    def score_final(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            qv = np.array(list(pdf["qv"]), dtype=np.int64)
            dots = qv @ _fin_c_mat.T
            bj = _spark_argmin(dots, _fin_sqrt_n2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "j": bj,
                    "dp": dots[np.arange(len(bj)), bj],
                    "qn2": (qv * qv).sum(axis=1),
                }
            )

    fin = q.mapInPandas(
        score_final,
        schema=f"vec_id long, label {_lbl_type}, j long, dp long, qn2 long",
    ).select(
        "vec_id",
        "label",
        F.col("j").cast("int").alias("j"),
        F.round(
            F.col("dp").cast("double")
            / F.element_at(
                F.array(*[F.lit(float(_math_sqrt(x))) for x in n2]),
                F.col("j").cast("int") + 1,
            )
            / F.sqrt(F.col("qn2").cast("double"))
            * 1_000_000
        )
        .cast("long")
        .alias("cos_u"),
    )
    lab = (
        fin.groupBy("j", "label")
        .agg(F.count(F.lit(1)).alias("nl"))
        .withColumn(
            "lr",
            F.row_number().over(
                Window.partitionBy("j").orderBy(F.col("nl").desc(), "label")
            ),
        )
    )
    # aggregate members FIRST, then attach the single lr=1 label row —
    # joining the per-label frame before counting would multiply every
    # member by its cluster's label count (caught by the Python replay;
    # cross-engine parity alone missed it because both sides inflated
    # identically — the reason replay tests exist)
    stats = fin.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum("cos_u").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("avg_cos"),
    )
    top = lab.filter(F.col("lr") == 1).select(
        "j",
        F.col("label").cast("int").alias("top_label"),
        F.col("nl").cast("long").alias("n_top_label"),
    )
    return stats.join(top, "j").select(
        F.col("j").alias("cluster_id"),
        "n_members",
        "avg_cos",
        "top_label",
        "n_top_label",
    )


# --------------------------------------------------------------------------
# x280 — embedding-space cosine histogram (hash-pinned sample pairs)
# --------------------------------------------------------------------------

_COSH_TARGET = 2000  # sample size target; modulus derives from corpus count
_COSH_BIN_CENTS = 500  # 0.05-wide bins over pinned 4dp cosine micro-cents

_COSH_ORACLE = f"""
WITH mod_ AS (
  SELECT CAST(CEIL(COUNT(*) / {_COSH_TARGET}.0) AS BIGINT) AS m FROM embeddings
),
samp AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings, mod_
  WHERE ('0x' || substring(md5('cosh:' || vec_id), 1, 8))::BIGINT % mod_.m = 0
),
pairs AS (
  SELECT CAST(ROUND(list_cosine_similarity(a.v, b.v) * 10000) AS BIGINT)
           AS cos4_u
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
),
binned AS (
  SELECT (cos4_u + 10000) // {_COSH_BIN_CENTS} AS bin, COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin,
       ROUND((bin * {_COSH_BIN_CENTS} - 10000) / 10000.0, 2) AS cos_lo,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       ROUND(CAST(n_pairs AS DOUBLE)
             / SUM(n_pairs) OVER (), 6) AS share
FROM binned
"""


@register("embed_cos_histogram", oracle=_COSH_ORACLE)
def embed_cos_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x280: COSINE-SIMILARITY HISTOGRAM of the embedding space over a
    hash-pinned sample — the anisotropy/collapse diagnostic every
    embedding pipeline should watch: healthy spaces put random-pair mass
    in a band well below 1; a histogram lump near 1.0 means the encoder
    collapsed (all vectors same direction) and every downstream
    similarity op (l3/l4/x16/x19) silently degrades. The
    distribution-level sibling of x190's per-vector outliers.

    Sample modulus DERIVES FROM THE CORPUS COUNT (⌈n/{_COSH_TARGET}⌉ via
    salted md5 — the llm.py fixed-divisor OOM lesson in reverse: fixed
    TARGET, scaling divisor), so pair volume is ≤ {_COSH_TARGET}²/2
    regardless of corpus size and both engines pick the identical rows.
    Cosines pin to 4dp micro-cents, then bins are INTEGER division on
    the shifted non-negative value — Spark's truncating div and
    DuckDB's floor agree exactly there (trap: they disagree below
    zero).

    100 TB: two scans (pruned count, filtered sample collect); the
    ≤2M-pair work runs as a GEMM over the re-parallelized ≤{_COSH_TARGET}-row
    sample against its broadcast twin, and only per-batch (bin, count)
    partials — ≤41 rows — cross the Python boundary and the final
    exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    mod_ = emb.agg(
        F.ceil(F.count(F.lit(1)) / float(_COSH_TARGET)).cast("long").alias("m")
    )
    hashed = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).join(F.broadcast(mod_)).filter(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cosh:"), F.col("vec_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % F.col("m")
        == 0
    )
    # bounded-by-construction broadcast (<= _COSH_TARGET + slack rows — the
    # hash-modulus fixed-target device, same contract as the IVF/PQ train
    # samples); each Arrow batch of the sample GEMMs against the full
    # sample matrix and emits only its upper-triangle pinned cosines — the
    # interpreted per-pair HOF fold this replaced was 15x slower (trap #5).
    # r14 (guide §2.3/§4.2): the kernel bins its pairs before they leave
    # Python — partial (bin, n) counts per batch (≤ 41 rows) instead of the
    # raw cos4_u stream (O(target²/2) ≈ 2M rows of Arrow + one Exchange),
    # and its input is the ALREADY-collected sample re-parallelized, not a
    # third full scan + md5 filter of embeddings (at scale that scan is the
    # query's dominant term and ran 3x per invocation; now 2x — count +
    # sample). Bin equivalence with the old ((cos4_u+10000)/500).cast(long):
    # the shifted value is in [0, 20000], and a correctly-rounded double
    # quotient n/500.0 can't cross an integer boundary (|n/500 - k| ≥ 1/500
    # ≫ ulp), so int64 floor-division is value-identical.
    import numpy as _np  # noqa: PLC0415
    import pandas as _pd  # noqa: PLC0415

    srows = hashed.select("vec_id", "v").collect()
    sids = _np.array([r.vec_id for r in srows], dtype=_np.int64)
    smat = _np.array([r.v for r in srows], dtype=_np.float64)
    smat /= _np.linalg.norm(smat, axis=1, keepdims=True)
    b_all = spark.sparkContext.broadcast((sids, smat))

    def pair_cos_binned(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        ids_all, mat_all = b_all.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            cos = mat @ mat_all.T
            li, ri = np.nonzero(ids[:, None] < ids_all[None, :])
            # half-AWAY-FROM-ZERO to match both engines' ROUND (np.rint is
            # half-to-even — a .00005-boundary cosine would drift a bin)
            x = cos[li, ri] * 10000
            cos4 = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
            counts = np.bincount((cos4 + 10000) // _COSH_BIN_CENTS)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {"bin": nz.astype(np.int64), "n": counts[nz].astype(np.int64)}
            )

    samp_local = _pd.DataFrame(
        {
            "vec_id": [r.vec_id for r in srows],
            "v": [list(r.v) for r in srows],
        }
    )
    samp = spark.createDataFrame(samp_local, schema="vec_id long, v array<double>")
    pairs = samp.mapInPandas(pair_cos_binned, schema="bin long, n long")
    binned = pairs.groupBy("bin").agg(F.sum("n").cast("long").alias("n_pairs"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return binned.select(
        F.col("bin").cast("long").alias("bin"),
        F.round((F.col("bin") * _COSH_BIN_CENTS - 10000) / 10000.0, 2).alias(
            "cos_lo"
        ),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            F.col("n_pairs").cast("double") / F.sum("n_pairs").over(w_all), 6
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# x305 — multinomial Naive Bayes language classifier (confusion matrix)
# --------------------------------------------------------------------------

# Integer micro-nat log: ROUND(LN(k) * 1e6) of an integer k — the same
# pinning device as the entropy family (x286): both engines' libm ln
# differ by <= 1 ulp, invisible at the 1e-6 grain except on a
# measure-zero straddle set no integer count hits in practice.
_NB_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents)
  WHERE token <> ''
  GROUP BY doc_id, lang, token
),
train AS (
  SELECT token, lang, CAST(SUM(cnt) AS BIGINT) AS c
  FROM tok GROUP BY token, lang
),
vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM train),
lg AS (
  SELECT t.lang, CAST(SUM(t.c) AS BIGINT) AS tot,
         CAST(ROUND(LN(CAST(SUM(t.c) + MAX(vocab.v) AS DOUBLE)) * 1e6)
              AS BIGINT) AS ln_den_u
  FROM train t CROSS JOIN vocab GROUP BY t.lang
),
prior AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l,
         CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS ln_pri_u
  FROM documents GROUP BY lang
),
dsum AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS m_d FROM tok GROUP BY doc_id
),
sc1 AS (
  SELECT k.doc_id, tr.lang AS lang_model,
         CAST(SUM(k.cnt * CAST(ROUND(LN(CAST(tr.c + 1 AS DOUBLE)) * 1e6)
                               AS BIGINT)) AS BIGINT) AS s1
  FROM tok k JOIN train tr ON tr.token = k.token
  GROUP BY k.doc_id, tr.lang
),
scored AS (
  SELECT d.doc_id, d.lang AS lang_true, p.lang AS lang_model,
         COALESCE(s.s1, 0) - ds.m_d * l.ln_den_u + p.ln_pri_u AS score_u
  FROM (SELECT DISTINCT doc_id, lang FROM documents) d
  CROSS JOIN prior p
  JOIN lg l ON l.lang = p.lang
  JOIN dsum ds ON ds.doc_id = d.doc_id
  LEFT JOIN sc1 s ON s.doc_id = d.doc_id AND s.lang_model = p.lang
),
pred AS (
  SELECT doc_id, lang_true, lang_model AS lang_pred,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_u DESC, lang_model) AS rk
  FROM scored
)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY lang_true, lang_pred
"""


@register("ml_naive_bayes_lang", oracle=_NB_ORACLE)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x305: MULTINOMIAL NAIVE BAYES language classifier — train add-1
    -smoothed token likelihoods P(t|lang) and document priors on the
    corpus, score every document, output the confusion matrix: the
    supervised MapReduce-classic classifier beside x8's unsupervised
    n-gram heuristic (and x172's confusion harness for it). The N-
    constant ln(N) term is dropped (same for every class — argmax
    invariant).

    Determinism: scores are INTEGER micro-nat sums — Σ cnt·lnµ(c+1) −
    m_d·lnµ(tot+V) + lnµ(n_l), every lnµ a ROUND(LN(int)·1e6) pin
    (x286's device) — so the per-doc argmax is an exact integer
    compare, ties lang-name pinned. Unseen (token, lang) pairs
    contribute cnt·lnµ(0+1) = 0, which is why the token join can stay
    INNER + COALESCE instead of a doc×lang×vocab blow-up.

    100 TB: the classic NB shape — token-grain shuffles only
    (vocab-bounded train state, ≤|langs|× expansion on the score
    join), the 5-row lang/prior frames broadcast, no iteration."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    train = tok.groupBy("token", "lang").agg(
        F.sum("cnt").cast("long").alias("c")
    )
    vocab = train.select("token").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    lnmu = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")  # noqa: E731
    lg = (
        train.groupBy("lang")
        .agg(F.sum("c").cast("long").alias("tot"))
        .crossJoin(F.broadcast(vocab))
        .select("lang", lnmu(F.col("tot") + F.col("v")).alias("ln_den_u"))
    )
    prior = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_l")
    ).select("lang", lnmu(F.col("n_l")).alias("ln_pri_u"))
    dsum = tok.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("m_d"))
    sc1 = (
        tok.select("doc_id", "token", "cnt")
        .join(
            train.select(
                "token", F.col("lang").alias("lang_model"), lnmu(F.col("c") + 1).alias("ln_c1_u")
            ),
            "token",
        )
        .groupBy("doc_id", "lang_model")
        .agg(F.sum(F.col("cnt") * F.col("ln_c1_u")).cast("long").alias("s1"))
    )
    langs = F.broadcast(
        prior.join(lg, "lang").select(
            F.col("lang").alias("lang_model"), "ln_pri_u", "ln_den_u"
        )
    )
    scored = (
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .crossJoin(langs)
        .join(dsum, "doc_id")
        .join(sc1, ["doc_id", "lang_model"], "left")
        .select(
            "doc_id",
            "lang_true",
            "lang_model",
            (
                F.coalesce(F.col("s1"), F.lit(0))
                - F.col("m_d") * F.col("ln_den_u")
                + F.col("ln_pri_u")
            ).alias("score_u"),
        )
    )
    pred = scored.select(
        "lang_true",
        F.col("lang_model").alias("lang_pred"),
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score_u").desc(), "lang_model"
            )
        )
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --------------------------------------------------------------------------
# x328 — sign random projection (JL sketch) with exact distortion audit
# --------------------------------------------------------------------------

_RP_K = 16
_RP_SCALE = 1000

_RP_ORACLE = f"""
WITH q AS (
  SELECT vec_id, i AS d,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_RP_SCALE}) AS BIGINT)
           AS qv,
         ((i * 2654435761) % 2147483648) AS h
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
proj AS (
  SELECT q.vec_id, j.j,
         CAST(SUM((1 - 2 * ((q.h >> (8 + j.j)) % 2)) * q.qv) AS BIGINT) AS p
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, {_RP_K - 1})) AS j) j
  GROUP BY q.vec_id, j.j
),
od AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS orig_d2
  FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND b.d = a.d
  GROUP BY a.vec_id, b.vec_id
),
pd AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS proj_d2
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
  GROUP BY a.vec_id, b.vec_id
)
SELECT od.va AS vec_a, od.vb AS vec_b, od.orig_d2, pd.proj_d2,
       ROUND(CAST(pd.proj_d2 AS DOUBLE) / ({_RP_K} * od.orig_d2), 6)
         AS distortion_ratio,
       CAST(CASE WHEN 2 * pd.proj_d2 >= {_RP_K} * od.orig_d2
                 AND pd.proj_d2 <= 2 * {_RP_K} * od.orig_d2
                 THEN 1 ELSE 0 END AS INTEGER) AS within_2x
FROM od JOIN pd ON pd.va = od.va AND pd.vb = od.vb
"""


@register("vec_rp_sketch", oracle=_RP_ORACLE)
def vec_rp_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x328: SIGN RANDOM PROJECTION (the Achlioptas/JL ±1 sketch) of the
    64-dim embeddings down to k=16 integer components, with an EXACT
    per-pair distortion audit on the consecutive-id pair sample:
    E‖Pa−Pb‖² = k·‖a−b‖² for ±1 projections, so distortion_ratio ≈ 1
    and the within-2x flag is INTEGER-SIDED (2·proj ≥ k·orig ∧ proj ≤
    2k·orig — no float can straddle it). The dimensionality-reduction
    front end x16's LSH and x178's bit signatures assume; unlike both,
    this keeps MAGNITUDES (they keep angles only).

    Determinism: the "random" signs are bits 8..23 of a Knuth
    multiplicative hash of the DIMENSION index (high bits — x310's
    lesson: the low bits of h = d·A are d's own parity); embeddings
    quantize to integer milli-units once (float32→double widening is
    exact on both engines), so projections, distances and flags are
    all exact int64.

    100 TB: the d×k expansion is map-local explode + map-combined
    (vec, j) sums — the mapInPandas GEMM form (x249's note) replaces
    it when k·d stops fitting the row budget; the pair audit joins on
    consecutive ids, never all pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("d"),
        F.round(F.col("v").cast("double") * _RP_SCALE).cast("long").alias("qv"),
        ((F.col("pos") + 1) * 2654435761 % 2147483648).alias("h"),
    )
    j = q.select(
        "vec_id",
        "qv",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_RP_K - 1))).alias("j"),
    )
    proj = (
        j.select(
            "vec_id",
            "j",
            (
                (F.lit(1) - 2 * F.expr("(h >> (8 + j)) % 2")) * F.col("qv")
            ).alias("term"),
        )
        .groupBy("vec_id", "j")
        .agg(F.sum("term").cast("long").alias("p"))
    )
    qa = q.select(
        F.col("vec_id").alias("va"), F.col("d").alias("da"), F.col("qv").alias("qa")
    )
    qb = q.select(
        F.col("vec_id").alias("vb"), F.col("d").alias("db"), F.col("qv").alias("qb")
    )
    od = (
        qa.join(qb, (F.col("vb") == F.col("va") + 1) & (F.col("db") == F.col("da")))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb")))
            .cast("long")
            .alias("orig_d2")
        )
    )
    pa = proj.select(
        F.col("vec_id").alias("va"), F.col("j").alias("ja"), F.col("p").alias("p1")
    )
    pb = proj.select(
        F.col("vec_id").alias("vb"), F.col("j").alias("jb"), F.col("p").alias("p2")
    )
    pd_ = (
        pa.join(pb, (F.col("vb") == F.col("va") + 1) & (F.col("jb") == F.col("ja")))
        .groupBy("va", "vb")
        .agg(
            F.sum((F.col("p1") - F.col("p2")) * (F.col("p1") - F.col("p2")))
            .cast("long")
            .alias("proj_d2")
        )
    )
    k = _RP_K
    return od.join(pd_, ["va", "vb"]).select(
        F.col("va").alias("vec_a"),
        F.col("vb").alias("vec_b"),
        "orig_d2",
        "proj_d2",
        F.round(F.col("proj_d2").cast("double") / (k * F.col("orig_d2")), 6).alias(
            "distortion_ratio"
        ),
        F.when(
            (2 * F.col("proj_d2") >= k * F.col("orig_d2"))
            & (F.col("proj_d2") <= 2 * k * F.col("orig_d2")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("within_2x"),
    )


# --------------------------------------------------------------------------
# x350 — embedding-space anisotropy audit (mean-vector concentration)
# --------------------------------------------------------------------------

_ANISO_ORACLE = """
WITH q AS (
  SELECT CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM embeddings
),
m AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS HUGEINT) AS s1,
         SUM(CAST(qv AS HUGEINT) * qv) AS s2
  FROM q GROUP BY i
),
ranked AS (
  SELECT i, n, s1, s2,
         ROW_NUMBER() OVER (ORDER BY s1 * s1 DESC, i) AS rn
  FROM m
),
tot AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
         CAST(COUNT(*) AS BIGINT) AS d_dims,
         SUM(s1 * s1) AS a,
         SUM(s2) AS b
  FROM ranked
)
SELECT t.n_vecs, t.d_dims,
       ROUND(CAST(t.a AS DOUBLE) / (t.n_vecs * CAST(t.b AS HUGEINT)), 6)
         AS anisotropy,
       r.i AS top_dim,
       ROUND(CAST(r.s1 * r.s1 AS DOUBLE) / CAST(t.a AS DOUBLE), 6)
         AS top_dim_share
FROM tot t JOIN ranked r ON r.rn = 1
"""


@register("vec_anisotropy", oracle=_ANISO_ORACLE)
def vec_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x350: ANISOTROPY audit of the embedding space — the ratio
    ||mean(v)||^2 / mean(||v||^2) in [0, 1]: 0 means the cloud is
    centered (cosine similarities are meaningful), values >> 0 mean a
    dominant common direction (the Ethayarajh 2019 finding that makes
    raw cosine scores saturate) — the go/no-go check before trusting
    l3/l4/x16's cosine machinery, and the justification for mean-
    centering if it fails. Also reports the dimension carrying the
    largest share of the mean vector (the rogue-dimension diagnostic).

    Exactness: components quantized to exact micro-unit longs (x190's
    device); A = SUM_i S_i^2 and B = SUM_all q^2 are exact
    HUGEINT/DECIMAL(38) sums, and anisotropy = A / (n * B) — the 1e12
    scale factors cancel — is ONE identically-parenthesized division;
    the argmax dimension is rank-pinned (S^2 DESC, dim).

    100 TB: one 64x posexplode + 64-group map-combined agg; everything
    after is a 64-row epilogue. Constant output size."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _BITSIG_Q).cast("long"),
            )
        ).alias("pos", "qv")
    ).select((F.col("pos") + 1).cast("long").alias("i"), "qv")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = q.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qv").cast("decimal(38,0)").alias("s1"),
        F.sum(dec(F.col("qv")) * F.col("qv")).alias("s2"),
    )
    ranked = m.select(
        "i",
        "n",
        "s1",
        "s2",
        F.row_number()
        .over(Window.orderBy((F.col("s1") * F.col("s1")).desc(), "i"))
        .alias("rn"),
    )
    tot = ranked.agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("d_dims"),
        F.sum(F.col("s1") * F.col("s1")).alias("a"),
        F.sum("s2").alias("b"),
    )
    top = ranked.filter(F.col("rn") == 1).select(
        F.col("i").alias("top_dim"), F.col("s1").alias("top_s1")
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_vecs",
        "d_dims",
        F.round(
            F.col("a").cast("double")
            / (F.col("n_vecs") * dec(F.col("b"))).cast("double"),
            6,
        ).alias("anisotropy"),
        "top_dim",
        F.round(
            (F.col("top_s1") * F.col("top_s1")).cast("double")
            / F.col("a").cast("double"),
            6,
        ).alias("top_dim_share"),
    )


# --------------------------------------------------------------------------
# x365 — corpus diversity probe: mean pairwise cosine over a pinned sample
# --------------------------------------------------------------------------

_DIV_CAP = 512  # sample size cap — pair mass is capped at C(512,2) forever
_DIV_HI = 900_000  # micro-cos threshold for the redundancy fraction (0.9)

_DIVERSITY_ORACLE = f"""
WITH gated AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings
  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
),
rk AS (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
    FROM gated
  ) WHERE rn <= {_DIV_CAP}
),
q AS (
  SELECT vec_id,
         CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM rk
),
n2 AS (
  SELECT vec_id, SUM(CAST(qv AS HUGEINT) * qv) AS nn FROM q GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM rk a JOIN rk b ON a.vec_id < b.vec_id
),
dots AS (
  SELECT p.va, p.vb, SUM(CAST(qa.qv AS HUGEINT) * qb.qv) AS dot
  FROM pairs p
  JOIN q qa ON qa.vec_id = p.va
  JOIN q qb ON qb.vec_id = p.vb AND qb.i = qa.i
  GROUP BY p.va, p.vb
),
cosu AS (
  SELECT CAST(ROUND(1000000.0 * CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))))
         AS BIGINT) AS cu
  FROM dots d
  JOIN n2 na ON d.va = na.vec_id
  JOIN n2 nb ON d.vb = nb.vec_id
)
SELECT CAST((SELECT COUNT(*) FROM rk) AS BIGINT) AS n_sampled,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(cu) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean_cos,
       ROUND(CAST(SUM(CASE WHEN cu > {_DIV_HI} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS frac_near_dup
FROM cosu
"""


@register("sim_diversity_probe", oracle=_DIVERSITY_ORACLE)
def sim_diversity_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x365: CORPUS DIVERSITY PROBE — mean pairwise cosine (and the
    fraction of pairs above 0.9) over a deterministic md5-gated,
    rank-capped sample of {cap} embeddings: the single-number
    redundancy/diversity readout data-selection papers track (a rising
    mean cosine means the corpus is collapsing toward a mode; the
    near-dup fraction is the sampled estimate of what l2/x43 would
    find exhaustively). The PAIR MASS IS CAPPED FOREVER at C(512,2) —
    the sample, not the corpus, defines the cost.

    Exactness: the sample is pinned (md5 hex gate, then (md5, vec_id)
    rank — both engines hash the same decimal string); components
    quantized to micro-unit longs; dots and norms exact BIGINT sums
    (bounded ~7e12 ≪ 2^53 — r14 moved them off DECIMAL(38): same exact
    integers, ~10x cheaper per element); each pair's cosine is ONE
    identically-parenthesized double pinned to micro-cos longs BEFORE
    averaging (x353's device), so the mean is a ratio of exact integers.

    100 TB: the gate prunes the global sort to ~corpus/16 rows — at
    larger corpora tighten the hex prefix to keep that frame small
    (documented knob); everything after runs on 512 vectors. The pair
    join is 512 x 512 / 2, bounded by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    gated = emb.select(
        "vec_id",
        "embedding",
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    ).filter(F.substring("h", 1, 1) < "8")
    rk = (
        gated.withColumn(
            "rn", F.row_number().over(Window.orderBy("h", "vec_id"))
        )
        .filter(F.col("rn") <= _DIV_CAP)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _BITSIG_Q).cast("long"),
            ).alias("qa"),
        )
    )
    # r14 optimization (guide §1.2 step 2 — per-task work): the dot/norm
    # accumulators were decimal(38,0) (BigDecimal per element — interpreted,
    # allocation-heavy). The quantized components are |qa| <= ~Q·|x|max
    # (~3.3e5 here), so x*x <= ~1.1e11 and a 64-dim sum <= ~7e12 — exact in
    # BIGINT with six orders of magnitude of headroom, and below 2^53 so the
    # final cast-to-double is the same value the decimal path produced.
    # Measured (interleaved 3-shot medians, sf0.1): 2.6 s -> 1.0 s,
    # bit-identical output.
    withn = rk.select(
        "vec_id",
        "qa",
        F.expr(
            "aggregate(qa, cast(0 as bigint), (acc, x) -> acc + x * x)"
        ).alias("nn"),
    )
    a = withn.select(
        F.col("vec_id").alias("va"), F.col("qa").alias("qa_a"),
        F.col("nn").alias("na"),
    )
    b = withn.select(
        F.col("vec_id").alias("vb"), F.col("qa").alias("qa_b"),
        F.col("nn").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb"))
    dot = F.expr(
        "aggregate(zip_with(qa_a, qa_b, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    cosu = pairs.select(
        F.round(
            1000000.0
            * dot.cast("double")
            / (
                F.sqrt(F.col("na").cast("double"))
                * F.sqrt(F.col("nb").cast("double"))
            )
        )
        .cast("long")
        .alias("cu")
    )
    n_sampled = rk.agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    acc = cosu.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("cu").cast("double") / 1000000.0 / F.count(F.lit(1)), 6
        ).alias("mean_cos"),
        F.round(
            F.sum(F.when(F.col("cu") > _DIV_HI, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_near_dup"),
    )
    return (
        F.broadcast(n_sampled)
        .crossJoin(acc)
        .select("n_sampled", "n_pairs", "mean_cos", "frac_near_dup")
    )
