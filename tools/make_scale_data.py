"""Workload-preserving scale-up of the driver testdata (r6 verdict task 4).

The driver ships sf{0.001,0.01,0.1}; the 2x perf budget is only ever
checked at sf0.1, so "plans survive 100x" stayed a design argument. This
tool materializes a 10x replica scale-up of sf0.1 (== sf1) under
``benchdata/sf1`` so BENCH_SF1.json can turn it into a measurement: a query
whose sf0.1 -> sf1 wall-time grows super-linearly (>> 10x) has a plan that
will NOT survive the next 100x.

Scale-up semantics (replica r in 0..R-1, key-shifted so joins stay valid
and fan-outs keep their sf0.1 shape):

- region/nation: copied once — TPC-H dimension tables do not scale.
- customer/supplier/part/orders/lineitem: every key column shifted by
  r * stride (stride >> max key), consistently across fact/dim pairs, so
  each replica is a disjoint, join-consistent copy of the sf0.1 economy.
- events: event_id/user_id shifted — 10x the users over the same 30-day
  window (the natural way traffic scales; per-day volumes grow 10x,
  per-user history keeps its shape).
- documents: doc_id shifted; text gets a 2-token replica prefix so the
  corpus is not degenerate exact-10x-duplicates, while replicas stay
  NEAR-duplicates — deliberately stressing the banded/capped dedup
  candidate generators with 10-clique near-dup groups, the worst
  realistic shape for them.
- embeddings: vec_id shifted; vectors rolled by r dims (norm-preserving,
  direction-diverse) so ANN/top-k work isn't all exact ties.

Caveat recorded here once: vocabulary does NOT grow with this corpus (real
10x corpora add tail vocab), so vocab-growth-sensitive rows (zipf, oov,
coverage-curve) scale their row counts, not their distinct-token counts.

Usage: python tools/make_scale_data.py [replicas] [out_dir]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from wikipedia_org_xmldump_importer_spark.io import load_table  # noqa: E402
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402

SRC = "/root/testdata/sf0.1"

# Strides comfortably above each key's sf0.1 max (orders max ~600k,
# lineitem orderkey shares it; events max 100k).
K_CUST = 1_000_000
K_ORDER = 10_000_000
K_PART = 1_000_000
K_SUPP = 1_000_000
K_EVENT = 10_000_000
K_USER = 1_000_000
K_DOC = 1_000_000
K_VEC = 1_000_000

_EMB_DIM = 64


def _replicate(df: DataFrame, replicas: int, shifts: dict, extra=None) -> DataFrame:
    """One-pass replication: explode a replica index, shift key columns.

    At real scale this shape matters: the explode multiplies rows inside the
    scan stage (no shuffle, no driver loop), so a 10x write parallelizes to
    the input partition count.
    """
    out = df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
    for col, stride in shifts.items():
        out = out.withColumn(col, (F.col(col) + F.col("_r") * stride).cast("long"))
    if extra is not None:
        out = extra(out)
    return out.drop("_r").select(*df.columns)


def main() -> None:
    ap = argparse.ArgumentParser(description="Write a key-shifted replica scale-up of sf0.1.")
    ap.add_argument("replicas", nargs="?", type=int, default=10)
    ap.add_argument(
        "out_dir",
        nargs="?",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata", "sf1"
        ),
    )
    args = ap.parse_args()
    replicas, out_dir = args.replicas, args.out_dir
    spark = build_session(app_name="make_scale_data")

    def write(df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
        print(f"wrote {name}: {spark.read.parquet(os.path.join(out_dir, f'{name}.parquet')).count()} rows")

    for dim in ("region", "nation"):
        write(load_table(spark, SRC, dim), dim)

    write(
        _replicate(load_table(spark, SRC, "customer"), replicas, {"c_custkey": K_CUST}),
        "customer",
    )
    write(
        _replicate(load_table(spark, SRC, "supplier"), replicas, {"s_suppkey": K_SUPP}),
        "supplier",
    )
    write(
        _replicate(load_table(spark, SRC, "part"), replicas, {"p_partkey": K_PART}),
        "part",
    )
    write(
        _replicate(
            load_table(spark, SRC, "orders"),
            replicas,
            {"o_orderkey": K_ORDER, "o_custkey": K_CUST},
        ),
        "orders",
    )
    write(
        _replicate(
            load_table(spark, SRC, "lineitem"),
            replicas,
            {"l_orderkey": K_ORDER, "l_partkey": K_PART, "l_suppkey": K_SUPP},
        ),
        "lineitem",
    )

    # events: load_table normalizes ts to TIMESTAMP_NTZ micros + ts_us; write
    # the native columns back (MICROS footer — load_table's other branch).
    ev = load_table(spark, SRC, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    write(
        _replicate(ev, replicas, {"event_id": K_EVENT, "user_id": K_USER}),
        "events",
    )

    docs = load_table(spark, SRC, "documents")
    write(
        _replicate(
            docs,
            replicas,
            {"doc_id": K_DOC},
            extra=lambda d: d.withColumn(
                "text",
                F.when(F.col("_r") == 0, F.col("text")).otherwise(
                    F.concat(F.lit("rep "), F.col("_r").cast("string"), F.lit(" "), F.col("text"))
                ),
            ).withColumn("n_chars", F.length("text").cast(docs.schema["n_chars"].dataType)),
        ),
        "documents",
    )

    emb = load_table(spark, SRC, "embeddings")
    vec_t = emb.schema["embedding"].dataType

    def roll(d: DataFrame) -> DataFrame:
        v, r = F.col("embedding"), F.col("_r")
        rolled = F.concat(
            F.slice(v, r + 1, F.lit(_EMB_DIM) - r), F.slice(v, F.lit(1), r)
        )
        return d.withColumn(
            "embedding",
            F.when(r == 0, v).otherwise(rolled).cast(vec_t),
        )

    write(
        _replicate(emb, replicas, {"vec_id": K_VEC}, extra=roll),
        "embeddings",
    )
    print(f"done -> {out_dir} ({replicas} replicas)")


if __name__ == "__main__":
    main()
