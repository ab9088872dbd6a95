"""Parallelism-invariance audit (round 9): every query's RESULT must be
independent of the shuffle layout.

A distributed engine that is only correct at one partition count is not
correct: float summation order, collect_list element order, unstable
tie-breaks and per-partition RNG all shift when the shuffle topology
changes, and the house rules (round-pinning, array_sort, total-order
tie-breaks) exist precisely to make results layout-independent. This tool
PROVES that fleet-wide: each registered SQL-oracle query runs twice in one
session —

  conf A: the standard shape (AQE on, spark.sql.shuffle.partitions=32), and
  conf B: an adversarial shape (AQE OFF — no runtime coalescing to hide
          behind — with a deliberately awkward prime partition count 7),

and the two results are compared exactly (same normalization as
tools/check_oracle.py: columns sorted, rows sorted, cells normalized).

Queries registered WITHOUT an oracle are skipped: the rows-only set is
declared engine/layout-specific (per-partition RNG in sample_frac, sketch
internals, banding order) and is covered by property tests instead.

``--arrow`` switches to the SECOND invariance axis: Arrow batch size.
Every mapInPandas/applyInPandas kernel in the repo argues its batch-local
work composes exactly across batches (batch-local top-k + global re-rank,
per-group folds, per-row parsers); that argument is only true if results
are identical at ANY spark.sql.execution.arrow.maxRecordsPerBatch. The
mode compares the default (10k) against an adversarial 7 rows/batch over
exactly the queries whose source touches a pandas kernel.

Usage::

    python tools/check_invariance.py [--sf /root/testdata/sf0.001] [name ...]
    python tools/check_invariance.py --arrow      # batch-size axis
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, ".")

from check_oracle import to_rows  # noqa: E402  (same dir)

from wikipedia_org_xmldump_importer_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402

CONF_A = {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "32"}
CONF_B = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "7"}

ARROW_A = {"spark.sql.execution.arrow.maxRecordsPerBatch": "10000"}
ARROW_B = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}


def pandas_kernel_queries() -> list[str]:
    """Registered queries whose source touches a pandas/Arrow kernel."""
    import inspect

    out = []
    for n, qd in REGISTRY.items():
        src = inspect.getsource(qd.fn)
        if any(
            key in src
            for key in (
                "mapInPandas",
                "applyInPandas",
                "pandas_udf",
                "_gemm_local_topk",
                # helpers that wrap a pandas/Arrow kernel out of the fn's
                # own source (r13: x367 calls the k1 bitmap screen, whose
                # mapInPandas lives in functions/bloom.py)
                "screen_with_bitmap",
            )
        ):
            out.append(n)
    return out


def run_once(spark, name: str, sf_dir: str):
    pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
    return to_rows(pdf)


def main() -> int:
    ap = argparse.ArgumentParser()
    # default honors $SPARK_GRAFT_SF_DIR like bench.py (r13 landmine:
    # env-var invocations silently ran at the hard default); --sf wins.
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    ap.add_argument("--arrow", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    _ensure_loaded()
    if args.arrow:
        conf_a, conf_b = ARROW_A, ARROW_B
        names = args.names or pandas_kernel_queries()
        # rows-only pandas queries are checked too: their sampling/
        # bucketing is hash-derived, never batch-derived, so even the ANN
        # paths must be (and are) batch-size
        # invariant
        skip_names: set[str] = set()
    else:
        conf_a, conf_b = CONF_A, CONF_B
        names = args.names or [
            n for n in REGISTRY if REGISTRY[n].oracle is not None
        ]
        skip_names = {n for n in REGISTRY if REGISTRY[n].oracle is None}
    spark = build_session(app_name="invariance")

    n_ok = n_fail = n_skip = 0
    for name in names:
        if name in skip_names:
            print(f"skip  {name}: rows-only (declared layout-specific)")
            n_skip += 1
            continue
        t0 = time.time()
        try:
            for k, v in conf_a.items():
                spark.conf.set(k, v)
            cols_a, rows_a = run_once(spark, name, args.sf)
            for k, v in conf_b.items():
                spark.conf.set(k, v)
            cols_b, rows_b = run_once(spark, name, args.sf)
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {str(e).splitlines()[0][:160]}")
            n_fail += 1
            continue
        finally:
            for k, v in conf_a.items():
                spark.conf.set(k, v)
        if cols_a != cols_b:
            print(f"FAIL  {name}: columns differ across layouts")
            n_fail += 1
        elif rows_a != rows_b:
            diff_i = next(
                (i for i, (x, y) in enumerate(zip(rows_a, rows_b)) if x != y),
                min(len(rows_a), len(rows_b)),
            )
            print(
                f"FAIL  {name}: {len(rows_a)} vs {len(rows_b)} rows; first "
                f"diff at sorted-row {diff_i}"
            )
            n_fail += 1
        else:
            print(f"OK    {name}: {len(rows_a)} rows [{time.time() - t0:.1f}s]")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_fail} fail, {n_skip} skipped")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
