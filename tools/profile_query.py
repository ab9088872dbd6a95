"""Per-query profiler for the optimization rounds (guide §1: measure first).

For each named query, reports:

  * ``build``   — seconds to call the registry fn (DataFrame construction:
                  Python-side plan assembly, any eager localCheckpoint jobs
                  the query runs at build time).
  * ``plan``    — seconds for ``explain("formatted")`` on a freshly built
                  frame (Catalyst analysis + optimization + physical
                  planning, no execution).
  * ``run1..N`` — per-shot wall seconds for build+noop-materialize (exactly
                  the bench's timed region), so run1 includes first-run
                  codegen and later shots show the warm floor.
  * plan shape  — Exchange count, join node names, Python-eval node names,
                  WholeStageCodegen span count, scan PushedFilters presence.

Optionally writes the formatted plan to ``--plans-dir/<name>_<tag>.txt`` —
the committed evidence artifact for the optimization judge.

Usage:
    python tools/profile_query.py [--sf DIR] [--repeats N]
        [--plans-dir /tmp/plans --tag before] name [name ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from wikipedia_org_xmldump_importer_spark.cbo import (  # noqa: E402
    register_tables_with_stats,
)
from wikipedia_org_xmldump_importer_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_shape(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": sorted(set(re.findall(r"\b(\w*Join\w*)\b", plan)) - {"Join"}),
        "python": sorted(
            set(
                re.findall(
                    r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                    r"MapInPandas|FlatMapGroupsInPandas)\b",
                    plan,
                )
            )
        ),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "aqe": "AdaptiveSparkPlan" in plan,
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "rows": len(plan.splitlines()),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    _ensure_loaded()
    spark = build_session(app_name="profile_query")
    if not args.no_warm:
        for warm_q in ("scan_parquet", "flagship_star_revenue", "udf_scalar_arrow"):
            try:
                REGISTRY[warm_q].fn(spark, "/root/testdata/sf0.001").write.format(
                    "noop"
                ).mode("overwrite").save()
            except Exception:
                pass
    register_tables_with_stats(spark, args.sf)

    for name in args.names:
        qd = REGISTRY[name]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"profile: {name}")

        t0 = time.perf_counter()
        df = qd.fn(spark, args.sf)
        build_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        plan = formatted_plan(df)
        plan_s = time.perf_counter() - t0

        runs = []
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            qd.fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))

        rec = {
            "name": name,
            "build": round(build_s, 3),
            "plan": round(plan_s, 3),
            "runs": runs,
            "shape": plan_shape(plan),
        }
        print(json.dumps(rec))
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
            with open(out, "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
