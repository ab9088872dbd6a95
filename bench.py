"""Benchmark harness (driver contract + BASELINE.md operational plan).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized JVM-side via the ``noop`` sink so the timing
covers the full physical plan (scan → shuffle → result) without paying
driver-side collect/Arrow costs that a real pipeline wouldn't pay.

Sub-second queries are timed up to ``$SPARK_GRAFT_BENCH_REPEATS`` times
(default 3) and report their MEDIAN: at 0.3 s granularity a single shot
carries ±50% scheduler/GC noise (r4 verdict flagged two sub-second queries
breaching their 2x budget on exactly that). A query whose fastest sample so
far is >= 1 s stops repeating after two shots — noise is proportionally
small there, and repeating the slow tail would triple the sweep's wall
clock for nothing.

Rows whose in-sweep median exceeds ``SPARK_GRAFT_BENCH_ISOLATE_FACTOR``
(default 2) x their committed BENCH.json budget are automatically
re-measured in a FRESH SUBPROCESS JVM after the sweep ends (5 repeats,
median) and the isolated number is reported, with the substitution logged
to stderr and listed under ``"isolated"`` in the JSON.

Why a subprocess (r13 verdict task 1): the previous same-session isolation
pass ran in the saturated tail of a ~30-min sweep inside the same JVM, so
it inherited GC/codegen pressure (trap #14) and manufactured false
regressions two rounds running (r12: rfm_segments + five window rows; r13:
dedup_embed_cosine 11.8 s in-sweep vs 1.5 s clean-session) — each costing a
manual adjudication. A fresh JVM is exactly the "dedicated isolated run"
those adjudications performed by hand. Disable with
``SPARK_GRAFT_BENCH_ISOLATE=0`` to see raw in-sweep numbers.

``SPARK_GRAFT_BENCH_ISOLATE_FACTOR`` exists for off-budget-scale sweeps:
the committed budgets are sf0.1 numbers, so an sf1 sweep flags nearly every
row at factor 2 (r13 re-measured 257 rows for nothing). The sf1 harness
runs with factor ~15 so only genuinely super-linear rows pay a re-measure.

Usage:
    python bench.py                  # all queries, warm timing
    python bench.py q1 q2 ...        # subset
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
    SPARK_GRAFT_BENCH_REPEATS=1 python bench.py   # old single-shot mode
    SPARK_GRAFT_BENCH_ISOLATE=0 python bench.py   # no auto-re-measure pass
    SPARK_GRAFT_BENCH_OUT=/tmp/x.json python bench.py q1   # full payload here
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wikipedia_org_xmldump_importer_spark.cbo import (  # noqa: E402
    register_tables_with_stats,
)
from wikipedia_org_xmldump_importer_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402


# Printed-line budget: the driver's tail capture is 2000 chars (measured: a
# recorded full-registry "tail" is exactly 2000 chars of a truncated line), and
# stderr WARN lines share that window. r12 judge task 5: keep the printed
# headline under 1500 chars so the whole line survives even with a few
# hundred chars of interleaved stderr framing.
_TAIL_BUDGET = 1500

# Representative queries whose timings always ride in the printed line's
# small "queries" map (driver-contract key): the flagship star query and the
# canonical TPC-H pricing summary. Everything else lives in BENCH_FULL.json.
HEADLINE_QUERIES = (
    "flagship_star_revenue",
    "tpch_q1_pricing_summary",
)


def format_bench_line(payload: dict) -> str:
    """Render the driver-facing stdout line, guaranteed <= _TAIL_BUDGET chars.

    If the full payload fits (subset runs), print it verbatim. Otherwise
    print the r12-judge headline — aggregate total, n_queries, n_failed,
    median_vs_budget, worst5 (vs-budget ratios) — plus a two-query
    representative "queries" map, pointing at BENCH_FULL.json for the rest.
    Shrink steps if still over budget: truncate "isolated", drop "worst5",
    then (r12 advisor) drop "queries"/"isolated" entirely — the aggregate
    metric always survives unconditionally.
    """
    line = json.dumps(payload)
    if len(line) <= _TAIL_BUDGET:
        return line
    timings = payload["queries"]
    compact = {
        k: v
        for k, v in payload.items()
        if k not in ("queries", "isolated", "worst5")
    }
    compact["queries"] = {n: timings[n] for n in HEADLINE_QUERIES if n in timings}
    compact["queries_full"] = "BENCH_FULL.json"
    compact["isolated"] = list(payload.get("isolated", []))[:8]
    if "worst5" in payload:
        compact["worst5"] = payload["worst5"]
    line = json.dumps(compact)
    # Drop order (r13 review): sacrifice the representative timings and the
    # isolated list BEFORE worst5 — worst5 carries the vs-budget content
    # the judge reads; it goes last, and only if nothing else fits.
    for drop in ("isolated", "queries", "worst5"):
        if len(line) <= _TAIL_BUDGET:
            break
        compact.pop(drop, None)
        if drop == "queries":
            # r13 advisor: 'queries_full' is a pointer INTO the 'queries'
            # content; keeping it after the map is dropped dangles.
            compact.pop("queries_full", None)
        line = json.dumps(compact)
    return line


def isolate_fresh_session(
    names: list[str], sf_dir: str, repeats: int = 5, timeout: int = 1800
) -> dict[str, float]:
    """Re-measure ``names`` in a FRESH subprocess JVM; return their medians.

    Spawns ONE child ``python bench.py name1 name2 ...`` (JVM startup
    amortized across all suspects) with isolation disabled in the child
    (recursion guard) and the full payload directed at a temp file via
    ``SPARK_GRAFT_BENCH_OUT`` — the printed line may legally shrink past
    the per-query map when many names are passed, so the out-file, not
    stdout, is the parse surface. Returns {} on any child failure: the
    caller keeps the in-sweep numbers, which is the honest fallback.
    """
    if not names:
        return {}
    out_path = None
    try:
        fd, out_path = tempfile.mkstemp(prefix="bench_iso_", suffix=".json")
        os.close(fd)
        env = dict(os.environ)
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        env["SPARK_GRAFT_BENCH_REPEATS"] = str(repeats)
        env["SPARK_GRAFT_BENCH_ISOLATE"] = "0"
        env["SPARK_GRAFT_BENCH_OUT"] = out_path
        script = os.path.abspath(__file__)
        proc = subprocess.run(
            [sys.executable, script, *names],
            env=env,
            capture_output=True,
            text=True,
            timeout=timeout,
        )
        if proc.returncode != 0:
            print(
                f"BENCH ISOLATE subprocess rc={proc.returncode}: "
                f"{proc.stderr[-500:]}",
                file=sys.stderr,
            )
            return {}
        with open(out_path) as fh:
            payload = json.load(fh)
        return {
            n: t
            for n, t in payload.get("queries", {}).items()
            if n in set(names) and isinstance(t, (int, float)) and t >= 0
        }
    except (OSError, subprocess.TimeoutExpired, json.JSONDecodeError) as e:
        print(f"BENCH ISOLATE subprocess failed: {e}", file=sys.stderr)
        return {}
    finally:
        if out_path is not None:
            try:
                os.unlink(out_path)
            except OSError:
                pass


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def materialize(df) -> None:
    """Execute the full plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    names = sys.argv[1:] or list(REGISTRY)
    spark = build_session(app_name="bench")

    # Warm the JVM + parquet footer caches + whole-stage-codegen compiler +
    # Python UDF workers once, so per-query numbers measure the plan, not
    # session startup (cold-start is a constant, not a rate). The warm-up
    # runs at the smallest SF — it compiles the machinery, not the data.
    warm_sf = "/root/testdata/sf0.001"
    for warm_q in ("scan_parquet", "flagship_star_revenue", "udf_scalar_arrow"):
        try:
            materialize(REGISTRY[warm_q].fn(spark, warm_sf))
        except Exception:
            pass

    # CBO (SURVEY §4.2): register the parquet files as external catalog
    # tables + ANALYZE so every timed query plans with rowCount/size/column
    # stats — join reordering and stats-based broadcasts fire exactly as
    # they would on a stats-maintained production catalog. One-time setup,
    # deliberately outside the per-query timings (production amortizes
    # ANALYZE over the table's whole read life).
    register_tables_with_stats(spark, sf_dir)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    timings: dict[str, float] = {}
    for name in names:
        qd = REGISTRY[name]
        # Isolate queries: drop any cached sub-plans a previous query left
        # behind so later timings don't pay its GC/heap pressure.
        spark.catalog.clearCache()
        samples: list[float] = []
        try:
            for _ in range(repeats):
                t0 = time.perf_counter()
                materialize(qd.fn(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
                # Stop repeating once the query is PROVEN slow: min(), not
                # the first sample — a sub-second query whose first shot
                # spikes past the threshold must be re-measured (that spike
                # is exactly the noise this repeat loop exists to suppress),
                # so a single sample can never end the loop. The samples
                # must also AGREE (max/min < 2): with exactly two samples
                # the median degenerates to the mean, so breaking on a
                # [spike, true] pair would report half the spike — seen in
                # round 6 when the registry rotation moved TPC-H shapes to
                # the front of the sweep and their first shots ate residual
                # codegen warm-up (6.3 s recorded for a 1.4 s query).
                if (
                    len(samples) >= 2
                    and min(samples) >= 1.0
                    and max(samples) / min(samples) < 2.0
                ):
                    break
        except Exception as e:  # keep the sweep alive; surface in stderr
            print(f"BENCH FAIL {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
            continue
        timings[name] = round(statistics.median(samples), 3)

    # Isolated re-measure pass (r7 verdict task 7; subprocess form = r13
    # verdict task 1): sweep-order interference (residual codegen
    # compilation, GC/heap pressure accumulated over a 30-min sweep) keeps
    # producing false budget alarms that need manual trap-#14 adjudication.
    # Any row whose in-sweep median exceeds FACTOR x its committed
    # BENCH.json budget is re-measured after the sweep in a FRESH
    # SUBPROCESS JVM — the same-session variant was itself contaminated by
    # the saturated tail (two rounds of false regressions, NOTES r13 item
    # 10) — and the isolated median replaces the in-sweep number. A genuine
    # regression stays over threshold in the clean JVM and still trips the
    # budget check; a tail-saturation artifact melts away without human
    # adjudication.
    budgets = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.json")) as fh:
            budgets = json.load(fh).get("queries", {})
    except Exception:
        pass

    isolated: list[str] = []
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0":
        factor = float(os.environ.get("SPARK_GRAFT_BENCH_ISOLATE_FACTOR", "2"))
        suspects = [
            n
            for n, t in timings.items()
            if t > 0 and budgets.get(n, 0) > 0 and t > factor * budgets[n]
        ]
        if suspects:
            # Stop the parent session BEFORE spawning the child: after a
            # long sweep the parent JVM holds tens of GB of touched heap,
            # and a child JVM contending with that resident set measures
            # memory pressure, not the query (observed live at sf1:
            # dedup_containment 82 s in a child beside the live parent vs
            # 20.5 s committed clean-session). Nothing after this point
            # needs the session — the payload is pure bookkeeping.
            spark.stop()
            # r14: spark.stop() alone is NOT enough — it stops the
            # SparkContext but the gateway JVM PROCESS stays resident
            # (heap, GC threads, mmap'd shuffle files) until the Python
            # parent exits, and the child measured that contention, not
            # the query (observed live: dedup_minhash_det 2.9 s in-sweep
            # -> 11.2 s in the child beside the stopped-but-resident
            # parent, 3.2 s reproduced clean). Tear the JVM down fully.
            try:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        proc.terminate()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            except Exception as e:  # never let teardown kill the payload
                print(f"BENCH ISOLATE teardown: {e}", file=sys.stderr)
        fresh = isolate_fresh_session(suspects, sf_dir)
        for name in suspects:
            if name not in fresh:
                continue  # child failed for this row: keep in-sweep number
            print(
                f"BENCH ISOLATE {name}: sweep {timings[name]} -> "
                f"fresh-JVM {fresh[name]} (budget {budgets[name]})",
                file=sys.stderr,
            )
            timings[name] = fresh[name]
            isolated.append(name)

    ok = {k: v for k, v in timings.items() if v >= 0}
    total = round(sum(ok.values()), 3)
    # Budget ratios for the printed headline (r12 judge task 5): the judge
    # reads BENCH_r{N}.json against BASELINE.md, so put the vs-budget median
    # and the five worst offenders IN the line instead of making the judge
    # re-derive them from a per-query map the tail window can't hold.
    ratios = {
        n: t / budgets[n] for n, t in ok.items() if t > 0 and budgets.get(n, 0) > 0
    }
    payload = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "n_queries": len(names),
        "n_failed": len(timings) - len(ok),
        "repeats": repeats,
        "isolated": isolated,
    }
    if ratios:
        payload["median_vs_budget"] = round(statistics.median(ratios.values()), 3)
        worst = sorted(ratios, key=ratios.get, reverse=True)[:5]
        payload["worst5"] = {
            n: {"sec": ok[n], "vs_budget": round(ratios[n], 2)} for n in worst
        }

    # The driver keeps only the LAST ~2000 chars of stdout and JSON-parses
    # that tail. A full-registry run (400+ queries) makes the per-query dict
    # ~10 KB, so every such run's record landed with ``"parsed": null`` —
    # the headline metric never reached the driver. Fix at the source: the
    # full per-query map always goes to BENCH_FULL.json on disk, and the
    # printed line carries the aggregate metric plus the headline subset
    # (flagship + TPC-H + one representative per operator family), shrunk
    # further if needed until the line fits the tail window.
    # SPARK_GRAFT_BENCH_OUT redirects the full payload (isolation children
    # write to a temp file so they never clobber the parent's BENCH_FULL).
    full_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(payload, fh)
        print(f"BENCH FULL per-query timings -> {full_path}", file=sys.stderr)
    except OSError as e:  # read-only checkout: the stdout line still works
        print(f"BENCH FULL write skipped: {e}", file=sys.stderr)

    print(format_bench_line(payload))


if __name__ == "__main__":
    main()
