"""Benchmark for the MediaWiki dump import and the analytics queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload as one client in a closed loop, in one Spark session on
``local[<usable cores>]``, checks every output, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. perfbench/README.md
says why each workload and metric is there.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(ROOT, ".perfbench_out")
sys.path.insert(0, ROOT)

# Every fifth of the first 50 queries in ``__spark_entry__.queries()``
# (frozen here, so a registry reorder does not change the workload).
WINDOW = (
    "flagship_star_revenue",
    "tpch_q13_custdist",
    "tpch_q19_disjunctive",
    "tpch_q6_forecast",
    "zorder_key",
    "join_inner_equi",
    "join_cross",
    "join_skew_salted",
    "agg_global",
    "agg_filtered_pivot",
)

# ``op_s`` is the steady time of one import, or of one pass over the queries,
# on a 4-core host. The window runs a fixed number of them, sized from
# --seconds, so every run of a workload times the same work.
WORKLOADS = {
    "import_full": {"kind": "import", "mb": 16, "shards": 8, "op_s": 3.0},
    "driver_window": {"kind": "queries", "sf": "sf0.001", "names": WINDOW, "op_s": 3.75},
}

JDBC_URL = "jdbc:derby:memory:perfbench;create=true"
JDBC_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
JDBC_TABLES = ("page", "redirect", "pagelinks_resolved")
WARMUP_IMPORTS = 2
WARMUP_PASSES = 2
# A traced query's build + plan + exec must cover its wall time to within
# this share; the rest is the benchmark switching job groups.
LAYER_SUM_TOLERANCE = 0.05

QUERY_MODULES = ("aggregates", "flagship", "joins", "scans")
MODULE_FIELDS = {
    "build_s": "s", "build_jobs": "count", "exec_s": "s", "jobs": "count",
    "shuffle_write_bytes": "bytes", "executor_cpu_s": "s",
}
SPARK_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "input_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
}
PER_LAYER = {
    "sources.scan_xml_pages.s": "s",
    "sources.scan_xml_pages.mb_per_s": "MB/s",
    "sources.flatten_pages.s": "s",
    "sources.flatten_revisions.s": "s",
    "sources.flatten_contributors.s": "s",
    "sources.flatten_text.s": "s",
    "sources.extract_wikilinks.s": "s",
    "sources.resolve_redirect_chains.s": "s",
    "io.sink_parquet.s": "s",
    "io.sink_parquet.out_bytes_per_in_byte": "ratio",
    "io.sink_jdbc.s": "s",
    "io.sink_jdbc.rows_per_s": "1/s",
    "sources.import_dump_full.input_bytes_per_dump_byte": "ratio",
    "sources.import_dump_full.cached_bytes_peak": "bytes",
    "sources.import_dump_full.cached_bytes_after": "bytes",
    "sources.bz2_decode_s": "s",
    "sources.scan_xml_pages_meta.s": "s",
    "io.load_table.s": "s",
    "io.load_table.jobs": "count",
    "cbo.register_tables_with_stats.s": "s",
    "io.load_table.catalog_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_s": "s",
    "queries.unattributed_frac": "frac",
    "spark.exec_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_FIELDS.items()},
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    **{
        f"queries.{m}.{k}": u
        for m in QUERY_MODULES
        for k, u in MODULE_FIELDS.items()
    },
    "trace.overhead_s": "s",
    "trace.overhead_frac": "frac",
    "trace.op_p50_s": "s",
    "trace.spans": "count",
    "process.peak_rss_mb": "MB",
}
END_TO_END = {
    "setup_s": "s",
    "import_mb_per_s": "MB/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "queries_per_s": "1/s",
    "ok_frac": "frac",
}


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.

    Steal is time the hypervisor ran something else on this machine's
    virtual CPUs. On a shared host it is what slows whole runs, so each run
    logs its share.
    """
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def noop(df) -> None:
    """Run the whole plan, every column, without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


class Run:
    """What one workload run measured."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.setup_s = 0.0
        self.op_s: list[float] = []  # wall time of each operation in the window
        # The end-to-end figures, from medians so that a burst of load from
        # other tenants during one operation does not move them.
        self.p50_s = 0.0
        self.ops_per_s = 0.0
        self.mb_per_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {name: 0.0 for name in PER_LAYER}
        self.overhead_s = 0.0  # tracing bookkeeping outside the timed calls

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED {what}")


def window_ops(wl: dict, seconds: float) -> int:
    return max(1, round(seconds / wl["op_s"]))


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples above it, and which
    percentile that is; the median when the run has too few samples."""
    xs = sorted(samples)
    k = len(xs) - 10  # 1-based rank with ten samples beyond it
    if k <= len(xs) / 2:
        return statistics.median(xs), 50
    return xs[k - 1], round(100 * k / len(xs))


# ---------------------------------------------------------------------------
# Import workload
# ---------------------------------------------------------------------------


def run_import(spark, probe, tracer, wl: dict, seed: int, seconds: float,
               run: Run, work: str) -> None:
    from check import jdbc_rows, parquet_digest, parquet_rows
    from dumpgen import generate

    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import import_dump_full

    t = now()
    with tracer.span("generate"):
        dump = generate(os.path.join(work, "plain"), wl["mb"], wl["shards"], seed)
    run.setup_s += now() - t
    src = os.path.dirname(dump.files[0])
    out = os.path.join(work, "out")

    def one_import():
        import_dump_full(spark, src, out, jdbc_url=JDBC_URL, jdbc_properties=JDBC_PROPS)

    def verify(ref):
        page = parquet_digest(f"{out}/page.parquet")
        rev = parquet_digest(f"{out}/revision.parquet")
        ok = page[0] == dump.pages and rev[0] == dump.revisions
        ok = ok and (ref is None or (page, rev) == ref)
        for name in JDBC_TABLES:
            db = jdbc_rows(spark.sparkContext._jvm, JDBC_URL, f"wiki_{name}")
            ok = ok and db == parquet_rows(f"{out}/{name}.parquet")
        return ok, (page, rev)

    # Warm-up: in a fresh JVM the import takes about 18 s, then 7, 5.5,
    # 4.5 and about 4 s from the fifth on, so the window's median falls on
    # the flat part. The first output, checked against the generator, is
    # the reference every later import must reproduce.
    with tracer.span("warmup"):
        for i in range(WARMUP_IMPORTS):
            spark.catalog.clearCache()
            t = now()
            one_import()
            run.setup_s += now() - t
            if i == 0:
                spark.catalog.clearCache()
                ok, ref = verify(None)
                run.record(ok, "warm-up import")

    totals: Counter = Counter()
    for i in range(1, window_ops(wl, seconds) + 1):
        group = f"import:{i}"
        # import_dump_full returns with its parsed pages still cached; every
        # import starts on a cleared cache.
        spark.catalog.clearCache()
        try:
            with tracer.span("import_dump_full") as span:
                if run.traced:
                    probe.group(group)
                    read0 = probe.file_bytes_read()
                with probe.cached_bytes_peak() if run.traced else nullcontext() as peak:
                    t = now()
                    one_import()
                    wall = now() - t
            if run.traced:
                t = now()
                counts = probe.group_totals(group)
                counts["file_bytes_read"] = probe.file_bytes_read() - read0
                counts["cached_bytes_peak"] = peak["peak"]
                counts["cached_bytes_after"] = probe.cached_bytes()
                probe.clear_group()
                span["counts"] = dict(counts)
                totals.update(counts)
                run.overhead_s += now() - t
            spark.catalog.clearCache()
            with tracer.span("verify"):
                ok, _ = verify(ref)
            run.op_s.append(wall)
        except Exception:  # noqa: BLE001 - a failed import is counted, the run goes on
            traceback.print_exc()
            ok = False
        run.record(ok, f"import {i}")
    if run.op_s:
        run.p50_s = statistics.median(run.op_s)
        run.ops_per_s = 1 / run.p50_s
        run.mb_per_s = dump.bytes / 1e6 / run.p50_s

    if not run.traced or not run.op_s:
        return
    n = len(run.op_s)
    lay = run.layer
    lay["spark.exec_s"] = sum(run.op_s) / n
    spark_layers(run, totals, n)
    lay["sources.import_dump_full.input_bytes_per_dump_byte"] = (
        totals["file_bytes_read"] / n / dump.bytes
    )
    lay["sources.import_dump_full.cached_bytes_peak"] = totals["cached_bytes_peak"] / n
    lay["sources.import_dump_full.cached_bytes_after"] = totals["cached_bytes_after"] / n
    run.layer["trace.overhead_s"] = run.overhead_s / n
    spark.catalog.clearCache()
    with tracer.span("layers"):
        import_layers(spark, tracer, run, src, dump, work)
        bz2_layers(spark, tracer, run, dump, work)


def timed(tracer, name: str, fn) -> float:
    with tracer.span(name):
        t = now()
        fn()
        return now() - t


def import_layers(spark, tracer, run: Run, src: str, dump, work: str) -> None:
    """Each stage of import_dump_full on its own: the parse on a cleared
    cache with every column materialized, each flatten and the link stages
    over the cached pages, then each sink over cached inputs."""
    from wikipedia_org_xmldump_importer_spark.io import sink_jdbc, sink_parquet
    from wikipedia_org_xmldump_importer_spark.sources import xml_pages as xp

    scan_s = timed(tracer, "sources.scan_xml_pages",
                   lambda: noop(xp.scan_xml_pages(spark, src)))
    run.layer["sources.scan_xml_pages.s"] = scan_s
    run.layer["sources.scan_xml_pages.mb_per_s"] = dump.bytes / 1e6 / scan_s
    pages = xp.scan_xml_pages(spark, src).cache()
    pages.count()
    for name in ("flatten_pages", "flatten_revisions", "flatten_contributors",
                 "flatten_text", "extract_wikilinks", "resolve_redirect_chains"):
        fn = getattr(xp, name)
        run.layer[f"sources.{name}.s"] = timed(
            tracer, f"sources.{name}", lambda fn=fn: noop(fn(pages))
        )
    spark.catalog.clearCache()

    frames = xp.import_dump_full(spark, src, os.path.join(work, "stage_in"))
    rows = {name: df.cache().count() for name, df in frames.items()}
    sunk = os.path.join(work, "sunk")
    run.layer["io.sink_parquet.s"] = timed(tracer, "io.sink_parquet", lambda: [
        sink_parquet(df, f"{sunk}/{name}.parquet") for name, df in frames.items()
    ])
    run.layer["io.sink_parquet.out_bytes_per_in_byte"] = du(sunk) / dump.bytes
    jdbc_s = timed(tracer, "io.sink_jdbc", lambda: [
        sink_jdbc(frames[name], JDBC_URL, f"layer_{name}", mode="overwrite",
                  num_partitions=4, properties=JDBC_PROPS)
        for name in JDBC_TABLES
    ])
    run.layer["io.sink_jdbc.s"] = jdbc_s
    run.layer["io.sink_jdbc.rows_per_s"] = sum(rows[n] for n in JDBC_TABLES) / jdbc_s
    spark.catalog.clearCache()


def bz2_layers(spark, tracer, run: Run, dump, work: str) -> None:
    """The metadata-only (pruned-schema) parse of a bz2 twin of the dump,
    and bz2 decode as that minus the same parse of the plain shards, each
    on a cleared cache."""
    from dumpgen import compress_bz2

    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import scan_xml_pages

    plain_dir = os.path.dirname(dump.files[0])
    bz2_dir = os.path.dirname(compress_bz2(dump, os.path.join(work, "bz2"))[0])

    def meta_scan(path):
        spark.catalog.clearCache()
        return timed(tracer, f"sources.scan_xml_pages_meta:{os.path.basename(path)}",
                     lambda: noop(scan_xml_pages(spark, path, include_text=False)))

    bz2_s = meta_scan(bz2_dir)
    run.layer["sources.scan_xml_pages_meta.s"] = bz2_s
    run.layer["sources.bz2_decode_s"] = bz2_s - meta_scan(plain_dir)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def spark_layers(run: Run, totals: Counter, passes: int) -> None:
    for key in SPARK_FIELDS:
        run.layer[f"spark.{key}"] = totals[key] / passes


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def run_queries(spark, probe, tracer, wl: dict, seed: int, seconds: float,
                run: Run) -> None:
    from check import canonical, duck_con
    from probe import phases_ms

    from wikipedia_org_xmldump_importer_spark.cbo import register_tables_with_stats
    from wikipedia_org_xmldump_importer_spark.io import TABLES, load_table
    from wikipedia_org_xmldump_importer_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = os.path.join(DATA, wl["sf"])
    con = duck_con(sf_dir)
    expected = {n: canonical(con.sql(REGISTRY[n].oracle).df()) for n in wl["names"]}
    con.close()
    rng = random.Random(seed)
    order = list(wl["names"])

    def one_query(name: str, tag: str, traced: bool) -> dict | None:
        qd = REGISTRY[name]
        rec = {"name": name, "module": qd.fn.__module__.rsplit(".", 1)[-1]}
        try:
            with tracer.span(f"query:{name}") as span:
                if traced:
                    probe.group(f"{tag}:build")
                t0 = now()
                with tracer.span("build"):
                    df = qd.fn(spark, sf_dir)
                t1 = now()
                if traced:
                    probe.group(f"{tag}:plan")
                t2 = now()
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                t3 = now()
                if traced:
                    probe.group(f"{tag}:exec")
                t4 = now()
                with tracer.span("exec"):
                    pdf = df.toPandas()
                t5 = now()
            rec.update(build=t1 - t0, plan=t3 - t2, exec=t5 - t4, wall=t5 - t0)
            if traced:
                t = now()
                rec["phases"] = phases_ms(df._jdf)
                rec["counts"] = {
                    ph: probe.group_totals(f"{tag}:{ph}")
                    for ph in ("build", "plan", "exec")
                }
                probe.clear_group()
                span["counts"] = {ph: dict(c) for ph, c in rec["counts"].items()}
                run.overhead_s += now() - t
            ok = canonical(pdf) == expected[name]
        except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
            traceback.print_exc()
            ok, rec = False, None
        run.record(ok, f"{name} ({tag})")
        return rec

    # Warm-up: in a fresh JVM one pass takes about 20 s, then 6.6, 5.5, 5.2
    # and 4.8 s, so the window starts where the drift has mostly settled.
    # Every warm-up output is checked against the oracle too.
    t = now()
    with tracer.span("warmup"):
        for p in range(WARMUP_PASSES):
            rng.shuffle(order)
            for i, name in enumerate(order):
                one_query(name, f"warm{p}:{i}", traced=False)
    run.setup_s += now() - t

    recs: list[dict] = []
    passes = window_ops(wl, seconds)
    for p in range(passes):
        rng.shuffle(order)
        for i, name in enumerate(order):
            rec = one_query(name, f"p{p}:{i}:{name}", run.traced)
            if rec is not None:
                recs.append(rec)
                run.op_s.append(rec["wall"])
    # Each query's median over the passes; a typical pass is their sum.
    by_name: dict[str, list[float]] = {}
    for rec in recs:
        by_name.setdefault(rec["name"], []).append(rec["wall"])
    if by_name:
        typical = [statistics.median(xs) for xs in by_name.values()]
        pass_s = sum(typical)
        data_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
        run.p50_s = statistics.median(typical)
        run.ops_per_s = len(typical) / pass_s
        run.mb_per_s = data_bytes / 1e6 / pass_s

    if not run.traced:
        return
    for rec in recs:
        covered = rec["build"] + rec["plan"] + rec["exec"]
        run.record(
            rec["wall"] - covered <= LAYER_SUM_TOLERANCE * rec["wall"],
            f"{rec['name']} layer times cover its wall time",
        )
    lay = run.layer
    lay["queries.build_s"] = sum(r["build"] for r in recs) / passes
    lay["queries.plan_s"] = sum(r["plan"] for r in recs) / passes
    lay["spark.exec_s"] = sum(r["exec"] for r in recs) / passes
    lay["queries.unattributed_frac"] = 1 - sum(
        r["build"] + r["plan"] + r["exec"] for r in recs
    ) / sum(r["wall"] for r in recs)
    totals: Counter = Counter()
    for rec in recs:
        every = sum(rec["counts"].values(), Counter())
        totals.update(every)
        lay["queries.build_jobs"] += rec["counts"]["build"]["jobs"] / passes
        for ph, ms in rec["phases"].items():
            lay[f"spark.{ph}_ms"] += ms / passes
        m = rec["module"]
        if m not in QUERY_MODULES:
            continue
        lay[f"queries.{m}.build_s"] += rec["build"] / passes
        lay[f"queries.{m}.build_jobs"] += rec["counts"]["build"]["jobs"] / passes
        lay[f"queries.{m}.exec_s"] += rec["exec"] / passes
        lay[f"queries.{m}.jobs"] += every["jobs"] / passes
        lay[f"queries.{m}.shuffle_write_bytes"] += every["shuffle_write_bytes"] / passes
        lay[f"queries.{m}.executor_cpu_s"] += every["executor_cpu_s"] / passes
    spark_layers(run, totals, passes)

    lay["trace.overhead_s"] = run.overhead_s / passes

    def load_all(group: str) -> float:
        with tracer.span(group):
            probe.group(group)
            t = now()
            for name in TABLES:
                load_table(spark, sf_dir, name)
            return now() - t

    # All ten tables in this session, then in the catalog-with-stats
    # session bench.py uses, where no load launches a schema-inference job.
    lay["io.load_table.s"] = load_all("load_table")
    lay["io.load_table.jobs"] = probe.group_totals("load_table")["jobs"]
    with tracer.span("cbo.register_tables_with_stats"):
        probe.group("register")
        t = now()
        register_tables_with_stats(spark, sf_dir)
        lay["cbo.register_tables_with_stats.s"] = now() - t
    load_all("load_table_catalog")
    lay["io.load_table.catalog_jobs"] = probe.group_totals("load_table_catalog")["jobs"]
    probe.clear_group()


# ---------------------------------------------------------------------------
# Process set-up and teardown
# ---------------------------------------------------------------------------


def isolate(work: str, cores: int) -> None:
    """Keep every file Spark, Derby and Python write inside ``work``; pin
    the core count and a heap small enough for a shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    java_opts = (
        f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
    )
    # Every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.terminate()
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work, cores)
    steal0, total0 = cpu_jiffies()
    try:
        from probe import SparkProbe, Tracer, peak_rss_mb

        from wikipedia_org_xmldump_importer_spark.session import build_session

        run = Run(bool(args.trace))
        tracer = Tracer(run.traced)
        with tracer.span(f"run:{args.workload}"):
            with tracer.span("session.build_session"):
                t = now()
                spark = build_session(app_name=f"perfbench-{args.workload}")
                run.setup_s += now() - t
            try:
                probe = SparkProbe(spark)
                if wl["kind"] == "import":
                    run_import(spark, probe, tracer, wl, args.seed, args.seconds, run, work)
                else:
                    run_queries(spark, probe, tracer, wl, args.seed, args.seconds, run)
                run.layer["process.peak_rss_mb"] = peak_rss_mb(probe.jvm_pid())
            finally:
                stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = cpu_jiffies()
    steal_pct = 100 * (steal1 - steal0) / max(total1 - total0, 1)
    tail_s, tail_pct = tail(run.op_s) if run.op_s else (0.0, 0)
    log(
        f"{args.workload} seed={args.seed}: {len(run.op_s)} timed operations, "
        f"query_tail_s is p{tail_pct}, {cores} cores, host steal {steal_pct:.1f}% "
        "of CPU time; operation seconds: "
        + " ".join(f"{x:.3f}" for x in run.op_s)
    )
    if run.traced:
        run.layer["trace.op_p50_s"] = run.p50_s
        run.layer["trace.overhead_frac"] = run.overhead_s / (sum(run.op_s) + run.overhead_s)
        run.layer["trace.spans"] = len(tracer.spans)
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans}, fh)
        log(f"spans written to {path}")
        metrics = {k: {"value": run.layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": run.setup_s,
            "import_mb_per_s": run.mb_per_s,
            "query_p50_s": run.p50_s,
            "query_tail_s": tail_s,
            "queries_per_s": run.ops_per_s,
            "ok_frac": 1 - run.failed / max(run.attempted, 1),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
