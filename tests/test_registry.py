"""Registry-wide output contracts (SURVEY §5.1).

The verification harness canonicalizes every query result with pandas
``sort_values`` before hashing. List-like cells (array/map/struct columns)
are unhashable there — ONE such column crashed the round-1 sweep at query 50
of 91 and voided 41 correctness rows. These tests make the contract
structural: no registered query may emit a non-atomic column, with or
without an oracle (even rows-only results flow through the harness).
"""

from __future__ import annotations

from conftest import SF_SMOKE
from pyspark.sql import types as T

from wikipedia_org_xmldump_importer_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

_NON_ATOMIC = (T.ArrayType, T.MapType, T.StructType)


def test_every_query_output_is_atomic(spark):
    """Schema-only check: builds each plan (no execution) and rejects any
    array/map/struct output column anywhere in the registry."""
    offenders = []
    for name, qd in REGISTRY.items():
        df = qd.fn(spark, SF_SMOKE)
        for f in df.schema.fields:
            if isinstance(f.dataType, _NON_ATOMIC):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "non-atomic output columns would crash the harness canonicalizer: "
        + "; ".join(offenders)
    )


def test_driver_window_is_priority_ordered():
    """The driver hash-checks only the first 50 entries of ``queries()``,
    so that window is frozen: it must be exactly DRIVER_PRIORITY (50
    distinct names, in order), and all 50 must carry full SQL oracles so no
    hash-check slot is spent on a rows-only entry."""
    from wikipedia_org_xmldump_importer_spark.queries import DRIVER_PRIORITY

    names = list(REGISTRY)
    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    assert tuple(names[:50]) == DRIVER_PRIORITY
    assert all(REGISTRY[n].oracle is not None for n in names[:50])


def test_survey_registry_sync():
    """SURVEY.md §2 is the declared contract; REGISTRY is the machine-checked
    mirror. Parse the §2 tables and fail on drift in either direction
    (r3/r4 verdicts both caught the registry running ahead of the doc)."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    start = text.index("## §2")
    end = text.index("## §3")
    names: set[str] = set()
    for line in text[start:end].splitlines():
        if not line.startswith("|"):
            continue
        cells = line.split("|")
        if len(cells) < 3:
            continue
        names.update(re.findall(r"`([a-z][a-z0-9_]*)`", cells[2]))
    # §2 rows exercised only via entry()/tests (oracle column `n/a`), never
    # registered in queries(): sources/sinks without oracle views and the
    # live-streaming halves whose batch twins carry the registry entry.
    test_only = {
        "import_dump_full",
        "stream_import_dump",
        "shard_dump",
        "scan_jdbc",
        "scan_multistream",
        "scan_multistream_siteinfo",
        "read_multistream_index",
        "write_multistream",
        "sink_orc",
        "scan_orc",
        "compact_parquet",
        "compact_parquet_partitioned",
        "scan_parquet_evolving",
        "union_vintages",
        "sink_zordered",
        "scan_csv_quarantine",
        "scan_csv_dropmalformed",
        "scan_csv_failfast",
        "bloom_bitmap_kernel",
        "scan_xml_pages",
        "scan_csv_json",
        "sink_parquet",
        "sink_jdbc",
        "source_stream_events",
        "sink_bucketed",
        "scan_xml_siteinfo",
        "extract_wikilinks",
        "resolve_redirect_chains",
        "revision_deltas",
        "namespaces_dim",
        "resolve_namespaces",
        "filter_namespace",
        "stream_watermark_late",
        "stream_stateful_custom",
        "stream_upsert_sink",
        "stream_ohlc_bars",
        "content_dedup",
        "match_steps_stream",
        "inter_arrival_gaps",
        "alert_hysteresis_stream",
        "near_dedup_stream",
        "stream_cms_cells",
        "ewvol_stream",
    }
    declared = names - test_only
    registered = set(REGISTRY)
    assert declared == registered, (
        f"SURVEY §2 vs registry drift: survey-only={sorted(declared - registered)}, "
        f"registry-only={sorted(registered - declared)}"
    )
    assert test_only <= names, f"stale test_only allowlist: {sorted(test_only - names)}"


def test_survey_oracle_mode_sync():
    """r5 verdict task 5: §2's per-row `oracle` cell must agree with the
    registry's oracle MODE, not just the row's existence — a row declared
    `SQL` must be registered with an oracle, one declared `rows` must be
    registered without, and an `n/a` row must not be registered at all
    (it lives in tests). Every §2 table carries the oracle column (the
    §2.9 streaming table gained per-row modes in round 6 after its blanket
    n/a header drifted below what the batch twins actually provide)."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    start = text.index("## §2")
    end = text.index("## §3")
    modes: dict[str, str] = {}
    for line in text[start:end].splitlines():
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.split("|")]
        if len(cells) < 7:
            continue
        name_cell, oracle_cell = cells[2], cells[-2]
        if oracle_cell in ("oracle", "") or set(oracle_cell) == {"-"}:
            continue
        if oracle_cell.startswith("SQL"):
            mode = "sql"
        elif oracle_cell.startswith("rows"):
            mode = "rows"
        else:
            mode = "na"
        for n in re.findall(r"`([a-z][a-z0-9_]*)`", name_cell):
            modes[n] = mode
    assert len(modes) > 100, "oracle-mode parse collapsed — check §2 table shape"
    for name, qd in REGISTRY.items():
        assert name in modes, f"{name} registered but no §2 row has an oracle cell for it"
        actual = "sql" if qd.oracle is not None else "rows"
        assert modes[name] == actual, (
            f"{name}: SURVEY declares oracle mode '{modes[name]}', registry has '{actual}'"
        )
    unregistered_claiming_checks = [
        n for n, m in modes.items() if n not in REGISTRY and m != "na"
    ]
    assert not unregistered_claiming_checks, (
        f"§2 rows declare SQL/rows oracles but are not registered: "
        f"{sorted(unregistered_claiming_checks)}"
    )


def test_oracle_coverage_accounted():
    """Every rows-only query (oracle=None) must be an op SURVEY §2 marks as
    not-SQL-expressible; catches accidentally-dropped oracles."""
    rows_only = sorted(name for name, qd in REGISTRY.items() if qd.oracle is None)
    expected = sorted(
        [
            "agg_approx_distinct",  # a4: estimator internals engine-specific
            "agg_hll_mergeable",  # x21: sketch bytes engine-specific
            "sample_frac",  # o3: RNG engine-specific
            "dedup_near_minhash",  # l2: banding prune not SQL-expressible
            "sim_ann_lsh",  # x16: bucketing engine-specific
            "sim_ann_ivf",  # x19: cell assignment engine-specific
            "sim_ann_pq",  # x132: codebooks engine-specific; recall-tested
            "fn_hash_noncrypto",  # x15: sha1/xxhash64/crc32 absent in DuckDB 1.0
            "mm_decode_stub",  # x13: stub decode output is declared fake
            "agg_percentile_sketch",  # x184: GK sketch engine-specific
            "tokenizer_bpe_train",  # x192: iterative re-tokenization
            "text_zlib_ratio",  # x270: DEFLATE byte count is library-internal
        ]
    )
    assert rows_only == expected, (
        f"rows-only set drifted: unexpected={set(rows_only) - set(expected)}, "
        f"missing={set(expected) - set(rows_only)}"
    )


def test_bench_budget_rows_in_lockstep():
    """Every registered query must have a per-query budget row in the
    committed BENCH.json (r6 verdict task 7): the 2x-regression budget is
    only enforceable if registration and benching move together. New
    operators must land with a same-session isolated-median row merged into
    BENCH.json (BASELINE.md re-record policy)."""
    import json
    from pathlib import Path

    bench = json.loads(
        Path(__file__).resolve().parent.parent.joinpath("BENCH.json").read_text()
    )
    budgeted = set(bench["queries"])
    registered = set(REGISTRY)
    missing = sorted(registered - budgeted)
    stale = sorted(budgeted - registered)
    assert not missing, f"registered queries with no BENCH.json budget row: {missing}"
    assert not stale, f"BENCH.json rows for unregistered queries: {stale}"


def test_bench_sf1_rows_in_lockstep():
    """r7 verdict task 5: the sf1 (10x replica) scaling sweep is the scale
    evidence for every operator, so BENCH_SF1.json must track registration
    the same way BENCH.json does — a new operator lands with an sf1 row
    from tools/make_scale_data.py data, or the 100x-survival claim has a
    hole exactly where the newest (least battle-tested) code is."""
    import json
    from pathlib import Path

    sf1 = json.loads(
        Path(__file__).resolve().parent.parent.joinpath("BENCH_SF1.json").read_text()
    )
    swept = set(sf1["queries"])
    registered = set(REGISTRY)
    missing = sorted(registered - swept)
    stale = sorted(swept - registered)
    assert not missing, f"registered queries with no BENCH_SF1.json row: {missing}"
    assert not stale, f"BENCH_SF1.json rows for unregistered queries: {stale}"


def test_every_operator_module_has_a_package_importer():
    """An ``operators/`` module that no other package module imports is a
    second code path nothing selects: the registered form runs, the fork
    only passes its own tests. AST scan (no Spark): every module under
    ``operators/`` except ``__init__`` must be imported, absolutely or
    relatively, by some other module of the package."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "wikipedia_org_xmldump_importer_spark"
    imported: set[str] = set()
    for py in sorted(pkg.rglob("*.py")):
        parts = (pkg.name, *py.relative_to(pkg).with_suffix("").parts)
        me = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        here = parts[:-1]
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = ".".join(here[: len(here) - node.level + 1] if node.level else ())
                mod = ".".join(p for p in (base, node.module or "") if p)
                targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            imported.update(t for t in targets if t != me)
    unwired = sorted(
        py.stem
        for py in (pkg / "operators").glob("*.py")
        if py.stem != "__init__" and f"{pkg.name}.operators.{py.stem}" not in imported
    )
    assert not unwired, f"operators modules no package module imports: {unwired}"
