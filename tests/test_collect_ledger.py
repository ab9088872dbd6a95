"""Test-enforced ledger of every driver-side ``.collect()`` in the package.

"Avoid collect/driver-side loops" is a first-class scale rule: an operator
iterating over ``.collect()`` results is not distributed. Every existing
site is bounded BY CONSTRUCTION (the justifications below), and each round's
verdict audits them by hand. This test turns that hand audit into a gate:
a new ``.collect()`` anywhere in the package fails until it is added here
WITH a bounded-by-construction justification — the same contract the plan
audit enforces for BNLJ/GlobalWindow waivers (plans/audit.py ALLOWLIST).

Sites are keyed (relative file, enclosing function) — stable across line
drift, specific enough that a new collect in an existing function still
trips the gate (multiset comparison)."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "wikipedia_org_xmldump_importer_spark"

#: (file, enclosing function) -> (expected count, why it is bounded)
LEDGER: dict[tuple[str, str], tuple[int, str]] = {
    ("functions/bloom.py", "build_bitmap"): (
        1, "distinct bloom bit positions — <= m rows (the filter's own "
           "size, 2^18), never corpus-bound"),
    ("plans/inspect.py", "executed_plan"): (
        1, "test/debug helper behind materialize=True — callers pass "
           "small/test data only, never a production hot path"),
    ("queries/llm.py", "_collect_probe_matrix"): (
        1, "probe matrix bounded by the probe predicate contract: both "
           "callers (l3, l8) pass vec_id < 20, so at most 20 rows"),
    ("queries/llm.py", "sim_ann_ivf"): (
        1, "k-means training sample hash-modulus bounded to "
           "_IVF_TRAIN_TARGET rows regardless of corpus size"),
    ("queries/llm.py", "sim_ann_pq"): (
        2, "PQ codebook training sample (hash-modulus bounded) + the "
           "bounded probe rows (vec_id < 20 contract)"),
    ("queries/llm.py", "cluster_kmeans_1d"): (
        2, "1-row global min/max frame + per-iteration k-row centroid "
           "stats (k=4 fixed)"),
    ("queries/llm.py", "vec_kmeans_spherical"): (
        2, "k seed rows (limit _SKM_K) + per-iteration k-row centroid "
           "sums (k fixed)"),
    ("queries/llm.py", "embed_cos_histogram"): (
        1, "hash-modulus fixed-target sample (bounded-by-construction "
           "sample size, not corpus-bound)"),
    ("queries/aggregates.py", "_brand_mask_hist"): (
        2, "shared x100/x299 basket kernel: brand DOMAIN values (tiny and "
           "fixed — 25 at every TPC-H SF, capped at "
           "_BASKET_MASK_MAX_BRANDS=62 before the mask path is taken at "
           "all) + the 1-row grand-total scalar over the bounded mask "
           "histogram"),
    ("queries/textops.py", "tokenizer_bpe_train"): (
        1, "limit(1) best-pair row per BPE merge round (vocab-bounded "
           "round count)"),
    ("io.py", "scan_jdbc"): (
        1, "1-row MIN/MAX bound probe for the stride form (only when the "
           "caller omits bounds) — an indexed aggregate on any real "
           "warehouse, never row-bound"),
    ("sources/dump_multistream.py", "_stream_offsets"): (
        1, "DISTINCT stream offsets only (one long per bz2 stream, never "
           "per page): ~240k rows / ~2 MB for enwiki — the dump's split "
           "map, which the driver must hold to plan the scan anyway"),
}


def _sites() -> Counter:
    found: Counter = Counter()
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())

        def walk(node, fn, _py=py):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                found[(str(_py.relative_to(PKG)), fn)] += 1
            for c in ast.iter_child_nodes(node):
                walk(c, fn)

        walk(tree, None)
    return found


def test_every_collect_site_is_ledgered():
    found = _sites()
    expected = Counter({k: n for k, (n, _why) in LEDGER.items()})
    new = found - expected
    assert not new, (
        f"NEW .collect() site(s) {dict(new)} — driver-side collects must be "
        "bounded by construction and ledgered in this test with a "
        "justification"
    )
    stale = expected - found
    assert not stale, f"stale ledger entries (site removed): {dict(stale)}"


def test_no_unledgered_driver_materialization_aliases():
    """toPandas()/toLocalIterator() are collect() by another name — the
    package has none today; any new one must be argued here first."""
    found: Counter = Counter()
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("toPandas", "toLocalIterator")
            ):
                found[(str(py.relative_to(PKG)), node.func.attr)] += 1
    assert not found, f"unledgered driver materialization: {dict(found)}"


def test_ledger_justifications_are_nonempty():
    for key, (n, why) in LEDGER.items():
        assert n >= 1
        assert len(why) > 20, f"{key}: justification too thin"
