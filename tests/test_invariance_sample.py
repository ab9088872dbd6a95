"""Parallelism-invariance guard: results must not depend on the shuffle
layout. The full-registry check is tools/check_invariance.py (AQE off + 7
partitions vs AQE on + 32); this test keeps the property continuously
enforced on a cross-family sample cheap enough for every pytest run, so a new
operator with an unstable tie-break, unsorted collect_list, or
layout-dependent float order fails CI here before the full sweep would
catch it.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from conftest import SF_SMOKE

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from wikipedia_org_xmldump_importer_spark.registry import REGISTRY, _ensure_loaded

# one representative per family: agg, window, join, text/dedup, llm/vector,
# timeseries, graph, pipeline, setop, scalar-fn, subquery, TPC-H shape
SAMPLE = [
    "agg_percentile",
    "win_topk_per_group",
    "join_asof",
    "dedup_ngram_jaccard",
    "sim_threshold_join",
    "ts_rolling_median",
    "graph_triangle_count",
    "sample_stratified",
    "set_intersect",
    "fn_string_agg",
    "sub_correlated_scalar",
    "tpch_q9_profit",
]

CONF_A = {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "32"}
CONF_B = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "7"}


ARROW_SAMPLE = ["sim_topk_bruteforce", "ts_matrix_profile", "mm_image_dims"]


@pytest.mark.parametrize("name", ARROW_SAMPLE)
def test_result_invariant_to_arrow_batch_size(spark, name):
    """The batch-local-work-composes-exactly argument every pandas kernel
    makes, checked at an adversarial 7 rows/batch (full sweep:
    ``tools/check_invariance.py --arrow``)."""
    from check_oracle import to_rows

    _ensure_loaded()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        a = to_rows(REGISTRY[name].fn(spark, SF_SMOKE).toPandas())
        spark.conf.set(key, "7")
        b = to_rows(REGISTRY[name].fn(spark, SF_SMOKE).toPandas())
    finally:
        spark.conf.set(key, prev)
    assert a == b, f"{name}: result depends on Arrow batch size"


@pytest.mark.parametrize("name", SAMPLE)
def test_result_invariant_to_shuffle_layout(spark, name):
    from check_oracle import to_rows

    _ensure_loaded()
    try:
        for k, v in CONF_A.items():
            spark.conf.set(k, v)
        a = to_rows(REGISTRY[name].fn(spark, SF_SMOKE).toPandas())
        for k, v in CONF_B.items():
            spark.conf.set(k, v)
        b = to_rows(REGISTRY[name].fn(spark, SF_SMOKE).toPandas())
    finally:
        for k, v in CONF_A.items():
            spark.conf.set(k, v)
    assert a == b, f"{name}: result depends on shuffle layout"
