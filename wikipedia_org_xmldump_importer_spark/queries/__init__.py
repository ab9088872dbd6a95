"""Query modules — one module per SURVEY.md §2 section group.

Importing ``load_all()`` populates ``registry.REGISTRY``.
"""

from __future__ import annotations

import importlib

MODULES = (
    "flagship",
    "scans",
    "projection",
    "joins",
    "aggregates",
    "windows",
    "sortlimit",
    "setops",
    "scalar_fns",
    "streaming_batch",
    "udfs",
    "llm",
    "textops",
    "timeseries",
    "subqueries",
    "pipeline",
    "merge_ops",
    "index_ops",
    "graph_ops",
    "quality_ops",
)

# The driver hash-checks only the first 50 entries of ``queries()``, and
# perfbench's ``driver_window`` workload runs every fifth of those 50. So
# this order is frozen: ``load_all()`` puts these names first, in this order.
DRIVER_PRIORITY = (
    "flagship_star_revenue",
    "tpch_q3_shipping",
    "tpch_q5_local_volume",
    "tpch_q10_returned",
    "tpch_q4_priority",
    "tpch_q13_custdist",
    "tpch_q7_nation_volume",
    "tpch_q14_promo_share",
    "tpch_q18_large_orders",
    "tpch_q17_small_qty",
    "tpch_q19_disjunctive",
    "tpch_q22_inactive_balance",
    "tpch_q15_top_supplier",
    "tpch_q8_market_share",
    "tpch_q16_supplier_variety",
    "tpch_q6_forecast",
    "tpch_q9_profit",
    "tpch_q12_priority_class",
    "tpch_q21_waiting",
    "scan_parquet",
    "zorder_key",
    "project_rename",
    "filter_pred",
    "distinct_rows",
    "reshape_unpivot",
    "join_inner_equi",
    "join_broadcast",
    "join_outer",
    "join_semi_anti",
    "join_theta_range",
    "join_cross",
    "join_asof",
    "join_asof_forward",
    "join_interval",
    "join_self",
    "join_skew_salted",
    "join_range_binned",
    "join_asof_nearest",
    "join_null_safe",
    "join_asof_tolerance",
    "agg_global",
    "agg_groupby",
    "agg_distinct",
    "agg_rollup_cube",
    "agg_grouping_sets",
    "agg_filtered_pivot",
    "agg_collect",
    "agg_percentile",
    "agg_stats",
    "agg_argminmax",
)


def load_all() -> None:
    for mod in MODULES:
        importlib.import_module(f".{mod}", __name__)
    from ..registry import REGISTRY  # noqa: PLC0415

    prio = {n: i for i, n in enumerate(DRIVER_PRIORITY)}
    # Stable sort: DRIVER_PRIORITY entries first (in list order), everything
    # else keeps its module registration order after them.
    ordered = sorted(REGISTRY.items(), key=lambda kv: prio.get(kv[0], len(prio)))
    REGISTRY.clear()
    REGISTRY.update(ordered)
