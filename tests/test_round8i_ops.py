"""Invariant + pure-Python replay tests for the round-8 ninth batch
(x329-x331): Kruskal-Wallis H, Mood's median test, two-sample
Cramér-von Mises.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from conftest import SF_SMOKE, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def _cents(rows):
    return [(r.event_type, half_away(r.value * 100), r.event_id) for r in rows]


def test_kruskal_wallis_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_kruskal_wallis,
    )

    data = _cents(load_table(spark, SF_SMOKE, "events").collect())
    vals = [c for _, c, _ in data]
    n = len(vals)
    cnt = Counter(vals)
    avg_rank = {}
    pos = 1
    for v in sorted(cnt):
        t = cnt[v]
        avg_rank[v] = pos + (t - 1) / 2
        pos += t
    groups: dict[str, list[int]] = defaultdict(list)
    for et, c, _ in data:
        groups[et].append(c)
    s = sum(sum(avg_rank[c] for c in g) ** 2 / len(g) for g in groups.values())
    h = 12 / (n * (n + 1)) * s - 3 * (n + 1)
    corr = 1 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    [row] = agg_kruskal_wallis(spark, SF_SMOKE).collect()
    assert row.n_rows == n
    assert row.k_groups == len(groups)
    assert row.h_stat == pytest.approx(h, abs=1e-4)
    assert row.h_corrected == pytest.approx(h / corr, abs=1e-4)
    # H >= 0 and the tie correction can only inflate it
    assert row.h_corrected >= row.h_stat >= 0
    assert row.reject_05 in (0, 1)


def test_mood_median_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_mood_median,
    )

    data = _cents(load_table(spark, SF_SMOKE, "events").collect())
    vals = sorted(c for _, c, _ in data)
    med = vals[(len(vals) + 1) // 2 - 1]
    groups: dict[str, list[int]] = defaultdict(list)
    for et, c, _ in data:
        if c != med:
            groups[et].append(c)
    gj = {et: (sum(1 for c in g if c > med), len(g)) for et, g in groups.items()}
    a_tot = sum(a for a, _ in gj.values())
    n_tot = sum(m for _, m in gj.values())
    chi2 = sum(
        (a * n_tot - m * a_tot) ** 2 / m for a, m in gj.values()
    ) / (a_tot * (n_tot - a_tot))
    rows = {r.event_type: r for r in agg_mood_median(spark, SF_SMOKE).collect()}
    assert set(rows) == set(gj)
    for et, (a, m) in gj.items():
        r = rows[et]
        assert r.n_used == m
        assert r.n_above == a
        assert r.n_below == m - a
        assert r.expected_above == pytest.approx(m * a_tot / n_tot, abs=2e-6)
        assert r.chi2_stat == pytest.approx(chi2, abs=1e-4)
        assert r.reject_05 in (0, 1)
    # the 2xk table's margins balance: sum(above) == A on both sides
    assert sum(r.n_above for r in rows.values()) == a_tot
    assert sum(r.n_used for r in rows.values()) == n_tot


def test_cramer_von_mises_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_cramer_von_mises,
    )

    data = _cents(load_table(spark, SF_SMOKE, "events").collect())
    pv = sorted(
        (c, eid, et) for et, c, eid in data if et in ("purchase", "view")
    )
    n1 = sum(1 for _, _, et in pv if et == "purchase")
    n2 = len(pv) - n1
    i1 = i2 = d1 = d2 = 0
    for r, (_, _, et) in enumerate(pv, start=1):
        if et == "purchase":
            i1 += 1
            d1 += (r - i1) ** 2
        else:
            i2 += 1
            d2 += (r - i2) ** 2
    t = (n1 * d1 + n2 * d2) / (n1 * n2 * (n1 + n2)) - (4 * n1 * n2 - 1) / (
        6 * (n1 + n2)
    )
    [row] = agg_cramer_von_mises(spark, SF_SMOKE).collect()
    assert row.n_purchase == n1
    assert row.n_view == n2
    assert row.cvm_t == pytest.approx(t, abs=1e-4)
    assert row.reject_05 == int(t > 0.461)
    # T is bounded below by its own centering term's floor: T > -1/(6N)
    assert row.cvm_t > -1 / (6 * (n1 + n2))


def test_cvm_detects_shifted_sample(spark):
    """CvM fires on a blatant location shift (synthetic two-sample)."""
    from pyspark.sql import functions as F

    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_cramer_von_mises,
    )

    df = spark.range(400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id")).cast("timestamp_ntz").alias("ts"),
        F.col("id").alias("user_id"),
        F.when(F.col("id") < 200, "purchase").otherwise("view").alias(
            "event_type"
        ),
        (
            F.when(F.col("id") < 200, F.col("id") % 50)
            .otherwise(F.col("id") % 50 + 40)
            .cast("double")
            / 100.0
        ).alias("value"),
        F.lit("{}").alias("props"),
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        [row] = agg_cramer_von_mises(spark, td).collect()
    assert row.reject_05 == 1
    assert row.cvm_t > 0.461
