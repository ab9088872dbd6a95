"""Invariant + pure-Python replay tests for the round-8 eleventh batch
(x336-x339): Wasserstein-1 EMD, Theil-Sen slope, Durbin-Watson, AR(1)
half-life.
"""

from __future__ import annotations

import math
from bisect import bisect_right

import pytest
from conftest import SF_SMOKE, daily_counts, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def test_emd_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_emd_wasserstein,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    c1s = sorted(
        half_away(r.value * 100) for r in ev if r.event_type == "purchase"
    )
    c2s = sorted(
        half_away(r.value * 100) for r in ev if r.event_type == "view"
    )
    xs = sorted(set(c1s) | set(c2s))
    n1, n2 = len(c1s), len(c2s)
    emd = sum(
        abs(bisect_right(c1s, xs[i]) / n1 - bisect_right(c2s, xs[i]) / n2)
        * (xs[i + 1] - xs[i])
        for i in range(len(xs) - 1)
    )
    [row] = agg_emd_wasserstein(spark, SF_SMOKE).collect()
    assert row.n_purchase == n1
    assert row.n_view == n2
    assert row.n_support == len(xs)
    assert row.emd_cents == pytest.approx(emd, abs=1e-4)
    assert row.emd_per_cent_of_range == pytest.approx(
        emd / (xs[-1] - xs[0]), abs=2e-6
    )
    # W1 is bounded by the support range
    assert 0 <= row.emd_cents <= xs[-1] - xs[0]


def test_theil_sen_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_theil_sen,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_theil_sen(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        pts = sorted(dd.items())
        slopes = sorted(
            (
                round((y2 - y1) / (d2 - d1), 6),
                d1,
                d2,
            )
            for i, (d1, y1) in enumerate(pts)
            for (d2, y2) in pts[i + 1 :]
        )
        med = slopes[(len(slopes) + 1) // 2 - 1][0]
        r = rows[et]
        assert r.n_pairs == len(slopes)
        assert r.sen_slope == pytest.approx(med, abs=1e-9)
        assert r.trend_sign == (1 if med > 0 else -1 if med < 0 else 0)


def test_durbin_watson_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_durbin_watson,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_durbin_watson(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        ys = [y for _, y in sorted(dd.items())]
        n = len(ys)
        ts_ = list(range(1, n + 1))
        st, sy = sum(ts_), sum(ys)
        sty = sum(t * y for t, y in zip(ts_, ys))
        stt = sum(t * t for t in ts_)
        b = (n * sty - st * sy) / (n * stt - st * st)
        a = (sy - b * st) / n
        e = [round((y - (a + b * t)) * 1e6) for t, y in zip(ts_, ys)]
        dw = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n)) / sum(
            x * x for x in e
        )
        r = rows[et]
        assert r.n_days == n
        assert r.dw == pytest.approx(dw, abs=1e-4)
        assert r.rho_hat == pytest.approx(1 - dw / 2, abs=1e-4)
        assert r.positive_autocorr == int(dw < 1.5)
        # DW lives in [0, 4]
        assert 0 <= r.dw <= 4


def test_ar1_halflife_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_ar1_halflife,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_ar1_halflife(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        ys = [y for _, y in sorted(dd.items())]
        xs_, ys2 = ys[:-1], ys[1:]
        m = len(xs_)
        sx, sy = sum(xs_), sum(ys2)
        sxy = sum(x * y for x, y in zip(xs_, ys2))
        sxx = sum(x * x for x in xs_)
        phi = (m * sxy - sx * sy) / (m * sxx - sx * sx)
        c = (sy - phi * sx) / m
        r = rows[et]
        assert r.n_pairs == m
        assert r.phi == pytest.approx(phi, abs=1e-4)
        assert r.intercept == pytest.approx(c, abs=1e-4)
        if phi < 1.0:
            assert r.long_run_mean == pytest.approx(c / (1 - phi), abs=1e-3)
        else:
            assert r.long_run_mean is None
        if 0 < phi < 1:
            assert r.halflife_days == pytest.approx(
                -math.log(2) / math.log(phi), abs=1e-4
            )
        else:
            assert r.halflife_days is None
