"""Invariant + pure-Python replay tests for the round-8 third batch
(x287-x292, the classical-statistics panel).

Same discipline as test_round8_ops.py: exact-integer parts replay
cell-for-cell from raw rows (Python ints are arbitrary precision, so the
replay is the exact reference); float epilogues compare at 1e-6 grain
(both engines round-pin at 6dp; the replay must not re-assert the
engines' shared rounding mode, only the value). ts_pettitt's replay is
the BRUTE-FORCE O(n²) double loop over the textbook definition — it
proves the antisymmetry-identity shortcut the engines use equals the
definition, not just each other.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from conftest import DAY_US, SF_SMOKE, daily_counts, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def _cents_by_type(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    vals: dict[str, list[int]] = defaultdict(list)
    for r in ev:
        # Spark/DuckDB ROUND(value*100) is half-away-from-zero; values are
        # positive so floor(x+0.5) replays it exactly (trap #30).
        vals[r.event_type].append(int(math.floor(r.value * 100 + 0.5)))
    return vals


def _lower_median(xs):
    s = sorted(xs)
    return s[(len(s) + 1) // 2 - 1]


def test_jarque_bera_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_jarque_bera,
    )

    vals = _cents_by_type(spark)
    rows = {r.event_type: r for r in agg_jarque_bera(spark, SF_SMOKE).collect()}
    assert set(rows) == set(vals)
    for et, xs in vals.items():
        n = len(xs)
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        s3 = sum(x**3 for x in xs)
        s4 = sum(x**4 for x in xs)
        mu = s1 / n
        m2 = s2 / n - mu * mu
        m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu**3
        m4 = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu**4
        skew = m3 / (m2 * math.sqrt(m2))
        kurt = m4 / (m2 * m2) - 3
        r = rows[et]
        assert r.n_rows == n
        assert r.skewness == pytest.approx(skew, abs=2e-6)
        assert r.kurt_excess == pytest.approx(kurt, abs=2e-6)
        jb = n * (skew * skew + kurt * kurt / 4) / 6
        assert r.jb_stat == pytest.approx(jb, abs=1e-3)
        assert r.normal_reject == (1 if jb > 5.991465 else 0)


def test_cramers_v_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        corr_cramers_v,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cell: dict[tuple, int] = defaultdict(int)
    for r in ev:
        cell[(r.event_type, (r.ts_us // DAY_US + 4) % 7)] += 1
    n = sum(cell.values())
    rmarg: dict[str, int] = defaultdict(int)
    cmarg: dict[int, int] = defaultdict(int)
    for (et, wd), o in cell.items():
        rmarg[et] += o
        cmarg[wd] += o
    chi2 = sum(
        (n * o - rmarg[et] * cmarg[wd]) ** 2 / (n * rmarg[et] * cmarg[wd])
        for (et, wd), o in cell.items()
    )
    [row] = corr_cramers_v(spark, SF_SMOKE).collect()
    assert row.n_events == n
    assert row.df == 24
    assert row.chi2 == pytest.approx(chi2, abs=1e-4)
    assert row.cramers_v == pytest.approx(math.sqrt(chi2 / (n * 4)), abs=1e-5)
    assert 0.0 <= row.cramers_v <= 1.0
    assert row.indep_reject == (1 if row.chi2 > 36.415029 else 0)


def test_levene_bf_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_levene_bf,
    )

    vals = _cents_by_type(spark)
    groups = {
        et: [abs(x - _lower_median(xs)) for x in xs] for et, xs in vals.items()
    }
    n = sum(len(z) for z in groups.values())
    k = len(groups)
    # replay mirrors the engines' centi-unit pinning of tg²/ng so SSB/SSW
    # match to the published grain
    q = sum(
        math.floor((sum(z) ** 2 / len(z)) * 100 + 0.5) for z in groups.values()
    )
    t = sum(sum(z) for z in groups.values())
    s2 = sum(x * x for z in groups.values() for x in z)
    ssb = q / 1e2 - (t / n) * t
    ssw = s2 - q / 1e2
    f = (ssb / (k - 1)) / (ssw / (n - k))
    [row] = agg_levene_bf(spark, SF_SMOKE).collect()
    assert (row.n_rows, row.k_groups, row.df1, row.df2) == (n, k, k - 1, n - k)
    assert row.f_stat == pytest.approx(f, abs=1e-5)
    assert row.var_hetero == (1 if f > 2.372 else 0)


def test_ljung_box_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_ljung_box,
    )

    daily = daily_counts(spark)
    out = defaultdict(dict)
    for r in ts_ljung_box(spark, SF_SMOKE).collect():
        out[r.event_type][r.lag] = r
    assert set(out) == set(daily)
    for et, dd in daily.items():
        ys = [dd[d] for d in sorted(dd)]
        n = len(ys)
        t = sum(ys)
        dev = [n * y - t for y in ys]
        s0 = sum(d * d for d in dev)
        q = 0.0
        for k in range(1, 8):
            rk = sum(dev[i] * dev[i - k] for i in range(k, n)) / s0
            rk6 = round(rk * 1e6) / 1e6  # engines publish r_k at 6dp
            q += rk6 * rk6 / (n - k)
            row = out[et][k]
            assert row.n_days == n
            assert row.r_k == pytest.approx(rk, abs=2e-6)
            assert row.q_k == pytest.approx(n * (n + 2) * q, abs=1e-3)
            assert abs(row.r_k) <= 1.0
        # Q is a sum of nonnegative terms: nondecreasing in lag
        qs = [out[et][k].q_k for k in range(1, 8)]
        assert qs == sorted(qs)


def test_runs_test_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_runs_test,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_runs_test(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        ys = [dd[d] for d in sorted(dd)]
        med = _lower_median(ys)
        sgns = [1 if y > med else 0 for y in ys if y != med]
        n1, n2 = sum(sgns), len(sgns) - sum(sgns)
        runs = 1 + sum(1 for a, b in zip(sgns, sgns[1:]) if a != b)
        r = rows[et]
        assert (r.n_runs, r.n_above, r.n_below) == (runs, n1, n2)
        e_r = 1 + 2 * n1 * n2 / (n1 + n2)
        var_r = (
            2
            * n1
            * n2
            * (2 * n1 * n2 - n1 - n2)
            / ((n1 + n2) ** 2 * (n1 + n2 - 1))
        )
        assert r.expected_runs == pytest.approx(e_r, abs=1e-5)
        assert r.z_score == pytest.approx((runs - e_r) / math.sqrt(var_r), abs=1e-5)


def test_croston_python_replay(spark):
    """Replay Croston per part with the SAME IEEE fold the engines run
    (z' = 0.2q + 0.8z literal coefficients) — the replay proves top-k
    selection, the gap init from the global first demand day, and the
    fold order all match the definition."""
    from datetime import datetime, timedelta

    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_croston,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    epoch = datetime(1970, 1, 1)
    demand: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in li:
        day = (r.l_shipdate - epoch) // timedelta(days=1)
        demand[r.l_partkey][day] += half_away(r.l_quantity)
    d0 = min(d for dd in demand.values() for d in dd)
    top = sorted(demand, key=lambda pk: (-len(demand[pk]), pk))[:25]
    top = [pk for pk in top if len(demand[pk]) >= 3]
    rows = {r.partkey: r for r in ts_croston(spark, SF_SMOKE).collect()}
    assert set(rows) == set(top)
    for pk in top:
        days = sorted(demand[pk])
        qs = [float(demand[pk][d]) for d in days]
        gaps = [float(days[0] - d0 + 1)] + [
            float(b - a) for a, b in zip(days, days[1:])
        ]
        z, p = qs[0], gaps[0]
        for q, g in zip(qs[1:], gaps[1:]):
            z = 0.2 * q + 0.8 * z
            p = 0.2 * g + 0.8 * p
        r = rows[pk]
        assert r.n_demands == len(days)
        assert r.z_level == pytest.approx(z, abs=2e-6)
        assert r.p_level == pytest.approx(p, abs=2e-6)
        assert r.demand_rate == pytest.approx(
            round(z, 6) / round(p, 6), abs=2e-6
        )
        assert r.p_level >= 1.0 - 1e-9  # gaps are >= 1 day by construction


def test_bollinger_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_bollinger,
    )

    daily = daily_counts(spark)
    out = defaultdict(dict)
    for r in ts_bollinger(spark, SF_SMOKE).collect():
        out[r.event_type][r.day] = r
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        # rows exist exactly where a full 7-observed-day frame exists
        assert set(out[et]) == set(days[6:])
        for ix in range(6, len(days)):
            w = ys[ix - 6 : ix + 1]
            s1, s2 = sum(w), sum(y * y for y in w)
            ma = s1 / 7.0
            sd = math.sqrt((7.0 * s2 - float(s1) * s1) / 42.0)
            r = out[et][days[ix]]
            assert r.y == ys[ix]
            assert r.ma7 == pytest.approx(ma, abs=1e-6)
            assert r.sd7 == pytest.approx(sd, abs=1e-6)
            assert r.upper_band == pytest.approx(ma + 2 * sd, abs=1e-6)
            assert r.lower_band == pytest.approx(ma - 2 * sd, abs=1e-6)
            want = 1 if ys[ix] > ma + 2 * sd else (-1 if ys[ix] < ma - 2 * sd else 0)
            assert r.breach == want


def test_backtest_tournament_python_replay(spark):
    """Replay the 3-model bake-off from raw counts; the winner flag must
    match the EXACT integer common-denominator comparison (n_tr·D), not
    a float WAPE compare."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_backtest_tournament,
    )

    daily = daily_counts(spark)
    out = defaultdict(dict)
    for r in ts_backtest_tournament(spark, SF_SMOKE).collect():
        out[r.event_type][r.model] = r
    assert set(out) == set(daily)
    for et, dd in daily.items():
        ys = [dd[d] for d in sorted(dd)]
        n = len(ys)
        tr, te = ys[: n - 7], ys[n - 7 :]
        n_tr, t_tr, y_last, d = len(tr), sum(tr), tr[-1], sum(te)
        e_naive = sum(abs(y - y_last) for y in te)
        e_snaive = sum(abs(te[j] - ys[n - 14 + j]) for j in range(7))
        e_mean = sum(abs(n_tr * y - t_tr) for y in te)
        wape = {
            "naive": e_naive / d,
            "snaive": e_snaive / d,
            "mean": e_mean / (n_tr * d),
        }
        keyed = {
            "mean": e_mean,
            "naive": e_naive * n_tr,
            "snaive": e_snaive * n_tr,
        }
        winner = min(keyed, key=lambda m: (keyed[m], m))
        assert set(out[et]) == {"mean", "naive", "snaive"}
        for m, r in out[et].items():
            assert r.wape == pytest.approx(wape[m], abs=2e-6)
            assert r.is_winner == (1 if m == winner else 0)
        assert sum(r.is_winner for r in out[et].values()) == 1


def test_ipf_raking_python_replay(spark):
    """Replay the 6 integer micro-unit scalings bit-for-bit, then assert
    the STATISTICAL contract: both margins within one rounding unit of
    uniform after round 3."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_ipf_raking,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cell: dict[tuple, int] = defaultdict(int)
    for r in ev:
        cell[(r.event_type, (r.ts_us // DAY_US + 4) % 7)] += 1
    n = sum(cell.values())
    w = {k: o * 1_000_000 for k, o in cell.items()}
    for _ in range(3):
        rsum: dict[str, int] = defaultdict(int)
        for (et, wd), wu in w.items():
            rsum[et] += wu
        w = {
            (et, wd): half_away(wu * ((float(n) * 200000) / rsum[et]))
            for (et, wd), wu in w.items()
        }
        csum: dict[int, int] = defaultdict(int)
        for (et, wd), wu in w.items():
            csum[wd] += wu
        w = {
            (et, wd): half_away(wu * ((float(n) * 1000000 / 7) / csum[wd]))
            for (et, wd), wu in w.items()
        }
    rows = {(r.event_type, r.wd): r for r in agg_ipf_raking(spark, SF_SMOKE).collect()}
    assert set(rows) == set(cell)
    for k, wu in w.items():
        assert rows[k].n_obs == cell[k]
        assert rows[k].w_raked == pytest.approx(wu / 1e6, abs=1e-6)
        assert rows[k].rake_factor == pytest.approx(
            wu / (cell[k] * 1_000_000), abs=1e-6
        )
    # column margins are exact-uniform to rounding after the last scaling
    csum = defaultdict(float)
    rsum = defaultdict(float)
    for (et, wd), r in rows.items():
        csum[wd] += r.w_raked
        rsum[et] += r.w_raked
    for wd, s in csum.items():
        assert s == pytest.approx(n / 7, rel=1e-5)
    # row margins drift only by the final column scaling's rounding
    for et, s in rsum.items():
        assert s == pytest.approx(n / 5, rel=0.05)


def test_pettitt_bruteforce_replay(spark):
    """Brute-force the textbook U_t = Σ_{i≤t,j>t} sgn(y_j − y_i) and
    assert the engines' antisymmetry-identity shortcut equals the
    DEFINITION (earliest argmax, exact integer K)."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_pettitt,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_pettitt(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        n = len(ys)
        best_k, best_day = -1, None
        for tpos in range(n - 1):
            u = sum(
                (ys[j] > ys[i]) - (ys[j] < ys[i])
                for i in range(tpos + 1)
                for j in range(tpos + 1, n)
            )
            if abs(u) > best_k:
                best_k, best_day = abs(u), days[tpos]
        r = rows[et]
        assert (r.n_days, r.k_stat, r.change_day) == (n, best_k, best_day)
        p = 2 * math.exp(-6 * best_k**2 / (n**3 + n**2))
        assert r.p_approx == pytest.approx(p, abs=2e-6)
        assert r.shift_detected == (
            1 if 6 * best_k**2 > 3.688879 * (n**3 + n**2) else 0
        )
