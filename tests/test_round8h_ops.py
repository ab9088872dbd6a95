"""Invariant + pure-Python replay tests for the round-8 eighth batch
(x326-x328): BH-FDR over a JB panel, pinball quantile evaluation,
sign-random-projection sketch with exact distortion audit.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from conftest import DAY_US, SF_SMOKE, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def test_jb_fdr_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_jb_fdr_panel,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cells: dict[tuple, list] = defaultdict(list)
    for r in ev:
        wd = (r.ts_us // DAY_US + 4) % 7
        cells[(r.event_type, wd)].append(half_away(r.value * 100))
    stats = {}
    for key, xs in cells.items():
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum(x * x for x in xs) / n - mu * mu
        m3 = sum(x**3 for x in xs) / n - 3 * mu * (sum(x * x for x in xs) / n) + 2 * mu**3
        m4 = (
            sum(x**4 for x in xs) / n
            - 4 * mu * (sum(x**3 for x in xs) / n)
            + 6 * mu * mu * (sum(x * x for x in xs) / n)
            - 3 * mu**4
        )
        skew = m3 / (m2 * math.sqrt(m2))
        kurt = m4 / (m2 * m2) - 3
        jb = n / 6 * (skew * skew + kurt * kurt / 4)
        stats[key] = (n, jb, math.exp(-jb / 2))
    m = len(stats)
    ranked = sorted(stats, key=lambda k: (stats[k][2], k[0], k[1]))
    kstar = 0
    for i, key in enumerate(ranked, 1):
        if stats[key][2] <= 0.05 * i / m:
            kstar = i
    rows = {(r.event_type, r.wd): r for r in agg_jb_fdr_panel(spark, SF_SMOKE).collect()}
    assert set(rows) == set(stats)
    for i, key in enumerate(ranked, 1):
        r = rows[key]
        n, jb, p = stats[key]
        assert r.n_cell == n
        assert r.jb_stat == pytest.approx(jb, abs=1e-4)
        assert r.p_value == pytest.approx(p, abs=2e-6)
        assert r.p_rank == i
        assert r.bh_cutoff == pytest.approx(0.05 * i / m, abs=2e-6)
        assert r.discovery == (1 if i <= kstar else 0)
        assert r.n_discoveries == kstar
    # BH step-up property: discoveries are exactly a prefix of the p-ranking
    flags = [rows[k].discovery for k in ranked]
    assert flags == sorted(flags, reverse=True)


def test_pinball_eval_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_pinball_eval,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r.event_type][r.ts_us // DAY_US] += 1
    got = defaultdict(dict)
    for r in ts_pinball_eval(spark, SF_SMOKE).collect():
        got[r.event_type][r.q_level] = r
    assert set(got) == set(daily)
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        tr_pairs = sorted(zip(ys[:-7], days[:-7]))
        tr = [y for y, _ in tr_pairs]
        te = ys[-7:]
        mm = len(tr)
        f50 = tr[(mm + 1) // 2 - 1]
        f90 = tr[(9 * mm + 9) // 10 - 1]
        l50 = sum(5 * abs(y - f50) for y in te)
        l90 = sum(9 * (y - f90) if y > f90 else f90 - y for y in te)
        r50, r90 = got[et][50], got[et][90]
        assert (r50.forecast, r90.forecast) == (f50, f90)
        assert (r50.loss_tenths, r90.loss_tenths) == (l50, l90)
        assert r50.avg_pinball == pytest.approx(l50 / 70, abs=2e-6)
        assert r90.avg_pinball == pytest.approx(l90 / 70, abs=2e-6)
        assert r50.coverage == pytest.approx(
            sum(1 for y in te if y <= f50) / 7, abs=2e-6
        )
        assert r90.coverage == pytest.approx(
            sum(1 for y in te if y <= f90) / 7, abs=2e-6
        )
        # a p90 forecast never sits below the p50 one
        assert f90 >= f50


def test_rp_sketch_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.llm import (
        vec_rp_sketch,
    )

    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    def quant(v):
        return [half_away(x * 1000) if x >= 0 else -half_away(-x * 1000) for x in v]

    def signs(d):  # d is 1-based
        h = (d * 2654435761) % 2147483648
        return [1 - 2 * ((h >> (8 + j)) % 2) for j in range(16)]

    proj = {}
    for vid, v in emb.items():
        q = quant(v)
        p = [0] * 16
        for d, qv in enumerate(q, 1):
            s = signs(d)
            for j in range(16):
                p[j] += s[j] * qv
        proj[vid] = (q, p)
    rows = {(r.vec_a, r.vec_b): r for r in vec_rp_sketch(spark, SF_SMOKE).collect()}
    want_pairs = {(a, a + 1) for a in emb if a + 1 in emb}
    assert set(rows) == want_pairs
    n_within = 0
    for a, b in want_pairs:
        qa, pa = proj[a]
        qb, pb = proj[b]
        od = sum((x - y) ** 2 for x, y in zip(qa, qb))
        pdist = sum((x - y) ** 2 for x, y in zip(pa, pb))
        r = rows[(a, b)]
        assert r.orig_d2 == od
        assert r.proj_d2 == pdist
        assert r.distortion_ratio == pytest.approx(pdist / (16 * od), abs=2e-6)
        within = 2 * pdist >= 16 * od and pdist <= 32 * od
        assert r.within_2x == int(within)
        n_within += within
    # JL concentration: the vast majority of pairs land within 2x
    assert n_within / len(want_pairs) > 0.85
