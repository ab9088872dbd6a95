"""Invariant + pure-Python replay tests for the round-8 sixth batch
(x315-x320): matrix profile, dominant period, Bloom decontamination,
Neyman allocation, business days, design effect.

The matrix-profile replay is the brute-force O(m²·w) triple loop over
the textbook definition; the Bloom test asserts the ZERO-false-negative
property (a Bloom filter can never miss a member) cell-for-cell.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest
from conftest import SF_SMOKE, daily_counts, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def test_matrix_profile_bruteforce_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_matrix_profile,
    )

    daily = daily_counts(spark)
    got = defaultdict(dict)
    for r in ts_matrix_profile(spark, SF_SMOKE).collect():
        got[r.event_type][r.day] = r
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        m = len(ys) - 6
        subs = [ys[i : i + 7] for i in range(m)]
        best = {}
        for i in range(m):
            cand = [
                (sum((a - b) * (a - b) for a, b in zip(subs[i], subs[j])), j)
                for j in range(m)
                if abs(i - j) >= 4
            ]
            best[i] = min(cand)
        assert set(got[et]) == {days[i] for i in best}
        motif = min(range(m), key=lambda i: (best[i][0], i))
        discord = max(range(m), key=lambda i: (best[i][0], -i))
        for i, (d2, j) in best.items():
            r = got[et][days[i]]
            assert r.mp_dist2 == d2
            assert r.nn_day == days[j]
            assert r.is_motif == (1 if i == motif else 0)
            assert r.is_discord == (1 if i == discord else 0)
        assert sum(r.is_motif for r in got[et].values()) == 1
        assert sum(r.is_discord for r in got[et].values()) == 1


def test_dominant_period_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_dominant_period,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in ts_dominant_period(spark, SF_SMOKE).collect()}
    assert set(rows) == set(daily)
    for et, dd in daily.items():
        ys = [dd[d] for d in sorted(dd)]
        n, t = len(ys), sum(ys)
        dev = [n * y - t for y in ys]
        s0 = sum(d * d for d in dev)
        rk = {
            k: sum(dev[i] * dev[i - k] for i in range(k, n)) / s0
            for k in range(2, 15)
        }
        best = min(rk, key=lambda k: (-rk[k], k))
        r = rows[et]
        assert r.n_days == n
        assert r.dominant_lag == best
        assert r.r_dominant == pytest.approx(rk[best], abs=2e-6)
        assert r.significant == (1 if rk[best] * math.sqrt(n) > 2.0 else 0)


def test_bloom_decontamination_replay(spark):
    """Replay the full Bloom pipeline; assert (a) cell-exact parity,
    (b) ZERO false negatives (every exact hit is a bloom hit), and
    (c) the measured FP rate is within 4x of the (1-e^(-kn/m))^k
    theory (hash clustering can inflate small samples)."""
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        decontaminate_bloom,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    m, n_len, mod = 262144, 3, 97

    def gh(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:12], 16)

    ev_grams, tr = set(), []
    for d in docs:
        toks = d.text.split(" ")
        grams = {
            " ".join(toks[i : i + n_len]) for i in range(len(toks) - n_len + 1)
        }
        if d.doc_id % mod == 0:
            ev_grams |= grams
        else:
            tr.extend((d.doc_id, g) for g in grams)
    bloom = set()
    for g in ev_grams:
        h = gh(g)
        bloom |= {h % m, (h >> 15) % m, (h >> 30) % m}
    n_bloom = n_exact = fn = 0
    docs_b, docs_e = set(), set()
    for doc_id, g in tr:
        h = gh(g)
        bhit = {h % m, (h >> 15) % m, (h >> 30) % m} <= bloom
        ehit = g in ev_grams
        n_bloom += bhit
        n_exact += ehit
        fn += ehit and not bhit
        if bhit:
            docs_b.add(doc_id)
        if ehit:
            docs_e.add(doc_id)
    assert fn == 0  # Bloom filters have no false negatives, ever
    [row] = decontaminate_bloom(spark, SF_SMOKE).collect()
    assert row.n_train_grams == len(tr)
    assert (row.n_bloom_hits, row.n_exact_hits) == (n_bloom, n_exact)
    assert row.n_false_positives == n_bloom - n_exact
    assert row.fp_rate == pytest.approx(
        (n_bloom - n_exact) / (len(tr) - n_exact), abs=2e-6
    )
    assert (row.n_docs_flagged_bloom, row.n_docs_flagged_exact) == (
        len(docs_b),
        len(docs_e),
    )
    k, n_ins = 3, len(ev_grams)
    theory = (1 - math.exp(-k * n_ins / m)) ** k
    assert row.fp_rate <= max(4 * theory, 0.01)


def test_neyman_allocation_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        sample_neyman_allocation,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    groups: dict[str, list] = defaultdict(list)
    for r in ev:
        groups[r.event_type].append(half_away(r.value * 100))
    stats = {}
    for et, xs in groups.items():
        nh = len(xs)
        sh = math.sqrt((sum(x * x for x in xs) - sum(xs) ** 2 / nh) / (nh - 1))
        stats[et] = (nh, sh)
    tot_w = sum(nh * sh for nh, sh in stats.values())
    tot_n = sum(nh for nh, _ in stats.values())
    quotas = {et: 1000 * nh * sh / tot_w for et, (nh, sh) in stats.items()}
    base = {et: math.floor(q) for et, q in quotas.items()}
    deficit = 1000 - sum(base.values())
    order = sorted(quotas, key=lambda et: (-(quotas[et] - base[et]), et))
    alloc = {
        et: base[et] + (1 if i < deficit else 0) for i, et in enumerate(order)
    }
    rows = {r.event_type: r for r in sample_neyman_allocation(spark, SF_SMOKE).collect()}
    assert set(rows) == set(stats)
    for et, (nh, sh) in stats.items():
        r = rows[et]
        assert r.n_stratum == nh
        assert r.stddev_cents == pytest.approx(sh, abs=2e-6)
        assert r.neyman_quota == pytest.approx(quotas[et], abs=2e-6)
        assert r.n_alloc == alloc[et]
        assert r.proportional_quota == pytest.approx(
            1000 * nh / tot_n, abs=2e-6
        )
    assert sum(r.n_alloc for r in rows.values()) == 1000


def test_business_days_python_replay(spark):
    from datetime import datetime, timedelta

    from wikipedia_org_xmldump_importer_spark.queries.scalar_fns import (
        fn_business_days,
    )

    epoch = datetime(1970, 1, 1)
    orders = {
        r.o_orderkey: (r.o_orderdate, r.o_orderpriority)
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    }
    max_ship: dict[int, object] = {}
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        cur = max_ship.get(r.l_orderkey)
        if cur is None or r.l_shipdate > cur:
            max_ship[r.l_orderkey] = r.l_shipdate

    rem = (0, 1, 2, 2, 2, 3, 4)

    def c_of(d: int) -> int:
        return 5 * (d // 7) + rem[d % 7]

    agg = defaultdict(lambda: [0, 0, 0, None, None])
    for ok, (od, pri) in orders.items():
        if ok not in max_ship:
            continue
        d1 = (od - epoch) // timedelta(days=1)
        d2 = (max_ship[ok] - epoch) // timedelta(days=1)
        bus = c_of(d2) - c_of(d1)
        a = agg[pri]
        a[0] += 1
        a[1] += d2 - d1
        a[2] += bus
        a[3] = bus if a[3] is None else min(a[3], bus)
        a[4] = bus if a[4] is None else max(a[4], bus)
        # signed weekday distance: never exceeds the calendar span in
        # magnitude, and carries its sign (the synthetic corpus ships on
        # BOTH sides of the order date, so negative spans are real)
        assert abs(bus) <= abs(d2 - d1)
        assert bus == 0 or (bus > 0) == (d2 > d1)
    rows = {r.priority: r for r in fn_business_days(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    for pri, (n, cal, bus, lo, hi) in agg.items():
        r = rows[pri]
        assert r.n_orders == n
        assert r.avg_cal_days == pytest.approx(cal / n, abs=2e-6)
        assert r.avg_bus_days == pytest.approx(bus / n, abs=2e-6)
        assert (r.min_bus_days, r.max_bus_days) == (lo, hi)


def test_business_day_formula_vs_calendar():
    """The closed form must equal a day-by-day weekday walk for every
    (start, span) over several weeks — including the 1970 anchor."""
    from datetime import date, timedelta

    rem = (0, 1, 2, 2, 2, 3, 4)

    def c_of(d: int) -> int:
        return 5 * (d // 7) + rem[d % 7]

    epoch = date(1970, 1, 1)
    assert epoch.weekday() == 3  # Thursday — the anchor the table encodes
    for start in range(0, 40, 3):
        for span in range(0, 30):
            walked = sum(
                1
                for i in range(start, start + span)
                if (epoch + timedelta(days=i)).weekday() < 5
            )
            assert c_of(start + span) - c_of(start) == walked


def test_design_effect_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_design_effect_icc,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cl: dict[int, list] = defaultdict(list)
    for r in ev:
        cl[r.user_id].append(half_away(r.value * 100))
    n = sum(len(v) for v in cl.values())
    k = len(cl)
    q = sum(half_away((sum(v) / len(v)) * sum(v) * 100) for v in cl.values())
    tt = sum(sum(v) for v in cl.values())
    yy = sum(x * x for v in cl.values() for x in v)
    m2 = sum(len(v) ** 2 for v in cl.values())
    msb = (q / 1e2 - tt / n * tt) / (k - 1)
    msw = (yy - q / 1e2) / (n - k)
    m0 = (n - m2 / n) / (k - 1)
    icc = (msb - msw) / (msb + (m0 - 1) * msw)
    [row] = agg_design_effect_icc(spark, SF_SMOKE).collect()
    assert (row.n_events, row.n_clusters) == (n, k)
    assert row.avg_cluster_size == pytest.approx(m0, abs=2e-6)
    assert row.icc == pytest.approx(icc, abs=2e-6)
    assert row.deff == pytest.approx(1 + (m0 - 1) * icc, abs=2e-6)
    assert -1.0 <= row.icc <= 1.0
