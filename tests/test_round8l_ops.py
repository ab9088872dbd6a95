"""Invariant + pure-Python replay tests for the round-8 twelfth batch
(x340-x343): Wilcoxon signed-rank, Friedman, Jonckheere-Terpstra,
Cochran's Q — the paired/blocked nonparametric family.

Each test recomputes the statistic from first principles on the sf0.001
events table (collected to the driver) and pins the Spark result against
it: midranks via independent sort-based ranking, JT via bisect counting
(never the Spark pivot), weekday mapping cross-checked against
``datetime.weekday()`` so the Mon=0 contract is verified against the
calendar, not against our own arithmetic.
"""

from __future__ import annotations

import math
from bisect import bisect_left, bisect_right
from collections import defaultdict
from datetime import datetime, timezone

import pytest
from conftest import DAY_US, SF_SMOKE, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def _doubled_midranks(values):
    """value -> doubled midrank (2*avg_rank) for a list of orderables."""
    s = sorted(values)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        # first occurrence at 1-indexed rank i+1, tie group size j-i:
        # doubled midrank = 2*(i+1) - 1 + (j - i)
        out[s[i]] = 2 * (i + 1) - 1 + (j - i)
        i = j
    return out


def test_wilcoxon_signed_rank_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_wilcoxon_signed_rank,
    )

    halves: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for r in load_table(spark, SF_SMOKE, "events").collect():
        halves[r.user_id][0 if r.ts.day <= 15 else 1] += 1
    diffs = [c2 - c1 for c1, c2 in halves.values() if c2 != c1]
    n = len(diffs)
    r2 = _doubled_midranks([abs(d) for d in diffs])
    w2p = sum(r2[abs(d)] for d in diffs if d > 0)
    tie_counts: dict[int, int] = defaultdict(int)
    for d in diffs:
        tie_counts[abs(d)] += 1
    tsum = sum(t**3 - t for t in tie_counts.values())
    z = (w2p - n * (n + 1) / 2) / math.sqrt(
        n * (n + 1) * (2 * n + 1) / 6 - tsum / 12
    )
    [row] = events_wilcoxon_signed_rank(spark, SF_SMOKE).collect()
    assert row.n_nonzero == n
    assert float(row.w_plus) == pytest.approx(w2p / 2, abs=1e-9)
    assert row.z_stat == pytest.approx(z, abs=1e-5)
    assert row.reject_05 == (1 if abs(z) > 1.959964 else 0)
    # W+ bounds: 0 <= W+ <= n(n+1)/2
    assert 0 <= float(row.w_plus) <= n * (n + 1) / 2


def test_friedman_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_friedman_test,
    )

    daily: dict[tuple[int, str], int] = defaultdict(int)
    days, types = set(), set()
    for r in load_table(spark, SF_SMOKE, "events").collect():
        day = r.ts_us // DAY_US
        daily[(day, r.event_type)] += 1
        days.add(day)
        types.add(r.event_type)
    n, k = len(days), len(types)
    r2j: dict[str, int] = defaultdict(int)
    sr22 = 0
    for day in days:
        grid = {t: daily.get((day, t), 0) for t in types}
        mr = _doubled_midranks(list(grid.values()))
        for t, y in grid.items():
            r2j[t] += mr[y]
            sr22 += mr[y] ** 2
    num = sum((v - n * (k + 1)) ** 2 for v in r2j.values())
    chi2 = (k - 1) * num / (sr22 - n * k * (k + 1) ** 2)
    [row] = events_friedman_test(spark, SF_SMOKE).collect()
    assert row.n_blocks == n
    assert row.k_treatments == k
    assert row.chi2_stat == pytest.approx(chi2, abs=1e-5)
    crit = {1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729}.get(
        k - 1, float("inf")
    )
    assert row.reject_05 == (1 if chi2 > crit else 0)
    # within-day doubled ranks sum to 2 * k(k+1)/2 per block => total fixed
    assert sum(r2j.values()) == n * k * (k + 1)


def test_jonckheere_terpstra_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_jonckheere_terpstra,
    )

    groups: dict[int, list[int]] = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").collect():
        wd = (r.ts_us // DAY_US + 3) % 7
        # Mon=0 contract cross-checked against the calendar itself:
        assert wd == datetime.fromtimestamp(
            r.ts_us / 1e6, tz=timezone.utc
        ).weekday()
        groups[wd].append(half_away(r.value * 100))
    for g in groups.values():
        g.sort()
    wds = sorted(groups)
    u2 = 0
    for a_i, i in enumerate(wds):
        for j in wds[a_i + 1 :]:
            a = groups[i]
            # U2_ij = sum over y in group j of 2*#{a<y} + #{a==y}
            u2 += sum(
                2 * bisect_left(a, y) + (bisect_right(a, y) - bisect_left(a, y))
                for y in groups[j]
            )
    ns = [len(groups[w]) for w in wds]
    ntot = sum(ns)
    e2 = sum(
        ns[i] * ns[j] for i in range(len(ns)) for j in range(i + 1, len(ns))
    )
    var72 = (
        ntot * ntot * (2 * ntot + 3) - sum(m * m * (2 * m + 3) for m in ns)
    ) / 72
    z = (u2 - e2) / (2 * math.sqrt(var72))
    [row] = events_jonckheere_terpstra(spark, SF_SMOKE).collect()
    assert row.n_rows == ntot
    assert row.jt2 == u2
    assert row.e2 == e2
    assert row.z_stat == pytest.approx(z, abs=1e-5)
    # JT2 bounds: 0 <= JT2 <= 2 * sum_{i<j} n_i n_j
    assert 0 <= row.jt2 <= 2 * e2


def test_cochran_q_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_cochran_q,
    )

    b: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for r in load_table(spark, SF_SMOKE, "events").collect():
        if r.event_type == "purchase" and r.value > 90:
            dek = 0 if r.ts.day <= 10 else (1 if r.ts.day <= 20 else 2)
            b[r.user_id][dek] = 1
        else:
            b.setdefault(r.user_id, [0, 0, 0])
    n_users = len(b)
    t = [sum(v[j] for v in b.values()) for j in range(3)]
    s = sum(sum(v) for v in b.values())
    ss = sum(sum(v) ** 2 for v in b.values())
    q = 2 * sum((3 * tj - s) ** 2 for tj in t) / (3 * (3 * s - ss))
    [row] = events_cochran_q(spark, SF_SMOKE).collect()
    assert row.n_users == n_users
    assert (row.t1, row.t2, row.t3) == tuple(t)
    assert row.q_stat == pytest.approx(q, abs=1e-5)
    assert row.reject_05 == (1 if q > 5.991465 else 0)
    # all-0 / all-3 blocks cancel: recompute Q on filtered blocks, must match
    fb = {u: v for u, v in b.items() if 0 < sum(v) < 3}
    tf = [sum(v[j] for v in fb.values()) for j in range(3)]
    sf_ = sum(sum(v) for v in fb.values())
    ssf = sum(sum(v) ** 2 for v in fb.values())
    # numerator deviations shift identically when saturated blocks drop
    qf = 2 * sum((3 * tj - sf_) ** 2 for tj in tf) / (3 * (3 * sf_ - ssf))
    assert qf == pytest.approx(q, abs=1e-9)
