"""Invariant + pure-Python replay tests for the round-8 fifth batch
(x307-x314): McNemar, effect sizes, session stats, Horvitz-Thompson,
FK-orphan audit, SCD3, landmark closeness, deterministic walk corpus.

The closeness replay runs a real Python BFS (the definition) and the
walk replay re-derives every hop from the hash rule — both prove the
engines' unrolled-join forms equal the graph algorithms, not just each
other.
"""

from __future__ import annotations

import math
from collections import defaultdict, deque

import pytest
from conftest import DAY_US, SF_SMOKE, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def _events(spark):
    return load_table(spark, SF_SMOKE, "events").collect()


def _graph(spark):
    o = {r.o_orderkey: r.o_custkey for r in load_table(spark, SF_SMOKE, "orders").collect()}
    adj: dict[int, set] = defaultdict(set)
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        c, s = o[r.l_orderkey], -(r.l_suppkey + 1)
        adj[c].add(s)
        adj[s].add(c)
    return adj


def test_mcnemar_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_mcnemar,
    )

    ev = _events(spark)
    days = [r.ts_us // DAY_US for r in ev]
    mid = (min(days) + max(days) + 1) // 2
    st: dict[int, list] = defaultdict(lambda: [0, 0, 0, 0])  # in1 in2 p1 p2
    for r in ev:
        d = r.ts_us // DAY_US
        s = st[r.user_id]
        if d < mid:
            s[0] = 1
            s[2] |= r.event_type == "purchase"
        else:
            s[1] = 1
            s[3] |= r.event_type == "purchase"
    cells = defaultdict(int)
    for s in st.values():
        if s[0] and s[1]:
            cells[(int(s[2]), int(s[3]))] += 1
    [row] = events_mcnemar(spark, SF_SMOKE).collect()
    assert row.n_pairs == sum(cells.values())
    assert (row.n00, row.n01, row.n10, row.n11) == (
        cells[(0, 0)],
        cells[(0, 1)],
        cells[(1, 0)],
        cells[(1, 1)],
    )
    b, c = cells[(1, 0)], cells[(0, 1)]
    chi2 = 0.0 if b + c == 0 else (abs(b - c) - 1) ** 2 / (b + c)
    assert row.chi2_cc == pytest.approx(chi2, abs=2e-6)
    assert row.marginal_shift == (1 if b + c > 0 and chi2 > 3.841459 else 0)


def test_effect_sizes_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_effect_sizes,
    )

    xs, ys = [], []
    for r in _events(spark):
        if r.event_type == "purchase":
            xs.append(half_away(r.value * 100))
        elif r.event_type == "click":
            ys.append(half_away(r.value * 100))
    n1, n2 = len(xs), len(ys)
    m1, m2 = sum(xs) / n1, sum(ys) / n2
    v1 = (sum(x * x for x in xs) - sum(xs) ** 2 / n1) / (n1 - 1)
    v2 = (sum(y * y for y in ys) - sum(ys) ** 2 / n2) / (n2 - 1)
    sp = math.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    # exact VD-A in half-units via sorted-merge counts
    ys_sorted = sorted(ys)
    import bisect

    a2 = 0
    for x in xs:
        lt = bisect.bisect_left(ys_sorted, x)
        eq = bisect.bisect_right(ys_sorted, x) - lt
        a2 += 2 * lt + eq
    [row] = events_effect_sizes(spark, SF_SMOKE).collect()
    assert (row.n_purchase, row.n_click) == (n1, n2)
    assert row.cohens_d == pytest.approx(d, abs=2e-6)
    assert row.hedges_g == pytest.approx(d * (1 - 3 / (4 * (n1 + n2) - 9)), abs=2e-6)
    assert row.glass_delta == pytest.approx((m1 - m2) / math.sqrt(v2), abs=2e-6)
    assert row.vd_a == pytest.approx(a2 / (2 * n1 * n2), abs=2e-6)
    assert 0.0 <= row.vd_a <= 1.0


def test_session_stats_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_session_stats,
    )

    by_user: dict[int, list] = defaultdict(list)
    for r in _events(spark):
        by_user[r.user_id].append((r.ts_us, r.event_id, r.event_type))
    sessions = []
    for evs in by_user.values():
        evs.sort()
        cur = [evs[0]]
        for prev, nxt in zip(evs, evs[1:]):
            if nxt[0] - prev[0] > 1_800_000_000:
                sessions.append(cur)
                cur = []
            cur.append(nxt)
        sessions.append(cur)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, sum_ev, sum_dur, has_p
    for s in sessions:
        n_ev = len(s)
        bucket = "1" if n_ev == 1 else "2-3" if n_ev <= 3 else "4-9" if n_ev <= 9 else "10+"
        a = agg[bucket]
        a[0] += 1
        a[1] += n_ev
        a[2] += s[-1][0] - s[0][0]
        a[3] += any(e[2] == "purchase" for e in s)
    tot = len(sessions)
    rows = {r.bucket: r for r in events_session_stats(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    for b, (n, se, sd, hp) in agg.items():
        r = rows[b]
        assert r.n_sessions == n
        assert r.session_share == pytest.approx(n / tot, abs=2e-6)
        assert r.avg_events == pytest.approx(se / n, abs=2e-6)
        assert r.avg_duration_s == pytest.approx(sd / n / 1e6, abs=2e-6)
        assert r.purchase_rate == pytest.approx(hp / n, abs=2e-6)
    assert sum(r.n_sessions for r in rows.values()) == tot


def test_ht_estimate_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        sample_ht_estimate,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    m = 20
    truth = n_pop = n_smp = y_smp = y2 = 0
    for r in li:
        cents = half_away(r.l_extendedprice * (1 - r.l_discount) * 100)
        n_pop += 1
        truth += cents
        key = r.l_orderkey * 100 + r.l_linenumber
        h = ((key % 2147483648) * 2654435761) % 4294967296
        if (h // 65536) % m == 0:
            n_smp += 1
            y_smp += cents
            y2 += cents * cents
    [row] = sample_ht_estimate(spark, SF_SMOKE).collect()
    assert (row.m, row.n_pop, row.n_smp) == (m, n_pop, n_smp)
    assert row.truth_cents == truth
    assert row.ht_estimate_cents == y_smp * m
    assert row.rel_error == pytest.approx((y_smp * m - truth) / truth, abs=2e-6)
    se = math.sqrt(y2 * (m * m - m))
    assert row.ht_se_cents == pytest.approx(se, abs=0.51)
    assert row.z_residual == pytest.approx((y_smp * m - truth) / se, abs=2e-6)
    # the estimator must land within plausible sampling noise of truth
    assert abs(row.z_residual) < 5.0
    # sample fraction tracks 1/m
    assert n_smp / n_pop == pytest.approx(1 / m, rel=0.35)


def test_referential_orphans_clean_star(spark):
    """The driver tables are referentially intact by construction — the
    audit must report exactly 7 edges, correct row counts, 0 orphans."""
    from wikipedia_org_xmldump_importer_spark.queries.quality_ops import (
        dq_referential_orphans,
    )

    rows = {r.fk_edge: r for r in dq_referential_orphans(spark, SF_SMOKE).collect()}
    assert len(rows) == 7
    counts = {
        t: load_table(spark, SF_SMOKE, t).count()
        for t in ("lineitem", "orders", "customer", "supplier", "nation")
    }
    for edge, r in rows.items():
        src = edge.split(".")[0]
        assert r.n_rows == counts[src]
        assert r.n_orphans == 0
        assert r.orphan_rate == 0.0


def test_referential_orphans_detects_breakage(spark, tmp_path):
    """Break one FK on purpose (drop half the customers) and assert the
    audit counts exactly the orphaned order rows."""
    import shutil

    from wikipedia_org_xmldump_importer_spark.queries.quality_ops import (
        dq_referential_orphans,
    )

    for t in ("lineitem", "orders", "customer", "supplier", "nation",
              "region", "part", "events", "documents", "embeddings"):
        src = f"{SF_SMOKE}/{t}.parquet"
        shutil.copy(src, tmp_path / f"{t}.parquet")
    cust = load_table(spark, SF_SMOKE, "customer")
    kept = cust.filter(cust.c_custkey % 2 == 0)
    kept.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    want = sum(1 for r in orders if r.o_custkey % 2 == 1)
    rows = {
        r.fk_edge: r
        for r in dq_referential_orphans(spark, str(tmp_path)).collect()
    }
    r = rows["orders.o_custkey->customer"]
    assert r.n_orphans == want
    assert r.orphan_rate == pytest.approx(want / len(orders), abs=2e-6)


def test_scd3_python_replay(spark):
    from datetime import datetime, timedelta

    from wikipedia_org_xmldump_importer_spark.queries.merge_ops import (
        scd3_prev_column,
    )

    epoch = datetime(1970, 1, 1)
    byc: dict[int, list] = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "orders").collect():
        us = int((r.o_orderdate - epoch).total_seconds() * 1e6)
        byc[r.o_custkey].append((us, r.o_orderkey, r.o_orderpriority))
    rows = {r.custkey: r for r in scd3_prev_column(spark, SF_SMOKE).collect()}
    assert set(rows) == set(byc)
    for ck, seq in byc.items():
        seq.sort()
        changes = []
        prev = None
        n_changes = -1
        for us, ok, val in seq:
            if prev is None or val != prev:
                changes.append((us // DAY_US, ok, val, prev))
                n_changes += 1
            prev = val
        day, ok, val, pv = max(changes, key=lambda c: (c[0], c[1]))
        r = rows[ck]
        assert r.current_priority == val
        assert r.prev_priority == pv
        assert r.changed_at_day == day
        assert r.n_changes == n_changes
        # the walked-forward final value equals the sequence's last value
        assert val == seq[-1][2] or n_changes >= 0


def test_closeness_bfs_replay(spark):
    """Full Python BFS from each reported hub (the definition) — the
    engines' 6-round unrolled min-join must equal true distances
    (6 hops exceed the bipartite diameter at this SF, verified here)."""
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        graph_closeness_hubs,
    )

    adj = _graph(spark)
    n = len(adj)
    deg = {u: len(vs) for u, vs in adj.items()}
    hubs = sorted(deg, key=lambda u: (-deg[u], u))[:12]
    rows = {r.hub: r for r in graph_closeness_hubs(spark, SF_SMOKE).collect()}
    assert set(rows) == set(hubs)
    for h in hubs:
        dist = {h: 0}
        q = deque([h])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        assert max(dist.values()) <= 6, "BFS radius exceeded the unroll depth"
        r = rows[h]
        assert r.degree == deg[h]
        assert r.n_reached == len(dist)
        assert r.sum_dist == sum(dist.values())
        cw = (len(dist) - 1) ** 2 / ((n - 1) * sum(dist.values()))
        assert r.closeness_wf == pytest.approx(cw, abs=2e-6)


def test_walk_corpus_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        graph_walk_corpus,
    )

    adj = _graph(spark)
    got = defaultdict(dict)
    for r in graph_walk_corpus(spark, SF_SMOKE).collect():
        got[r.start_node][r.step] = r.node
    assert set(got) == set(adj)
    for start in adj:
        cur = start
        assert got[start][0] == start
        for step in range(1, 5):
            def hsel(nbr):
                return (
                    ((start * 7 + step * 13 + nbr * 31) % 2147483648 + 2147483648)
                    % 2147483648
                    * 2654435761
                ) % 4294967296

            cur = min(adj[cur], key=lambda v: (hsel(v), v))
            assert got[start][step] == cur
        # every emitted hop is a real edge
        for step in range(1, 5):
            assert got[start][step] in adj[got[start][step - 1]]
