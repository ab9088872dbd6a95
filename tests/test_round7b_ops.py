"""Invariants for the round-7 continuation batch (x221-x223): Benford digit
extraction + chi-square replayed in pure Python, peak concurrency vs a
brute-force interval sweep, and mutual-information marginal/replay checks.
All at sf0.001 (smoke grain)."""

from __future__ import annotations

import math

from conftest import DAY_US, SF_SMOKE

from wikipedia_org_xmldump_importer_spark.io import load_table
from wikipedia_org_xmldump_importer_spark.queries.quality_ops import dq_benford
from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
    events_mutual_info,
    events_peak_concurrency,
)

_GAP_US = 1_800_000_000


def test_benford_matches_python_replay(spark):
    """Replay the digit histogram + chi-square from raw order totals: exact
    cents -> decimal string -> first digit, same pinned expected shares."""
    exp = {
        1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
        6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
    }
    totals = [
        r.o_totalprice
        for r in load_table(spark, SF_SMOKE, "orders").select("o_totalprice").collect()
    ]
    counts: dict[int, int] = {}
    for p in totals:
        d = int(str(int(round(p * 100)))[0])
        counts[d] = counts.get(d, 0) + 1
    n = sum(counts.values())
    rows = {r.digit: r for r in dq_benford(spark, SF_SMOKE).collect()}
    assert set(rows) == set(counts)
    for d, c in counts.items():
        r = rows[d]
        assert r.n_obs == c
        assert r.exp_share == exp[d]
        assert abs(r.obs_share - c / n) < 1e-6
        dev = c - n * exp[d]
        assert abs(r.chi2_term - dev * dev / (n * exp[d])) < 1e-3
    # shares partition the probability mass (up to 6dp rounding per digit)
    assert abs(sum(r.obs_share for r in rows.values()) - 1.0) < 1e-5


def _sessions(events):
    """30-min-gap sessionize: [(start_us, end_us)] per user, Python replay."""
    by_user: dict[int, list[int]] = {}
    for uid, ts_us in events:
        by_user.setdefault(uid, []).append(ts_us)
    ivs = []
    for uid, tss in by_user.items():
        tss.sort()
        s = e = tss[0]
        for t in tss[1:]:
            if t - e > _GAP_US:
                ivs.append((s, e))
                s = t
            e = t
        ivs.append((s, e))
    return ivs


def test_peak_concurrency_matches_bruteforce(spark):
    """Brute-force the daily peak: clip each session to day segments, sweep
    (+1 at start, -1 at end+1, delta-ASC tie order), track the max."""
    ev = [
        (r.user_id, r.ts_us)
        for r in load_table(spark, SF_SMOKE, "events").select("user_id", "ts_us").collect()
    ]
    segs: dict[int, list[tuple[int, int]]] = {}
    for s, e in _sessions(ev):
        for day in range(s // DAY_US, e // DAY_US + 1):
            lo = max(s, day * DAY_US)
            hi = min(e, (day + 1) * DAY_US - 1)
            segs.setdefault(day, []).append((lo, hi))
    expect = {}
    for day, ivs in segs.items():
        pts = [(lo, 1) for lo, _ in ivs] + [(hi + 1, -1) for _, hi in ivs]
        pts.sort()  # ties: -1 sorts before +1 (delta ASC), matching the op
        conc = peak = 0
        for _, d in pts:
            conc += d
            peak = max(peak, conc)
        expect[day] = (len(ivs), peak)
    got = {
        r.day_idx: (r.n_sessions, r.peak_concurrent)
        for r in events_peak_concurrency(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_mutual_info_marginals_and_replay(spark):
    """Cell counts must tile the corpus; pmi/lift/mi_term replay from the
    pinned-6dp probability device; total MI (sum of micro-bit terms) >= 0."""
    ev = [
        (r.event_type, r.hr)
        for r in load_table(spark, SF_SMOKE, "events")
        .selectExpr("event_type", "CAST(hour(ts) AS INT) DIV 6 AS hr")
        .collect()
    ]
    n = len(ev)
    n_xy: dict = {}
    n_x: dict = {}
    n_y: dict = {}
    for t, h in ev:
        n_xy[(t, h)] = n_xy.get((t, h), 0) + 1
        n_x[t] = n_x.get(t, 0) + 1
        n_y[h] = n_y.get(h, 0) + 1
    rows = events_mutual_info(spark, SF_SMOKE).collect()
    assert sum(r.n_xy for r in rows) == n
    mi_total = 0
    for r in rows:
        assert r.n_xy == n_xy[(r.event_type, r.day_part)]
        p_xy = round(r.n_xy / n, 6)
        p_x = round(n_x[r.event_type] / n, 6)
        p_y = round(n_y[r.day_part] / n, 6)
        ratio = p_xy / (p_x * p_y)
        assert abs(r.lift - round(ratio, 6)) < 1e-9
        assert abs(r.pmi - round(math.log2(ratio), 6)) < 1e-9
        assert r.mi_term_u == round(p_xy * math.log2(ratio) * 1_000_000)
        mi_total += r.mi_term_u
    # MI of any joint distribution is non-negative; micro-unit rounding can
    # only move the sum by ~rows/2 units.
    assert mi_total >= -len(rows)


def test_holt_matches_python_replay(spark):
    """Replay Holt's recursion in pure Python over the daily counts; the
    fold + recursive CTE must match to double precision."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_holt_linear,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("ts_us").collect()
    daily: dict[int, int] = {}
    for r in ev:
        d = r.ts_us // DAY_US
        daily[d] = daily.get(d, 0) + 1
    ys = [float(daily[d]) for d in sorted(daily)]
    a, b = 0.3, 0.1
    lv, tr = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        lnew = a * y + (1 - a) * (lv + tr)
        tr = b * (lnew - lv) + (1 - b) * tr
        lv = lnew
    rows = {r.horizon: r for r in ts_holt_linear(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(1, 8))
    for h, r in rows.items():
        assert abs(r.forecast - round(lv + h * tr, 6)) < 1e-9
        assert abs(r.level - round(lv, 6)) < 1e-9
        assert abs(r.trend - round(tr, 6)) < 1e-9


def test_pps_sample_invariants(spark):
    """Systematic PPS: per stratum, total multiplicity == k (the grid has
    exactly k points and every point lands in exactly one unit's weight
    interval when offset < step <= W); heavier-than-step units may carry
    multiplicity > 1; inclusion replays from the closed form."""
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        sample_systematic_pps,
    )

    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    ).collect()
    by_seg: dict[str, list] = {}
    for r in cust:
        w = int(round(max(r.c_acctbal, 0) * 100)) + 1
        by_seg.setdefault(r.c_mktsegment, []).append((r.c_custkey, w))
    expect: dict = {}
    k = 20
    for seg, units in by_seg.items():
        units.sort()
        tw = sum(w for _, w in units)
        step = (tw + k - 1) // k
        off = step // 2
        cw = 0
        for ck, w in units:
            lo, hi = cw, cw + w
            n = (hi - off + step) // step - (lo - off + step) // step
            if n >= 1:
                expect[(seg, ck)] = (w, n)
            cw = hi
    got = {
        (r.c_mktsegment, r.c_custkey): (r.w, r.n_hits)
        for r in sample_systematic_pps(spark, SF_SMOKE).collect()
    }
    assert got == expect
    # grid exhaustiveness: multiplicities per stratum sum to ~k (k or k-1 —
    # the last grid point can fall past the final interval when step*k
    # overshoots W by more than step-off)
    for seg in by_seg:
        tot = sum(n for (s, _), (_, n) in got.items() if s == seg)
        assert tot in (k - 1, k), (seg, tot)


def test_bfs_matches_python_replay(spark):
    """Brute-force multi-source BFS over the collected edge set."""
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        graph_shortest_hops,
    )
    from wikipedia_org_xmldump_importer_spark.io import load_table as lt

    orders = lt(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = lt(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    )
    adj: dict[int, set] = {}
    for r in pairs:
        u, v = r.o_custkey, -(r.l_suppkey + 1)
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = sorted(((len(vs), n) for n, vs in adj.items()), key=lambda t: (-t[0], t[1]))
    seeds = [n for _, n in deg[:5]]
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for d in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    got = {r.node: r.dist for r in graph_shortest_hops(spark, SF_SMOKE).collect()}
    assert got == dist


def test_burstiness_python_replay(spark):
    """Replay dispersion/burstiness from raw tokens: exact integer moments,
    zero-docs implicit; function-word 'a'/'the' should sit near Poisson."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        text_burstiness,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    n_docs = len(docs)
    per: dict = {}
    for r in docs:
        for tok in r.text.split(" "):
            per.setdefault(tok, {}).setdefault(r.doc_id, 0)
            per[tok][r.doc_id] += 1
    rows = {r.token: r for r in text_burstiness(spark, SF_SMOKE).collect()}
    for tok, by_doc in per.items():
        t = sum(by_doc.values())
        if t < 50:
            assert tok not in rows
            continue
        s = sum(c * c for c in by_doc.values())
        num = n_docs * s - t * t
        den = n_docs * t
        r = rows[tok]
        assert r.n_docs == len(by_doc)
        assert r.total == t
        assert abs(r.dispersion - round(num / den, 6)) < 1e-9
        assert abs(r.burstiness - round((num - den) / (num + den), 6)) < 1e-9
        # variance is non-negative => D >= 0; burstiness bounded in [-1, 1)
        assert r.dispersion >= 0 and -1 <= r.burstiness < 1


def test_payload_entropy_bounds_and_replay(spark):
    """Entropy in [0, log2(n_distinct)] (+ micro-unit slack); replay one
    doc's histogram device in Python; uniform-bytes fixture sanity isn't
    possible here, so check the analytic cap instead."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        mm_payload_entropy,
    )

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    rows = mm_payload_entropy(spark, SF_SMOKE).collect()
    assert len(rows) == len(texts)
    for r in rows:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.n_distinct == len(set(raw))
        cap = math.log2(r.n_distinct) if r.n_distinct > 1 else 0.0
        assert -1e-4 <= r.entropy_bits <= cap + 1e-4
        # replay the micro-unit device
        hist: dict = {}
        for bb in raw:
            hist[bb] = hist.get(bb, 0) + 1
        tot = 0
        for c in hist.values():
            p = math.floor(c / len(raw) * 1e6 + 0.5) / 1e6
            tot += math.floor(-p * math.log2(p) * 1e6 + 0.5)
        assert abs(r.entropy_bits - round(tot / 1e6, 6)) < 1e-9


def test_dft_parseval_and_replay(spark):
    """Replay the 4-harmonic projection from the hourly profile with the
    module's own trig table; power shares sum to 1."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _DFT_TABLE,
        ts_seasonality_dft,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "CAST(hour(ts) AS INT) AS h"
    ).collect()
    prof: dict[int, int] = {}
    for r in ev:
        prof[r.h] = prof.get(r.h, 0) + 1
    proj: dict[int, list[int]] = {}
    for k, h, cu, su in _DFT_TABLE:
        a, b = proj.setdefault(k, [0, 0])
        n = prof.get(h, 0)
        proj[k] = [a + n * cu, b + n * su]
    rows = {r.k: r for r in ts_seasonality_dft(spark, SF_SMOKE).collect()}
    assert set(rows) == {1, 2, 3, 4}
    def pin(u: int, m: int) -> int:
        # the query's integer half-up device (NOTES #39): Python % / //
        # are floor-mod/floor-div, matching the pmod spelling exactly
        t = u + m // 2
        return (t - t % m) // m

    powers_u = {}
    for k, (au, bu) in proj.items():
        a_c, b_c = pin(au, 10000), pin(bu, 10000)
        powers_u[k] = a_c * a_c + b_c * b_c
        assert rows[k].a_k == a_c / 100.0 and rows[k].b_k == b_c / 100.0
        assert rows[k].power == pin(powers_u[k], 100) / 100.0
    tot_u = sum(powers_u.values())
    for k, r in rows.items():
        t = 2_000_000 * powers_u[k] + tot_u
        assert r.power_share == float((t - t % (2 * tot_u)) // (2 * tot_u)) / 1e6
    assert abs(sum(r.power_share for r in rows.values()) - 1.0) < 1e-4


def test_psi_drift_python_replay(spark):
    """Replay the PSI panel from raw events: exact integer binning, +1
    smoothing, micro-unit terms; identical distributions => PSI ~ 0."""
    from wikipedia_org_xmldump_importer_spark.queries.quality_ops import (
        dq_psi_drift,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "event_type", "CAST(day(ts) AS INT) AS dom",
        "CAST(ROUND(value * 100) AS BIGINT) AS cents",
    ).collect()
    cells: dict = {}
    n1: dict = {}
    n2: dict = {}
    for r in ev:
        period = 1 if r.dom <= 15 else 2
        b = r.cents // 5000
        key = (r.event_type, b)
        c1, c2 = cells.get(key, (0, 0))
        cells[key] = (c1 + (period == 1), c2 + (period == 2))
        if period == 1:
            n1[r.event_type] = n1.get(r.event_type, 0) + 1
        else:
            n2[r.event_type] = n2.get(r.event_type, 0) + 1
    rows = {(r.event_type, r.bucket): r for r in dq_psi_drift(spark, SF_SMOKE).collect()}
    assert set(rows) == set(cells)
    for (t, b), (c1, c2) in cells.items():
        r = rows[(t, b)]
        assert (r.c1, r.c2) == (c1, c2)
        s1 = round((c1 + 1) / (n1[t] + 10), 6)
        s2 = round((c2 + 1) / (n2[t] + 10), 6)
        assert (r.s1, r.s2) == (s1, s2)
        assert r.psi_term_u == round((s1 - s2) * math.log(s1 / s2) * 1_000_000)
        # PSI terms are individually non-negative: (s1-s2) and ln(s1/s2)
        # always share a sign
        assert r.psi_term_u >= 0


def test_vintage_curve_monotone_and_complete(spark):
    """Per cohort: cum_share is non-decreasing in age and ends at 1.0;
    cumulative counts tile the cohort's line count."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        orders_vintage_curve,
    )

    rows = orders_vintage_curve(spark, SF_SMOKE).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault((r.cohort_year, r.cohort_month), []).append(r)
    assert by_cohort
    for _, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_k)
        # the synthetic generator draws shipdate INDEPENDENT of orderdate,
        # so negative ages are expected here — the curve must report dirty
        # data, not hide it; the invariants are ordering + completeness
        cum = 0
        prev_share = -1.0
        for r in rs:
            cum += r.n_shipped
            assert r.cum_shipped == cum
            assert r.cum_share >= prev_share
            prev_share = r.cum_share
        assert abs(rs[-1].cum_share - 1.0) < 1e-9


def test_ema_irregular_python_replay(spark):
    """Replay the decay-table fold in pure Python (same pinned table, same
    parenthesization) — must match to double precision."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _EMA_DECAY,
        _EMA_MAX_BUCKET,
        ts_ema_irregular,
    )

    decay = dict(_EMA_DECAY)
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter("day(ts) <= 7")
        .select("event_type", "ts_us", "event_id", "value")
        .collect()
    )
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append((r.ts_us, r.event_id, r.value))
    rows = {r.event_type: r for r in ts_ema_irregular(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_type)
    for t, seq in by_type.items():
        seq.sort()
        l = seq[0][2]
        for (pts, _, _), (ts, _, y) in zip(seq, seq[1:]):
            d = decay[min((ts - pts) // 60_000_000, _EMA_MAX_BUCKET)]
            l = d * l + (1 - d) * y
        assert rows[t].n_events == len(seq)
        assert abs(rows[t].ema_final - round(l, 6)) < 1e-9


def test_countmin_invariants_and_replay(spark):
    """CMS never underestimates; estimate replays from the md5 cell
    construction in pure Python; total mass conservation per hash row."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_countmin_estimate,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_type").collect()
    tc: dict[str, int] = {}
    for r in ev:
        tc[r.event_type] = tc.get(r.event_type, 0) + 1
    cells: dict = {}
    for t, n in tc.items():
        for j in range(4):
            b = int(hashlib.md5(f"cms{j}:{t}".encode()).hexdigest()[:2], 16)
            cells[(j, b)] = cells.get((j, b), 0) + n
    rows = {r.event_type: r for r in agg_countmin_estimate(spark, SF_SMOKE).collect()}
    assert set(rows) == set(tc)
    for t, n in tc.items():
        est = min(
            cells[(j, int(hashlib.md5(f"cms{j}:{t}".encode()).hexdigest()[:2], 16))]
            for j in range(4)
        )
        r = rows[t]
        assert r.true_count == n
        assert r.cms_estimate == est
        assert r.overshoot == est - n >= 0


def test_tar_walker_parses_stdlib_archives(spark):
    """Pin the walker against Python's OWN tar writer (real checksums,
    real ustar layout): member count, byte totals, offsets, end marker."""
    import io
    import tarfile

    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        mm_parse_tar_members,
    )

    members = [("a.txt", b"x" * 700), ("b/img.png", b"y" * 13), ("c.bin", b"")]
    bio = io.BytesIO()
    with tarfile.open(fileobj=bio, mode="w", format=tarfile.USTAR_FORMAT) as t:
        for nm, data in members:
            ti = tarfile.TarInfo(nm)
            ti.size = len(data)
            t.addfile(ti, io.BytesIO(data))
    buf = bio.getvalue()
    n, total, second_off, end_off = mm_parse_tar_members(buf)
    assert n == 3
    assert total == 713
    # header(512) + 700->1024 padded + header(512) => member 2 data at 2048
    assert second_off == 2048
    # + 13->512 padded + header(512) + 0 data => end marker at 3072
    assert end_off == 3072
    # non-tar and truncated payloads reject cleanly
    assert mm_parse_tar_members(b"\x00" * 100) == (0, 0, None, None)
    assert mm_parse_tar_members(b"junk" * 300) == (0, 0, None, None)


def test_tar_members_registered_op_matches_tarfile_roundtrip(spark):
    """The registered op's JVM-built archives must be REAL enough for the
    stdlib to list: rebuild one doc's archive shape with tarfile and
    compare our walker's outputs on both."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        mm_parse_tar_members,
        mm_tar_members,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(5)
        .collect()
    }
    rows = {r.doc_id: r for r in mm_tar_members(spark, SF_SMOKE).collect()}
    import io
    import tarfile

    for doc_id, text in docs.items():
        raw = text.encode()
        bio = io.BytesIO()
        with tarfile.open(fileobj=bio, mode="w", format=tarfile.USTAR_FORMAT) as t:
            for nm, data in [
                (f"doc{doc_id}.txt", raw),
                (f"doc{doc_id}.meta", raw[:40]),
            ]:
                ti = tarfile.TarInfo(nm)
                ti.size = len(data)
                t.addfile(ti, io.BytesIO(data))
        expect = mm_parse_tar_members(bio.getvalue())
        r = rows[doc_id]
        got = (r.n_members, r.total_data_bytes, r.second_data_offset,
               r.end_marker_offset)
        assert got == expect


def test_simhash_calibration_consistency(spark):
    """The calibration histogram must tile x64's candidate set: cum_pairs
    at max distance == total candidates, and the pass-region total equals
    x64's emitted pair count."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        dedup_simhash_calibration,
        dedup_simhash_pairs,
    )

    hist = dedup_simhash_calibration(spark, SF_SMOKE).collect()
    assert hist
    hist.sort(key=lambda r: r.hamming)
    cum = 0
    for r in hist:
        assert 0 <= r.hamming <= 48
        assert abs(r.sim_est - round(1 - r.hamming / 48, 6)) < 1e-9
        assert r.would_pass == (1 if r.hamming <= 6 else 0)
        cum += r.n_pairs
        assert r.cum_pairs == cum
    n_pass = sum(r.n_pairs for r in hist if r.would_pass)
    assert n_pass == dedup_simhash_pairs(spark, SF_SMOKE).count()


def test_lorenz_decile_invariants(spark):
    """Deciles tile users and events; cum_share is non-decreasing, ends at
    1.0, and decile 1 (heaviest users) has the max per-decile share."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_user_lorenz,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    rows = sorted(events_user_lorenz(spark, SF_SMOKE).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_users for r in rows) == n_users
    assert sum(r.n_events for r in rows) == n_events
    assert max(r.share_events for r in rows) == rows[0].share_events
    prev = 0.0
    for r in rows:
        assert r.cum_share >= prev
        prev = r.cum_share
    assert abs(rows[-1].cum_share - 1.0) < 1e-5


def test_haar_reconstruction(spark):
    """Invert the decomposition in Python: approx+details must reconstruct
    the exact padded daily series (Haar is orthogonal — lossless)."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_wavelet_haar,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("ts_us").collect()
    daily: dict[int, int] = {}
    for r in ev:
        d = r.ts_us // DAY_US
        daily[d] = daily.get(d, 0) + 1
    d0 = min(daily)
    series = [float(daily.get(d0 + i, 0)) for i in range(32)]
    rows = ts_wavelet_haar(spark, SF_SMOKE).collect()
    approx = {r.pos: r.coef for r in rows if r.kind == "approx"}
    details = {
        lvl: {r.pos: r.coef for r in rows if r.kind == "detail" and r.level == lvl}
        for lvl in range(1, 6)
    }
    cur = [approx[i] for i in range(len(approx))]
    for lvl in range(5, 0, -1):
        nxt = []
        for i, a in enumerate(cur):
            d = details[lvl][i]
            nxt.extend([a + d, a - d])
        cur = nxt
    assert cur == series  # exact — dyadic arithmetic is lossless


def test_kmeans_fixed_point_invariants(spark):
    """Each final centroid must be the half-away-rounded mean of its own
    members (Lloyd fixed-point property after the last update), members
    tile the population, and assignment is nearest-centroid."""
    from wikipedia_org_xmldump_importer_spark.queries.llm import (
        cluster_kmeans_1d,
    )

    vals = [
        int(round(r.c_acctbal * 100))
        for r in load_table(spark, SF_SMOKE, "customer").select("c_acctbal").collect()
    ]
    rows = sorted(cluster_kmeans_1d(spark, SF_SMOKE).collect(), key=lambda r: r.cluster_id)
    assert [r.cluster_id for r in rows] == [0, 1, 2]
    assert sum(r.n_members for r in rows) == len(vals)
    cents = [r.centroid_cents for r in rows]
    # replay assignment + SAD against the emitted centroids
    import math

    agg = {j: [0, 0, 0] for j in range(3)}  # n, sum, sad
    for v in vals:
        dists = [abs(v - c) for c in cents]
        j = dists.index(min(dists))
        agg[j][0] += 1
        agg[j][1] += v
        agg[j][2] += abs(v - cents[j])
    for j, r in enumerate(rows):
        assert r.n_members == agg[j][0]
        assert r.sad_cents == agg[j][2]
        mean = agg[j][1] / agg[j][0]
        assert r.centroid_cents == int(
            math.copysign(math.floor(abs(mean) + 0.5), mean)
        )


def test_theil_python_replay_and_bounds(spark):
    """Replay Theil terms; total index in [0, ln(k)] (+ micro-unit slack)."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_theil_index,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_totalprice")
        .collect()
    )
    rev: dict[str, float] = {}
    for r in joined:
        rev[r.n_name] = rev.get(r.n_name, 0.0) + r.o_totalprice
    cents = {n: int(round(v * 100)) for n, v in rev.items()}
    xt = sum(cents.values())
    k = len(cents)
    mu = round(xt / k, 2)
    rows = {r.nation: r for r in agg_theil_index(spark, SF_SMOKE).collect()}
    assert set(rows) == set(cents)
    total_u = 0
    for n, x in cents.items():
        r = rows[n]
        assert r.x_cents == x
        share = round(x / xt, 6)
        assert abs(r.share - share) < 1e-9
        assert r.theil_term_u == round(share * math.log(x / mu) * 1_000_000)
        total_u += r.theil_term_u
    assert -k <= total_u <= math.log(k) * 1_000_000 + k


def test_markov_stationary_is_fixed_point(spark):
    """π must be a probability vector and (approximately, at the pinned
    precision) a fixed point of the pinned transition matrix."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_markov_stationary,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts_us", "event_id", "event_type"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.ts_us, r.event_id, r.event_type))
    cnt: dict = {}
    n_src: dict = {}
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
            n_src[a] = n_src.get(a, 0) + 1
    m = {(a, b): round(c / n_src[a], 6) for (a, b), c in cnt.items()}
    pi = {r.state: r.stationary_p for r in events_markov_stationary(spark, SF_SMOKE).collect()}
    assert abs(sum(pi.values()) - 1.0) < 1e-3  # row-stochastic M preserves mass
    # fixed point: one more application changes nothing beyond pin noise
    nxt: dict = {}
    for (a, b), p in m.items():
        nxt[b] = nxt.get(b, 0.0) + pi[a] * p
    for s, v in nxt.items():
        assert abs(v - pi[s]) < 1e-4, (s, v, pi[s])


def test_dp_hist_mechanism_replay(spark):
    """Replay the Laplace draw per cell; |noise| distribution sanity: the
    median |noise| for Lap(1) is ln(2) ~ 0.693 — check the empirical
    median lands in a generous band; exact per-cell replay pins values."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.quality_ops import (
        privacy_dp_hist,
    )

    rows = privacy_dp_hist(spark, SF_SMOKE).collect()
    errs = []
    for r in rows:
        h = int(
            hashlib.md5(f"dp:{r.c_nationkey}:{r.c_mktsegment}".encode()).hexdigest()[:8],
            16,
        )
        u = (h + 0.5) / 4294967296.0
        noise = (-1.0 if u >= 0.5 else 1.0) * math.log(1 - 2 * abs(u - 0.5))
        assert abs(r.noised_n - round(r.true_n + noise, 6)) < 1e-9
        assert abs(r.abs_err - round(abs(noise), 6)) < 1e-9
        errs.append(abs(noise))
    errs.sort()
    med = errs[len(errs) // 2]
    assert 0.2 < med < 2.0  # ln 2 with md5-uniform sampling noise


def test_binseg_matches_bruteforce(spark):
    """Brute-force every split of the daily series in Python and compare
    the winning (day, gain, means)."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_changepoint_binseg,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("ts_us").collect()
    daily: dict[int, int] = {}
    for r in ev:
        d = r.ts_us // DAY_US
        daily[d] = daily.get(d, 0) + 1
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n = len(ys)
    st, qt = sum(ys), sum(y * y for y in ys)
    sse_tot = qt - st * st / n
    best = None
    s = q = 0
    for i in range(1, n):
        s += ys[i - 1]
        q += ys[i - 1] * ys[i - 1]
        sse_l = q - s * s / i
        rs, rq = st - s, qt - q
        sse_r = rq - rs * rs / (n - i)
        gain = round(sse_tot - (sse_l + sse_r), 6)
        cand = (gain, -days[i - 1], round(s / i, 6), round(rs / (n - i), 6))
        if best is None or cand > best:
            best = cand
    row = ts_changepoint_binseg(spark, SF_SMOKE).collect()[0]
    assert row.split_day == -best[1]
    assert abs(row.gain - best[0]) < 1e-6
    assert abs(row.mean_left - best[2]) < 1e-9
    assert abs(row.mean_right - best[3]) < 1e-9


def test_hill_matches_python_replay(spark):
    """Replay the Hill estimator from the exact cents tail."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_hill_tail_index,
    )

    cents = sorted(
        (
            int(round(r.o_totalprice * 100))
            for r in load_table(spark, SF_SMOKE, "orders")
            .select("o_totalprice")
            .collect()
        ),
        reverse=True,
    )
    k = 100
    xk = cents[k]  # k+1-st order statistic
    sum_u = sum(round(math.log(c / xk) * 1_000_000) for c in cents[:k])
    row = agg_hill_tail_index(spark, SF_SMOKE).collect()[0]
    assert row.k == k
    assert row.xk_cents == xk
    assert row.sum_log_u == sum_u
    assert abs(row.alpha_hill - round(k * 1_000_000.0 / sum_u, 6)) < 1e-9
    assert row.alpha_hill > 0


def test_trimmed_winsorized_python_replay(spark):
    """Replay both robust means from sorted cents per flag."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_trimmed_mean,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    ).collect()
    by_flag: dict = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, r.l_orderkey, r.l_linenumber)
        )
    rows = {r.flag: r for r in agg_trimmed_mean(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_flag)
    for flag, pts in by_flag.items():
        pts.sort()
        cents = [int(round(p * 100)) for p, _, _ in pts]
        n = len(cents)
        cut = n * 5 // 100
        mid = cents[cut : n - cut]
        r = rows[flag]
        assert r.n_rows == n and r.n_cut == cut
        assert abs(r.trimmed_mean - round(sum(mid) / len(mid) / 100, 6)) < 1e-9
        wins = sum(mid) + cut * cents[cut] + cut * cents[n - cut - 1]
        assert abs(r.winsorized_mean - round(wins / n / 100, 6)) < 1e-9
        # robust means sit inside the data range
        assert cents[0] / 100 <= r.trimmed_mean <= cents[-1] / 100


def test_waterfall_bridge_identities(spark):
    """The bridge must be EXACT in integer cents, rates consistent."""
    from wikipedia_org_xmldump_importer_spark.queries.merge_ops import (
        finance_margin_waterfall,
    )

    rows = finance_margin_waterfall(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.net_c == r.gross_c - r.discount_c
        assert r.charged_c == r.net_c + r.tax_c
        assert 0 <= r.discount_rate < 1
        assert 0 <= r.effective_tax_rate < 1
        assert abs(r.discount_rate - round(r.discount_c / r.gross_c, 6)) < 1e-9


def test_grid_join_matches_bruteforce(spark):
    """The grid decomposition must find EXACTLY the brute-force band
    pairs (exhaustiveness = the pigeonhole argument under test)."""
    from wikipedia_org_xmldump_importer_spark.queries.joins import (
        join_grid_2d,
    )

    parts = [
        (r.p_partkey, r.p_size, int(round(r.p_retailprice * 100)))
        for r in load_table(spark, SF_SMOKE, "part")
        .select("p_partkey", "p_size", "p_retailprice")
        .collect()
    ]
    expect = {}
    for i, (ka, sa, ca) in enumerate(parts):
        for kb, sb, cb in parts[i + 1 :]:
            a, b = (ka, kb) if ka < kb else (kb, ka)
            if abs(sa - sb) <= 1 and abs(ca - cb) <= 100:
                expect[(a, b)] = (abs(sa - sb), abs(ca - cb))
    got = {
        (r.key_a, r.key_b): (r.d_size, r.d_cents)
        for r in join_grid_2d(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert got  # non-degenerate at smoke grain


def test_did_replay_and_identity(spark):
    """Replay the 2x2 means and the DiD identity from raw events."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_diff_in_diff,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "user_id", "CAST(ROUND(value*100) AS LONG) AS cents", "CAST(day(ts) AS INT) AS dom"
    ).collect()
    cells: dict = {}
    for r in ev:
        t = int(hashlib.md5(f"did:{r.user_id}".encode()).hexdigest()[:3], 16) % 2
        p = 1 if r.dom > 15 else 0
        n, s = cells.get((t, p), (0, 0))
        cells[(t, p)] = (n + 1, s + r.cents)
    means = {k: round(s / n / 100, 6) for k, (n, s) in cells.items()}
    did = round(
        means[(1, 1)] - means[(1, 0)] - (means[(0, 1)] - means[(0, 0)]), 6
    )
    rows = events_diff_in_diff(spark, SF_SMOKE).collect()
    assert len(rows) == 4
    for r in rows:
        n, _ = cells[(r.treated, r.post)]
        assert r.n == n
        assert abs(r.mean_value - means[(r.treated, r.post)]) < 1e-9
        assert abs(r.did_estimate - did) < 1e-9


def test_bootstrap_ci_replay_and_coverage_shape(spark):
    """Replay the Poisson-bootstrap machinery in Python (same hash, same
    pinned CDF) and check the statistical shape: mean inside CI, CI
    roughly 2x(2x se) wide, se > 0."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        _BOOT_B,
        _POIS1_CDF,
        agg_bootstrap_ci,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "event_id", "CAST(ROUND(value*100) AS LONG) AS cents"
    ).collect()
    means_u = []
    for b in range(_BOOT_B):
        g, o = b // 4, b % 4
        sw = swx = 0
        for r in ev:
            hx = hashlib.md5(f"boot:{r.event_id}:{g}".encode()).hexdigest()
            hv = int(hx[8 * o : 8 * o + 8], 16)
            w = 7
            for k, c in enumerate(_POIS1_CDF):
                # hex-threshold semantics: hx < hex(floor(c * 2^32))
                if hv < int(c * 4294967296):
                    w = k
                    break
            sw += w
            swx += w * r.cents
        means_u.append(round(swx / sw / 100 * 1_000_000))
    means_u.sort()
    row = agg_bootstrap_ci(spark, SF_SMOKE).collect()[0]
    assert row.n == len(ev)
    assert row.n_reps == _BOOT_B
    assert abs(row.ci_lo - round(means_u[2] / 1e6, 6)) < 1e-9
    assert abs(row.ci_hi - round(means_u[97] / 1e6, 6)) < 1e-9
    assert row.ci_lo <= row.mean_full <= row.ci_hi
    assert row.se_boot > 0
    # percentile CI width vs 2*1.96*se: same order of magnitude
    assert 0.3 < (row.ci_hi - row.ci_lo) / (2 * 1.96 * row.se_boot) < 3


def test_spherical_kmeans_python_replay(spark):
    """Full Python replay of the quantize -> 3x(assign, update) -> report
    pipeline; also k-means sanity: every member's cosine to its own
    centroid >= its cosine to any other centroid (assignment optimality
    at the final round)."""
    from wikipedia_org_xmldump_importer_spark.queries.llm import (
        _SKM_ITERS,
        _SKM_K,
        vec_kmeans_spherical,
    )

    rows_in = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = []
    for r in rows_in:
        e = [float(x) for x in r.embedding]
        mx = max(abs(x) for x in e)
        if mx == 0:
            continue
        q = [int(math.floor(abs(x / mx * 127) + 0.5) * (1 if x >= 0 else -1)) for x in e]
        vecs.append((r.vec_id, r.label, q))
    vecs.sort()
    cents = [list(v[2]) for v in vecs[:_SKM_K]]

    def assign(q, cs):
        best = None
        for j, c in enumerate(cs):
            dp = sum(a * b for a, b in zip(q, c))
            n2 = sum(x * x for x in c)
            cos = dp / math.sqrt(n2)
            key = (-cos, j)
            if best is None or key < best[0]:
                best = (key, j, dp, n2)
        return best[1], best[2], best[3]

    for _ in range(_SKM_ITERS):
        sums: dict = {}
        for _, _, q in vecs:
            j, _, _ = assign(q, cents)
            st = sums.setdefault(j, [0] * (len(q) + 1))
            st[-1] += 1
            for d, v in enumerate(q):
                st[d] += v
        for j in range(_SKM_K):
            if j in sums:
                n = sums[j][-1]
                cents[j] = [
                    int(math.copysign(math.floor(abs(s / n) + 0.5), s / n))
                    for s in sums[j][:-1]
                ]
    agg: dict = {}
    for _, label, q in vecs:
        j, dp, n2 = assign(q, cents)
        qn2 = sum(x * x for x in q)
        cos_u = round(dp / math.sqrt(n2) / math.sqrt(qn2) * 1_000_000)
        st = agg.setdefault(j, [0, 0, {}])
        st[0] += 1
        st[1] += cos_u
        st[2][label] = st[2].get(label, 0) + 1
    got = {r.cluster_id: r for r in vec_kmeans_spherical(spark, SF_SMOKE).collect()}
    assert set(got) == set(agg)
    for j, (n, su, labs) in agg.items():
        r = got[j]
        assert r.n_members == n
        assert abs(r.avg_cos - round(su / n / 1e6, 6)) < 1e-9
        tl, tn = sorted(labs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.top_label, r.n_top_label) == (tl, tn)


def test_causal_impact_replay(spark):
    """Replay the pre-period OLS and post-period counterfactual chain."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_causal_impact,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "user_id", "ts_us", "CAST(day(ts) AS INT) AS dom",
        "CAST(ROUND(value*100) AS LONG) AS cents",
    ).collect()
    daily: dict = {}
    for r in ev:
        d = r.ts_us // DAY_US
        t = int(hashlib.md5(f"ci:{r.user_id}".encode()).hexdigest()[:3], 16) % 2
        y, x, dom = daily.get(d, (0, 0, r.dom))
        daily[d] = (y + (r.cents if t else 0), x + (0 if t else r.cents), r.dom)
    pre = [(x, y) for (y, x, dom) in daily.values() if dom <= 15]
    n = len(pre)
    sx = float(sum(x for x, _ in pre)); sy = float(sum(y for _, y in pre))
    sxy = sum(float(x) * y for x, y in pre); sxx = sum(float(x) * x for x, _ in pre)
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    ybar, xbar = sy / n, sx / n
    rows = sorted(events_causal_impact(spark, SF_SMOKE).collect(), key=lambda r: r.day_idx)
    cum = 0.0
    for r in rows:
        y, x, dom = daily[r.day_idx]
        assert dom > 15
        pred = (ybar + b * (x - xbar)) / 100
        actual = round(y / 100, 2)
        assert r.actual == actual
        assert abs(r.predicted - round(pred, 6)) < 1e-9
        assert abs(r.effect - round(actual - pred, 6)) < 1e-9
        cum += actual - pred
        assert abs(r.cum_effect - round(cum, 6)) < 1e-6


def test_hits_scores_normalized_and_bipartite(spark):
    """Hub scores sum to 1, auth scores sum to 1 (L1-normalized halves);
    hubs are customer ids (positive custkeys), auths are supplier ids."""
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        graph_hits,
    )

    rows = graph_hits(spark, SF_SMOKE).collect()
    hubs = [r for r in rows if r.side == "hub"]
    auths = [r for r in rows if r.side == "auth"]
    assert hubs and auths
    assert abs(sum(r.score for r in hubs) - 1.0) < 1e-3
    assert abs(sum(r.score for r in auths) - 1.0) < 1e-3
    assert all(r.score >= 0 for r in rows)


def test_jsd_matrix_properties(spark):
    """JSD is symmetric-by-construction (pairs emitted once), bounded in
    [0, 1] bits, and the full |sources| choose 2 matrix is present;
    jsd_bits must equal jsd2_u/2e6 exactly."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        source_jsd_matrix,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    n_src = docs.select("source").distinct().count()
    rows = source_jsd_matrix(spark, SF_SMOKE).collect()
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r.src_a < r.src_b
        assert -1e-6 <= r.jsd_bits <= 1.0 + 1e-6
        assert r.jsd_bits == r.jsd2_u / 2_000_000.0


def test_holt_winters_python_replay(spark):
    """Replay the triple-exponential recursion with the rolling seasonal
    buffer in pure Python — must match to double precision."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_holt_winters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("ts_us").collect()
    daily: dict[int, int] = {}
    for r in ev:
        d = r.ts_us // DAY_US
        daily[d] = daily.get(d, 0) + 1
    ys = [float(daily[d]) for d in sorted(daily)]
    a, b, g, m = 0.3, 0.1, 0.2, 7
    l = sum(ys[:m]) / m
    tr = (sum(ys[m : 2 * m]) / m - sum(ys[:m]) / m) / m
    s = [y - l for y in ys[:m]]
    i = m  # 1-based count of consumed elements
    for y in ys[m:]:
        slot = i % m
        lnew = a * (y - s[slot]) + (1 - a) * (l + tr)
        tr = b * (lnew - l) + (1 - b) * tr
        s[slot] = g * (y - lnew) + (1 - g) * s[slot]
        l = lnew
        i += 1
    t = len(ys)
    rows = {r.horizon: r for r in ts_holt_winters(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(1, 8))
    for h in range(1, 8):
        slot = (t + h - 1) % m
        assert abs(rows[h].seasonal - round(s[slot], 6)) < 1e-9
        assert abs(rows[h].forecast - round(l + h * tr + s[slot], 6)) < 1e-9
    # seasonal components of a weekly cycle roughly cancel over the week
    assert abs(sum(r.seasonal for r in rows.values())) < sum(
        abs(r.seasonal) for r in rows.values()
    ) + 1e-9


def test_xcorr_replay_and_symmetry_bound(spark):
    """Replay the lag-0 correlation from raw counts; all values in
    [-1, 1]; lag 0 present."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_xcorr_lagged,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "CAST(ts_us DIV 86400000000 AS LONG) AS day", "event_type"
    ).collect()
    daily: dict = {}
    for r in ev:
        if r.event_type in ("view", "purchase"):
            a, b = daily.get(r.day, (0, 0))
            daily[r.day] = (a + (r.event_type == "view"), b + (r.event_type == "purchase"))
    xs = [a for a, _ in daily.values()]
    ys = [b for _, b in daily.values()]
    n = len(xs)
    sa, sb = sum(xs), sum(ys)
    sab = sum(a * b for a, b in zip(xs, ys))
    saa = sum(a * a for a in xs)
    sbb = sum(b * b for b in ys)
    r0 = (n * sab - sa * sb) / math.sqrt(
        (n * saa - sa * sa) * (n * sbb - sb * sb)
    )
    rows = {r.lag: r for r in ts_xcorr_lagged(spark, SF_SMOKE).collect()}
    assert 0 in rows
    assert abs(rows[0].xcorr - round(r0, 6)) < 1e-9
    assert rows[0].n_days == n
    for r in rows.values():
        assert -1.000001 <= r.xcorr <= 1.000001


def test_shard_manifest_partitions_and_checksum(spark):
    """Shards tile the corpus exactly; checksum replays from the hash and
    is invariant to member order by construction."""
    import hashlib

    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        pipeline_shard_manifest,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars").collect()
    agg: dict = {}
    for r in docs:
        shard = int(hashlib.md5(f"shard:{r.doc_id}".encode()).hexdigest()[:4], 16) % 16
        h = int(
            hashlib.md5(f"member:{r.doc_id}:{r.n_chars}".encode()).hexdigest()[:12],
            16,
        )
        n, tc, lo, hi, ck = agg.get(shard, (0, 0, None, None, 0))
        agg[shard] = (
            n + 1,
            tc + r.n_chars,
            r.doc_id if lo is None else min(lo, r.doc_id),
            r.doc_id if hi is None else max(hi, r.doc_id),
            ck + h,
        )
    rows = {r.shard: r for r in pipeline_shard_manifest(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    assert sum(r.n_docs for r in rows.values()) == len(docs)
    for shard, (n, tc, lo, hi, ck) in agg.items():
        r = rows[shard]
        assert (r.n_docs, r.total_chars, r.min_doc_id, r.max_doc_id, r.member_checksum) == (
            n, tc, lo, hi, ck
        )


def test_binary_codecs_roundtrips_all_green(spark):
    """Every row must round-trip through both codecs; b64/hex replay."""
    import base64

    from wikipedia_org_xmldump_importer_spark.queries.scalar_fns import (
        fn_binary_codecs,
    )

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    rows = fn_binary_codecs(spark, SF_SMOKE).collect()
    assert len(rows) == len(texts)
    for r in rows:
        raw24 = texts[r.doc_id][:24].encode()
        raw12 = texts[r.doc_id][:12].encode()
        assert r.b64 == base64.b64encode(raw24).decode()
        assert r.hx == raw12.hex().upper()
        assert r.b64_roundtrip_ok == 1 and r.hex_roundtrip_ok == 1
        assert r.n_bytes == len(raw24)


def test_backtest_replay(spark):
    """Replay both baselines' absolute-error sums from daily counts."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_backtest_naive,
    )

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "event_type", "CAST(ts_us DIV 86400000000 AS LONG) AS day"
    ).collect()
    daily: dict = {}
    for r in ev:
        daily[(r.event_type, r.day)] = daily.get((r.event_type, r.day), 0) + 1
    dmax = max(d for _, d in daily)
    agg: dict = {}
    for (t, d), y in daily.items():
        if d <= dmax - 14:
            continue
        y1 = daily.get((t, d - 1))
        y7 = daily.get((t, d - 7))
        if y1 is None or y7 is None:
            continue
        n, s1, s7 = agg.get(t, (0, 0, 0))
        agg[t] = (n + 1, s1 + abs(y - y1), s7 + abs(y - y7))
    rows = {r.event_type: r for r in ts_backtest_naive(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    for t, (n, s1, s7) in agg.items():
        r = rows[t]
        assert (r.n_origins, r.sae_naive, r.sae_snaive) == (n, s1, s7)
        assert r.snaive_wins == (1 if s7 < s1 else 0)
        assert abs(r.mae_naive - round(s1 / n, 6)) < 1e-9


def test_var_cvar_replay_and_coherence(spark):
    """Replay VaR/CVaR from sorted cents; CVaR >= VaR (coherence of the
    tail mean beyond the quantile)."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_var_cvar,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    ).collect()
    by_seg: dict = {}
    for r in orders:
        by_seg.setdefault(r.o_orderpriority, []).append(
            (r.o_totalprice, r.o_orderkey)
        )
    rows = {r.seg: r for r in agg_var_cvar(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_seg)
    for seg, pts in by_seg.items():
        pts.sort()
        cents = [int(round(p * 100)) for p, _ in pts]
        n = len(cents)
        r_var = math.ceil(n * 0.95)
        var_c = cents[r_var - 1]
        tail = cents[r_var:]
        r = rows[seg]
        assert r.n_orders == n
        assert r.var_cents == var_c
        assert r.n_tail == len(tail)
        assert abs(r.cvar - round(sum(tail) / len(tail) / 100, 6)) < 1e-9
        assert r.cvar >= r.var_cents / 100
