"""Invariant + pure-Python replay tests for the round-8 batch (x259-x276).

Same discipline as the earlier round batches: every op with nontrivial
math gets either a from-raw-rows Python replay (exact expected values) or
a structural invariant that would catch a broken kernel, at sf0.001 smoke
grain. text_zlib_ratio is rows-only by declaration, so its correctness
case lives ENTIRELY here (bounds, repetition ordering, stdlib replay).
"""

from __future__ import annotations

import math
import zlib
from collections import defaultdict

from conftest import DAY_US, SF_SMOKE, daily_counts

from wikipedia_org_xmldump_importer_spark.io import load_table


def test_ks_twosample_python_replay(spark):
    """Exact D from raw rows: per type, split at day-of-month 15, merge
    ECDFs at distinct cents values, max cross-multiplied gap."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_ks_twosample,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    split: dict[str, tuple[list, list]] = defaultdict(lambda: ([], []))
    for r in ev:
        cents = round(r.value * 100)
        side = 0 if r.ts.day <= 15 else 1
        split[r.event_type][side].append(cents)
    rows = {r.event_type: r for r in agg_ks_twosample(spark, SF_SMOKE).collect()}
    assert set(rows) == set(split)
    for et, (s1, s2) in split.items():
        n1, n2 = len(s1), len(s2)
        vals = sorted(set(s1) | set(s2))
        c1 = c2 = 0
        dnum = 0
        from bisect import bisect_right

        s1s, s2s = sorted(s1), sorted(s2)
        for v in vals:
            c1 = bisect_right(s1s, v)
            c2 = bisect_right(s2s, v)
            dnum = max(dnum, abs(c1 * n2 - c2 * n1))
        r = rows[et]
        assert (r.n1, r.n2, r.d_num) == (n1, n2, dnum)
        assert abs(r.ks_d - dnum / (n1 * n2)) < 1e-6
        lam = (dnum / (n1 * n2)) * math.sqrt(n1 * n2 / (n1 + n2))
        assert abs(r.p_one_term - 2 * math.exp(-2 * lam * lam)) < 1e-5


def test_mann_kendall_python_replay(spark):
    """S, tie-corrected variance, z and the rank-discrete Sen slope
    replayed from the daily count series."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_mann_kendall,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in agg_mann_kendall(spark, SF_SMOKE).collect()}
    for et, series in daily.items():
        days = sorted(series)
        ys = [series[d] for d in days]
        n = len(ys)
        s = 0
        slopes = []
        for i in range(n):
            for j in range(i + 1, n):
                d = ys[j] - ys[i]
                s += (d > 0) - (d < 0)
                slopes.append((ys[j] - ys[i]) / (days[j] - days[i]))
        ties: dict[int, int] = defaultdict(int)
        for y in ys:
            ties[y] += 1
        tie18 = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        if s > 0:
            z = (s - 1) / math.sqrt(var18 / 18)
        elif s < 0:
            z = (s + 1) / math.sqrt(var18 / 18)
        else:
            z = 0.0
        slopes.sort()
        sen = slopes[(len(slopes) + 1) // 2 - 1]
        r = rows[et]
        assert (r.n_days, r.s_stat, r.var18) == (n, s, var18)
        assert abs(r.z_mk - z) < 1e-5
        assert abs(r.sen_slope - sen) < 1e-6


def test_circular_hour_replay_and_bounds(spark):
    """Resultant length in [0,1]; C/S sums replayed via the same
    micro-unit table; mean_hour matches atan2 replay mod 24."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        _CIRC_TABLE,
        agg_circular_hour,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cnt: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in ev:
        cnt[r.event_type][r.ts.hour] += 1
    trig = {h: (c, s) for h, c, s in _CIRC_TABLE}
    rows = {r.event_type: r for r in agg_circular_hour(spark, SF_SMOKE).collect()}
    for et, hours in cnt.items():
        n = sum(hours.values())
        cu = sum(k * trig[h][0] for h, k in hours.items())
        su = sum(k * trig[h][1] for h, k in hours.items())
        r = rows[et]
        assert (r.n_events, r.c_u, r.s_u) == (n, cu, su)
        assert 0.0 <= r.resultant_r <= 1.0
        assert abs(r.circ_variance - (1 - r.resultant_r)) < 2e-6
        mh = (math.atan2(su, cu) / (2 * math.pi) * 24 + 24) % 24
        assert abs(r.mean_hour - mh) < 1e-3


def test_mean_family_inequality_and_replay(spark):
    """AM-GM-HM-QM chain: HM <= GM <= AM <= QM per segment, plus an
    arithmetic-mean exact replay."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_mean_family,
    )

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    cents: dict[str, list[int]] = defaultdict(list)
    for r in orders:
        cents[r.o_orderpriority].append(round(r.o_totalprice * 100))
    rows = {r.seg: r for r in agg_mean_family(spark, SF_SMOKE).collect()}
    for seg, xs in cents.items():
        r = rows[seg]
        assert r.n_orders == len(xs)
        assert abs(r.mean_arith - sum(xs) / len(xs) / 100) < 1e-4
        assert r.mean_harm <= r.mean_geom + 1e-4
        assert r.mean_geom <= r.mean_arith + 1e-4
        assert r.mean_arith <= r.mean_quad + 1e-4


def test_qq_normal_monotone_and_anchor(spark):
    """Observed quantiles non-decreasing in pct; z at 50% is 0 so
    q_theo(50) equals the fitted mean."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_qq_normal,
    )

    rows = sorted(agg_qq_normal(spark, SF_SMOKE).collect(), key=lambda r: r.pct)
    assert [r.pct for r in rows] == list(range(5, 100, 5))
    for a, b in zip(rows, rows[1:]):
        assert a.q_obs <= b.q_obs
        assert a.q_theo <= b.q_theo
    mid = next(r for r in rows if r.pct == 50)
    assert mid.z_theo == 0.0
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    mean = sum(round(r.o_totalprice * 100) for r in orders) / len(orders) / 100
    assert abs(mid.q_theo - mean) < 0.02


def test_spectral_entropy_bounds_and_power_shares(spark):
    """Entropy in [0,1]; shares sum to ~1 per type; Parseval-style
    positivity of every power cell."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _SPEC_K,
        ts_spectral_entropy,
    )

    rows = ts_spectral_entropy(spark, SF_SMOKE).collect()
    by_type: dict[str, list] = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for et, rs in by_type.items():
        assert len(rs) == _SPEC_K
        assert all(r.power >= 0 for r in rs)
        assert abs(sum(r.p_share for r in rs) - 1.0) < 1e-4
        ent = {r.spectral_entropy for r in rs}
        assert len(ent) == 1
        assert 0.0 <= rs[0].spectral_entropy <= 1.0 + 1e-9


def test_theta_forecast_python_replay(spark):
    """SES fold + half-OLS-drift replayed in pure Python."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _THETA_ALPHA,
        ts_theta_forecast,
    )

    daily = defaultdict(int)
    for r in load_table(spark, SF_SMOKE, "events").collect():
        daily[r.ts_us // DAY_US] += 1
    ys = [float(daily[d]) for d in sorted(daily)]
    lvl = ys[0]
    for y in ys[1:]:
        lvl = _THETA_ALPHA * y + (1 - _THETA_ALPHA) * lvl
    n = len(ys)
    si = n * (n + 1) / 2
    sii = sum((i + 1) ** 2 for i in range(n))
    sy = sum(ys)
    siy = sum((i + 1) * y for i, y in enumerate(ys))
    drift = (n * siy - si * sy) / (n * sii - si * si) / 2
    rows = {r.horizon: r for r in ts_theta_forecast(spark, SF_SMOKE).collect()}
    for h in range(1, 8):
        assert abs(rows[h].forecast - (lvl + h * drift)) < 1e-4
        assert abs(rows[h].ses_level - lvl) < 1e-4
        assert abs(rows[h].half_drift - drift) < 1e-4


def test_hurst_rs_python_replay(spark):
    """Block R/S replay for one size; hurst constant within type."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_hurst_rs,
    )

    daily = daily_counts(spark)
    rows = ts_hurst_rs(spark, SF_SMOKE).collect()
    by_type = defaultdict(dict)
    for r in rows:
        by_type[r.event_type][r.m] = r
    for et, series in daily.items():
        ys = [series[d] for d in sorted(series)]
        for m, r in by_type[et].items():
            rs_us = []
            for b in range(len(ys) // m):
                blk = ys[b * m : (b + 1) * m]
                s, ssq = sum(blk), sum(y * y for y in blk)
                if m * ssq - s * s <= 0:
                    continue
                pref = 0
                devs = []
                for t, y in enumerate(blk, start=1):
                    pref += y
                    devs.append(m * pref - t * s)
                rng = max(devs) - min(devs)
                rs_us.append(round(rng / math.sqrt(m * ssq - s * s) * 1e6))
            assert r.n_blocks == len(rs_us)
            assert abs(r.rs_mean - sum(rs_us) / (len(rs_us) * 1e6)) < 1e-6
        hs = {r.hurst for r in by_type[et].values()}
        assert len(hs) == 1


def test_sax_symbols_tercile_invariants(spark):
    """Symbols partition blocks by rank terciles: counts match the exact
    integer arithmetic; paa_mean replays from daily sums."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _SAX_W,
        ts_sax_symbols,
    )

    rows = ts_sax_symbols(spark, SF_SMOKE).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    daily = daily_counts(spark)
    for et, rs in by_type.items():
        m = len(rs)
        n_a = sum(1 for r in rs if r.symbol == "a")
        n_b = sum(1 for r in rs if r.symbol == "b")
        n_c = sum(1 for r in rs if r.symbol == "c")
        assert n_a == m // 3
        assert n_a + n_b == (2 * m) // 3
        assert n_a + n_b + n_c == m
        # ranks are a permutation and symbols are monotone in rank
        ranks = sorted(r.paa_rank for r in rs)
        assert ranks == list(range(1, m + 1))
        for r in rs:
            ys = [daily[et][d] for d in sorted(daily[et])]
            blk = ys[r.blk * _SAX_W : (r.blk + 1) * _SAX_W]
            assert abs(r.paa_mean - sum(blk) / _SAX_W) < 1e-6


def test_zlib_ratio_properties(spark):
    """Rows-only op: stdlib replay on every doc + the repetition-orders-
    ratios property on synthetic extremes."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        _ZLIB_LEVEL,
        text_zlib_ratio,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    rows = {r.doc_id: r for r in text_zlib_ratio(spark, SF_SMOKE).collect()}
    assert set(rows) == set(docs)
    for doc_id, text in docs.items():
        raw = text.encode("utf-8")
        r = rows[doc_id]
        assert r.n_bytes == len(raw)
        assert r.n_compressed == len(zlib.compress(raw, _ZLIB_LEVEL))
        assert 0 < r.zlib_ratio
        assert abs(r.zlib_ratio - r.n_compressed / r.n_bytes) < 1e-6
    # repetition compresses harder than varied text of the same length
    rep = len(zlib.compress(b"ab" * 500, _ZLIB_LEVEL))
    varied = len(
        zlib.compress(bytes((i * 37 + 11) % 251 for i in range(1000)), _ZLIB_LEVEL)
    )
    assert rep < varied


def test_heaps_curve_monotone_and_final_totals(spark):
    """Curve checkpoints monotone in docs/tokens/vocab; the last
    checkpoint equals the exact corpus totals."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        vocab_growth_heaps,
    )

    rows = sorted(
        vocab_growth_heaps(spark, SF_SMOKE).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs <= b.n_docs
        assert a.cum_tokens <= b.cum_tokens
        assert a.cum_vocab <= b.cum_vocab
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    total_tok = sum(len(r.text.split(" ")) for r in docs)
    vocab = set()
    for r in docs:
        vocab.update(r.text.split(" "))
    last = rows[-1]
    assert last.n_docs == len(docs)
    assert last.cum_tokens == total_tok
    assert last.cum_vocab == len(vocab)
    betas = {r.heaps_beta_u for r in rows}
    assert len(betas) == 1
    # micro-scaled exponent in [0, 1): the smoke corpus has a 31-token
    # vocabulary fully seen by the first decile, so beta == 0 exactly there
    assert 0 <= betas.pop() < 1_000_000
    # ttr_u is the micro-scaled exact ratio of the integer curve columns
    for r in rows:
        assert r.ttr_u == round(r.cum_vocab * 1_000_000.0 / r.cum_tokens)


def test_adamic_adar_python_replay(spark):
    """Top-pair scores replayed exactly from the bipartite edge list."""
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        graph_adamic_adar,
    )

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    cust_of = {r.o_orderkey: r.o_custkey for r in orders}
    edges = {(cust_of[r.l_orderkey], r.l_suppkey) for r in li}
    nbrs: dict[int, set] = defaultdict(set)
    for c, s in edges:
        nbrs[c].add(s)
    w_u = {
        c: round(1e6 / math.log(len(ss))) for c, ss in nbrs.items() if len(ss) >= 2
    }
    scores: dict[tuple, int] = defaultdict(int)
    common: dict[tuple, int] = defaultdict(int)
    for c, ss in nbrs.items():
        if c not in w_u:
            continue
        ss = sorted(ss)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                scores[(ss[i], ss[j])] += w_u[c]
                common[(ss[i], ss[j])] += 1
    rows = graph_adamic_adar(spark, SF_SMOKE).collect()
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    got = [((r.supp_a, r.supp_b), r.aa_u) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == expect
    for r in rows:
        assert r.common == common[(r.supp_a, r.supp_b)]


def test_trailing_windows_python_replay(spark):
    """Per-order trailing features replayed from the raw order list —
    exclusive of the current day, inclusive of day-d-minus-window."""
    from wikipedia_org_xmldump_importer_spark.queries.windows import (
        feature_trailing_windows,
    )

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    by_cust = defaultdict(list)
    epoch_day = lambda ts: ts.toordinal() - 719163  # noqa: E731
    for r in orders:
        by_cust[r.o_custkey].append(
            (epoch_day(r.o_orderdate.date()), round(r.o_totalprice * 100), r.o_orderkey)
        )
    rows = {r.o_orderkey: r for r in feature_trailing_windows(spark, SF_SMOKE).collect()}
    for cust, lst in by_cust.items():
        for day, cents, okey in lst:
            r = rows[okey]
            assert r.day == day
            for w in (7, 30, 90):
                sel = [
                    c for (d, c, _) in lst if day - w <= d <= day - 1
                ]
                assert getattr(r, f"cnt_{w}d") == len(sel)
                assert getattr(r, f"cents_{w}d") == sum(sel)


def test_fuzzy_blocked_neighborhood_contract(spark):
    """Every emitted pair is within the rank window, within distance, and
    matches Python's edit distance; pairs outside the block never appear."""
    from wikipedia_org_xmldump_importer_spark.queries.joins import (
        _FUZZY_MAXDIST,
        join_fuzzy_blocked,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    part = load_table(spark, SF_SMOKE, "part").collect()
    key_of = {r.p_partkey: (r.p_brand, r.p_size) for r in part}
    name_of = {r.p_partkey: r.p_name for r in part}
    rows = join_fuzzy_blocked(spark, SF_SMOKE).collect()
    for r in rows:
        assert key_of[r.key_a] == key_of[r.key_b] == (r.p_brand, r.p_size)
        assert r.edit_dist == lev(name_of[r.key_a], name_of[r.key_b])
        assert r.edit_dist <= _FUZZY_MAXDIST


def test_ks_drift_daily_consistency(spark):
    """Per (type, day): d_num <= n_prev*n_cur; every interior day of a
    type's span appears; flag agrees with the lambda-squared rule."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_ks_drift_daily,
    )

    daily = daily_counts(spark)
    rows = events_ks_drift_daily(spark, SF_SMOKE).collect()
    seen = {(r.event_type, r.day) for r in rows}
    for et, series in daily.items():
        days = sorted(series)
        for a, b in zip(days, days[1:]):
            if b == a + 1:
                assert (et, b) in seen
    for r in rows:
        assert 0 <= r.d_num <= r.n_prev * r.n_cur
        ks = r.d_num / (r.n_prev * r.n_cur)
        lam2 = ks * ks * (r.n_prev * r.n_cur / (r.n_prev + r.n_cur))
        assert r.drift_flag == (1 if lam2 > 1.8444 else 0)


# ---------------------------------------------------------------------------
# second round-8 batch (x277-x286)
# ---------------------------------------------------------------------------


def test_kendall_tau_python_replay(spark):
    """C/D/tie counts and tau-b replayed from the joint daily series."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        corr_kendall_tau,
    )

    daily = daily_counts(spark, types={"view", "purchase"})
    days = sorted(set(daily["view"]) & set(daily["purchase"]))
    pts = [(daily["view"][d], daily["purchase"][d]) for d in days]
    c = d = tx = ty = txy = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[j][0] - pts[i][0]
            dy = pts[j][1] - pts[i][1]
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
            elif dx == 0 and dy == 0:
                txy += 1
            elif dx == 0:
                tx += 1
            else:
                ty += 1
    r = corr_kendall_tau(spark, SF_SMOKE).collect()[0]
    assert (r.n_days, r.concordant, r.discordant) == (len(pts), c, d)
    assert (r.ties_x, r.ties_y, r.ties_xy) == (tx, ty, txy)
    tau = (c - d) / math.sqrt((c + d + tx + txy) * (c + d + ty + txy))
    assert abs(r.tau_b - tau) < 1e-6
    assert -1 <= r.tau_b <= 1


def test_spearman_python_replay(spark):
    """Average-rank Spearman replayed from raw lineitem rows."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        corr_spearman,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    qs = [round(r.l_quantity * 100) for r in li]
    ps = [round(r.l_extendedprice * 100) for r in li]

    def avg_ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        ranks = [0.0] * len(xs)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = avg
            i = j + 1
        return ranks

    rx, ry = avg_ranks(qs), avg_ranks(ps)
    n = len(rx)
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    r = corr_spearman(spark, SF_SMOKE).collect()[0]
    assert r.n_rows == n
    assert abs(r.spearman_rho - num / den) < 1e-6


def test_entropy_family_replay_and_ordering(spark):
    """Shannon >= Renyi-2 (Renyi is non-increasing in order); exact
    Simpson replay from hourly counts."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_entropy_family,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    cnt = defaultdict(lambda: defaultdict(int))
    for r in ev:
        cnt[r.event_type][r.ts.hour] += 1
    rows = {r.event_type: r for r in agg_entropy_family(spark, SF_SMOKE).collect()}
    for et, hours in cnt.items():
        n = sum(hours.values())
        sc2 = sum(c * c for c in hours.values())
        r = rows[et]
        assert r.n_events == n and r.k_hours == len(hours)
        assert abs(r.gini_simpson - (1 - sc2 / n / n)) < 1e-6
        assert abs(r.effective_hours - n * n / sc2) < 1e-3
        assert r.shannon_norm >= r.renyi2_norm - 1e-6
        sh = -sum(
            (c / n) * math.log(c / n) for c in hours.values()
        ) / math.log(24)
        assert abs(r.shannon_norm - sh) < 1e-4


def test_stopword_profile_replay(spark):
    """Top-20 df stopword set + per-source density replayed exactly."""
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        _STOPK,
        text_stopword_profile,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    df = defaultdict(int)
    for r in docs:
        for t in r.text.split(" "):
            df[t] += 1
    stop = set(
        t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:_STOPK]
    )
    per = defaultdict(lambda: [0, 0])
    for r in docs:
        toks = r.text.split(" ")
        per[r.source][0] += len(toks)
        per[r.source][1] += sum(1 for t in toks if t in stop)
    rows = {r.source: r for r in text_stopword_profile(spark, SF_SMOKE).collect()}
    assert set(rows) == set(per)
    for src, (ntok, nstop) in per.items():
        r = rows[src]
        assert (r.n_tokens, r.n_stopword_tokens) == (ntok, nstop)
        assert abs(r.stopword_density - nstop / ntok) < 1e-6


def test_cos_histogram_mass_and_bounds(spark):
    """Histogram covers exactly the sampled pair count; bins inside
    [-1, 1]; shares sum to 1."""
    from wikipedia_org_xmldump_importer_spark.queries.llm import (
        _COSH_TARGET,
        embed_cos_histogram,
    )

    n = load_table(spark, SF_SMOKE, "embeddings").count()
    rows = embed_cos_histogram(spark, SF_SMOKE).collect()
    total = sum(r.n_pairs for r in rows)
    assert total > 0
    # pair mass can never exceed the full sample's C(n,2)
    assert total <= n * (n - 1) // 2
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert -1.0 <= r.cos_lo <= 1.0
    assert _COSH_TARGET >= 1


def test_dispersion_panel_replay(spark):
    """Fano/CV2/burstiness replayed from daily counts."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_dispersion_panel,
    )

    daily = daily_counts(spark)
    rows = {r.event_type: r for r in events_dispersion_panel(spark, SF_SMOKE).collect()}
    for et, series in daily.items():
        ys = list(series.values())
        n = len(ys)
        mean = sum(ys) / n
        var = sum((y - mean) ** 2 for y in ys) / (n - 1)
        sd = math.sqrt(var)
        r = rows[et]
        assert r.n_days == n
        assert abs(r.mean_daily - mean) < 1e-4
        assert abs(r.var_daily - var) < 1e-3
        assert abs(r.fano - var / mean) < 1e-4
        assert abs(r.cv2 - var / mean**2) < 1e-4
        assert abs(r.burstiness - (sd - mean) / (sd + mean)) < 1e-5
        assert -1 < r.burstiness < 1


def test_lttb_structure_and_area_argmax(spark):
    """One point per bucket; endpoints kept; the area winner replayed for
    every interior bucket."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        _LTTB_W,
        ts_downsample_lttb,
    )

    daily = daily_counts(spark)
    rows = ts_downsample_lttb(spark, SF_SMOKE).collect()
    by_type = defaultdict(dict)
    for r in rows:
        assert r.bucket not in by_type[r.event_type]
        by_type[r.event_type][r.bucket] = r
    for et, series in daily.items():
        days = sorted(series)
        pts = [(d, series[d]) for d in days]
        buckets = [pts[i : i + _LTTB_W] for i in range(0, len(pts), _LTTB_W)]
        got = by_type[et]
        assert set(got) == set(range(len(buckets)))
        assert got[0].day == buckets[0][0][0] and got[0].rule == "first"
        last_b = len(buckets) - 1
        assert got[last_b].day == buckets[last_b][-1][0]
        assert got[last_b].rule == "last"
        for b in range(1, last_b):
            sxp = sum(x for x, _ in buckets[b - 1])
            syp = sum(y for _, y in buckets[b - 1])
            mp = len(buckets[b - 1])
            sxn = sum(x for x, _ in buckets[b + 1])
            syn = sum(y for _, y in buckets[b + 1])
            mn = len(buckets[b + 1])
            best = max(
                (
                    (
                        abs(
                            (sxp * mn - sxn * mp) * (y * mp - syp)
                            - (sxp - x * mp) * (syn * mp - syp * mn)
                        ),
                        -x,
                    ),
                    (x, y),
                )
                for x, y in buckets[b]
            )
            # max by (area, -day) == argmax area with min-day tie-break
            assert got[b].day == best[1][0]
            assert got[b].area_key == best[0][0]
            assert got[b].rule == "area"


def test_fd_discovery_known_dependencies(spark):
    """c_custkey -> c_nationkey must hold exactly (custkey is a key);
    the reverse direction must violate heavily; g3 replay for one pair."""
    from wikipedia_org_xmldump_importer_spark.queries.quality_ops import (
        dq_fd_discovery,
    )

    rows = {
        (r.determinant, r.dependent): r
        for r in dq_fd_discovery(spark, SF_SMOKE).collect()
    }
    key_fd = rows[("c_custkey", "c_nationkey")]
    assert key_fd.violation_rate == 0.0
    assert key_fd.n_conforming == key_fd.n_rows
    rev = rows[("c_nationkey", "c_custkey")]
    assert rev.violation_rate > 0.5
    cust = load_table(spark, SF_SMOKE, "customer").collect()
    cell = defaultdict(lambda: defaultdict(int))
    for r in cust:
        cell[r.c_nationkey][r.c_mktsegment] += 1
    conforming = sum(max(d.values()) for d in cell.values())
    fd = rows[("c_nationkey", "c_mktsegment")]
    assert fd.n_conforming == conforming
    assert abs(fd.violation_rate - (1 - conforming / len(cust))) < 1e-6


def test_curriculum_phase_balance_and_determinism(spark):
    """Phases are balanced rank quartiles; order keys are md5-derived and
    stable across runs; score replay."""
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        _CURR_PHASES,
        curriculum_schedule,
    )

    rows1 = sorted(curriculum_schedule(spark, SF_SMOKE).collect(), key=lambda r: r.doc_id)
    rows2 = sorted(curriculum_schedule(spark, SF_SMOKE).collect(), key=lambda r: r.doc_id)
    assert rows1 == rows2  # deterministic end to end
    n = len(rows1)
    from collections import Counter

    phases = Counter(r.phase for r in rows1)
    assert set(phases) == set(range(1, _CURR_PHASES + 1))
    assert max(phases.values()) - min(phases.values()) <= 1
    docs = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    import hashlib

    for r in rows1[:20]:
        toks = docs[r.doc_id].split(" ")
        assert r.n_tok == len(toks)
        assert r.n_uniq == len(set(toks))
        assert r.score_u == len(set(toks)) * 1_000_000 // len(toks)
        assert r.order_key == hashlib.md5(f"curr:{r.doc_id}".encode()).hexdigest()[:16]
    # phase ordering follows score ordering
    by_phase = defaultdict(list)
    for r in rows1:
        by_phase[r.phase].append(r.score_u)
    for ph in range(1, _CURR_PHASES):
        assert max(by_phase[ph]) <= min(by_phase[ph + 1])


def test_degree_powerlaw_replay(spark):
    """Degree histogram exact; Hill alpha replayed with the same
    micro-nat pinning."""
    from wikipedia_org_xmldump_importer_spark.queries.graph_ops import (
        _DEGPL_K,
        graph_degree_powerlaw,
    )

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    cust_of = {r.o_orderkey: r.o_custkey for r in orders}
    edges = {(cust_of[r.l_orderkey], r.l_suppkey) for r in li}
    deg = defaultdict(int)
    for _, s in edges:
        deg[s] += 1
    hist = defaultdict(int)
    for d in deg.values():
        hist[d] += 1
    ranked = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
    keff = min(_DEGPL_K, len(ranked) - 1)
    dk1 = ranked[keff][1]
    s_u = sum(round(math.log(d / dk1) * 1e6) for _, d in ranked[:keff])
    alpha = round(keff * 1e6 / s_u, 6)
    rows = graph_degree_powerlaw(spark, SF_SMOKE).collect()
    got_hist = {r.degree: r.n_nodes for r in rows}
    assert got_hist == dict(hist)
    assert all(abs(r.alpha_hill - alpha) < 1e-6 for r in rows)
