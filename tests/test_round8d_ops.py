"""Invariant + pure-Python replay tests for the round-8 fourth batch
(x297-x306): Welch t, Tukey box panel, association rules, Gini stump,
peak detection, EWMA volatility, FORCAST readability, mixture
water-filling, Naive Bayes language ID, log-log elasticity.

Same discipline as test_round8c_ops.py: exact-integer parts replay
cell-for-cell from raw rows; float epilogues compare at the engines'
6dp publication grain. The stump and NB replays are full brute-force
re-implementations of the DEFINITION (every candidate split scanned /
every doc scored), proving the engines' prefix-sum / join shortcuts
equal the textbook form, not just each other.
"""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import datetime, timedelta

import pytest
from conftest import DAY_US, SF_SMOKE, daily_counts, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def _cents_by_type(spark):
    ev = load_table(spark, SF_SMOKE, "events").collect()
    vals: dict[str, list[int]] = defaultdict(list)
    for r in ev:
        vals[r.event_type].append(half_away(r.value * 100))
    return vals


def test_welch_ttest_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_welch_ttest,
    )

    vals = _cents_by_type(spark)
    xs, ys = vals["purchase"], vals["click"]
    n1, n2 = len(xs), len(ys)
    m1, m2 = sum(xs) / n1, sum(ys) / n2
    v1 = (sum(x * x for x in xs) - sum(xs) ** 2 / n1) / (n1 - 1)
    v2 = (sum(y * y for y in ys) - sum(ys) ** 2 / n2) / (n2 - 1)
    se1, se2 = v1 / n1, v2 / n2
    t = (m1 - m2) / math.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (se1**2 / (n1 - 1) + se2**2 / (n2 - 1))
    [row] = agg_welch_ttest(spark, SF_SMOKE).collect()
    assert (row.n_purchase, row.n_click) == (n1, n2)
    assert row.mean_diff_cents == pytest.approx(m1 - m2, abs=1e-5)
    assert row.t_stat == pytest.approx(t, abs=1e-5)
    assert row.df_welch == pytest.approx(df, rel=1e-6)
    assert row.mean_differs == (1 if abs(t) > 1.959964 else 0)


def test_boxplot_tukey_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        agg_boxplot_tukey,
    )

    vals = _cents_by_type(spark)
    rows = {r.event_type: r for r in agg_boxplot_tukey(spark, SF_SMOKE).collect()}
    assert set(rows) == set(vals)
    for et, xs in vals.items():
        s = sorted(xs)
        n = len(s)
        q1, med, q3 = s[(n + 3) // 4 - 1], s[(n + 1) // 2 - 1], s[(3 * n + 3) // 4 - 1]
        lo2, hi2 = 2 * q1 - 3 * (q3 - q1), 2 * q3 + 3 * (q3 - q1)
        r = rows[et]
        assert r.n == n
        assert (r.q1, r.median, r.q3) == (
            round(q1 / 100, 2),
            round(med / 100, 2),
            round(q3 / 100, 2),
        )
        assert r.iqr_cents == q3 - q1
        assert r.whisker_lo == round(min(x for x in s if 2 * x >= lo2) / 100, 2)
        assert r.whisker_hi == round(max(x for x in s if 2 * x <= hi2) / 100, 2)
        assert r.n_low_outliers == sum(1 for x in s if 2 * x < lo2)
        assert r.n_high_outliers == sum(1 for x in s if 2 * x > hi2)
        # whiskers sit inside the fences, quartiles ordered
        assert q1 <= med <= q3


def test_association_rules_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        basket_association_rules,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    pt = {r.p_partkey: r.p_brand for r in load_table(spark, SF_SMOKE, "part").collect()}
    baskets: dict[int, set] = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(pt[r.l_partkey])
    n = len(baskets)
    nb: dict[str, int] = defaultdict(int)
    nab: dict[tuple, int] = defaultdict(int)
    for bs in baskets.values():
        for b in bs:
            nb[b] += 1
        for a in bs:
            for b in bs:
                if a < b:
                    nab[(a, b)] += 1
    want = {}
    for (a, b), j in nab.items():
        if j * 100 >= n:
            for ante, cons in ((a, b), (b, a)):
                want[(ante, cons)] = (
                    j,
                    round(j / n, 6),
                    round(j / nb[ante], 6),
                    round(j * n / (nb[ante] * nb[cons]), 6),
                )
    got = {
        (r.antecedent, r.consequent): (
            r.n_joint,
            r.support,
            r.confidence,
            r.lift,
        )
        for r in basket_association_rules(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k, (j, sup, conf, lift) in want.items():
        gj, gs, gc, gl = got[k]
        assert gj == j
        assert gs == pytest.approx(sup, abs=2e-6)
        assert gc == pytest.approx(conf, abs=2e-6)
        assert gl == pytest.approx(lift, abs=2e-6)


def test_gini_stump_bruteforce_replay(spark):
    """Scan EVERY candidate split in Python (the definition) and assert
    the engines' prefix-sum argmin picks the same split and impurities."""
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        ml_gini_stump,
    )

    vals = _cents_by_type(spark)
    allv = sorted({x for xs in vals.values() for x in xs})
    rows = {r.target_type: r for r in ml_gini_stump(spark, SF_SMOKE).collect()}
    assert set(rows) == set(vals)
    for target in vals:
        pts = [(x, 1) for x in vals[target]] + [
            (x, 0) for et, xs in vals.items() if et != target for x in xs
        ]
        n, p = len(pts), sum(c for _, c in pts)

        def wgini(nl, pl):
            gl = nl - (pl * pl + (nl - pl) * (nl - pl)) / nl
            nr, prr = n - nl, p - pl
            gr = nr - (prr * prr + (nr - prr) * (nr - prr)) / nr
            return gl + gr

        best = None
        for v in allv[:-1]:
            nl = sum(1 for x, _ in pts if x <= v)
            if nl in (0, n):
                continue
            pl = sum(c for x, c in pts if x <= v)
            w = wgini(nl, pl)
            if best is None or w < best[0] - 1e-9:
                best = (w, v)
        parent = n - (p * p + (n - p) * (n - p)) / n
        r = rows[target]
        assert (r.n_rows, r.n_positive) == (n, p)
        assert r.split_value == pytest.approx(best[1] / 100, abs=1e-9)
        assert r.gini_parent == pytest.approx(parent / n, abs=2e-6)
        assert r.gini_split == pytest.approx(best[0] / n, abs=2e-6)
        assert r.gini_gain == pytest.approx((parent - best[0]) / n, abs=2e-6)
        assert r.gini_gain >= -1e-9


def test_peaks_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_peaks,
    )

    daily = daily_counts(spark)
    got = {(r.event_type, r.day): r for r in ts_peaks(spark, SF_SMOKE).collect()}
    want = set()
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        for i in range(1, len(ys) - 1):
            if ys[i] > ys[i - 1] and ys[i] > ys[i + 1]:
                want.add((et, days[i]))
                lo, hi = max(0, i - 3), min(len(ys), i + 4)
                s, c = sum(ys[lo:hi]), hi - lo
                r = got[(et, days[i])]
                assert (r.y, r.y_prev, r.y_next) == (ys[i], ys[i - 1], ys[i + 1])
                assert (r.win_sum, r.win_n) == (s, c)
                assert r.is_major == (1 if c * ys[i] > 2 * s else 0)
    assert set(got) == want


def test_ewvol_python_replay(spark):
    """Replay the lambda=0.94 recursion incrementally (the recursive-CTE
    form) and assert the engines' per-prefix fold equals it bit-for-bit
    at the 6dp publication grain."""
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        ts_ewvol,
    )

    daily = daily_counts(spark)
    got = defaultdict(dict)
    for r in ts_ewvol(spark, SF_SMOKE).collect():
        got[r.event_type][r.day] = r
    for et, dd in daily.items():
        days = sorted(dd)
        ys = [dd[d] for d in days]
        ds = [b - a for a, b in zip(ys, ys[1:])]
        s2 = None
        for i, d in enumerate(ds):
            s2 = float(d * d) if i == 0 else 0.94 * s2 + 0.06 * (d * d)
            r = got[et][days[i + 1]]
            assert r.d_count == d
            assert r.sigma2 == pytest.approx(s2, abs=2e-6)
            assert r.ew_vol == pytest.approx(math.sqrt(s2), abs=2e-6)
        assert set(got[et]) == set(days[1:])


def test_readability_python_replay(spark):
    import re

    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        docs_readability_forcast,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    agg: dict[str, list] = defaultdict(lambda: [set(), 0, 0, 0, 0])
    for d in docs:
        st = agg[d.source]
        st[0].add(d.doc_id)
        for tok in d.text.split(" "):
            if not tok:
                continue
            ng = len(re.findall(r"[aeiouy]+", tok))
            st[1] += 1
            st[2] += ng
            st[3] += ng == 1
            st[4] += ng >= 3
    rows = {r.source: r for r in docs_readability_forcast(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    for src, (dset, w, syl, mono, poly) in agg.items():
        r = rows[src]
        assert (r.n_docs, r.n_words, r.n_syllable_groups) == (len(dset), w, syl)
        assert (r.n_mono, r.n_poly) == (mono, poly)
        assert r.syllables_per_word == pytest.approx(syl / w, abs=2e-6)
        assert r.poly_rate == pytest.approx(poly / w, abs=2e-6)
        assert r.forcast_grade == pytest.approx(20.0 - 15.0 * mono / w, abs=2e-6)


def test_mixture_weights_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.pipeline import (
        pipeline_mixture_weights,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    a: dict[str, int] = defaultdict(int)
    for d in docs:
        a[d.source] += len(d.text.split(" "))
    total = sum(a.values())
    b = total // 2
    target = float(b) / len(a)
    lam = 1.0
    for _ in range(3):
        s_cap = sum(v for v in a.values() if lam * target >= float(v))
        c_unc = sum(1 for v in a.values() if lam * target < float(v))
        lam = float(b - s_cap) / (float(c_unc) * target)
    rows = {r.source: r for r in pipeline_mixture_weights(spark, SF_SMOKE).collect()}
    assert set(rows) == set(a)
    expected_total = 0.0
    for src, av in a.items():
        w = min(1.0, lam * target / float(av))
        r = rows[src]
        assert r.tokens == av
        assert r.target_tokens == pytest.approx(target, abs=1e-6)
        assert r.weight == pytest.approx(w, abs=1e-6)
        assert r.expected_tokens == pytest.approx(w * av, abs=1e-4)
        assert r.capped == (1 if lam * target >= float(av) else 0)
        assert 0.0 < r.weight <= 1.0
        expected_total += w * av
    # the water level never overshoots the budget (underfill only)
    assert expected_total <= b + 1e-6 * total


def test_naive_bayes_bruteforce_replay(spark):
    """Score every doc against every lang with the textbook smoothed
    multinomial NB (micro-nat pinned logs) and assert the engines'
    confusion matrix matches; also require better-than-chance accuracy."""
    from wikipedia_org_xmldump_importer_spark.queries.llm import (
        ml_naive_bayes_lang,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    train: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    n_l: dict[str, int] = defaultdict(int)
    for d in docs:
        n_l[d.lang] += 1
        for tok in d.text.split(" "):
            if tok:
                train[d.lang][tok] += 1
    vocab = {t for c in train.values() for t in c}
    v = len(vocab)

    def lnmu(k: int) -> int:
        return half_away(math.log(k) * 1e6)

    conf: dict[tuple, int] = defaultdict(int)
    for d in docs:
        cnt: dict[str, int] = defaultdict(int)
        for tok in d.text.split(" "):
            if tok:
                cnt[tok] += 1
        m_d = sum(cnt.values())
        best = None
        for lang in sorted(n_l):
            tot = sum(train[lang].values())
            s = (
                sum(c * lnmu(train[lang][t] + 1) for t, c in cnt.items() if t in train[lang])
                - m_d * lnmu(tot + v)
                + lnmu(n_l[lang])
            )
            if best is None or s > best[0]:
                best = (s, lang)
        conf[(d.lang, best[1])] += 1
    got = {
        (r.lang_true, r.lang_pred): r.n_docs
        for r in ml_naive_bayes_lang(spark, SF_SMOKE).collect()
    }
    assert got == dict(conf)
    acc = sum(n for (t, p), n in conf.items() if t == p) / len(docs)
    # the synthetic corpus draws all langs from one shared a-z token space,
    # so separability is weak by construction — still require >2x chance
    assert acc > 0.4


def test_price_elasticity_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.merge_ops import (
        part_price_elasticity,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    pt = load_table(spark, SF_SMOKE, "part").collect()
    qty: dict[int, int] = defaultdict(int)
    for r in li:
        qty[r.l_partkey] += half_away(r.l_quantity)
    groups: dict[str, list] = defaultdict(list)
    for p in pt:
        q = qty.get(p.p_partkey, 0)
        if q >= 1:
            x = half_away(math.log(half_away(p.p_retailprice * 100)) * 1e6)
            y = half_away(math.log(q) * 1e6)
            groups[p.p_brand].append((x, y))
    rows = {r.brand: r for r in part_price_elasticity(spark, SF_SMOKE).collect()}
    assert set(rows) == set(groups)
    for brand, pts in groups.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        covn = float(n * sxy - sx * sy)
        varxn = float(n * sxx - sx * sx)
        varyn = float(n * syy - sy * sy)
        r = rows[brand]
        assert r.n_parts == n
        assert r.elasticity == pytest.approx(covn / varxn, abs=2e-6)
        assert r.intercept_ln == pytest.approx(
            (sy - covn / varxn * sx) / n / 1e6, abs=2e-6
        )
        assert r.r2 == pytest.approx(covn * covn / (varxn * varyn), abs=2e-6)
        assert 0.0 <= r.r2 <= 1.0 + 1e-9


def test_croston_day_alignment(spark):
    """Regression guard for the batch's shared day arithmetic: the
    lineitem shipdate day used by ts_croston must equal DuckDB's
    epoch_us // day for every row at the smoke SF."""
    li = load_table(spark, SF_SMOKE, "lineitem").limit(500).collect()
    epoch = datetime(1970, 1, 1)
    for r in li:
        a = (r.l_shipdate - epoch) // timedelta(days=1)
        us = int((r.l_shipdate - epoch).total_seconds() * 1_000_000)
        assert a == us // DAY_US
