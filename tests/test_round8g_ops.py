"""Invariant + pure-Python replay tests for the round-8 seventh batch
(x321-x325): LLR collocations, one-step logistic IRLS, classifier
metrics, TOPSIS scorecard, gap memory coefficient.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from conftest import SF_SMOKE, half_away

from wikipedia_org_xmldump_importer_spark.io import load_table


def test_llr_collocations_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.index_ops import (
        ngram_llr_collocations,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    cnt: dict[tuple, int] = defaultdict(int)
    for d in docs:
        t = d.text.split(" ")
        for a, b in zip(t, t[1:]):
            cnt[(a, b)] += 1
    r: dict[str, int] = defaultdict(int)
    c: dict[str, int] = defaultdict(int)
    for (a, b), k in cnt.items():
        r[a] += k
        c[b] += k
    n = sum(cnt.values())

    def llr(a, b):
        k11 = cnt[(a, b)]
        k12, k21 = r[a] - k11, c[b] - k11
        k22 = n - r[a] - c[b] + k11

        def term(k, rm, cm):
            return 0.0 if k == 0 else k * math.log(k * n / (rm * cm))

        return 2.0 * (
            term(k11, r[a], c[b])
            + term(k12, r[a], n - c[b])
            + term(k21, n - r[a], c[b])
            + term(k22, n - r[a], n - c[b])
        )

    cands = [(a, b) for (a, b), k in cnt.items() if k >= 5]
    ranked = sorted(cands, key=lambda ab: (-llr(*ab), ab[0], ab[1]))[:50]
    rows = ngram_llr_collocations(spark, SF_SMOKE).collect()
    assert len(rows) == min(50, len(cands))
    got = sorted(rows, key=lambda x: x.rk)
    for want, g in zip(ranked, got):
        assert (g.w1, g.w2) == want
        assert g.n_bigram == cnt[want]
        assert g.llr_g2 == pytest.approx(llr(*want), abs=1e-4)
        assert g.llr_g2 >= -1e-9  # G-squared is nonnegative


def test_logreg_irls_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.aggregates import (
        ml_logreg_irls_step,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    xs = [half_away(r.value * 100) for r in ev]
    ys = [1 if r.event_type == "purchase" else 0 for r in ev]
    n, p = len(xs), sum(ys)
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    sz = sum(2 * y - 1 for y in ys)
    sxz = sum(x * (2 * y - 1) for x, y in zip(xs, ys))
    det = n * sxx - sx * sx
    bx = 2.0 * (n * sxz - sx * sz) / det
    b0 = 2.0 * (sxx * sz - sx * sxz) / det
    [row] = ml_logreg_irls_step(spark, SF_SMOKE).collect()
    assert (row.n_rows, row.n_positive) == (n, p)
    assert row.beta_per_dollar == pytest.approx(bx * 100, abs=2e-6)
    assert row.beta_intercept == pytest.approx(b0, abs=2e-6)
    assert row.prob_at_mean == pytest.approx(
        1 / (1 + math.exp(-(b0 + bx * sx / n))), abs=2e-6
    )
    # sanity: one Fisher step moves the mean-point prob toward base rate
    assert abs(row.prob_at_mean - 0.5) < 0.5


def test_classifier_metrics_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.textops import (
        ml_classifier_metrics,
        text_langid,
    )

    preds = text_langid(spark, SF_SMOKE).collect()
    cell: dict[tuple, int] = defaultdict(int)
    for rr in preds:
        cell[(rr.actual_lang, rr.pred_lang)] += 1
    classes = {a for a, _ in cell} | {p for _, p in cell}
    rm: dict[str, int] = defaultdict(int)
    cm: dict[str, int] = defaultdict(int)
    for (a, p), k in cell.items():
        rm[a] += k
        cm[p] += k
    n = sum(cell.values())
    ntp = sum(k for (a, p), k in cell.items() if a == p)
    pe = sum(rm.get(cl, 0) * cm.get(cl, 0) for cl in classes) / (n * n)
    kappa = (ntp / n - pe) / (1 - pe)
    rows = {r.lang_class: r for r in ml_classifier_metrics(spark, SF_SMOKE).collect()}
    assert set(rows) == classes
    for cl in classes:
        r = rows[cl]
        tp = cell.get((cl, cl), 0)
        assert (r.n_actual, r.n_predicted, r.tp) == (
            rm.get(cl, 0),
            cm.get(cl, 0),
            tp,
        )
        prec = 0.0 if cm.get(cl, 0) == 0 else tp / cm[cl]
        rec = 0.0 if rm.get(cl, 0) == 0 else tp / rm[cl]
        f1 = 0.0 if tp == 0 else 2 * tp / (rm.get(cl, 0) + cm.get(cl, 0))
        assert r.precision_ == pytest.approx(prec, abs=2e-6)
        assert r.recall_ == pytest.approx(rec, abs=2e-6)
        assert r.f1 == pytest.approx(f1, abs=2e-6)
        assert r.accuracy == pytest.approx(ntp / n, abs=2e-6)
        assert r.cohens_kappa == pytest.approx(kappa, abs=2e-6)
        # F1 is bounded by min(precision, recall) scaled harmonics
        assert f1 <= max(prec, rec) + 1e-9


def test_topsis_python_replay(spark):
    from datetime import datetime, timedelta

    from wikipedia_org_xmldump_importer_spark.queries.merge_ops import (
        supplier_scorecard_topsis,
    )

    epoch = datetime(1970, 1, 1)
    od = {
        r.o_orderkey: (r.o_orderdate - epoch) // timedelta(days=1)
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    }
    agg = defaultdict(lambda: [0, set(), 0, 0])
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        a = agg[r.l_suppkey]
        a[0] += half_away(r.l_extendedprice * (1 - r.l_discount) * 100)
        a[1].add(r.l_orderkey)
        sd = (r.l_shipdate - epoch) // timedelta(days=1)
        a[2] += sd - od[r.l_orderkey]
        a[3] += 1
    crit = {
        sk: (a[0], len(a[1]), a[2] / a[3]) for sk, a in agg.items()
    }
    import numpy as np

    sks = sorted(crit)
    mat = np.array([crit[sk] for sk in sks], dtype=float)
    norms = np.sqrt((mat * mat).sum(axis=0))
    r_ = mat / norms
    best = [r_[:, 0].max(), r_[:, 1].max(), r_[:, 2].min()]
    worst = [r_[:, 0].min(), r_[:, 1].min(), r_[:, 2].max()]
    dp = np.sqrt(((r_ - best) ** 2).sum(axis=1))
    dm = np.sqrt(((r_ - worst) ** 2).sum(axis=1))
    score = dm / (dp + dm)
    order = sorted(range(len(sks)), key=lambda i: (-score[i], sks[i]))[:25]
    rows = sorted(
        supplier_scorecard_topsis(spark, SF_SMOKE).collect(),
        key=lambda x: x.rk,
    )
    assert [r.suppkey for r in rows] == [sks[i] for i in order]
    for r, i in zip(rows, order):
        assert r.rev_cents == crit[sks[i]][0]
        assert r.n_orders == crit[sks[i]][1]
        assert r.avg_lag_days == pytest.approx(crit[sks[i]][2], abs=2e-6)
        assert r.topsis_score == pytest.approx(score[i], abs=2e-6)
        assert 0.0 <= r.topsis_score <= 1.0


def test_gap_memory_python_replay(spark):
    from wikipedia_org_xmldump_importer_spark.queries.timeseries import (
        events_gap_memory,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    by_t: dict[str, list] = defaultdict(list)
    for r in ev:
        by_t[r.event_type].append((r.ts_us, r.event_id))
    rows = {r.event_type: r for r in events_gap_memory(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_t)
    for et, evs in by_t.items():
        evs.sort()
        gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
        g1, g2 = gaps[:-1], gaps[1:]
        n = len(g1)
        s1, s2 = sum(g1), sum(g2)
        s12 = sum(a * b for a, b in zip(g1, g2))
        s11 = sum(a * a for a in g1)
        s22 = sum(b * b for b in g2)
        m = (n * s12 - s1 * s2) / (
            math.sqrt(n * s11 - s1 * s1) * math.sqrt(n * s22 - s2 * s2)
        )
        r = rows[et]
        assert r.n_pairs == n
        assert r.mean_gap_s == pytest.approx((s1 + s2) / (2 * n) / 1e6, abs=2e-6)
        assert r.memory_coeff == pytest.approx(m, abs=2e-6)
        assert -1.0 - 1e-9 <= r.memory_coeff <= 1.0 + 1e-9
