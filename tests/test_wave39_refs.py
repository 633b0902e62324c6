"""Independent-reference pins for the wave-39 queries (q306-q309).

The wave-31 discipline: textbook formulas recomputed from raw data in
plain Python/numpy — including a FROM-SCRATCH Holt / Holt-Winters
recursion for q307, so the scorecard is pinned against an
implementation that shares no code with operators/timeseries.py.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE, daily_event_counts


def test_q306_decomposition_matches_reference(spark, duck):
    rows = daily_event_counts(duck)
    days = [d for d, _ in rows]
    x = [v for _, v in rows]
    n = len(x)
    trend = [
        sum(x[i - 3 : i + 4]) / 7.0 if 3 <= i <= n - 4 else None
        for i in range(n)
    ]
    dev_by_dow: dict = {}
    for i, d in enumerate(days):
        if trend[i] is not None:
            dev_by_dow.setdefault(d.isoweekday() - 1, []).append(x[i] - trend[i])
    seasonal = {k: sum(v) / len(v) for k, v in dev_by_dow.items()}
    got = {r.day: r for r in REGISTRY["q306_classical_decomposition"].fn(spark, SF_ORACLE).collect()}
    assert len(got) == n
    for i, d in enumerate(days):
        r = got[d.strftime("%Y-%m-%d")]
        assert r.x == x[i]
        s = seasonal.get(d.isoweekday() - 1)
        if trend[i] is None:
            assert r.trend is None and r.remainder is None
        else:
            assert abs(r.trend - trend[i]) < 1e-6
            assert abs(r.remainder - (x[i] - trend[i] - s)) < 1e-5
        if s is not None:
            assert abs(r.seasonal - s) < 1e-6
        else:
            assert r.seasonal is None


def test_q307_scorecard_matches_reference(spark, duck):
    rows = daily_event_counts(duck)
    days = [d for d, _ in rows]
    x = [float(v) for _, v in rows]

    # from-scratch Holt (alpha = beta = 0.5), residuals from t = 2
    h_res = []
    lv, tr = x[0], 0.0
    for v in x[1:]:
        f = lv + tr
        h_res.append(round(v - f, 6))
        l_new = 0.5 * v + 0.5 * f
        tr = 0.5 * (l_new - lv) + 0.5 * tr
        lv = l_new

    # from-scratch Holt-Winters additive, 7 dow slots, a = b = g = 0.5
    w_res = []
    lv, tr = x[0], 0.0
    season = [0.0] * 7
    for d, v in zip(days[1:], x[1:]):
        dow = d.isoweekday() - 1
        f = lv + tr + season[dow]
        w_res.append(round(v - f, 6))
        l_new = 0.5 * (v - season[dow]) + 0.5 * (lv + tr)
        tr_new = 0.5 * (l_new - lv) + 0.5 * tr
        season[dow] = 0.5 * (v - l_new) + 0.5 * season[dow]
        lv, tr = l_new, tr_new

    by_day = dict(zip(days, x))
    import datetime as dt

    s_res = [
        v - by_day[d - dt.timedelta(days=7)]
        for d, v in zip(days, x)
        if d - dt.timedelta(days=7) in by_day
    ]

    def m(res):
        n = len(res)
        return (
            n,
            sum(abs(r) for r in res) / n,
            math.sqrt(sum(r * r for r in res) / n),
        )

    refs = {"holt": m(h_res), "holt_winters": m(w_res), "snaive": m(s_res)}
    base_mae = refs["snaive"][1]
    got = {r.model: r for r in REGISTRY["q307_forecast_scorecard"].fn(spark, SF_ORACLE).collect()}
    assert set(got) == set(refs)
    for model, (n, mae, rmse) in refs.items():
        r = got[model]
        assert r.n == n, (model, r.n, n)
        assert abs(r.mae - mae) < 1e-6, (model, r.mae, mae)
        assert abs(r.rmse - rmse) < 1e-6, (model, r.rmse, rmse)
        assert abs(r.mase - mae / base_mae) < 1e-6

    # the hw dayofweek convention must match Spark's weekday (0=Mon):
    # a slot mismatch would show up as a large w_res divergence, so the
    # 1e-6 mae agreement above is also the convention pin


def test_q308_auc_matches_reference(spark, duck):
    # independent pairwise AUC counting over (lang label, engine score)
    # — the score formula itself is gate-verified by q25; the pin here
    # is the rank identity and the tie handling
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.functions.text import quality_features, tokenize
    from printer_etl_hub_spark.tables import load_tables

    t = load_tables(spark, SF_ORACLE)
    d = t["documents"].filter(F.col("lang").isNotNull()).select(
        "lang", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    pdf = d.select(
        (F.col("lang") == "en").alias("is_en"),
        feats["quality_score"].alias("v"),
    ).toPandas()
    pos = np.sort(pdf.v[pdf.is_en].to_numpy())
    neg = np.sort(pdf.v[~pdf.is_en].to_numpy())
    gt = np.searchsorted(neg, pos, side="left").sum()
    eq = (
        np.searchsorted(neg, pos, side="right")
        - np.searchsorted(neg, pos, side="left")
    ).sum()
    auc_ref = (float(gt) + 0.5 * float(eq)) / (len(pos) * len(neg))
    r = REGISTRY["q308_score_auc"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_en, r.n_other) == (len(pos), len(neg))
    assert abs(r.auc - auc_ref) < 1e-9, (r.auc, auc_ref)
    assert abs(r.gini - (2 * auc_ref - 1)) < 1e-9
    # both classes populated and a non-trivial statistic (the gate row
    # can never go vacuous): in this corpus the score in fact runs
    # slightly AGAINST English (auc ≈ 0.454) — the bias audit works in
    # both directions
    assert r.n_en > 0 and r.n_other > 0
    assert r.auc is not None and abs(r.auc - 0.5) > 1e-3


def test_q309_brier_matches_reference(spark, duck):
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.functions.text import quality_features, tokenize
    from printer_etl_hub_spark.tables import load_tables

    t = load_tables(spark, SF_ORACLE)
    d = t["documents"].filter(F.col("lang").isNotNull()).select(
        "lang", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    pdf = d.select(
        (F.col("lang") == "en").alias("is_en"),
        feats["quality_score"].alias("p"),
    ).toPandas()
    q6 = Decimal("1e-6")
    recs = [
        (Decimal(repr(p)).quantize(q6, ROUND_HALF_UP), 1 if e else 0)
        for p, e in zip(pdf.p, pdf.is_en)
    ]
    brier = float(sum((p - y) ** 2 for p, y in recs) / len(recs))
    bins: dict = {}
    for p, y in recs:
        b = min(9, int(p * 10))
        st = bins.setdefault(b, [0, Decimal(0), 0])
        st[0] += 1
        st[1] += p
        st[2] += y
    got = {r.bin: r for r in REGISTRY["q309_brier_calibration"].fn(spark, SF_ORACLE).collect()}
    assert set(got) == set(bins)
    for b, (n, sp, ny) in bins.items():
        r = got[b]
        assert r.n == n
        assert abs(r.mean_p - float(sp / n)) < 1e-9
        assert abs(r.frac_en - ny / n) < 1e-9
        assert abs(r.brier - brier) < 1e-9
