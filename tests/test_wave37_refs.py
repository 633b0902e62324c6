"""Independent-reference pins for the wave-37 statistics (q292-q299).

Same discipline as tests/test_wave31_refs.py: the DuckDB oracle MIRRORS
each engine formula, so a shared algebra slip passes the cross-engine
gate (the q278/q289 lesson). Each test recomputes the statistic from
raw data in plain Python/numpy — textbook formulas, no shared
sufficient-statistic algebra (no cross-multiplied cancellation tricks,
no doubled midranks) — and must agree with the engine to 1e-9 at
sf0.001. Where the engine pins a deliberate non-textbook choice (lower
median, centroid-form silhouette), the reference implements the
PUBLISHED formula for that exact variant.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE, arm_a, daily_event_counts


def test_q292_logrank_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)), "
        "max(CAST(date_trunc('day', ts) AS DATE)), "
        "min(CASE WHEN event_type = 'purchase' "
        "THEN CAST(date_trunc('day', ts) AS DATE) END) "
        "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL "
        "GROUP BY user_id"
    ).fetchall()
    max_day = max(r[2] for r in rows)
    subj = []  # (arm_a, t, converted)
    for uid, first, _last, conv in rows:
        if conv is not None:
            subj.append((arm_a(uid), (conv - first).days, True))
        else:
            subj.append((arm_a(uid), (max_day - first).days, False))
    o1 = e1 = v1 = 0.0
    for t in sorted({t for _, t, c in subj if c}):
        # textbook risk sets: recount at-risk per event time, no prefix
        # algebra shared with the engine
        n1 = sum(1 for a, tt, _ in subj if a and tt >= t)
        n = sum(1 for _, tt, _ in subj if tt >= t)
        d1 = sum(1 for a, tt, c in subj if a and c and tt == t)
        d = sum(1 for _, tt, c in subj if c and tt == t)
        o1 += d1
        e1 += d * n1 / n
        if n > 1:
            v1 += d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
    z_ref = (o1 - e1) / math.sqrt(v1)
    r = REGISTRY["q292_logrank"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_a == sum(1 for a, _, _ in subj if a)
    assert r.n_b == len(subj) - r.n_a
    assert r.o1 == int(o1)
    assert abs(r.e1 - e1) < 1e-9, (r.e1, e1)
    assert abs(r.v1 - v1) < 1e-9, (r.v1, v1)
    assert abs(r.z - z_ref) < 1e-9, (r.z, z_ref)


def test_q293_cliffs_delta_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT event_type, value FROM events WHERE event_type IS NOT NULL "
        "AND value IS NOT NULL AND NOT isnan(value)"
    ).fetchall()
    by_t: dict = {}
    for t, v in rows:
        by_t.setdefault(t, []).append(v)
    res = {r.event_type: r for r in REGISTRY["q293_cliffs_delta"].fn(spark, SF_ORACLE).collect()}
    assert set(res) == set(by_t)
    for t, xs in by_t.items():
        ys = np.sort(
            np.array([v for tt, v in rows if tt != t], dtype="float64")
        )
        x = np.array(xs, dtype="float64")
        # P(X>Y) - P(X<Y) via counting, the published definition —
        # no rank-sum identity shared with the engine
        gt = np.searchsorted(ys, x, side="left").sum()
        lt = (len(ys) - np.searchsorted(ys, x, side="right")).sum()
        delta_ref = (float(gt) - float(lt)) / (len(x) * len(ys))
        r = res[t]
        assert (r.n_a, r.n_b) == (len(x), len(ys))
        assert abs(r.delta - delta_ref) < 1e-9, (t, r.delta, delta_ref)
        m = abs(delta_ref)
        band = (
            "negligible" if m < 0.147 else
            "small" if m < 0.33 else
            "medium" if m < 0.474 else "large"
        )
        assert r.magnitude == band


def test_q294_cochran_q_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, date_trunc('week', ts), "
        "max(CASE WHEN event_type='view' THEN 1 ELSE 0 END), "
        "max(CASE WHEN event_type='click' THEN 1 ELSE 0 END), "
        "max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) "
        "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL "
        "AND event_type IN ('view','click','purchase') GROUP BY 1, 2"
    ).fetchall()
    k = 3
    cj = [sum(r[2 + j] for r in rows) for j in range(k)]
    ri = [r[2] + r[3] + r[4] for r in rows]
    nn = sum(ri)
    q_ref = (
        (k - 1) * (k * sum(c * c for c in cj) - nn * nn)
        / (k * nn - sum(x * x for x in ri))
    )
    r = REGISTRY["q294_cochran_q"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.k, r.n_blocks, r.nn) == (3, len(rows), nn)
    assert (r.c_view, r.c_click, r.c_purchase) == tuple(cj)
    assert abs(r.q_stat - q_ref) < 1e-9, (r.q_stat, q_ref)


def _daily_counts(duck):
    return np.array([x for _, x in daily_event_counts(duck)], dtype="float64")


def test_q295_ljung_box_matches_reference(spark, duck):
    x = _daily_counts(duck)
    n = len(x)
    xc = x - x.mean()  # textbook mean-centering, floats — not the
    # engine's n·x − S integer cancellation
    den = float((xc * xc).sum())
    got = {r.lag: r for r in REGISTRY["q295_ljung_box"].fn(spark, SF_ORACLE).collect()}
    acc = 0.0
    for k in range(1, 8):
        if k >= n:
            assert k not in got
            continue
        rho = float((xc[:-k] * xc[k:]).sum()) / den
        acc += rho * rho / (n - k)
        lb = n * (n + 2) * acc
        r = got[k]
        assert r.n_pairs == n - k
        assert abs(r.rho - rho) < 1e-9, (k, r.rho, rho)
        assert abs(r.lb_stat - lb) < 1e-7, (k, r.lb_stat, lb)


def test_q296_binned_drift_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT CAST(date_trunc('day', ts) AS DATE), value FROM events "
        "WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)"
    ).fetchall()
    days = [d for d, _ in rows]
    vals = [v for _, v in rows]
    mid = min(days) + dt.timedelta(days=15)
    vmin, vmax = min(vals), max(vals)

    def bin_of(v):
        if vmax == vmin:
            return 0
        return min(9, int(math.floor((v - vmin) / (vmax - vmin) * 10.0)))

    a = [0] * 10
    b = [0] * 10
    for d, v in rows:
        (a if d < mid else b)[bin_of(v)] += 1
    n1, n2 = sum(a), sum(b)
    got = {r.bin: r for r in REGISTRY["q296_binned_drift"].fn(spark, SF_ORACLE).collect()}
    tri_tot = chi2_tot = 0.0
    for i in range(10):
        if a[i] == 0 and b[i] == 0:
            assert i not in got
            continue
        p, q = a[i] / n1, b[i] / n2
        tri = (p - q) ** 2 / (p + q)  # the published probability form
        nn = n1 + n2
        e1 = (a[i] + b[i]) * n1 / nn
        e2 = (a[i] + b[i]) * n2 / nn
        # q127's N·chi² convention: N times the Pearson statistic
        chi2 = nn * ((a[i] - e1) ** 2 / e1 + (b[i] - e2) ** 2 / e2)
        r = got[i]
        assert (r.n_first, r.n_second) == (a[i], b[i])
        assert abs(r.tri_term - tri) < 1e-9, (i, r.tri_term, tri)
        assert abs(r.chi2_term - chi2) < 1e-6 * max(1.0, abs(chi2)), (
            i, r.chi2_term, chi2,
        )
        tri_tot += tri
        chi2_tot += chi2
    any_row = next(iter(got.values()))
    assert abs(any_row.tri_total - tri_tot) < 1e-9
    assert abs(any_row.chi2_total - chi2_tot) < 1e-6 * max(1.0, abs(chi2_tot))


def test_q297_durbin_watson_matches_reference(spark, duck):
    x = _daily_counts(duck)
    n = len(x)
    i = np.arange(1, n + 1, dtype="float64")
    # textbook least squares via the centered form, not the engine's
    # integer cross-multiplied sufficient statistics
    slope = float(((i - i.mean()) * (x - x.mean())).sum() / ((i - i.mean()) ** 2).sum())
    intercept = float(x.mean() - slope * i.mean())
    e = x - intercept - slope * i
    dw = float(((e[1:] - e[:-1]) ** 2).sum() / (e * e).sum())
    r = REGISTRY["q297_durbin_watson"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_days == n
    assert abs(r.slope - slope) < 1e-9, (r.slope, slope)
    assert abs(r.intercept - intercept) < 1e-9, (r.intercept, intercept)
    assert abs(r.dw - dw) < 1e-9, (r.dw, dw)


def test_q298_silhouette_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT vec_id, label, embedding FROM embeddings "
        "WHERE label IS NOT NULL AND embedding IS NOT NULL"
    ).fetchall()
    labels = sorted({r[1] for r in rows})
    X = np.array([r[2] for r in rows], dtype="float64")
    y = np.array([labels.index(r[1]) for r in rows])
    cents = np.stack([X[y == j].mean(axis=0) for j in range(len(labels))])
    d = np.linalg.norm(X[:, None, :] - cents[None, :, :], axis=2)
    a = d[np.arange(len(X)), y]
    dther = d.copy()
    dther[np.arange(len(X)), y] = np.inf
    b = dther.min(axis=1)
    with np.errstate(invalid="ignore"):
        s = (b - a) / np.maximum(a, b)
    got = {r.label: r for r in REGISTRY["q298_silhouette"].fn(spark, SF_ORACLE).collect()}
    assert set(got) == set(labels)
    for j, lab in enumerate(labels):
        mask = y == j
        ref = float(s[mask].mean())
        r = got[lab]
        assert r.n_vecs == int(mask.sum())
        assert abs(r.mean_sil - ref) < 1e-9, (lab, r.mean_sil, ref)
    assert abs(next(iter(got.values())).overall_sil - float(s.mean())) < 1e-9


def test_q299_runs_test_matches_reference(spark, duck):
    x = [int(v) for v in _daily_counts(duck)]
    n = len(x)
    med = sorted(x)[(n + 1) // 2 - 1]  # the engine's pinned LOWER median
    signs = [v > med for v in x if v != med]
    runs = 0
    prev = None
    for sgn in signs:
        if prev is None or sgn != prev:
            runs += 1
        prev = sgn
    n1 = sum(signs)
    n2 = len(signs) - n1
    m = n1 + n2
    mu = 1 + 2 * n1 * n2 / m
    var = 2 * n1 * n2 * (2 * n1 * n2 - m) / (m * m * (m - 1))
    z_ref = (runs - mu) / math.sqrt(var)
    r = REGISTRY["q299_runs_test"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_above, r.n_below, r.runs) == (n1, n2, runs)
    assert abs(r.mu - mu) < 1e-9
    assert abs(r.z - z_ref) < 1e-9, (r.z, z_ref)
