"""Independent-reference pins for the wave-40 queries (q310-q313).

The wave-31 discipline: textbook formulas recomputed from raw data in
plain Python — Friedman via literal within-block average ranks and the
published tie-corrected statistic (no doubled-rank device), the KS
statistic via a literal ECDF sweep.
"""

from __future__ import annotations

import hashlib
import math

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE, daily_event_counts, midranks


def test_q310_friedman_matches_reference(spark, duck):
    rows = daily_event_counts(duck)
    import datetime as dt

    weeks: dict = {}
    for d, x in rows:
        wk = d - dt.timedelta(days=d.isoweekday() - 1)
        weeks.setdefault(wk, {})[d.isoweekday() - 1] = x
    blocks = [w for w in weeks.values() if len(w) == 7]
    b, k = len(blocks), 7
    # textbook: average ranks within each block, Conover tie-safe form
    rj = [0.0] * k
    a = 0.0
    for w in blocks:
        vals = [w[j] for j in range(k)]
        ranks = midranks(vals)
        for j in range(k):
            rj[j] += ranks[j]
        a += sum(r * r for r in ranks)
    c = b * k * (k + 1) ** 2 / 4.0
    chi2_ref = (k - 1) * sum((r - b * (k + 1) / 2.0) ** 2 for r in rj) / (a - c)
    w_ref = chi2_ref / (b * (k - 1))
    r = REGISTRY["q310_friedman_kendall_w"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_blocks, r.k) == (b, k)
    assert b > 0  # non-degenerate at the gate SFs
    assert abs(r.chi2_f - chi2_ref) < 1e-9, (r.chi2_f, chi2_ref)
    assert abs(r.w - w_ref) < 1e-9, (r.w, w_ref)


def test_q311_negbin_matches_reference(spark, duck):
    x = [v for _, v in daily_event_counts(duck)]
    n = len(x)
    m = sum(x) / n
    var = sum((v - m) ** 2 for v in x) / (n - 1)
    r = REGISTRY["q311_negbin_fit"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_days == n
    assert abs(r.mean_x - m) < 1e-9
    assert abs(r.var_x - var) < 1e-6 * max(1.0, var)
    assert var > m  # daily event counts are overdispersed here — the
    # r_hat/p_hat branch is the one the gate exercises
    assert abs(r.r_hat - m * m / (var - m)) < 1e-6 * max(1.0, abs(r.r_hat))
    assert abs(r.p_hat - m / var) < 1e-9
    assert abs(r.dispersion - (n - 1) * var / m) < 1e-6 * max(1.0, r.dispersion)


def test_q312_grubbs_matches_reference(spark, duck):
    rows = daily_event_counts(duck)
    x = [v for _, v in rows]
    n = len(x)
    m = sum(x) / n
    s = math.sqrt(sum((v - m) ** 2 for v in x) / (n - 1))
    g_ref, day_ref = max(
        ((abs(v - m) / s, d) for d, v in rows),
        key=lambda t: (t[0], -t[1].toordinal()),
    )
    # earliest-day tie-break: recompute deterministically
    best = max(abs(v - m) for v in x)
    day_ref = min(d for d, v in rows if abs(abs(v - m) - best) < 1e-12)
    r = REGISTRY["q312_grubbs_outlier"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_days == n
    assert r.outlier_day == day_ref.strftime("%Y-%m-%d")
    assert abs(r.g_stat - best / s) < 1e-9


def test_q313_ks_matches_reference(spark, duck):
    ids = [r[0] for r in duck.execute("SELECT doc_id FROM documents").fetchall()]
    us = sorted(
        (
            int(
                hashlib.md5(f"{i}:sample".encode()).hexdigest()[:15], 16
            )
            % 1_000_000
        )
        / 1_000_000.0
        for i in ids
    )
    n = len(us)
    d_ref = max(
        max((i + 1) / n - u, u - i / n) for i, u in enumerate(us)
    )
    r = REGISTRY["q313_hash_uniformity_ks"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n == n
    assert abs(r.d_stat - d_ref) < 1e-9, (r.d_stat, d_ref)
    assert abs(r.sqrt_n_d - d_ref * math.sqrt(n)) < 1e-6
