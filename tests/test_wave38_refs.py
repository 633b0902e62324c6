"""Independent-reference pins for the wave-38 statistics (q300-q305).

Same discipline as tests/test_wave31_refs.py / test_wave37_refs.py:
textbook formulas recomputed from raw data in plain Python/numpy, no
shared sufficient-statistic algebra, agreement to tight tolerances at
sf0.001. q300's reference runs on the SAME 6-decimal-quantized values
the engine pins (the quantization is the documented variant; the
reference implements the textbook statistic on that data).
"""

from __future__ import annotations

import math

import numpy as np

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE, arm_a


def test_q300_anova_matches_reference(spark, duck):
    from decimal import ROUND_HALF_UP, Decimal

    rows = duck.execute(
        "SELECT event_type, CASE WHEN value = 0 THEN 0.0 ELSE value END "
        "FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL "
        "AND NOT isnan(value)"
    ).fetchall()
    q6 = Decimal("1e-6")
    groups: dict = {}
    for t, v in rows:
        # the engine's pinned variant: v quantized once at 6 decimals
        groups.setdefault(t, []).append(
            float(Decimal(repr(v)).quantize(q6, ROUND_HALF_UP))
        )
    all_v = [v for g in groups.values() for v in g]
    gm = sum(all_v) / len(all_v)
    ssb = sum(len(g) * (sum(g) / len(g) - gm) ** 2 for g in groups.values())
    ssw = sum(
        sum((v - sum(g) / len(g)) ** 2 for v in g) for g in groups.values()
    )
    k, n = len(groups), len(all_v)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    r = REGISTRY["q300_anova_f"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.k_groups, r.n_total) == (k, n)
    assert abs(r.ssb - ssb) < 1e-6 * max(1.0, abs(ssb)), (r.ssb, ssb)
    assert abs(r.ssw - ssw) < 1e-6 * max(1.0, abs(ssw)), (r.ssw, ssw)
    assert abs(r.f_stat - f_ref) < 1e-9 * max(1.0, abs(f_ref)), (r.f_stat, f_ref)


def test_q301_curriculum_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        "FROM documents"
    ).fetchall()
    docs = sorted(((n, d) for d, n in rows))
    total = sum(n for n, _ in docs)
    budget = -(-total // 4)  # ceil
    phases: dict = {}
    cum = 0
    for n, _d in docs:
        ph = min(3, cum // budget)
        st = phases.setdefault(ph, [0, 0, None, None])
        st[0] += 1
        st[1] += n
        st[2] = n if st[2] is None else min(st[2], n)
        st[3] = n if st[3] is None else max(st[3], n)
        cum += n
    got = {r.phase: r for r in REGISTRY["q301_curriculum_phases"].fn(spark, SF_ORACLE).collect()}
    assert set(got) == set(phases)
    for ph, (nd, tt, mn, mx) in phases.items():
        r = got[ph]
        assert (r.n_docs, r.tokens_total, r.min_toks, r.max_toks) == (nd, tt, mn, mx)


def test_q302_cohens_d_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, count(*) FROM events WHERE user_id IS NOT NULL "
        "GROUP BY user_id"
    ).fetchall()
    a, b = [], []
    for uid, x in rows:
        (a if arm_a(uid) else b).append(x)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a)
    vb = sum((x - mb) ** 2 for x in b)
    df = len(a) + len(b) - 2
    sp = math.sqrt((va + vb) / df)
    d_ref = (ma - mb) / sp
    g_ref = d_ref * (1 - 3 / (4 * df - 1))
    r = REGISTRY["q302_cohens_d"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert abs(r.mean_a - ma) < 1e-9 and abs(r.mean_b - mb) < 1e-9
    assert abs(r.pooled_sd - sp) < 1e-9, (r.pooled_sd, sp)
    assert abs(r.d - d_ref) < 1e-9, (r.d, d_ref)
    assert abs(r.g - g_ref) < 1e-9, (r.g, g_ref)


def test_q303_mantel_haenszel_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, isodow(CAST(date_trunc('day', ts) AS DATE)) - 1, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END "
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL"
    ).fetchall()
    strata: dict = {}
    for uid, dow, conv in rows:
        cell = strata.setdefault(dow, [0, 0, 0, 0])  # a b c d
        if arm_a(uid):
            cell[0 if conv else 1] += 1
        else:
            cell[2 if conv else 3] += 1
    sr = ss = se = sv = 0.0
    sum_a = 0
    for a, b, c, d in strata.values():
        n = a + b + c + d
        sum_a += a
        sr += a * d / n
        ss += b * c / n
        se += (a + b) * (a + c) / n
        if n > 1:
            sv += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
    or_mh = sr / ss
    cmh = (sum_a - se) ** 2 / sv
    got = {r.stratum: r for r in REGISTRY["q303_mantel_haenszel"].fn(spark, SF_ORACLE).collect()}
    assert set(got) == set(strata)
    for dow, (a, b, c, d) in strata.items():
        r = got[dow]
        assert (r.a, r.b, r.c, r.d) == (a, b, c, d)
        if b * c > 0:
            assert abs(r.or_stratum - a * d / (b * c)) < 1e-9
        assert abs(r.or_mh - or_mh) < 1e-9, (r.or_mh, or_mh)
        assert abs(r.cmh - cmh) < 1e-9, (r.cmh, cmh)


def test_q304_fleiss_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT n_chars, len(regexp_split_to_array(trim(lower(text)), '\\s+')), "
        "len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) "
        "FROM documents"
    ).fetchall()
    # textbook Fleiss: build the N x k table, P_i per subject, P_e from
    # category shares — no common-denominator shortcut
    table = []
    for nc, nt, nd in rows:
        r1 = 0 if nc < 220 else (1 if nc < 390 else 2)
        r2 = 0 if nt < 40 else (1 if nt < 70 else 2)
        r3 = 0 if 3 * nd <= nt else (1 if 3 * nd <= 2 * nt else 2)
        row = [0, 0, 0]
        for rr in (r1, r2, r3):
            row[rr] += 1
        table.append(row)
    nn = len(table)
    n_r = 3
    p_i = [(sum(c * c for c in row) - n_r) / (n_r * (n_r - 1)) for row in table]
    p_bar = sum(p_i) / nn
    p_j = [sum(row[j] for row in table) / (nn * n_r) for j in range(3)]
    p_e = sum(p * p for p in p_j)
    kappa_ref = (p_bar - p_e) / (1 - p_e)
    r = REGISTRY["q304_fleiss_kappa"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_docs == nn
    assert (r.c0, r.c1, r.c2) == tuple(
        sum(row[j] for row in table) for j in range(3)
    )
    assert abs(r.p_bar - p_bar) < 1e-9, (r.p_bar, p_bar)
    assert abs(r.p_e - p_e) < 1e-9, (r.p_e, p_e)
    assert abs(r.kappa - kappa_ref) < 1e-9, (r.kappa, kappa_ref)


def test_q305_chow_matches_reference(spark, duck):
    import datetime as dt

    rows = duck.execute(
        "SELECT CAST(date_trunc('day', ts) AS DATE), count(*) FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()
    days = [d for d, _ in rows]
    x = np.array([v for _, v in rows], dtype="float64")
    i = np.arange(1, len(x) + 1, dtype="float64")
    mid = min(days) + dt.timedelta(days=15)
    pre = np.array([d < mid for d in days])

    def ssr(ii, xx):
        A = np.stack([np.ones_like(ii), ii], axis=1)
        beta, *_ = np.linalg.lstsq(A, xx, rcond=None)
        e = xx - A @ beta
        return float(e @ e)

    s_p = ssr(i, x)
    s_1 = ssr(i[pre], x[pre])
    s_2 = ssr(i[~pre], x[~pre])
    n = len(x)
    f_ref = ((s_p - s_1 - s_2) / 2) / ((s_1 + s_2) / (n - 4))
    r = REGISTRY["q305_chow_test"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_days, r.n_pre, r.n_post) == (n, int(pre.sum()), int((~pre).sum()))
    assert abs(r.ssr_pooled - s_p) < 1e-6 * max(1.0, s_p), (r.ssr_pooled, s_p)
    assert abs(r.ssr_pre - s_1) < 1e-6 * max(1.0, s_1)
    assert abs(r.ssr_post - s_2) < 1e-6 * max(1.0, s_2)
    assert abs(r.f_stat - f_ref) < 1e-7 * max(1.0, abs(f_ref)), (r.f_stat, f_ref)
