"""Independent-reference pins for the wave-31 statistics (q279-q284).

The DuckDB oracle MIRRORS each engine formula, so a shared algebra slip
passes the cross-engine gate (it happened to q278 — both engines agreed
on a wrong H until a from-scratch read caught it). Each test here
recomputes the statistic from raw data in plain Python — textbook
formulas, no shared sufficient-statistic algebra — and must agree with
the engine to 1e-9 at sf0.001. Where the engine pins a deliberate
non-textbook choice (lower median, doubled midranks), the reference
implements the PUBLISHED formula so the pin is on the statistic, not
the trick.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from printer_etl_hub_spark.plans import REGISTRY

from conftest import SF_ORACLE, midranks


def test_q279_welch_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT user_id, count(*) FROM events WHERE user_id IS NOT NULL "
        "GROUP BY user_id"
    ).fetchall()
    a, b = [], []
    for uid, x in rows:
        # arm assignment recomputed INDEPENDENTLY via hashlib, not the
        # engines' md5()+conv() SQL
        h = int(hashlib.md5(f"{uid}:exp1".encode()).hexdigest()[:15], 16)
        (a if h % 2 == 0 else b).append(x)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1) / len(a)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1) / len(b)
    t_ref = (ma - mb) / math.sqrt(va + vb)
    df_ref = (va + vb) ** 2 / (
        va**2 / (len(a) - 1) + vb**2 / (len(b) - 1)
    )
    r = REGISTRY["q279_welch_t"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert abs(r.mean_a - ma) < 1e-9 and abs(r.mean_b - mb) < 1e-9
    assert abs(r.t - t_ref) < 1e-9, (r.t, t_ref)
    assert abs(r.df - df_ref) < 1e-5, (r.df, df_ref)


def test_q280_spearman_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT count(*), count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) "
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL "
        "GROUP BY user_id"
    ).fetchall()
    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    rx, ry = midranks(xs), midranks(ys)
    n = len(rows)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    rho_ref = num / den
    r = REGISTRY["q280_spearman_rho"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_users == n
    assert abs(r.rho - rho_ref) < 1e-9, (r.rho, rho_ref)


def test_q282_wilcoxon_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT CAST(date_trunc('day', ts) AS DATE), count(*) FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1"
    ).fetchall()
    daily = {d: x for d, x in rows}
    import datetime as dt

    diffs = [
        x - daily[d - dt.timedelta(days=7)]
        for d, x in daily.items()
        if d - dt.timedelta(days=7) in daily
    ]
    nz = [d for d in diffs if d != 0]
    ranks = midranks([abs(d) for d in nz])
    w_plus = sum(r for r, d in zip(ranks, nz) if d > 0)
    n = len(nz)
    ties = Counter(abs(d) for d in nz)
    tie_t = sum(t**3 - t for t in ties.values())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie_t / 48.0
    z_ref = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
    r = REGISTRY["q282_wilcoxon_signed"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_pairs == len(diffs) and r.n_nonzero == n
    assert int(r.w2_plus) == round(2 * w_plus) and int(r.tie_t) == tie_t
    assert abs(r.z - z_ref) < 1e-9, (r.z, z_ref)


def test_q281_cramers_v_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT lang, source, count(*) FROM documents "
        "WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2"
    ).fetchall()
    obs = {(l, s): n for l, s, n in rows}
    langs = sorted({l for l, _ in obs})
    sources = sorted({s for _, s in obs})
    n_tot = sum(obs.values())
    rmar = defaultdict(int)
    cmar = defaultdict(int)
    for (l, s), n in obs.items():
        rmar[l] += n
        cmar[s] += n
    chi2_ref = sum(
        (obs.get((l, s), 0) - rmar[l] * cmar[s] / n_tot) ** 2
        / (rmar[l] * cmar[s] / n_tot)
        for l in langs
        for s in sources
    )
    v_ref = math.sqrt(
        chi2_ref / (n_tot * min(len(langs) - 1, len(sources) - 1))
    )
    r = REGISTRY["q281_cramers_v"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_docs, r.n_langs, r.n_sources) == (
        n_tot,
        len(langs),
        len(sources),
    )
    assert abs(r.chi2 - chi2_ref) < 1e-6, (r.chi2, chi2_ref)
    assert abs(r.cramers_v - v_ref) < 1e-9, (r.cramers_v, v_ref)


def test_q283_brown_forsythe_matches_reference(spark, duck):
    rows = duck.execute(
        r"SELECT source, len(regexp_split_to_array(trim(lower(text)), '\s+')) "
        "FROM documents WHERE text IS NOT NULL AND source IS NOT NULL"
    ).fetchall()
    groups = defaultdict(list)
    for s, x in rows:
        groups[s].append(x)
    # the engine's pinned center: LOWER median (type-1, rank ceil(n/2))
    zs = {}
    for s, xs in groups.items():
        med = sorted(xs)[(len(xs) + 1) // 2 - 1]
        zs[s] = [abs(x - med) for x in xs]
    n_tot = sum(len(v) for v in zs.values())
    k = len(zs)
    grand = sum(sum(v) for v in zs.values()) / n_tot
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in zs.values())
    ssw = sum(
        (x - sum(v) / len(v)) ** 2 for v in zs.values() for x in v
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n_tot - k))
    r = REGISTRY["q283_brown_forsythe"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_docs, r.k_sources) == (n_tot, k)
    assert abs(r.f_stat - f_ref) < 1e-9, (r.f_stat, f_ref)


def test_q284_kappa_matches_reference(spark, duck):
    # confusion cells come from the engines' shared classifier; the
    # KAPPA FORMULA (what the oracle mirrors) is recomputed from the
    # textbook definition p_o, p_e
    conf = {
        (l, p): n
        for l, p, n in [
            (r.lang, r.pred_lang, r.n_docs)
            for r in REGISTRY["q158_langid_confusion"]
            .fn(spark, SF_ORACLE)
            .collect()
            if r.lang is not None
        ]
    }
    n_tot = sum(conf.values())
    labels = {l for l, _ in conf} | {p for _, p in conf}
    rmar = {l: sum(n for (a, _), n in conf.items() if a == l) for l in labels}
    cmar = {l: sum(n for (_, b), n in conf.items() if b == l) for l in labels}
    po = sum(n for (a, b), n in conf.items() if a == b) / n_tot
    pe = sum(rmar[l] * cmar[l] for l in labels) / n_tot**2
    kappa_ref = (po - pe) / (1 - pe)
    r = REGISTRY["q284_cohens_kappa"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_docs == n_tot
    assert abs(r.kappa - kappa_ref) < 1e-9, (r.kappa, kappa_ref)


def test_q285_calinski_harabasz_matches_reference(spark, duck):
    import numpy as np

    rows = duck.execute(
        "SELECT label, embedding FROM embeddings "
        "WHERE label IS NOT NULL AND embedding IS NOT NULL"
    ).fetchall()
    labels = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    mu_g = x.mean(axis=0)
    uniq = sorted(set(labels.tolist()))
    bss = sum(
        (labels == l).sum() * float(((x[labels == l].mean(axis=0) - mu_g) ** 2).sum())
        for l in uniq
    )
    wss = sum(
        float(((x[labels == l] - x[labels == l].mean(axis=0)) ** 2).sum())
        for l in uniq
    )
    n, k = len(rows), len(uniq)
    ch_ref = (bss / (k - 1)) / (wss / (n - k))
    r = REGISTRY["q285_calinski_harabasz"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_vecs, r.k_labels) == (n, k)
    assert abs(r.wss - wss) < 1e-6 * wss and abs(r.bss - bss) < 1e-6 * max(bss, 1)
    assert abs(r.ch - ch_ref) < 1e-6 * ch_ref, (r.ch, ch_ref)


def test_q286_davies_bouldin_matches_reference(spark, duck):
    import numpy as np

    rows = duck.execute(
        "SELECT label, embedding FROM embeddings "
        "WHERE label IS NOT NULL AND embedding IS NOT NULL"
    ).fetchall()
    labels = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    uniq = sorted(set(labels.tolist()))
    mus = {l: x[labels == l].mean(axis=0) for l in uniq}
    s = {
        l: float(np.sqrt(((x[labels == l] - mus[l]) ** 2).sum(axis=1)).mean())
        for l in uniq
    }
    d = {
        li: max(
            (s[li] + s[lj]) / float(np.sqrt(((mus[li] - mus[lj]) ** 2).sum()))
            for lj in uniq
            if lj != li
        )
        for li in uniq
    }
    db_ref = sum(d.values()) / len(uniq)
    got = {
        r.label: r
        for r in REGISTRY["q286_davies_bouldin"].fn(spark, SF_ORACLE).collect()
    }
    assert sorted(got) == uniq
    for l in uniq:
        assert abs(got[l].scatter - s[l]) < 1e-6, (l, got[l].scatter, s[l])
        assert abs(got[l].d_i - d[l]) < 1e-6, (l, got[l].d_i, d[l])
        assert abs(got[l].db_index - db_ref) < 1e-6


def test_q287_temperature_mixture_matches_reference(spark, duck):
    rows = duck.execute(
        r"SELECT source, sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) "
        "FROM documents WHERE source IS NOT NULL GROUP BY source"
    ).fetchall()
    n = {s: int(t) for s, t in rows}
    n_total = sum(n.values())
    got = REGISTRY["q287_temperature_mixture"].fn(spark, SF_ORACLE).collect()
    assert len(got) == 3 * len(n)
    for r in got:
        w_raw = {s: t ** r.alpha for s, t in n.items()}
        w_ref = w_raw[r.source] / sum(w_raw.values())
        assert r.n_tokens == n[r.source]
        assert abs(r.weight - w_ref) < 1e-9, (r.alpha, r.source, r.weight, w_ref)
        assert abs(r.boost - w_ref * n_total / n[r.source]) < 1e-6


def test_q288_dim_robust_scaling_matches_reference(spark, duck):
    import numpy as np

    rows = duck.execute(
        "SELECT embedding FROM embeddings WHERE embedding IS NOT NULL"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    got = {
        r.dim: r
        for r in REGISTRY["q288_dim_robust_scaling"].fn(spark, SF_ORACLE).collect()
    }
    n = x.shape[0]
    for dim in range(x.shape[1]):
        col = np.sort(x[:, dim])
        # the engine's pinned type-1 picks: rank ceil(p*n), 1-based
        q1 = col[(n + 3) // 4 - 1]
        med = col[(n + 1) // 2 - 1]
        q3 = col[(3 * n + 3) // 4 - 1]
        r = got[dim]
        assert r.n_vecs == n
        assert abs(r.q1 - q1) < 5e-10 and abs(r.med - med) < 5e-10
        assert abs(r.q3 - q3) < 5e-10
        assert abs(r.iqr - (q3 - q1)) < 1e-9


def test_q289_pettitt_matches_reference(spark, duck):
    rows = duck.execute(
        "SELECT CAST(date_trunc('day', ts) AS DATE), count(*) FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1"
    ).fetchall()
    days = [d for d, _ in rows]
    xs = [x for _, x in rows]
    n = len(xs)
    # textbook double loop: U_t = sum_{i<=t} sum_{j>t} sign(x_j - x_i)
    best = None
    for t in range(n - 1):
        u = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(t + 1)
            for j in range(t + 1, n)
        )
        if best is None or abs(u) > abs(best[1]):
            best = (days[t], u)
    r = REGISTRY["q289_pettitt"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_days == n
    assert (r.t_star_day, r.u_t_star, r.k_stat) == (
        best[0].isoformat(),
        best[1],
        abs(best[1]),
    ), (r, best)


def test_q290_cuped_matches_reference(spark, duck):
    import datetime as dt

    rows = duck.execute(
        "SELECT user_id, CAST(date_trunc('day', ts) AS DATE) FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()
    mid = min(d for _, d in rows) + dt.timedelta(days=15)
    per = defaultdict(lambda: [0, 0])
    for uid, d in rows:
        per[uid][0 if d < mid else 1] += 1
    arms = {
        uid: int(hashlib.md5(f"{uid}:exp1".encode()).hexdigest()[:15], 16) % 2 == 0
        for uid in per
    }
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    n = len(per)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    varx = sum((x - mx) ** 2 for x in xs)
    vary = sum((y - my) ** 2 for y in ys)
    theta = cov / varx
    mean_adj = {}
    for arm in (True, False):
        us = [u for u in per if arms[u] == arm]
        mean_adj[arm] = sum(per[u][1] for u in us) / len(us) - theta * (
            sum(per[u][0] for u in us) / len(us) - mx
        )
    r = REGISTRY["q290_cuped"].fn(spark, SF_ORACLE).collect()[0]
    assert r.n_a == sum(arms.values()) and r.n_b == n - r.n_a
    assert abs(r.theta - theta) < 1e-9
    assert abs(r.mean_adj_a - mean_adj[True]) < 1e-9
    assert abs(r.mean_adj_b - mean_adj[False]) < 1e-9
    assert abs(r.var_reduction - cov * cov / (varx * vary)) < 1e-9


def test_q291_mcnemar_matches_reference(spark, duck):
    import datetime as dt

    rows = duck.execute(
        "SELECT user_id, CAST(date_trunc('day', ts) AS DATE), "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL"
    ).fetchall()
    mid = min(d for _, d, _ in rows) + dt.timedelta(days=15)
    per = defaultdict(lambda: [0, 0])
    for uid, d, p in rows:
        i = 0 if d < mid else 1
        per[uid][i] = max(per[uid][i], p)
    cells = Counter((c1, c2) for c1, c2 in per.values())
    b, c = cells[(1, 0)], cells[(0, 1)]
    # all-concordant corpus (b + c = 0): the statistic is undefined and
    # the engine must say NULL, not raise or fake a zero
    chi2 = (abs(b - c) - 1) ** 2 / (b + c) if b + c else None
    r = REGISTRY["q291_mcnemar"].fn(spark, SF_ORACLE).collect()[0]
    assert (r.n_users, r.n_11, r.n_10, r.n_01, r.n_00) == (
        len(per),
        cells[(1, 1)],
        b,
        c,
        cells[(0, 0)],
    )
    if chi2 is None:
        assert r.chi2_mcnemar is None
    else:
        assert abs(r.chi2_mcnemar - chi2) < 1e-9
