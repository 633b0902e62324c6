#!/usr/bin/env python
"""Scale audit: registry queries on k-fold clones of the sf0.1 corpus.

A clone replicates one group of tables ``k`` times (``COPIES``, default
10) with shifted ids and copies every other table byte-identical, so each
query's answer on the clone is predictable from its answer on the source:
counts scale by k, ratios of replicated sums stay put. Each row of
``ROWS`` is ``(query, clone, invariant)``; the runner times the query on
its clone, runs it on the source too when the invariant needs it, and
reports one verdict per row. The replication algebra behind each
invariant is in SCALE.md.

Usage:
    python scripts/scale_audit.py                     # every row and probe
    SCALE_ONLY=q243_cooc_window,q259_hits python scripts/scale_audit.py
    COPIES=30 SCALE_DIR=/dev/shm/peh_scale30 python scripts/scale_audit.py

Settings: ``SCALE_SRC`` (source corpus, default /root/testdata/sf0.1),
``SCALE_DIR`` (clones go to ``$SCALE_DIR/<kind>``), ``COPIES`` and
``SCALE_ONLY`` (comma-separated row and probe labels; unset runs all).
Output: one JSON line per row and probe on stderr, then one JSON line with
every measurement on stdout. Exit 1 if any invariant fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SCALE_SRC", "/root/testdata/sf0.1")
SCALE_DIR = os.environ.get("SCALE_DIR", "/dev/shm/peh_scale")
COPIES = int(os.environ.get("COPIES", "10"))
OFFSET = 10_000_000  # id shift per copy; far above any real id

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

#: clone kind -> {replicated table: id columns shifted per copy}
CLONES = {
    # every document and vector becomes a k-way near-dup
    "docs": {"documents": ("doc_id",), "embeddings": ("vec_id",)},
    # k times the users, each with the base user's events
    "users": {"events": ("event_id", "user_id")},
    # k times the customers, each buying the base customer's lines
    "cust": {
        "orders": ("o_orderkey", "o_custkey"),
        "lineitem": ("l_orderkey",),
    },
    # the same users with k times the events
    "evdup": {"events": ("event_id",)},
}


def clone_dir(kind: str) -> str:
    return f"{SCALE_DIR}/{kind}"


def build_clone(kind: str, copies: int = COPIES) -> str:
    """The ``kind`` clone of ``SRC`` with ``copies`` copies; returns its dir.

    The dir records what it was built from (``clone.json``, written last);
    a clone of another copy count or source, or a half-built one, is
    rebuilt, never reused.
    """
    import duckdb

    dst = clone_dir(kind)
    want = {"kind": kind, "copies": copies, "src": SRC}
    try:
        with open(f"{dst}/clone.json") as f:
            if json.load(f) == want:
                return dst
    except (OSError, ValueError):
        pass
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()
    for t in TABLES:
        ids = CLONES[kind].get(t)
        if ids is None:
            shutil.copyfile(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
            continue
        shifted = ", ".join(f"t.{c} + c.i * {OFFSET} AS {c}" for c in ids)
        con.execute(
            f"""
            COPY (
              SELECT t.* REPLACE ({shifted})
              FROM '{SRC}/{t}.parquet' t, range({copies}) c(i)
              ORDER BY {ids[0]}
            ) TO '{dst}/{t}.parquet' (FORMAT PARQUET)
            """
        )
    with open(f"{dst}/clone.json", "w") as f:
        json.dump(want, f)
    return dst


# ---------------------------------------------------------------------------
# Invariants
# ---------------------------------------------------------------------------

Rows = list[dict]
KINDS = ("identical", "scaled", "rows_only")


@dataclass(frozen=True)
class Invariant:
    """How a query's clone result relates to its source result.

    ``identical``: the rows are equal, in order. ``scaled``: rows pair up by
    ``key`` (in order when empty); column ``c`` of the clone equals the
    source's times ``k ** powers[c]``, every other column is equal, within
    ``tol[c] = (rel, abs)`` where given (exact elsewhere). ``rows_only``:
    wall time and row count, no source run. ``view`` derives the compared
    rows from each side's collected rows.
    """

    kind: str
    key: tuple[str, ...] = ()
    powers: dict[str, int] = field(default_factory=dict)
    tol: dict[str, tuple[float, float]] = field(default_factory=dict)
    view: Callable[[Rows], Rows] | None = None

    def __post_init__(self):
        if self.kind not in KINDS:
            raise ValueError(f"unknown invariant kind {self.kind!r}")
        if self.kind != "scaled" and (self.key or self.powers or self.tol or self.view):
            raise ValueError(f"a {self.kind} invariant takes no key, powers, tol or view")


ROWS_ONLY = Invariant("rows_only")
IDENTICAL = Invariant("identical")


def scaled(key=(), *, tol=None, view=None, **powers) -> Invariant:
    key = (key,) if isinstance(key, str) else tuple(key)
    return Invariant("scaled", key, powers, tol or {}, view)


def _close(a, b, tol) -> bool:
    if tol is None or a is None or b is None:
        return a == b
    rel, abs_ = tol
    a, b = float(a), float(b)
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def compare(inv: Invariant, base: Rows, clone: Rows, k: int) -> list[str]:
    """The ways ``clone`` breaks ``inv`` against ``base``; empty if none."""
    if not clone:
        return ["no rows: an empty result proves nothing"]
    if inv.view is not None:
        base, clone = inv.view(base), inv.view(clone)
    if inv.key:
        b = {tuple(r[c] for c in inv.key): r for r in base}
        c = {tuple(r[c] for c in inv.key): r for r in clone}
        if len(b) != len(base) or len(c) != len(clone):
            return ["key is not unique"]
        if b.keys() != c.keys():
            return [f"key sets differ: {sorted(b.keys() ^ c.keys(), key=str)[:5]}"]
        pairs = [(b[x], c[x]) for x in b]
    else:
        if len(base) != len(clone):
            return [f"{len(clone)} rows, source has {len(base)}"]
        pairs = list(zip(base, clone))
    fails = []
    for rb, rc in pairs:
        if rb.keys() != rc.keys():
            return [f"columns differ: {sorted(rb.keys() ^ rc.keys())}"]
        for col, v in rb.items():
            p = inv.powers.get(col, 0)
            if p and v is not None:
                v = (Decimal(v) if isinstance(v, str) else v) * k**p
                got = Decimal(rc[col]) if isinstance(rc[col], str) else rc[col]
            else:
                got = rc[col]
            if not _close(got, v, inv.tol.get(col)):
                fails.append(f"{col}: {rc[col]!r}, want {v!r}")
    return fails


def _per_df(stat: str, n: str, groups: str) -> Callable[[Rows], Rows]:
    """Replace an F-type ``stat`` by ``stat / (n - groups)``.

    Replication scales both sums of squares by k, so the F statistic moves
    only through its ``n - groups`` degrees of freedom; per degree of
    freedom it is invariant.
    """

    def view(rows: Rows) -> Rows:
        return [{**r, stat: r[stat] / (r[n] - r[groups])} for r in rows]

    return view


def _phase_totals(rows: Rows) -> Rows:
    """q301: totals over the phases and whether the phases are contiguous.

    Phase budgets are ``ceil(T / 4)``, so replication moves documents
    between phases; only the totals and the phase order are invariant.
    """
    rows = sorted(rows, key=lambda r: r["phase"])
    return [{
        "n_phases": len(rows),
        "n_docs": sum(r["n_docs"] for r in rows),
        "tokens_total": sum(r["tokens_total"] for r in rows),
        "contiguous": all(
            a["max_toks"] <= b["min_toks"] for a, b in zip(rows, rows[1:])
        ),
    }]


def _without(*cols: str) -> Callable[[Rows], Rows]:
    """Leave out columns with no replication identity."""

    def view(rows: Rows) -> Rows:
        return [{c: v for c, v in r.items() if c not in cols} for r in rows]

    return view


def _tempered(rows: Rows) -> Rows:
    """q287: alpha = 1 weights are exact ratios (kn)/(Σkn), the same reals as
    the source's; the alpha < 1 ones pass through a sqrt, which rounds
    differently at kn, so they move to ``*_tempered`` columns."""
    return [
        r if r["alpha"] == 1.0 else {
            **{c: v for c, v in r.items() if c not in ("weight", "boost")},
            "weight_tempered": r["weight"],
            "boost_tempered": r["boost"],
        }
        for r in rows
    ]


def _row_count(rows: Rows) -> Rows:
    return [{"rows": len(rows)}]


def _cmh_fits(rows: Rows) -> Rows:
    """q303: replace ``cmh`` by whether it matches its closed form.

    CMH has no replication identity (the ``n - 1`` in each stratum's
    variance breaks it), so the row checks it against a recompute from
    the same rows' cells, on the source and on the clone alike.
    """
    num = exp = var = 0.0
    for r in rows:
        a, b, c, d = r["a"], r["b"], r["c"], r["d"]
        n = a + b + c + d
        num += a
        exp += (a + b) * (a + c) / n
        if n > 1:
            var += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
    cmh = (num - exp) ** 2 / var
    return [{**r, "cmh": _close(r["cmh"], cmh, (1e-9, 1e-9))} for r in rows]


def _negbin_fits(rows: Rows) -> Rows:
    """q311: replace ``r_hat``/``p_hat`` by whether they match the moment
    fit (``m²/(s² - m)``, ``m/s²``; NULL when ``s² <= m``).

    ``r_hat`` has no replication identity (the ``- m`` breaks it), and the
    source's counts are underdispersed, so it has no fit to scale.
    """
    out = []
    for r in rows:
        m, v = r["mean_x"], r["var_x"]
        if v <= m:
            fits = r["r_hat"] is None and r["p_hat"] is None
        else:
            fits = (
                r["r_hat"] is not None
                and _close(r["r_hat"], m * m / (v - m), (1e-6, 1e-6))
                and _close(r["p_hat"], m / v, (1e-9, 1e-9))
            )
        out.append({**r, "r_hat": fits, "p_hat": fits})
    return out


def _hits_sides(rows: Rows) -> Rows:
    """q259: split ``score`` by side. Each of the k copies of a customer
    buys the base customer's brands, so hub scores scale by k and
    authority scores (sums over k times the hubs) by k²."""
    return [
        {**{c: v for c, v in r.items() if c != "score"}, r["side"]: r["score"]}
        for r in rows
    ]


# Tolerances are (rel, abs): |clone - want| <= max(abs, rel * magnitude).
T9 = (1e-9, 1e-9)

#: (query, clone, invariant). A query label ``<name>@frac<f>`` runs the
#: registry query with ``sample_frac=f``.
ROWS: tuple[tuple[str, str, Invariant], ...] = (
    # -- docs: the cluster-heavy sweep; pair generation and CC must stay
    #    linear in k with every document a k-way near-dup
    *((q, "docs", ROWS_ONLY) for q in (
        "q72_dup_clusters", "q81_corpus_prep", "q82_embedding_dedup",
        "q77_token_shards", "q86_ngram_collision", "q90_bloom_decontam",
        "q91_segment_dedup", "q97_sequence_spans", "q98_bpe_pairs",
        "q101_pq_encode", "q102_leakage_safe_split", "q103_kn_ngram_stats",
        "q119_shared_substring_runs", "q121_boilerplate_filter",
        "q122_winnowing", "q126_lsh_recall", "q127_source_divergence",
        "q131_winnow_matches", "q132_pagerank", "q135_quality_keeper",
        "q136_decontaminated_split", "q137_drop_ledger", "q138_adc_recall",
        "q141_gopher_rules", "q142_repetition_fractions", "q143_kn_score",
        "q144_langid_margin", "q145_mixture_weights", "q146_threshold_sweep",
        "q147_ngram_novelty", "q148_length_moments", "q151_effective_tokens",
        "q152_minhash_calibration", "q153_crosslingual_dups",
        "q155_degree_histogram", "q156_quality_dup_crosstab",
        "q157_collocations", "q161_template_prefixes",
        "q163_incremental_exact_dedup", "q164_ivf_balance",
        "q165_pq_distortion", "q167_source_vocab_overlap",
        "q169_token_burstiness", "q170_cluster_spread",
        "q171_band_bucket_stats", "q173_readability", "q174_kwic",
        "q175_lsh_pair_budget", "q176_centroid_distances", "q177_sq8_error",
        "q179_token_df_spectrum", "q180_source_dup_matrix",
        "q182_band_config_sweep", "q183_shard_leakage", "q184_dim_variance",
        "q186_dup_cluster_sizes", "q187_corpus_delta", "q190_kn_band_routing",
        "q193_vocab_drift", "q194_dedup_adjusted_mixture",
        "q195_containment_pairs", "q198_snapshot_neardup",
        "q201_source_containment_matrix", "q202_shard_balance",
        "q203_component_cohesion", "q204_referential_integrity",
        "q205_order_balance", "q210_lsh_pr", "q212_graph_triangles",
        "q215_clustering_coeff", "q217_pit_feature_join",
        "q219_neardup_survivorship", "q220_head_share", "q222_zipf_curve",
        "q223_effective_vocab", "q225_reliability_bins",
        "q227_degree_assortativity", "q232_stratified_split",
        # one row per document in a near-dup pair: at k >= 2, all of them
        "q242_lang_propagation",
        # the recall harnesses at their sampled operating point: the exact
        # ground truth costs |sample|·|corpus| instead of |corpus|²
        "q114_ann_recall@frac0.1", "q126_lsh_recall@frac0.1",
        "q138_adc_recall@frac0.1", "q196_ivf_probe_sweep@frac0.1",
    )),
    # -- docs: replication invariants
    # every co-occurrence count is k times the source's
    ("q243_cooc_window", "docs", scaled(("x", "y"), n_d1=1, n_d2=1, n_d3=1, n_total=1)),
    # DECIMAL covariance sums scale exactly: loadings are unchanged
    ("q245_pca_power", "docs", scaled("dim")),
    # per-source top-N heads: the row counts are fixed
    ("q246_rank_tau", "docs", scaled(view=_row_count)),
    ("q248_hybrid_fusion", "docs", scaled(view=_row_count)),
    ("q254_pca_scores", "docs", scaled(view=_row_count)),
    # every 2x2 cell scales: chi2 by k, the keyword ranking is unchanged
    ("q256_chi2_keyness", "docs", scaled(
        ("source", "token"), n_tok=1, chi2=1, tol={"chi2": (0, 1e-4)}
    )),
    # chi2 by k, V unchanged
    ("q281_cramers_v", "docs", scaled(
        n_docs=1, chi2=1, tol={"chi2": (1e-9, 0), "cramers_v": (0, 1e-9)}
    )),
    # medians unchanged under replication: F per degree of freedom unchanged
    ("q283_brown_forsythe", "docs", scaled(
        n_docs=1, view=_per_df("f_stat", "n_docs", "k_sources"),
        tol={"f_stat": (1e-9, 0)},
    )),
    # N·diag and S both scale by k²: kappa is the same real number
    ("q284_cohens_kappa", "docs", scaled(n_docs=1, n_agree=1, s_chance=2)),
    # WSS and BSS by k: CH per degree of freedom unchanged
    ("q285_calinski_harabasz", "docs", scaled(
        n_vecs=1, wss=1, bss=1, view=_per_df("ch", "n_vecs", "k_labels"),
        tol={"wss": (1e-9, 0), "bss": (1e-12, 6e-9), "ch": (1e-6, 0)},
    )),
    # centroids (kS)/(kn) and scatters are the same reals
    ("q286_davies_bouldin", "docs", scaled("label", n_vecs=1)),
    ("q287_temperature_mixture", "docs", scaled(
        ("alpha", "source"), n_tokens=1, view=_tempered,
        tol={"weight_tempered": (0, 1e-9), "boost_tempered": (0, 1e-6)},
    )),
    # the type-1 pick at rank ceil(p·kn) is the source's pick at ceil(p·n)
    ("q288_dim_robust_scaling", "docs", scaled("dim", n_vecs=1)),
    # each cloned vector reproduces its source vector's silhouette
    ("q298_silhouette", "docs", scaled("label", n_vecs=1)),
    ("q301_curriculum_phases", "docs", scaled(
        view=_phase_totals, n_docs=1, tokens_total=1
    )),
    ("q304_fleiss_kappa", "docs", scaled(n_docs=1, c0=1, c1=1, c2=1)),
    # u2 and n1·n0 scale by k²: AUC is the same real number
    ("q308_score_auc", "docs", scaled(n_en=1, n_other=1, u2=2)),
    ("q309_brier_calibration", "docs", scaled("bin", n=1)),
    # -- users: k times the users, each with the source user's events
    # the Lorenz curve of a replicated population is unchanged
    ("q226_user_gini", "users", scaled(n_users=1, n_events=1, tol={"gini": (0, 1e-6)})),
    # every transition count scales: (kn)/(k·tot) rounds to the same double
    ("q263_markov_attribution", "users", IDENTICAL),
    # doubled midranks: U scales by k²; z has no replication identity (its
    # variance carries N + 1 and the tie correction)
    ("q266_mannwhitney_u", "users", scaled(
        "event_type", n_a=1, n_b=1, u2_a=2, u2_b=2, view=_without("z")
    )),
    # variance numerator by k², Fano factor by k
    ("q268_burstiness", "users", scaled(
        "event_type", n_events=1, var_num=2, fano=1, tol={"fano": (1e-9, 1e-8)}
    )),
    ("q269_seq_patterns", "users", scaled(("n", "pattern"), support=1, occurrences=1)),
    ("q270_kaplan_meier", "users", scaled(
        "t_days", n_risk=1, d_converted=1, c_censored=1
    )),
    # dyadic coefficients on integer counts: the fold is linear
    ("q271_holt_winters", "users", scaled(
        "day", x=1, forecast=1, resid=1, level=1, trend=1, season=1,
        tol={c: (0, 1e-5) for c in ("forecast", "resid", "level", "trend", "season")},
    )),
    ("q272_assoc_rules", "users", scaled(
        ("antecedent", "consequent"), supp_pair=1, supp_a=1, supp_b=1, n_users=1
    )),
    # daily counts scale by k: signs and ties unchanged
    ("q273_mann_kendall", "users", IDENTICAL),
    ("q275_skipgram_support", "users", scaled(
        ("gap", "antecedent", "consequent"), support=1, occurrences=1
    )),
    # -- cust: k times the customers, each buying the source's lines
    ("q259_hits", "cust", scaled(view=_hits_sides, hub=1, authority=2)),
    # -- evdup: the same users with k times the events; x -> kx is monotone
    ("q279_welch_t", "evdup", scaled(
        mean_a=1, mean_b=1, var_num_a=2, var_num_b=2,
        tol={"mean_a": T9, "mean_b": T9, "t": (0, 1e-9), "df": (0, 1e-3)},
    )),
    ("q280_spearman_rho", "evdup", IDENTICAL),
    ("q282_wilcoxon_signed", "evdup", IDENTICAL),
    ("q289_pettitt", "evdup", IDENTICAL),
    ("q290_cuped", "evdup", scaled(
        mean_adj_a=1, mean_adj_b=1, diff_adj=1,
        tol={"theta": (0, 1e-9), "var_reduction": (0, 1e-9),
             "mean_adj_a": (1e-9, 1e-8), "mean_adj_b": (1e-9, 1e-8),
             "diff_adj": (1e-9, 1e-7)},
    )),
    ("q291_mcnemar", "evdup", IDENTICAL),
    ("q292_logrank", "evdup", IDENTICAL),
    ("q293_cliffs_delta", "evdup", scaled("event_type", n_a=1, n_b=1)),
    ("q294_cochran_q", "evdup", IDENTICAL),
    ("q295_ljung_box", "evdup", IDENTICAL),
    ("q296_binned_drift", "evdup", scaled(
        "bin", n_first=1, n_second=1, chi2_term=2, chi2_total=2,
        tol={c: T9 for c in ("tri_term", "chi2_term", "tri_total", "chi2_total")},
    )),
    ("q297_durbin_watson", "evdup", scaled(
        slope=1, intercept=1, tol={c: (1e-8, 1e-8) for c in ("slope", "intercept", "dw")},
    )),
    ("q299_runs_test", "evdup", IDENTICAL),
    ("q300_anova_f", "evdup", scaled(
        n_total=1, ssb=1, ssw=1, view=_per_df("f_stat", "n_total", "k_groups"),
        tol={"ssb": T9, "ssw": T9, "f_stat": (1e-9, 0)},
    )),
    ("q302_cohens_d", "evdup", scaled(
        mean_a=1, mean_b=1, pooled_sd=1,
        tol={c: T9 for c in ("mean_a", "mean_b", "pooled_sd", "d", "g")},
    )),
    ("q303_mantel_haenszel", "evdup", scaled(
        "stratum", a=1, b=1, c=1, d=1, view=_cmh_fits, tol={"or_mh": T9}
    )),
    ("q305_chow_test", "evdup", scaled(
        ssr_pooled=2, ssr_pre=2, ssr_post=2,
        tol={c: T9 for c in ("ssr_pooled", "ssr_pre", "ssr_post", "f_stat")},
    )),
    ("q306_classical_decomposition", "evdup", scaled(
        "day", x=1, trend=1, seasonal=1, remainder=1,
        tol={c: (1e-5, 1e-5) for c in ("trend", "seasonal", "remainder")},
    )),
    ("q307_forecast_scorecard", "evdup", scaled(
        "model", mae=1, rmse=1, tol={c: (1e-6, 1e-6) for c in ("mae", "rmse", "mase")},
    )),
    ("q310_friedman_kendall_w", "evdup", IDENTICAL),
    ("q311_negbin_fit", "evdup", scaled(
        mean_x=1, var_x=2, dispersion=1, view=_negbin_fits,
        tol={"mean_x": T9, "var_x": (1e-8, 1e-8), "dispersion": (1e-6, 1e-6)},
    )),
    # the integer score |n·x - S| scales by k: same argmax day, G unchanged
    ("q312_grubbs_outlier", "evdup", scaled(x_outlier=1, tol={"g_stat": T9})),
)


# ---------------------------------------------------------------------------
# Probes: checks whose expectation comes from the input, not the source run
# ---------------------------------------------------------------------------


def probe_q217_v50(spark, k: int) -> dict:
    """q217's interval-residual join against an adversarial 50-version SCD2
    history (the clone copies events byte-identical, so versions per key are
    the axis that grows): the join fans out to ``V * n_events`` rows and the
    half-open slices keep exactly one version per event."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.tables import load_tables

    V = 50
    t = load_tables(spark, build_clone("docs", k))
    ev = t["events"].select(
        F.col("user_id").alias("c_custkey"),
        F.col("ts").cast("date").alias("d"),
        "value",
    )
    n_events = ev.count()
    start = F.lit("2023-06-01").cast("date")
    vers = t["customer"].select("c_custkey").crossJoin(
        spark.range(V).select(F.col("id").alias("i"))
    ).select(
        "c_custkey",
        F.date_add(start, (F.col("i") * 7).cast("int")).alias("eff_from"),
        F.when(
            F.col("i") < V - 1,
            F.date_add(start, ((F.col("i") + 1) * 7).cast("int")),
        ).otherwise(F.lit("9999-12-31").cast("date")).alias("eff_to"),
        F.concat(F.lit("seg_"), (F.col("i") % 7).cast("string")).alias("segment"),
    )
    t0 = time.perf_counter()
    j = ev.join(F.broadcast(vers), "c_custkey")
    fanout = j.count()
    kept = j.filter((F.col("eff_from") <= F.col("d")) & (F.col("d") < F.col("eff_to")))
    n_kept = kept.count()
    segments = kept.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,18)")).alias("v"),
    ).count()
    return {
        "wall_s": round(time.perf_counter() - t0, 2),
        "n_events": n_events,
        "join_fanout_rows": fanout,
        "rows_after_residual": n_kept,
        "segments": segments,
        "ok": fanout == V * n_events and n_kept == n_events,
    }


def probe_q255(spark, k: int) -> dict:
    """q255 on the docs clone: every window of a document of >= 20 tokens
    now sits in k documents, so each such document is excised whole, and no
    shorter document loses a token."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.tables import load_tables

    src = load_tables(spark, SRC)["documents"].select(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
    ).agg(
        F.count(F.lit(1)).alias("docs"), F.sum((F.col("n") >= 20).cast("int")).alias("long")
    ).collect()[0]
    n_docs, n_long = src.docs, src.long
    t0 = time.perf_counter()
    long = F.col("n_tokens") >= 20
    agg = REGISTRY["q255_exactsubstr"].fn(spark, build_clone("docs", k)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(long.cast("int")).alias("n_long"),
        F.sum((long & (F.col("kept_frac") == 0.0)).cast("int")).alias("n_excised"),
        F.sum((~long & (F.col("n_dup_tokens") > 0)).cast("int")).alias("n_short_cut"),
    ).collect()[0]
    return {
        "wall_s": round(time.perf_counter() - t0, 2),
        **agg.asDict(),
        "ok": agg.n == k * n_docs
        and agg.n_long == agg.n_excised == k * n_long
        and agg.n_short_cut == 0,
    }


def probe_q257(spark, k: int) -> dict:
    """q257 on the docs clone. A (length band, prefix) block of the source
    holding ``c`` documents holds ``k * c`` on the clone and is dropped past
    the 64-document stop-block cap; every surviving document gives C(k, 2)
    copy pairs at distance 0, and every surviving source pair gives k²."""
    import duckdb
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.plans import REGISTRY

    n_docs, n_pairs, n_dropped = duckdb.connect().execute(
        f"""
        WITH b AS (
          SELECT doc_id, t, length(t) AS ln,
                 CAST(floor(length(t) / 32) AS INT) AS lb, substr(t, 1, 8) AS pf
          FROM (SELECT doc_id, lower(trim(text)) AS t
                FROM '{SRC}/documents.parquet')
        ), sz AS (
          SELECT lb, pf, count(*) AS c FROM b GROUP BY lb, pf
        ), bb AS (
          SELECT b.* FROM b JOIN sz USING (lb, pf) WHERE sz.c * {k} <= 64
        )
        SELECT (SELECT count(*) FROM bb),
               (SELECT count(*) FROM bb x JOIN bb y
                  ON x.lb = y.lb AND x.pf = y.pf AND x.doc_id < y.doc_id
                WHERE levenshtein(x.t, y.t) * 100 <= 10 * greatest(x.ln, y.ln)),
               (SELECT count(*) FROM sz WHERE c * {k} > 64)
        """
    ).fetchone()
    fn = REGISTRY["q257_edit_dups"].fn
    dst = build_clone("docs", k)
    t0 = time.perf_counter()
    n = fn(spark, dst).count()
    wall = round(time.perf_counter() - t0, 2)
    # copies of one source document share doc_id mod OFFSET
    copy_pairs_off = fn(spark, dst).filter(
        (F.col("a_id") % OFFSET == F.col("b_id") % OFFSET) & (F.col("dist") != 0)
    ).count()
    want = k * (k - 1) // 2 * n_docs + k * k * n_pairs
    return {
        "wall_s": wall,
        "pairs": n,
        "expected_pairs": want,
        "blocks_dropped": n_dropped,
        "copy_pairs_not_dist0": copy_pairs_off,
        "ok": n == want and copy_pairs_off == 0,
    }


def probe_q313(spark, k: int) -> dict:
    """q313 on the docs clone: shifted ids hash to new uniforms, so D has no
    replication identity; it is recomputed here from the clone's ids."""
    import hashlib
    import math

    import duckdb

    from printer_etl_hub_spark.plans import REGISTRY

    dst = build_clone("docs", k)
    ids = duckdb.connect().execute(
        f"SELECT doc_id FROM '{dst}/documents.parquet'"
    ).fetchall()
    us = sorted(
        (int(hashlib.md5(f"{i}:sample".encode()).hexdigest()[:15], 16) % 1_000_000)
        / 1_000_000.0
        for (i,) in ids
    )
    n = len(us)
    d_ref = max(max((i + 1) / n - u, u - i / n) for i, u in enumerate(us))
    fn = REGISTRY["q313_hash_uniformity_ks"].fn
    base = fn(spark, SRC).collect()[0]
    t0 = time.perf_counter()
    r = fn(spark, dst).collect()[0]
    return {
        "wall_s": round(time.perf_counter() - t0, 2),
        "n": r.n,
        "d_stat": r.d_stat,
        "d_ref": d_ref,
        "ok": r.n == k * base.n
        and _close(r.d_stat, d_ref, (1e-9, 1e-9))
        and _close(r.sqrt_n_d, d_ref * math.sqrt(n), (1e-6, 1e-6)),
    }


def probe_cc(spark, k: int) -> dict:
    """Connected-components and SemDeDup telemetry on the docs clone: pair
    counts, CC rounds and cluster counts on both pair graphs, and SemDeDup
    at its scale posture (k-means k = √n) against the k-means train cost."""
    import math

    from printer_etl_hub_spark.operators.components import connected_components
    from printer_etl_hub_spark.operators.dedup import ngram_jaccard_pairs, semantic_dedup
    from printer_etl_hub_spark.operators.similarity import kmeans_fit, sign_lsh_pairs
    from printer_etl_hub_spark.plans.textops import _EDUP_MIN_COS, _J_MAX_DF, _LSH_BITS
    from printer_etl_hub_spark.tables import load_tables

    t = load_tables(spark, build_clone("docs", k))
    out: dict = {}
    for name, build in (
        ("jaccard", lambda: ngram_jaccard_pairs(
            t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
        )),
        ("embedding", lambda: sign_lsh_pairs(
            t["embeddings"], "vec_id", "embedding", bits=_LSH_BITS, min_cos=_EDUP_MIN_COS
        )),
    ):
        pairs, pins = build()
        stats: dict = {}
        comp = connected_components(pairs, "a_id", "b_id", stats=stats)
        out[name] = {
            "pairs": pairs.count(),
            "edges": stats.get("edges"),
            "rounds": stats.get("rounds"),
            "clusters": comp.select("component").distinct().count(),
            "clustered": comp.count(),
        }
        for p in pins:
            p.unpersist()

    n_vecs = t["embeddings"].count()
    n_clusters = max(8, math.isqrt(n_vecs))
    # The first k-means run pays one-time codegen for the seeding and
    # assignment shapes; the second is the warm train cost SemDeDup's
    # wall compares against.
    train = []
    for _ in range(2):
        t0 = time.perf_counter()
        kmeans_fit(
            t["embeddings"], "vec_id", "embedding", k=n_clusters, max_iter=2,
            tol=0.0, seeding="kmeans_par",
        ).count()
        train.append(round(time.perf_counter() - t0, 2))
    stats = {}
    t0 = time.perf_counter()
    keepers = semantic_dedup(
        t["embeddings"], "vec_id", "embedding", k=n_clusters, tau=0.95,
        iters=2, seeding="kmeans_par", stats=stats,
    ).filter("is_keeper").count()
    out["semantic_dedup"] = {
        "k": n_clusters,
        "seeding_rounds": stats.get("seeding_rounds"),
        "seeding_candidates": stats.get("seeding_candidates"),
        "kmeans_train_s": train[-1],
        "kmeans_train_cold_s": train[0],
        "wall_s": round(time.perf_counter() - t0, 2),
        "vectors": n_vecs,
        "keepers": keepers,
    }
    return out


PROBES = {
    "q217_adversarial_v50": probe_q217_v50,
    "q255_exactsubstr": probe_q255,
    "q257_edit_dups": probe_q257,
    "q313_hash_uniformity_ks": probe_q313,
    "cc_telemetry": probe_cc,
}


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


def _query(label: str) -> tuple[str, dict]:
    """``q126_lsh_recall@frac0.1`` -> (registry name, {"sample_frac": 0.1})."""
    name, _, frac = label.partition("@frac")
    return name, ({"sample_frac": float(frac)} if frac else {})


def run_row(spark, label: str, clone: str, inv: Invariant, k: int) -> dict:
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.plans.common import flush_pending_release

    name, kwargs = _query(label)
    fn = REGISTRY[name].fn
    collect = inv.kind != "rows_only"

    def run(path):
        # no query reads a predecessor's cache
        spark.catalog.clearCache()
        flush_pending_release()
        t0 = time.perf_counter()
        df = fn(spark, path, **kwargs)
        res = [r.asDict() for r in df.collect()] if collect else df.count()
        return round(time.perf_counter() - t0, 2), res

    wall, res = run(build_clone(clone, k))
    if not collect:
        return {"clone": clone, "wall_s": wall, "rows": res}
    fails = compare(inv, run(SRC)[1], res, k)
    return {
        "clone": clone, "wall_s": wall, "rows": len(res), "ok": not fails,
        "failures": fails[:5],
    }


def main() -> int:
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.session import get_spark

    only = {s for s in os.environ.get("SCALE_ONLY", "").split(",") if s}
    spark = get_spark("scale-audit")
    # one-time ICU/codegen init off the clock (as bench.py does)
    spark.range(1).select(F.lower(F.lit("W")), F.md5(F.lit("x"))).collect()
    out: dict = {
        "src": SRC, "copies": COPIES,
        "clones": {kind: clone_dir(kind) for kind in CLONES},
        "rows": {}, "probes": {},
    }
    for label, clone, inv in ROWS:
        if only and label not in only:
            continue
        out["rows"][label] = run_row(spark, label, clone, inv, COPIES)
        print(json.dumps({label: out["rows"][label]}), file=sys.stderr, flush=True)
    for label, probe in PROBES.items():
        if only and label not in only:
            continue
        out["probes"][label] = probe(spark, COPIES)
        print(json.dumps({label: out["probes"][label]}), file=sys.stderr, flush=True)
    verdicts = [r["ok"] for r in (*out["rows"].values(), *out["probes"].values())
                if "ok" in r]
    out["all_ok"] = all(verdicts)
    print(json.dumps(out))
    spark.stop()
    return 0 if out["all_ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
