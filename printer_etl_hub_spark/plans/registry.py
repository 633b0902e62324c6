"""The engine's declared query surface: name → (spark_fn, oracle_sql).

``REGISTRY`` insertion order is part of the external contract: the
correctness driver gates the FIRST 50 entries each round. ``GATE_ORDER``
makes that window explicit so coverage can be rotated deliberately.

Round-15 window (executes the round-14 pre-committed backfill plan
below): the r8 remainder q159-q198 in numeric order (40), then the
first ten round-13 additions q292-q301 (log-rank, Cliff's delta,
Cochran's Q, Ljung-Box, binned drift, Durbin-Watson, silhouette, runs
test, ANOVA F, curriculum phases; each oracle-verified exact at
sf0.001 + sf0.01 before entering the window). q302-q313 lead the next
window.

Round-14 backfill plan (pre-committed): the r8 remainder in numeric
order (q159-q198 — 40), then the round-13 additions q292-q313 (22:
log-rank, Cliff's delta, Cochran's Q, Ljung-Box, binned drift,
Durbin-Watson, silhouette, runs test, ANOVA F, curriculum phases,
Cohen's d, Mantel-Haenszel, Fleiss' kappa, Chow, classical
decomposition, forecast scorecard, language-bias AUC, Brier
calibration, Friedman/Kendall W, negbin fit, Grubbs, sampling-gate
KS — each oracle-verified exact at sf0.001 + sf0.01 in-session at
r13, each with a SCALE wave-37..40 clone invariant AND an
independent Python pin) — 40 + 22 > 50, so the window is q159-q198
then q292-q301, and q302-q313 lead the round-15 additions block. Binding rule, as every round:
r8-remainder-then-r13-additions in numeric order, truncated at 50.

q37 stays OUTSIDE the window by design: its estimator output has no
exact oracle (pinned by a tolerance test instead), and every gated
entry must be able to turn green. Everything not named in GATE_ORDER
follows in module order, so the full surface stays importable and
tested either way.

Rotation ledger (newest external green per query, as of the END of
r14, verified against CORRECTNESS_r01-r14):
r13, r14: q72, q77, q82-q91, q93-q97, q108, q124, q141-q148,
    q279-q291, q149-q158 (the round-13 window, gated in both rounds;
    CORRECTNESS_r13 and CORRECTNESS_r14 each hold these 50, all green);
r12: q76, q78-q81, q92, q114, q123, q126, q127, q132, q138-q140,
    q266-q278, q12, q14, q16-q19, q28, q31, q38-q45, q49, q50,
    q52-q56 (all 50; CORRECTNESS_r12 ≡ the round-12 GATE_ORDER);
r11: q255-q265, q135-q137, q20-q24, q26, q27, q29, q30, q32-q36,
    q46-q48, q51, q57-q71, q73-q75;
r10: q241-q254, q02, q04, q06, q08-q11, q13, q15, q25, q100, q101,
    q103, q105-q107, q109-q113, q115-q122, q125, q128-q131, q133,
    q134;
r9: q199-q240, q98, q99, q102, q104, q01, q03, q05, q07;
r8: q159-q198 (q149-q158 since re-gated, r13-r14);
never: q37 (by design), q292-q313 (landed round 13 AFTER that round's
    window was committed; oracle-verified exact at sf0.001 + sf0.01
    in-session at r13; q292-q301 enter the round-15 window).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .relational import RELATIONAL_QUERIES
from .textops import TEXT_QUERIES
from .tpch_pack import TPCH_PACK_QUERIES


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str | None


_ALL: dict[str, tuple] = {
    **RELATIONAL_QUERIES,
    **TEXT_QUERIES,
    **TPCH_PACK_QUERIES,
}

#: First 50 = the driver's correctness window for this round.
GATE_ORDER = [
    # Round-15 window (the round-14 pre-committed plan): the r8
    # remainder q159-q198, then the round-13 additions q292-q301.
    "q159_oov_curve",
    "q160_sentence_stats",
    "q161_template_prefixes",
    "q162_length_percentiles",
    "q163_incremental_exact_dedup",
    "q164_ivf_balance",
    "q165_pq_distortion",
    "q166_char_class_profile",
    "q167_source_vocab_overlap",
    "q168_event_rate_anomaly",
    "q169_token_burstiness",
    "q170_cluster_spread",
    "q171_band_bucket_stats",
    "q172_quality_histogram",
    "q173_readability",
    "q174_kwic",
    "q175_lsh_pair_budget",
    "q176_centroid_distances",
    "q177_sq8_error",
    "q178_embedding_integrity",
    "q179_token_df_spectrum",
    "q180_source_dup_matrix",
    "q181_chunk_plan",
    "q182_band_config_sweep",
    "q183_shard_leakage",
    "q184_dim_variance",
    "q185_packing_sweep",
    "q186_dup_cluster_sizes",
    "q187_corpus_delta",
    "q188_norm_outliers",
    "q189_len_quality_corr",
    "q190_kn_band_routing",
    "q191_rolling_active_users",
    "q192_event_transitions",
    "q193_vocab_drift",
    "q194_dedup_adjusted_mixture",
    "q195_containment_pairs",
    "q196_ivf_probe_sweep",
    "q197_template_suffixes",
    "q198_snapshot_neardup",
    "q292_logrank",
    "q293_cliffs_delta",
    "q294_cochran_q",
    "q295_ljung_box",
    "q296_binned_drift",
    "q297_durbin_watson",
    "q298_silhouette",
    "q299_runs_test",
    "q300_anova_f",
    "q301_curriculum_phases",
]

# Import-time contract checks. Explicit raises (not assert) so the
# window stays validated even under ``python -O``.
if len(GATE_ORDER) != 50:
    raise ValueError(f"GATE_ORDER must have exactly 50 entries, got {len(GATE_ORDER)}")
if len(set(GATE_ORDER)) != 50:
    raise ValueError("duplicate names in GATE_ORDER")
_missing = [n for n in GATE_ORDER if n not in _ALL]
if _missing:
    raise ValueError(f"GATE_ORDER names not in registry: {_missing}")

REGISTRY: dict[str, QuerySpec] = {
    name: QuerySpec(*_ALL[name]) for name in GATE_ORDER
}
for name, (fn, sql) in _ALL.items():
    if name not in REGISTRY:
        REGISTRY[name] = QuerySpec(fn, sql)
