#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of the headline set (lower is better).
A warmup pass first touches every string function so Spark's one-time ICU/
codegen initialization (~50 s in this image) isn't billed to any query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from printer_etl_hub_spark.plans import REGISTRY  # noqa: E402
from printer_etl_hub_spark.plans.common import flush_pending_release  # noqa: E402
from printer_etl_hub_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: scan-agg, joins, windows, sessionization, dedup families,
#: similarity, text analysis — the engine's representative workload mix.
#:
#: EXCLUSION RULE (registry queries NOT in HEADLINE): a query is excluded
#: only if it is (a) a sub-second trivial shape — single-table filter,
#: CASE map, point lookup, or a small TPC-H variant whose physical plan
#: (scan→filter→agg/join of the same tables) is already represented by a
#: benched sibling — or (b) a driver-side sink (Excel/JSON/ticket
#: writers) whose cost is I/O, not the engine. Every non-trivial join or
#: multi-stage shape must be benched; r8 closed the four known gaps
#: (q74/q76/q78/q86 below) and r9 added q58/q60 — TPC-H Q7's
#: two-nation shipping join and Q9's part⋈partsupp⋈lineitem profit
#: shape are NOT represented by the Q8/Q21 siblings, so the
#: sibling-coverage exclusion no longer applies to any multi-fact
#: TPC-H join.
HEADLINE = [
    "q01_pricing_summary",
    "q34_tpch_q3",
    "q35_tpch_q5",
    "q06_pivot_orderstatus",
    "q08_severity_argmax",
    "q09_top2_per_group",
    "q15_window_running",
    "q20_events_tumbling",
    "q21_sessionize",
    "q23_dedup_exact",
    "q28_minhash_lsh",
    "q29_ngram_jaccard",
    "q30_simhash",
    "q32_embedding_lsh",
    "q38_ivf_topk",
    "q25_quality_score",
    "q24_lang_id",
    "q27_fingerprint",
    "q39_sliding_window",
    "q40_tpch_q10",
    "q41_semi_anti_join",
    "q42_tpch_q18",
    "q13_merge_upsert",
    "q46_asof_join",
    "q47_range_join",
    "q48_hypertable_rollup",
    "q33_multimodal_decode",
    "q58_tpch_q7",
    "q59_tpch_q8",
    "q60_tpch_q9",
    "q61_tpch_q13",
    "q64_tpch_q21",
    "q66_tpch_q2",
    "q71_json_harvest",
    "q72_dup_clusters",
    # Round 8: the four non-trivial joins VERDICT r7 found unbenched —
    # last-touch attribution, the HLL rollup ladder, cross-corpus
    # decontamination, and the 13-gram collision sweep.
    "q74_attribution",
    "q76_hll_rollup",
    "q78_decontamination",
    "q86_ngram_collision",
    # Round 4 additions: the composed-pipeline flagships and the
    # re-implemented distributed shard packing.
    "q81_corpus_prep",
    "q82_embedding_dedup",
    "q77_token_shards",
    # Round 4 second batch: bloom decontamination, segment-level dedup,
    # TF-IDF, and the Lloyd refinement step.
    "q90_bloom_decontam",
    "q91_segment_dedup",
    "q92_tfidf_topk",
    "q93_lloyd_step",
    "q94_kmeans_train",
    "q95_quality_deciles",
    "q96_source_leakage",
    "q97_sequence_spans",
    "q98_bpe_pairs",
    "q99_corpus_datasheet",
    # Round 4 third batch: SemDeDup, PQ encode, the leakage-safe split,
    # the Kneser-Ney count prep, BM25 retrieval, and Count-Min heavy
    # hitters.
    "q100_semantic_dedup",
    "q101_pq_encode",
    "q102_leakage_safe_split",
    "q103_kn_ngram_stats",
    "q104_bm25_topk",
    "q105_cms_heavy_hitters",
    "q106_jl_project",
    "q107_pq_adc_topk",
    "q108_incremental_minhash",
    "q109_scd2_merge",
    "q110_scd2_asof",
    "q111_event_funnel",
    "q112_cohort_retention",
    # Round 5 additions: SQ8 quantization, the ANN recall harness, the
    # domain cap, bigram-LM scoring, epoch up-sampling, hard negatives.
    "q113_sq8_quantize",
    "q114_ann_recall",
    "q115_domain_cap",
    "q116_bigram_lm_score",
    "q117_epoch_upsample",
    "q118_hard_negatives",
    "q119_shared_substring_runs",
    "q120_bpe_apply",
    # Round 5 second batch: C4-style boilerplate excision, winnowing
    # fingerprints, DSIR importance scores, vocab-coverage audit.
    "q121_boilerplate_filter",
    "q122_winnowing",
    "q123_dsir_importance",
    "q124_vocab_coverage",
    "q125_overlap_stitch",
    "q126_lsh_recall",
    "q127_source_divergence",
    # Round 5 third batch: time-series subsequence search, tokenizer
    # fertility by language, T5-style span corruption.
    "q128_ts_pattern_search",
    "q129_tokenizer_fertility",
    "q130_span_corruption",
    "q131_winnow_matches",
    "q132_pagerank",
    "q133_lexical_diversity",
    "q134_vocab_growth",
    # Round 5 fourth batch: quality-aware survivorship, decontaminated
    # split, and the drop ledger.
    "q135_quality_keeper",
    "q136_decontaminated_split",
    "q137_drop_ledger",
    "q138_adc_recall",
    "q139_quality_trend",
    "q140_crop_pairs",
    # Round 6 additions: Gopher rules, repetition fractions, KN scoring,
    # lang-ID margin, mixture weights, threshold sweep, n-gram novelty,
    # length moments.
    "q141_gopher_rules",
    "q142_repetition_fractions",
    "q143_kn_score",
    "q144_langid_margin",
    "q145_mixture_weights",
    "q146_threshold_sweep",
    "q147_ngram_novelty",
    "q148_length_moments",
    # Round 7 additions: PII density, label outliers, effective tokens,
    # minhash calibration, cross-lingual dups, rare tokens, degree
    # histogram, quality-dup crosstab.
    "q149_pii_density",
    "q150_label_outliers",
    "q151_effective_tokens",
    "q152_minhash_calibration",
    "q153_crosslingual_dups",
    "q154_rare_tokens",
    "q155_degree_histogram",
    "q156_quality_dup_crosstab",
    # Round 7 second batch: collocations, lang-ID confusion, OOV curve,
    # sentence stats, template prefixes, length percentiles, incremental
    # exact dedup, IVF balance.
    "q157_collocations",
    "q158_langid_confusion",
    "q159_oov_curve",
    "q160_sentence_stats",
    "q161_template_prefixes",
    "q162_length_percentiles",
    "q163_incremental_exact_dedup",
    "q164_ivf_balance",
    # Round 7 third batch: PQ distortion, char classes, source vocab
    # overlap, event-rate anomalies, burstiness, cluster spread, LSH
    # bucket stats, quality histogram.
    "q165_pq_distortion",
    "q166_char_class_profile",
    "q167_source_vocab_overlap",
    "q168_event_rate_anomaly",
    "q169_token_burstiness",
    "q170_cluster_spread",
    "q171_band_bucket_stats",
    "q172_quality_histogram",
    # Round 7 fourth batch: readability, KWIC concordance, LSH pair
    # budget, centroid distances, SQ8 error.
    "q173_readability",
    "q174_kwic",
    "q175_lsh_pair_budget",
    "q176_centroid_distances",
    "q177_sq8_error",
    # Round-7 fifth wave: integrity audit, df spectrum, provenance
    # matrix, packing plan, LSH band-config sweep.
    "q178_embedding_integrity",
    "q179_token_df_spectrum",
    "q180_source_dup_matrix",
    "q181_chunk_plan",
    "q182_band_config_sweep",
    # Round-7 sixth wave: shard leakage, dim variance, packing sweep.
    "q183_shard_leakage",
    "q184_dim_variance",
    "q185_packing_sweep",
    # Round-7 seventh wave: dedup-impact, snapshot delta, norm outliers,
    # quality calibration, LM-fluency routing.
    "q186_dup_cluster_sizes",
    "q187_corpus_delta",
    "q188_norm_outliers",
    "q189_len_quality_corr",
    "q190_kn_band_routing",
    # Round-7 eighth wave: events analytics + corpus drift.
    "q191_rolling_active_users",
    "q192_event_transitions",
    "q193_vocab_drift",
    # Round-7 ninth wave: dedup-aware mixing, containment, probe sweep.
    "q194_dedup_adjusted_mixture",
    "q195_containment_pairs",
    "q196_ivf_probe_sweep",
    # Round-7 tenth wave: suffix templates, snapshot near-dup,
    # gate pass rates, budget apportionment.
    "q197_template_suffixes",
    "q198_snapshot_neardup",
    "q199_gate_pass_rates",
    "q200_budget_allocation",
    # Round-7 eleventh wave: containment matrix, shard balance, cohesion.
    "q201_source_containment_matrix",
    "q202_shard_balance",
    "q203_component_cohesion",
    # Round-7 twelfth wave: the data-quality audit pack.
    "q204_referential_integrity",
    "q205_order_balance",
    "q206_value_sanity",
    "q207_key_uniqueness",
    # Round-7 thirteenth wave: windowed funnel, RFM, LSH P/R, freshness.
    "q208_windowed_funnel",
    "q209_rfm_segments",
    "q210_lsh_pr",
    "q211_freshness_audit",
    # Round-7 fourteenth wave: graph triangles, top user journeys.
    "q212_graph_triangles",
    "q213_top_paths",
    # Round-7 fifteenth wave: weekly drift, clustering coefficient.
    "q214_weekly_drift",
    "q215_clustering_coeff",
    # Round-7 sixteenth wave: robust outliers, point-in-time join.
    "q216_robust_outliers",
    "q217_pit_feature_join",
    # Round-7 seventeenth wave: join-key skew audit.
    "q218_key_skew",
    # Round-7 eighteenth wave: near-dup survivorship by source.
    "q219_neardup_survivorship",
    # Round-7 nineteenth wave: head-share curve, depth revenue.
    "q220_head_share",
    "q221_depth_revenue",
    # Round 8: zipf curve, effective vocab, class weights, reliability
    # bins, user gini, degree assortativity, EWMA anomaly, dow profile,
    # CUSUM changepoint, brand HHI, stratified split, KS drift, join
    # cardinality forecast.
    "q222_zipf_curve",
    "q223_effective_vocab",
    "q224_class_weights",
    "q225_reliability_bins",
    "q226_user_gini",
    "q227_degree_assortativity",
    "q228_ewma_anomaly",
    "q229_dow_profile",
    "q230_cusum_changepoint",
    "q231_brand_hhi",
    "q232_stratified_split",
    "q233_ks_drift",
    "q234_join_cardinality",
    "q235_balanced_sample",
    "q236_range_splits",
    "q237_funnel_latency",
    "q238_cell_purity",
    "q239_inter_event_gaps",
    "q240_kcore",
    # Round 9: brand co-purchase affinity, lang label propagation,
    # windowed co-occurrence, audience overlap, PCA power iteration,
    # Kendall rank tau, LTV cohorts, hybrid retrieval fusion.
    "q241_brand_affinity",
    "q242_lang_propagation",
    "q243_cooc_window",
    "q244_audience_overlap",
    "q245_pca_power",
    "q246_rank_tau",
    "q247_ltv_cohorts",
    "q248_hybrid_fusion",
    "q249_daily_acf",
    "q250_ab_experiment",
    "q251_markov_stationary",
    "q252_seasonality_strength",
    "q253_histogram_quantiles",
    "q254_pca_scores",
    "q255_exactsubstr",
    "q256_chi2_keyness",
    "q257_edit_dups",
    "q258_holt_linear",
    "q259_hits",
    "q260_theil_sen",
    "q261_rrf_fusion",
    "q262_benford_audit",
    "q263_markov_attribution",
    "q264_lorenz_curve",
    "q265_winsorized_moments",
    "q266_mannwhitney_u",
    "q267_gopher_rules",
    "q268_burstiness",
    "q269_seq_patterns",
    "q270_kaplan_meier",
    "q271_holt_winters",
    "q272_assoc_rules",
    "q273_mann_kendall",
    "q274_ols_fit",
    "q275_skipgram_support",
    "q276_budget_sample",
    "q277_deadline_funnel",
    "q278_kruskal_wallis",
    # Round 12: the wave-31 statistics tier — Welch t, Spearman rho,
    # Cramér's V, Wilcoxon signed-rank, Brown-Forsythe, Cohen's kappa.
    "q279_welch_t",
    "q280_spearman_rho",
    "q281_cramers_v",
    "q282_wilcoxon_signed",
    "q283_brown_forsythe",
    "q284_cohens_kappa",
    "q285_calinski_harabasz",
    "q286_davies_bouldin",
    "q287_temperature_mixture",
    "q288_dim_robust_scaling",
    "q289_pettitt",
    "q290_cuped",
    "q291_mcnemar",
    # Round 13: the wave-37 inference tier — log-rank, Cliff's delta,
    # Cochran's Q, Ljung-Box, binned drift, Durbin-Watson, simplified
    # silhouette, runs test.
    "q292_logrank",
    "q293_cliffs_delta",
    "q294_cochran_q",
    "q295_ljung_box",
    "q296_binned_drift",
    "q297_durbin_watson",
    "q298_silhouette",
    "q299_runs_test",
    # Round 13 second batch: one-way ANOVA, curriculum phases, Cohen's
    # d, Mantel-Haenszel, Fleiss' kappa, Chow structural break.
    "q300_anova_f",
    "q301_curriculum_phases",
    "q302_cohens_d",
    "q303_mantel_haenszel",
    "q304_fleiss_kappa",
    "q305_chow_test",
    # Round 13 third batch: classical decomposition, forecast
    # scorecard, score AUC, Brier calibration.
    "q306_classical_decomposition",
    "q307_forecast_scorecard",
    "q308_score_auc",
    "q309_brier_calibration",
    # Round 13 fourth batch: Friedman/Kendall W, negative-binomial fit,
    # Grubbs outlier, sampling-gate uniformity KS.
    "q310_friedman_kendall_w",
    "q311_negbin_fit",
    "q312_grubbs_outlier",
    "q313_hash_uniformity_ks",
]


#: Excluded-query spot rotation (VERDICT r12 #4): the HEADLINE
#: exclusion rule ("sub-second trivial shape or driver-side sink") was
#: prose — a claim, not a measurement. Each round, SPOT_PER_ROUND of
#: the excluded queries get ONE timed read recorded in the BENCH_DETAIL
#: ``spot`` block, rotating deterministically by round number so the
#: whole excluded set re-measures every ~ceil(|excluded|/5) rounds and
#: a "trivial" query drifting to seconds becomes visible, not assumed
#: away. Driver-side sinks (no registry entry) stay out by nature.
SPOT_PER_ROUND = 5


def _round_number(here: str) -> int:
    """This bench run's round number: the max already-recorded bench
    round + 1, overridable via SPARK_GRAFT_ROUND."""
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        import re as _re

        recorded = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        rnd = str(max(recorded, default=0) + 1)
    return int(rnd)


def _spot_rotation(rnd: int) -> list[str]:
    """The round's spot slice of the non-headline registry queries, in
    deterministic rotation (sorted exclusion list, window advances
    SPOT_PER_ROUND names per round, wrapping)."""
    excluded = sorted(n for n in REGISTRY if n not in set(HEADLINE))
    if not excluded:
        return []
    start = (rnd * SPOT_PER_ROUND) % len(excluded)
    return [excluded[(start + i) % len(excluded)] for i in range(min(SPOT_PER_ROUND, len(excluded)))]


def _host_ms_per_job(spark, n: int = 20) -> float:
    """Median wall of ``spark.range(1).collect()`` — the host's fixed
    per-job cost (scheduler + driver/executor round-trip, no real work).
    ``collect()`` runs ONE job; ``count()`` runs two under AQE (the
    partial-count shuffle stage, then the final aggregate), so records
    taken with the older ``count()`` probe read about 2x the per-job cost.
    This machine drifts between phases (30 → 156 ms/job measured across
    and WITHIN rounds), and job-count-bound queries swing 1.5-2.5x with
    it; recording the phase alongside the attempts lets cross-round
    ratios be normalized mechanically instead of by prose (VERDICT r11
    item #5). Callers must warm the JVM first."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).collect()
        walls.append(time.perf_counter() - t0)
    walls.sort()
    mid = len(walls) // 2
    med = walls[mid] if len(walls) % 2 else (walls[mid - 1] + walls[mid]) / 2
    return round(med * 1000.0, 1)


def main() -> None:
    spark = get_spark("bench")
    # Warmup: one-time JVM init (ICU collation tables, codegen) off the clock.
    from pyspark.sql import functions as F

    spark.range(1).select(
        F.lower(F.lit("WARMUP")), F.md5(F.lit("x")), F.regexp_replace(F.lit("a b"), r"\s+", " ")
    ).collect()
    try:
        # One-time engine paths the headline set exercises: VARIANT
        # parse/explode codegen (q71), a Python-worker spin-up + Arrow
        # round-trip (q33), and a shuffle. All JVM/daemon init, none of it
        # a per-query cost at steady state — keep it off the clock.
        v = spark.range(4).selectExpr(
            "parse_json('{\"a\": [1, 2], \"b\": {\"c\": \"x\"}}') AS j"
        )
        v.lateralJoin(spark.tvf.variant_explode(F.col("j").outer())).select(
            F.schema_of_variant(F.col("value"))
        ).collect()
        spark.range(64).repartition(4).mapInPandas(
            lambda it: it, schema="id long"
        ).count()
        REGISTRY["q01_pricing_summary"].fn(spark, SF_DIR).count()
    except Exception as exc:  # warmup failure must not kill the bench
        print(f"# warmup failed: {exc}", file=sys.stderr)

    host_ms = {"pre": _host_ms_per_job(spark)}
    print(f"# host fixed-job-cost (pre): {host_ms['pre']} ms/job", file=sys.stderr)

    # Fault isolation: one broken query must not zero the whole round's bench
    # signal — failures are recorded in the JSON and the summary always prints.
    #
    # Best-of-k timing: single-sample wall-clock on a noisy shared host
    # produces 2-4x outliers (round 3 billed q72 at 10.95 s against a
    # reproduced 3.21 s); the min of k runs is the low-noise estimator of
    # the query's actual cost, so round-over-round deltas are signal.
    #
    # Attempts are INTERLEAVED round-robin across the headline set
    # (attempt 1 of every query, then attempt 2 of every query): the
    # host's degraded phases last minutes, so back-to-back attempts of
    # the same query both land inside one phase and best-of-k can't
    # absorb it (round 4 billed q90 at 11.7/12.9 s in both attempts
    # against a reproduced 1.7 s). With attempts minutes apart, one
    # degraded window can hit at most one attempt per query.
    k = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_K", "2")))
    all_attempts: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    fail_msgs: dict[str, list[str]] = {}
    for attempt in range(k):
        for name in HEADLINE:
            # Drop cached blocks from prior attempts/queries: several
            # queries persist() a shared subtree, and Spark's CacheManager
            # would substitute the attempt-1 cache into attempt 2's
            # identical plan — silently turning best-of-k into a
            # warm-cache number for exactly the persisting queries while
            # every other query pays full cost. Each attempt must bill
            # the query's real cold cost (its own persist included).
            spark.catalog.clearCache()
            flush_pending_release()  # drop deferred pin references too
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(spark, SF_DIR)
                rows[name] = df.count()  # full materialization of the result
                dt = time.perf_counter() - t0
                all_attempts.setdefault(name, []).append(round(dt, 3))
                print(f"# [{attempt + 1}/{k}] {name}: {dt:.3f}s", file=sys.stderr)
            except Exception as exc:
                msg = f"{type(exc).__name__}: {exc}"[:500]
                fail_msgs.setdefault(name, []).append(msg)
                print(f"# [{attempt + 1}/{k}] {name}: FAILED {msg}", file=sys.stderr)

    # Spread-retry rule (VERDICT r8 item #2b): when a query's attempts
    # spread more than 2x, BOTH may have landed in one of the host's
    # minutes-long degraded phases (r8 recorded q210-q215 at 2-3x their
    # reproducible walls exactly this way — both attempts degraded, so
    # best-of-2 couldn't save the record). One extra attempt, taken in a
    # later window, gives best-of-3 a sample outside the phase.
    retry = [
        name
        for name in HEADLINE
        if len(all_attempts.get(name, [])) >= 2
        and min(all_attempts[name]) > 0
        and max(all_attempts[name]) / min(all_attempts[name]) > 2.0
    ]
    if retry:
        print(f"# spread>2x retry pass: {retry}", file=sys.stderr)
    for name in retry:
        spark.catalog.clearCache()
        flush_pending_release()
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            rows[name] = df.count()
            dt = time.perf_counter() - t0
            all_attempts[name].append(round(dt, 3))
            print(f"# [retry] {name}: {dt:.3f}s", file=sys.stderr)
        except Exception as exc:
            msg = f"{type(exc).__name__}: {exc}"[:500]
            fail_msgs.setdefault(name, []).append(msg)
            print(f"# [retry] {name}: FAILED {msg}", file=sys.stderr)

    # Spot pass: one-attempt reads of this round's excluded-query slice.
    # Single-sample on a noisy host is deliberately NOT comparable to the
    # best-of-k headline numbers — it is a drift tripwire ("did a trivial
    # query become seconds"), not a benchmark record.
    here = os.path.dirname(os.path.abspath(__file__))
    spot: dict[str, dict] = {}
    try:
        spot_names = _spot_rotation(_round_number(here))
    except (OSError, ValueError) as exc:
        spot_names = []
        print(f"# spot rotation failed: {exc}", file=sys.stderr)
    for name in spot_names:
        spark.catalog.clearCache()
        flush_pending_release()
        t0 = time.perf_counter()
        try:
            n_rows = REGISTRY[name].fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            spot[name] = {"sec": dt, "rows": n_rows}
            print(f"# [spot] {name}: {dt:.3f}s ({n_rows} rows)", file=sys.stderr)
        except Exception as exc:
            spot[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"# [spot] {name}: FAILED {spot[name]['error']}", file=sys.stderr)

    host_ms["post"] = _host_ms_per_job(spark)
    print(f"# host fixed-job-cost (post): {host_ms['post']} ms/job", file=sys.stderr)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    flaky: dict[str, str] = {}
    for name in HEADLINE:
        attempts = all_attempts.get(name, [])
        if attempts:
            timings[name] = round(min(attempts), 3)
            all_t = "/".join(f"{t:.3f}" for t in attempts)
            print(
                f"# {name}: {timings[name]:.3f}s [{all_t}] ({rows.get(name)} rows)",
                file=sys.stderr,
            )
            if name in fail_msgs:
                # A query that fails SOME attempts must not read as clean —
                # intermittent breakage is a bug signal, not timing noise.
                # Denominator = attempts actually run (the spread-retry
                # pass can add a third), not the configured k.
                n_run = len(attempts) + len(fail_msgs[name])
                flaky[name] = (
                    f"{len(fail_msgs[name])}/{n_run} attempts failed: "
                    f"{fail_msgs[name][-1]}"
                )
                print(f"# {name}: FLAKY {flaky[name]}", file=sys.stderr)
        else:
            errors[name] = (fail_msgs.get(name) or ["unknown"])[-1]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)

    sf = None
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        pass
    # A failed query must never read as a speedup: bill each failure at
    # 60 s (>10x the slowest healthy query) so the headline total degrades
    # monotonically with breakage instead of silently dropping the query.
    penalty = 60.0 * len(errors)
    # Only the 10 slowest queries ride in the stdout payload: the driver
    # captures a 2,000-char output TAIL, and the full per-query dict
    # (87 entries, 2,383 chars in round 5) overflows it => parsed:null.
    # The complete dict lives in BENCH_DETAIL.json.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()) + penalty, 3),
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "timing": f"best-of-{k}-interleaved",
        "n_queries": len(HEADLINE),
        "host_ms_per_job": host_ms,
    }
    if errors:
        payload["n_failed"] = len(errors)
        payload["failed_penalty_sec"] = penalty
    if flaky:
        payload["n_flaky"] = len(flaky)
    # Full per-attempt spread, failure detail, and flaky attribution go to
    # a SIDECAR file + stderr, NEVER the stdout summary: the driver stores
    # only an output tail, and round 4's single JSON line (58 queries ×
    # per-attempt spreads) outgrew that tail and came back parsed:null.
    # The final stdout line must stay compact (~2 KB) and LAST.
    detail = {
        "attempts": all_attempts,
        "rows": rows,
        "errors": errors,
        "flaky": flaky,
        "sf_dir": SF_DIR,
        "k": k,
        "host_ms_per_job": host_ms,
        "spot": spot,
    }
    # The per-query history was discarded every round (BENCH_DETAIL.json
    # untracked + overwritten), which cost round 8 real signal: the
    # q210-q215 noise was only detectable by a judge re-measurement.
    # Write a round-stamped copy too (VERDICT r8 item #2a) — and COMMIT
    # it each round.
    try:
        stamped = os.path.join(here, f"BENCH_DETAIL_r{_round_number(here):02d}.json")
    except (OSError, ValueError) as exc:
        stamped = None
        print(f"# round stamp failed: {exc}", file=sys.stderr)
    for path in filter(None, [os.path.join(here, "BENCH_DETAIL.json"), stamped]):
        try:
            with open(path, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
        except OSError as exc:  # sidecar is best-effort; summary must still print
            print(f"# sidecar write failed: {exc}", file=sys.stderr)
    sys.stderr.flush()
    line = json.dumps(payload, separators=(",", ":"))
    # Hard ceiling: the driver tails 2,000 chars of stdout; the summary
    # line must fit in it WHOLE or the round's bench record is lost
    # (happened in rounds 4 AND 5). Shed detail keys until it fits.
    for shed in ("queries", "failed_penalty_sec", "host_ms_per_job", "timing"):
        if len(line) <= 1500:
            break
        payload.pop(shed, None)
        line = json.dumps(payload, separators=(",", ":"))
    # Final fallback: GUARANTEE the line fits the driver's tail window no
    # matter what future keys get added — rebuild from the minimal scalar
    # set (counts only, no per-query text) if shedding wasn't enough.
    if len(line) > 1500:
        minimal = {
            k: payload[k]
            for k in ("metric", "value", "unit", "sf", "n_queries", "n_failed", "n_flaky")
            if k in payload
        }
        line = json.dumps(minimal, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
