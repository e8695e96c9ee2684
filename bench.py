#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries":
{name: sec}, "sf": ...}``.

Each query is executed with the noop sink (full plan runs, nothing is
collected to the driver) — measures engine time, not driver transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


HEADLINE = [
    # relational core
    "flagship",
    "q1_pricing_summary",
    "q5_local_supplier",
    "q3_shipping_priority",
    "q10_returned_items",
    "q18_large_orders",
    "window_running_spend",
    "window_lag_lead",
    "topk_per_group",
    "asof_latest_per_key",
    "agg_rollup",
    "agg_grouping_sets",
    "full_outer_join_spend",
    "set_ops_segments",
    # scraper-op / incremental surface
    "incremental_delta_core",
    "failed_download_upsert",
    "scrape_cleaning_chain",
    # LLM-pipeline surface
    "dedup_exact_keep_first",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_rowsonly",
    "dedup_simhash_rowsonly",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_hot_shingle_census",
    "similarity_srp_plan_audit",
    "pipeline_dedup_corpus",
    "similarity_cosine_topk",
    "text_tfidf_top_terms",
    "text_stats",
    "text_bm25_topk",
    "corpus_quality_filter",
    "corpus_span_dedup",
    "corpus_contamination",
    "text_repetition_gates",
    "corpus_pack_sequences",
    "corpus_funnel_report",
    "dedup_incremental_ngram_pairs",
    "events_funnel_conversion",
    "pii_redact_notes",
    "multimodal_feature_manifest",
    # streaming shapes
    "stream_tumbling_window",
    "stream_session_windows",
    # round-4 closers: TPC-H completion + curation/analytics batch
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q16_supplier_relationship",
    "q20_promotion_suppliers",
    "q21_sole_late_supplier",
    "dedup_semantic_clusters",
    "text_unigram_surprisal",
    "events_locf_gapfill",
    "part_abc_classification",
    "events_markov_transitions",
    "customer_rfm_segments",
    "corpus_stratified_split",
    "basket_pair_lift",
    "supplier_concentration_hhi",
    "dq_orders_expectations",
    "scd2_customer_versions",
    "agg_hll_mergeable_daily",
    "incremental_agg_maintenance",
    "crosslingual_margin_pairs",
    # round-5 additions: crosslingual scale twin + statistics/graph/CDC
    "crosslingual_margin_pairs_lsh",
    # r14: per-band plan audit for the bitext cost dispatch
    "crosslingual_plan_audit",
    # r14 wave: IVF compaction plan + dispatch-rule edge audit + ingest gate
    "vector_store_compaction_census",
    "vector_store_compaction_apply",
    "similarity_dispatch_boundary_audit",
    "corpus_ingest_gate_census",
    "stat_welch_ttest_segments",
    "stat_chi2_priority_status",
    "stat_js_divergence_sources",
    "agg_geometric_mean_udaf",
    "stat_winsorized_event_values",
    "graph_pagerank_copurchase",
    "supplier_interval_merge",
    "orders_snapshot_diff",
    "events_attribution_last_touch",
    "stat_gini_order_values",
    "agg_cms_heavy_hitters_bounds",
    "spatial_grid_nearest_customer",
    "hierarchy_flatten_bfs",
    "corpus_mixing_weights",
    "embedding_quantization_error",
    "events_attribution_linear",
    "stat_benford_first_digit",
    "stat_entropy_priority_mix",
    "events_ewma_daily",
    "stat_auc_mann_whitney",
    "json_variant_props",
    # round-7 additions: sketch-accuracy audit + gap-fill/sampling/survival/LM
    "dedup_minhash_estimate_audit",
    "events_interp_gapfill",
    "corpus_budget_quota_sample",
    "stat_kaplan_meier_retention",
    "text_bigram_surprisal",
    "text_burst_terms",
    "events_seasonal_anomalies",
    "events_attribution_time_decay",
    "events_cusum_changepoint",
    "orders_decile_transform",
    "corpus_pps_systematic_sample",
    "text_pmi_term_pairs",
    "stat_weighted_median_price",
    "embedding_covariance_pairs",
    "stat_spearman_corr",
    "stat_theil_sen_slope",
    "events_acf_lags",
    "agg_kmv_distinct_union",
    "dq_referential_integrity",
    "orders_compound_growth",
    "ml_kmeans_lloyd_step",
    "text_readability_flesch",
    "stat_poisson_bootstrap_ci",
    "stat_mann_kendall_trend",
    "embedding_pca_power_iteration",
    "stat_ks_two_sample",
    "orders_reorder_gap_percentiles",
    "orders_max_drawdown",
    "ml_cluster_label_nmi",
    "stat_hill_tail_index",
    "events_markov_entropy_rate",
    "dq_k_anonymity_audit",
    "lineitem_business_day_lag",
    "dedup_simhash_portable",
    "events_daily_ohlc",
    "corpus_quantile_normalize",
    "events_capped_running_balance",
    "orders_seasonal_decomposition",
    "graph_degree_assortativity",
    "text_heaps_law_fit",
    "stat_fdr_bh_correction",
    "incremental_join_view_delta",
    "orders_cohort_ltv",
    "dq_column_profile",
    "ml_langid_confusion_eval",
    "orders_forecast_backtest",
    "orders_price_index_laspeyres",
    "ml_churn_label_summary",
    "dq_duplicate_payment_candidates",
    "dedup_token_sort_fingerprint",
    "events_top_paths",
    "corpus_weighted_reservoir_es",
    "events_engagement_dau_mau",
    "stat_poisson_gof_order_lines",
    "stat_capture_recapture_customers",
    "stat_paired_treatment_effect",
    "events_cross_correlation_leadlag",
    "lineitem_revenue_waterfall",
    "ml_psi_drift_detection",
    "multimodal_chunk_dedup",
    "ops_rendezvous_sharding",
    # r8 wave
    "stat_kruskal_wallis",
    "stat_anova_oneway",
    "stat_cramers_v",
    "stat_negbin_overdispersion",
    "stat_jarque_bera",
    "ml_ridge_shrinkage_path",
    "ml_kfold_cv_rmse",
    "text_hapax_yule",
    "text_bigram_perplexity_holdout",
    "text_source_vocab_overlap",
    "embedding_srp_bit_agreement",
    "embedding_centroid_distance_matrix",
    "embedding_norm_percentiles",
    "ops_join_cardinality_estimate",
    "orders_pareto_frontier",
    "events_running_distinct_users",
    "dq_last_digit_uniformity",
    "dq_tukey_fences",
    "sample_stratified_neyman",
    "graph_pagerank_iterations",
    "dedup_fuzzy_levenshtein",
    "ml_pr_curve_thresholds",
    "part_xyz_demand_classes",
    "events_cohort_retention",
    "text_ngram_novelty_rate",
    "dedup_cluster_connected_components",
    "stat_runs_test",
    "ml_learning_curve",
    "text_char_entropy",
    "stat_ljung_box",
    "stat_did_promo_uplift",
    "dedup_survivorship_report",
    "orders_yoy_growth",
    "stat_wasserstein_hi_lo",
    "stat_hellinger_segments",
    "stat_levene_brown_forsythe",
    "stat_durbin_watson_daily",
    "stat_grubbs_daily_outlier",
    "ml_mcc_threshold_eval",
    "ml_brier_calibration",
    "corpus_dsir_importance",
    "dq_l_diversity",
    "dq_t_closeness",
    "dedup_threshold_sweep",
    "graph_adamic_adar",
    "graph_kcore_peel",
    "events_periodogram_calendar",
    "stat_nelson_aalen_hazard",
    "part_price_elasticity",
    "customer_new_vs_returning",
    "stat_kendall_tau_ordinal",
    "agg_kmv_set_intersection",
    "orders_concurrency_census",
    "incremental_agg_retract",
    "orders_holt_winters",
    "stat_theil_inequality",
    "stat_effect_sizes_urgency",
    "orders_backlog_aging",
    "similarity_ann_recall_eval",
    "similarity_ann_frontier_eval",
    "retrieval_hybrid_rrf_topk",
    "actuarial_ldf_selection",
    "corpus_quality_token_tradeoff",
    "stat_cochran_q",
    "stat_fisher_exact_2x2",
    "dedup_lsh_band_planner",
    "ops_broadcast_threshold_audit",
    "stat_breusch_pagan",
    "stat_bartlett_test",
    "stat_mood_median_test",
    "stat_page_trend_test",
    "actuarial_mack_sigma",
    "stat_jonckheere_terpstra",
    "stat_cramer_von_mises",
    "stat_kuiper_two_sample",
    "text_sttr_lexical_diversity",
    "stat_power_sample_size",
    "graph_clustering_coefficient",
    "stat_bayesian_ab_urgency",
    "text_textrank_keywords",
    "stat_qlr_structural_break",
    "stat_lorenz_curve_deciles",
    "corpus_shard_manifest",
    # round-8 second-session waves (actuarial, cluster quality, graph,
    # finance, linkage, corpus, ops)
    "actuarial_chain_ladder",
    "actuarial_bf_reserve",
    "actuarial_freq_severity",
    "actuarial_buhlmann_credibility",
    "actuarial_logrank_test",
    "ml_silhouette_simplified",
    "ml_davies_bouldin",
    "ml_calinski_harabasz",
    "graph_hits_hubs_authorities",
    "graph_label_propagation",
    "finance_bollinger_breakout",
    "finance_beta_sharpe",
    "finance_vwap_monthly",
    "stat_mcnemar_paired",
    "stat_cuped_adjustment",
    "events_attribution_position",
    "linkage_fellegi_sunter_weights",
    "linkage_blocking_quality",
    "stat_gumbel_block_maxima",
    "stat_cochran_armitage_trend",
    "similarity_mmr_rerank",
    "ops_shuffle_balance_audit",
    "stat_friedman_test",
    "stat_wilson_ci",
    "corpus_perplexity_buckets",
    "customer_clv_heuristic",
    "orders_abc_migration",
    "stat_poisson_rate_test",
    "graph_jaccard_link_prediction",
    "text_tokenizer_fertility",
    "ml_lift_gains_table",
    "stat_meta_analysis_fixed_effect",
    "events_burstiness_memory",
    "events_funnel_time_to_convert",
    "text_ngram_coverage_curve",
    "dq_primary_key_audit",
    "finance_sma_crossover",
    "part_cross_elasticity",
    "trade_nation_flow_matrix",
    "stat_anderson_darling_normal",
    "stat_benford_second_digit",
    "stat_g_test_independence",
    "stat_runs_up_down",
    "stat_wilcoxon_signed_rank",
    "stat_sign_test",
    # round-10 additions: finance risk + reserving completions +
    # rank/stratified tests + stylometry
    "finance_max_drawdown",
    "finance_sortino_ratio",
    "finance_rsi_cutler",
    "actuarial_cape_cod",
    "actuarial_benktander",
    "stat_cliff_delta",
    "stat_mantel_haenszel",
    "stat_chow_test",
    "stat_quade_test",
    "stat_ansari_bradley",
    "stat_brunner_munzel",
    "text_burrows_delta",
    # round-11 additions: vector-store lifecycle + risk/text/DQ completions
    "vector_store_assignment_census",
    "vector_store_incremental_assign",
    "vector_store_occupancy_psi",
    "finance_calmar_ulcer",
    "text_zipf_slope",
    "dq_benford_mad",
    "stat_hurst_exponent",
    "stat_energy_distance",
    "finance_ewma_volatility",
    "corpus_boilerplate_ngrams",
    # round-12 additions: schema inference + enforcement (Stage-2
    # "Schema Builder" declaration)
    "schema_infer_promotion_census",
    "schema_infer_roundtrip",
]


# Round-1 warm timings at sf0.1 on local[32] (BENCH_r01.json) — the
# per-query budget is 2× these, floored at 1.0 s: the virtualized host
# shows ±40-50% run-to-run drift on UNCHANGED queries (measured: plain
# TPC-H q5 1.13 s → 1.74 s with identical plans), so a tighter factor
# flags noise, not regressions. Per-query blowouts only warn; the HARD
# gate is the suite total at 1.5× r1 — host drift would have to hit the
# whole 29-query suite at once to trip it spuriously, while a real
# regression in any heavy query still lands the diff in BENCH_r{N}.
# Queries added after r1 have no budget until their first recorded
# round.
R1_WARM = {
    "flagship": 0.729, "q1_pricing_summary": 0.439, "q5_local_supplier": 1.126,
    "q3_shipping_priority": 0.94, "q10_returned_items": 0.73,
    "q18_large_orders": 1.039, "window_running_spend": 0.863,
    "window_lag_lead": 0.371, "topk_per_group": 0.524,
    "asof_latest_per_key": 0.494, "agg_rollup": 0.362,
    "agg_grouping_sets": 0.452, "full_outer_join_spend": 0.449,
    "set_ops_segments": 0.713, "incremental_delta_core": 0.802,
    "failed_download_upsert": 1.508, "scrape_cleaning_chain": 0.853,
    "dedup_exact_keep_first": 1.163, "dedup_ngram_jaccard": 2.551,
    "dedup_minhash_lsh_rowsonly": 4.614, "dedup_simhash_rowsonly": 3.205,
    "dedup_embedding_cosine": 2.132, "pipeline_dedup_corpus": 4.161,
    "similarity_cosine_topk": 0.504, "text_tfidf_top_terms": 0.725,
    "text_stats": 0.744, "multimodal_feature_manifest": 0.626,
    "stream_tumbling_window": 0.364, "stream_session_windows": 0.753,
}
R1_TOTAL = 33.936

# Absolute warm-time ceiling per query at sf0.1, applied to EVERY query
# including never-before-benched ones (the r8 blind spot: per-query
# budgets only existed for queries with a prior recorded round, so a
# brand-new O(n^2) query ran 553 s and the regression map stayed empty).
ABS_WARM_CEILING_S = 30.0


def _current_round(repo: str) -> int:
    """The round being built: $SPARK_GRAFT_ROUND, else 1 + the highest
    driver BENCH_r*.json — the same rule _persist_round_timings uses."""
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round is not None:
        return int(env_round)
    try:
        rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
    except OSError:
        rounds = []
    return (max(rounds) if rounds else 0) + 1


def _bench_cpus() -> int:
    """Core count this bench run is using ($SPARK_GRAFT_CPUS, default
    32 — the standard config every committed round record was measured
    at)."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _record_filename(n: int, cpus: int) -> str:
    """Round-record filename, keyed by core count: the standard 32-core
    record is r{N}.json (back-compatible with every prior round);
    non-standard core counts get their own r{N}_c{cpus}.json so a
    low-core scaling run is never min-merged into — or gated against —
    a 32-core noise floor (r14: the driver's 8-core run false-failed
    the suite-total gate against the 32-core record)."""
    return f"r{n:02d}.json" if cpus == 32 else f"r{n:02d}_c{cpus}.json"


def _prev_round_records(repo: str, cpus: int = 32):
    """bench_results records from rounds STRICTLY BEFORE the current
    one, newest first, AT THE SAME CORE COUNT. The current round's own
    file is excluded: a re-run within a round would otherwise compare
    (or budget) against itself — the r13 second run overwrote r13.json
    before the gate loaded it and self-compared to a green no-op."""
    cur = _current_round(repo)
    suffix = ".json" if cpus == 32 else f"_c{cpus}.json"
    try:
        rounds = sorted(
            (int(m.group(1)), f)
            for f in os.listdir(os.path.join(repo, "bench_results"))
            if (m := re.match(r"r(\d+)" + re.escape(suffix) + r"$", f))
        )
    except Exception:
        return
    for n, f in reversed(rounds):
        if n >= cur:
            continue
        try:
            with open(os.path.join(repo, "bench_results", f)) as fh:
                yield json.load(fh)
        except Exception:
            continue


def _load_prev_headline(repo: str, cpus: int = 32) -> dict[str, float]:
    """PREVIOUS ROUND's full headline warm map — the basis of the
    suite-total gate (r13): per-query budgets (2× with a 1.0 s floor)
    let a diffuse session-wide tax through (r12 shipped +12% headline
    total with `regressions: {}` because the block-pressure cost
    spread across many queries), so the like-for-like HEADLINE TOTAL
    is also gated, at 1.15× the previous round. Baselines are per core
    count: a run at a non-standard $SPARK_GRAFT_CPUS with no prior
    record at that count gets NO suite-total gate rather than a false
    one."""
    for rec in _prev_round_records(repo, cpus):
        q = rec.get("queries")
        if q:
            return {k: float(v) for k, v in q.items()}
    return {}


SUITE_TOTAL_BUDGET_RATIO = 1.15


def _suite_total_gate(
    timings: dict[str, float],
    prev_head: dict[str, float],
    ratio: float = SUITE_TOTAL_BUDGET_RATIO,
) -> tuple[float, float, int] | None:
    """Like-for-like headline-total check: (now, prev, n_common) when
    the common-query total exceeds ratio x the previous round's, else
    None. Queries new this round are excluded (growth is not a
    regression); queries dropped from the suite stop counting on both
    sides."""
    common = [n for n in timings if n in prev_head]
    if not common:
        return None
    now_sum = round(sum(timings[n] for n in common), 3)
    prev_sum = round(sum(prev_head[n] for n in common), 3)
    if now_sum > ratio * prev_sum:
        return now_sum, prev_sum, len(common)
    return None


def _load_prev_tier2(repo: str, cpus: int = 32) -> dict[str, float]:
    """PREVIOUS ROUND's tier-2 warm map — the regression budget for
    non-headline queries (2x with a 1.0 s floor, warn-only, same
    policy as the headline budgets). Excludes the current round's own
    record (see _prev_round_records) and, like the headline baseline,
    only matches records measured at the same core count."""
    for rec in _prev_round_records(repo, cpus):
        t2 = rec.get("tier2")
        if t2:
            return {k: float(v) for k, v in t2.items()}
    return {}

# Warm timings recorded for queries added after r1 (r4 run at sf0.1,
# local[32], min-of-2-warm with rc=0). Same 2×-with-1.0s-floor warning
# budget as R1_WARM; they do NOT join the r1-comparable hard gate (that
# stays like-for-like), but a blowout prints a REGRESSION line the
# next round's builder will see in BENCH_r{N}.json.
R4_WARM = {
    "text_bm25_topk": 1.025, "corpus_quality_filter": 0.942,
    "dedup_embedding_cosine_lsh": 4.274, "corpus_span_dedup": 0.802,
    "corpus_contamination": 1.127, "text_repetition_gates": 1.664,
    "corpus_pack_sequences": 0.972, "corpus_funnel_report": 3.552,
    "dedup_incremental_ngram_pairs": 1.814, "events_funnel_conversion": 0.751,
    "pii_redact_notes": 1.036,
    # round-4 additions (isolated min-of-2-warm, sf0.1, local[32])
    "q2_min_cost_supplier": 1.618, "q11_important_parts": 0.721,
    "q16_supplier_relationship": 0.916, "q20_promotion_suppliers": 1.047,
    "q21_sole_late_supplier": 1.708, "dedup_semantic_clusters": 1.389,
    "text_unigram_surprisal": 0.848, "events_locf_gapfill": 0.768,
    "part_abc_classification": 0.671, "events_markov_transitions": 0.663,
    "customer_rfm_segments": 0.579, "corpus_stratified_split": 0.398,
    "basket_pair_lift": 3.151, "supplier_concentration_hhi": 0.951,
    "dq_orders_expectations": 0.687, "scd2_customer_versions": 0.803,
    "agg_hll_mergeable_daily": 0.444, "incremental_agg_maintenance": 0.621,
    "crosslingual_margin_pairs": 3.85,
}

# Warm timings for round-5 additions (in-suite min-of-2-warm, sf0.1,
# local[32], rc=0; pagerank re-measured after the contribution-relation
# precompute). Same 2×-with-1.0s-floor warning budget.
R5_WARM = {
    "crosslingual_margin_pairs_lsh": 3.553,
    "stat_welch_ttest_segments": 0.533, "stat_chi2_priority_status": 0.49,
    "stat_js_divergence_sources": 0.745, "agg_geometric_mean_udaf": 0.659,
    "stat_winsorized_event_values": 0.825, "graph_pagerank_copurchase": 4.4,
    "supplier_interval_merge": 1.778, "orders_snapshot_diff": 0.663,
    "events_attribution_last_touch": 0.617, "stat_gini_order_values": 0.636,
    "agg_cms_heavy_hitters_bounds": 1.59,
    "spatial_grid_nearest_customer": 0.557, "hierarchy_flatten_bfs": 0.674,
    "corpus_mixing_weights": 0.528, "embedding_quantization_error": 0.504,
    "events_attribution_linear": 0.743,
    "stat_benford_first_digit": 0.403, "stat_entropy_priority_mix": 0.645,
    "events_ewma_daily": 0.616, "stat_auc_mann_whitney": 0.526,
    "json_variant_props": 0.484,
}


def _release_blocks(spark) -> None:
    """Free persist/localCheckpoint blocks left behind by the last query.

    Eager localCheckpoints (the dedup signature tables) pin
    block-manager memory until Python GC drops the DataFrame AND the
    JVM ContextCleaner gets around to it — across a 30+-query suite
    the leftover blocks inflate later timings (r2 measured: minhash
    2.8 s isolated vs 11.2 s in-suite; embedding-cosine 1.2 vs 5.5).
    Unpersist explicitly between queries so each timing measures the
    plan, not accumulated block-manager pressure. Safe: every query
    call builds a fresh plan (and fresh checkpoints), nothing is
    reused across timings.
    """
    import gc

    gc.collect()  # drop py4j handles so the JVM side is collectable
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        # The shared_cache staged relations live in session-temp
        # parquet, not the block manager, so EVERY leftover block is
        # sweepable — the sweep cannot break a staged-relation consumer.
        jrdd.unpersist()
    spark.catalog.clearCache()


def _min_merge(new: dict, old: dict) -> dict:
    """Per-key minimum of two timing maps (union of keys). Keys only
    in one map keep their reading."""
    out = dict(old)
    for k, v in new.items():
        prev = out.get(k)
        out[k] = v if prev is None else min(float(prev), float(v))
    return out


def _persist_round_timings(result: dict, cold: dict, cpus: int = 32) -> dict:
    """Write the FULL per-query timing map to bench_results/r{N}.json
    (committed in-repo; non-32-core runs go to r{N}_c{cpus}.json — see
    _record_filename). The driver's BENCH_r{N}.json tail only keeps
    the last ~2 KB of stdout, which in r7 shared zero per-query keys
    with r6 — this file is what makes cross-round per-query regression
    diffs possible from artifacts alone. N = 1 + the highest existing
    driver BENCH_r*.json (i.e. the round currently being built);
    override with $SPARK_GRAFT_ROUND. Best-effort: never fails bench.
    Returns the record as persisted (min-merged), or ``result`` itself
    on any persistence failure.

    OWNERSHIP + NOISE (r14, VERDICT r13 item 4): the round record is
    CUMULATIVE — a re-run within the same round merges per-query MINIMA
    into the existing file instead of overwriting it (three same-code
    r13 runs measured 311/363/345 s totals, ±9% host noise; min-of-2
    within one run can't cancel that, min across runs can). Builder and
    driver runs therefore co-own the file and each run can only sharpen
    it, never regress it — and the NEXT round's 1.15× suite-total gate
    compares the two rounds' noise-floor totals (min-merged vs
    min-merged, VERDICT r14 item 1) rather than whichever single run
    happened to land last."""
    rec = {**result, "cold": cold, "cpus": cpus}
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        n = _current_round(repo)
        out_dir = os.path.join(repo, "bench_results")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, _record_filename(n, cpus))
        if os.path.exists(path):
            try:
                with open(path) as fh:
                    old = json.load(fh)
            except Exception:
                old = {}
            for key in ("queries", "tier2", "cold"):
                if isinstance(old.get(key), dict):
                    rec[key] = _min_merge(rec.get(key, {}), old[key])
            rec["value"] = round(sum(rec["queries"].values()), 3)
            rec["tier2_total"] = round(sum(rec.get("tier2", {}).values()), 3)
            rec["cold_total"] = round(sum(rec.get("cold", {}).values()), 3)
            rec["r1_comparable_total"] = round(
                sum(t for q, t in rec["queries"].items() if q in R1_WARM), 3
            )
            rec["merged_runs"] = int(old.get("merged_runs", 1)) + 1
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
    except Exception as exc:  # pragma: no cover - diagnostics only
        print(f"  bench_results persist skipped: {exc}", file=sys.stderr)
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from insurance_helper_spark.session import get_spark
    from insurance_helper_spark.queries import catalog

    catalog.load_all()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM warm-up (not timed): tiny action through the parquet reader.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Pass 1 (cold, recorded separately): includes per-query Catalyst
    # analysis + whole-stage-codegen compilation. Passes 2+3 are warm;
    # the recorded warm time is the per-query MIN of the two — on a
    # shared/virtualized host a single pass can absorb multi-second
    # scheduler stalls, and min-of-N is the standard noise floor for
    # regression gating (the engine can't run faster than it is).
    cold: dict[str, float] = {}
    warm_passes: list[dict[str, float]] = [{}, {}]
    for label, store in (("cold", cold), ("warm1", warm_passes[0]), ("warm2", warm_passes[1])):
        for name in HEADLINE:
            fn = catalog.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            store[name] = round(time.perf_counter() - t0, 3)
            print(f"  [{label}] {name}: {store[name]}s", file=sys.stderr)
            _release_blocks(spark)
    timings = {n: min(p[n] for p in warm_passes) for n in HEADLINE}

    # Tier 2: every catalog query OUTSIDE the headline list still gets
    # a timing and the 30 s absolute ceiling (VERDICT r10 item 4 — the
    # r8 O(n^2) incident proved untimed queries hide blowups). One cold
    # + one warm pass; a warm reading above the ceiling is re-run once
    # and the min kept so a one-off host stall can't fail the gate.
    tier2_names = sorted(set(catalog.QUERIES) - set(HEADLINE))
    tier2: dict[str, float] = {}
    tier2_cold: dict[str, float] = {}
    for label, store in (("t2-cold", tier2_cold), ("t2-warm", tier2)):
        for name in tier2_names:
            fn = catalog.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            store[name] = round(time.perf_counter() - t0, 3)
            print(f"  [{label}] {name}: {store[name]}s", file=sys.stderr)
            _release_blocks(spark)
    for name, t in list(tier2.items()):
        if t > ABS_WARM_CEILING_S:
            t0 = time.perf_counter()
            catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            tier2[name] = round(min(t, time.perf_counter() - t0), 3)
            _release_blocks(spark)
    # r14 (measurement noise-hardening, same rule as the ceiling re-run
    # above): tier-2 gets ONE warm pass, so a single multi-second host
    # stall on one query lands a false REGRESSION in the round record
    # (two consecutive r14 runs flagged two different untouched queries
    # at ~2.2x budget; both re-probed at their recorded minima). A
    # tier-2 reading above its would-be regression threshold is re-run
    # once and the min kept — the headline tier is already min-of-2-warm
    # and needs no re-run. A REAL regression reproduces on the re-run
    # and still gates.
    cpus = _bench_cpus()
    tier2_rechecks: dict[str, dict[str, float]] = {}
    if abs(sf - 0.1) < 1e-9:
        _t2b = _load_prev_tier2(os.path.dirname(os.path.abspath(__file__)), cpus)
        for name, t in list(tier2.items()):
            b = _t2b.get(name)
            if b is not None and t > max(2.0 * b, 1.0):
                t0 = time.perf_counter()
                catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                second = round(time.perf_counter() - t0, 3)
                tier2[name] = min(t, second)
                # ADVICE r14: the recheck note went only to stderr, so
                # the round record could not show a smoothed-over
                # intermittent regression — record both readings.
                tier2_rechecks[name] = {"first": t, "recheck": second}
                print(
                    f"  [t2-recheck] {name}: {t}s vs budget {b}s -> {tier2[name]}s",
                    file=sys.stderr,
                )
                _release_blocks(spark)

    total = round(sum(timings.values()), 3)
    # Suite gate compares like-for-like: only queries that existed in r1
    # (new headline queries grow the suite without meaning a regression).
    comparable_total = round(sum(t for n, t in timings.items() if n in R1_WARM), 3)
    regressions = {}
    ceiling_breaches = {}
    if abs(sf - 0.1) < 1e-9:  # budgets were recorded at sf0.1
        budgets = {**R5_WARM, **R4_WARM, **R1_WARM}  # earliest round wins where both exist
        # tier-2 budgets come from the previous round's recorded map
        t2_budgets = _load_prev_tier2(os.path.dirname(os.path.abspath(__file__)), cpus)
        for name, t in {**tier2, **timings}.items():
            budget = budgets.get(name, t2_budgets.get(name) if name in tier2 else None)
            if budget is not None and t > max(2.0 * budget, 1.0):
                regressions[name] = {"budget": budget, "now": t}
                print(f"  REGRESSION {name}: {t}s vs budget {budget}s", file=sys.stderr)
            # Absolute per-query ceiling: budgeted OR NOT. Round 8 shipped
            # a 553 s O(n^2) query unnoticed because new queries are
            # unbudgeted until their first recorded round — no query in
            # this engine has any business taking >30 s warm at sf0.1.
            if t > ABS_WARM_CEILING_S:
                ceiling_breaches[name] = t
                print(
                    f"  CEILING {name}: {t}s warm > {ABS_WARM_CEILING_S}s absolute ceiling",
                    file=sys.stderr,
                )
    result = {
        "metric": "headline_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total": round(sum(cold.values()), 3),
        "r1_comparable_total": comparable_total,
        "sf": sf,
        "regressions": regressions,
        "ceiling_breaches": ceiling_breaches,
        "tier2": tier2,
        "tier2_total": round(sum(tier2.values()), 3),
        "tier2_cold_total": round(sum(tier2_cold.values()), 3),
        "tier2_rechecks": tier2_rechecks,
        "n_queries_total": len(timings) + len(tier2),
    }
    # The suite-total gate's baseline MUST be read BEFORE persisting
    # this run: _persist_round_timings may overwrite the same
    # bench_results/r{N}.json (a re-run within one round), and a
    # post-persist load would compare the run against ITSELF — the
    # r13 second run shipped +17% headline under a silently-green gate
    # exactly this way. Baseline matching is per core count (VERDICT
    # r14 item 1): prev_head is {} — gate skipped — when no previous
    # round was recorded at this $SPARK_GRAFT_CPUS.
    prev_head = _load_prev_headline(os.path.dirname(os.path.abspath(__file__)), cpus)
    merged_rec = _persist_round_timings(result, cold, cpus)
    # The driver's BENCH_r{N}.json keeps only the last 2000 chars of
    # stdout and json-parses them; the full 270-query map is ~8 KB so
    # the capture truncated mid-line and "parsed" came back null in r8
    # and r9 (VERDICT r9 item 3). stdout gets ONE <2 KB compact line
    # whose "queries" carries only the r1-comparable gate set; the full
    # map goes to stderr for humans and to bench_results/r{N}.json
    # (committed in-repo) for cross-round diffs.
    print(json.dumps(result), file=sys.stderr)
    compact = {
        "metric": "headline_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": {n: t for n, t in timings.items() if n in R1_WARM},
        "n_queries": len(timings),
        "n_tier2": len(tier2),
        "tier2_total": result["tier2_total"],
        "cold_total": result["cold_total"],
        "r1_comparable_total": comparable_total,
        "sf": sf,
        "regressions": dict(sorted(regressions.items())[:8]),
        "ceiling_breaches": dict(sorted(ceiling_breaches.items())[:8]),
        "full": "bench_results/",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never let the tail capture truncate mid-line
        compact["queries"] = {}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    # R1_TOTAL was measured at 32 cores; a lower-core scaling run is a
    # measurement, not a like-for-like comparison against that budget.
    if abs(sf - 0.1) < 1e-9 and cpus == 32 and comparable_total > 1.5 * R1_TOTAL:
        print(
            f"SUITE REGRESSION: {comparable_total}s (r1-comparable queries) "
            f"vs r1 {R1_TOTAL}s",
            file=sys.stderr,
        )
        sys.exit(1)
    # Headline-TOTAL gate vs the previous recorded round, like-for-like
    # (only queries present in both rounds), so a diffuse tax spread
    # thin across the suite — under every per-query budget — still
    # fails loudly (VERDICT r12 item 4).
    if abs(sf - 0.1) < 1e-9:
        if not prev_head:
            print(
                f"  suite-total gate skipped: no previous-round record at "
                f"{cpus} cpus",
                file=sys.stderr,
            )
        # Gate min-merged vs min-merged (VERDICT r14 item 1): the
        # previous round's record is a noise floor over many runs, so a
        # single fresh run (min-of-2) is compared asymmetrically — ±9%
        # documented host drift plus the min-of-N asymmetry already
        # false-failed the driver's r14 8-core run at +29%. The current
        # round's CUMULATIVE record (this run min-merged with every
        # earlier run of the round) is the like-for-like total.
        merged_head = {
            k: float(v) for k, v in merged_rec.get("queries", {}).items()
        }
        breach = _suite_total_gate(merged_head, prev_head)
        if breach is not None:
            # Noise hardening (r14): a single run's min-of-2 total still
            # carries ±9% host noise (r13: 311/363/345 s same-code). On a
            # tentative breach, run ONE confirmation warm pass over the
            # gated set and re-check on the sharpened minima — a stalled
            # host reading clears, a real diffuse tax does not.
            print(
                "  suite-total gate tentative breach — confirmation pass",
                file=sys.stderr,
            )
            for name in sorted(n for n in timings if n in prev_head):
                t0 = time.perf_counter()
                catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                timings[name] = min(
                    timings[name], round(time.perf_counter() - t0, 3)
                )
                _release_blocks(spark)
            # re-persist the sharpened minima (min-merge is idempotent)
            result["value"] = round(sum(timings.values()), 3)
            merged_rec = _persist_round_timings(result, cold, cpus)
            merged_head = {
                k: float(v) for k, v in merged_rec.get("queries", {}).items()
            }
            breach = _suite_total_gate(merged_head, prev_head)
        if breach is not None:
            now_sum, prev_sum, n_common = breach
            print(
                f"SUITE-TOTAL REGRESSION: {now_sum}s over {n_common} "
                f"like-for-like headline queries (round-record minima) vs "
                f"previous round's {prev_sum}s (budget "
                f"{SUITE_TOTAL_BUDGET_RATIO}x, confirmed by a third warm "
                f"pass)",
                file=sys.stderr,
            )
            sys.exit(1)
    if ceiling_breaches:
        print(
            f"ABSOLUTE CEILING BREACH: {sorted(ceiling_breaches)} exceed "
            f"{ABS_WARM_CEILING_S}s warm at sf0.1",
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
