"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's query registry
(``citeconnect_datapipeline_spark.plans.registry``): every implemented
operator from SURVEY.md SS2 is a named query there, with its DuckDB
oracle SQL where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from citeconnect_datapipeline_spark.plans.registry import (  # noqa: E402
    get_oracles,
    get_queries,
)

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    papers_pipeline_e2e is the reference's whole §3.1 lifecycle as one
    plan: clean -> filter -> enrich -> dedup -> slice."""
    return get_queries()["papers_pipeline_e2e"](spark, _SMOKE_SF_DIR)


# Queries with a green hash-MATCH row in an earlier round's
# CORRECTNESS artifact (r1/r2 sets + the 50 greens of r3). The
# driver verifies a prefix window of queries(); never-verified
# queries go FIRST so every registered query accumulates at least
# one driver-verified row across rounds. Behind them the window is
# filled with RE-verification: queries materially rewritten this
# round (_REVERIFY_FIRST), then a round-rotated sample of the rest
# of the verified set — so a regression in an already-green query
# stays externally detectable instead of hiding behind a stale
# green row (round-3 ADVICE).
_DRIVER_VERIFIED = frozenset(
    {
        # r1/r2 greens
        "bias_slice_disparity", "pricing_summary", "value_counts",
        "group_size_median", "column_stats", "top_decile_mean",
        "pivot_mean", "conditional_agg_anomaly", "group_describe",
        "rollup_slices", "cube_slices", "approx_distinct_stats",
        "schema_snapshot", "unpivot_metrics", "grouping_sets_slices",
        "shipping_priority_topk", "regional_supplier_volume",
        "market_share_by_year", "asof_join_events", "range_join_binned",
        "dedup_keep_first", "dup_detection", "exact_hash_dedup",
        "ngram_jaccard_topk", "minhash_lsh_candidates",
        "neardup_components", "simhash_fingerprints",
        "fuzzy_prefix_pairs", "token_counts", "content_extract_4tier",
        "extraction_method_distribution", "part_copurchase_pagerank",
        "copurchase_pmi_topk", "anti_join_new_rows",
        "semi_join_existing", "broadcast_dim_lookup",
        "graph_1hop_expansion", "graph_2hop_frontier", "left_join_fill",
        "run_diff_full_outer", "multimodal_inventory",
        "media_decode_features", "video_frame_samples",
        "expectations_report", "union_all_entities",
        "distinct_union_ids", "except_ids", "intersect_ids",
        # r3 greens (CORRECTNESS_r03.json, 50/50 MATCH)
        "enrich_documents", "array_semi_filter", "chunk_exact_dedup",
        "copurchase_triangles", "except_all_rows",
        "intersect_distinct_rows", "topk_by_score",
        "sort_by_aggregate", "priority_sort", "sort_index_counts",
        "grouped_moments", "quantiles_by_group", "price_histogram",
        "bitmap_exact_distinct", "metric_trend_fit",
        "late_ship_priority_dist", "small_qty_part_revenue",
        "idle_rich_customers", "large_volume_orders",
        "min_cost_supplier_per_part", "sessionize_events",
        "funnel_conversion", "cohort_retention", "daily_gap_fill",
        "ewma_anomaly", "topk_per_group", "run_over_run_anomaly",
        "rank_ntile_analytics", "cumulative_by_group",
        "range_frame_agg", "customer_order_profile",
        "relative_rank_dist", "chunk_documents",
        "chunk_documents_udtf", "word_freq_topk",
        "explode_count_by_group", "lang_id_heuristic",
        "quality_score", "doc_fingerprint", "doc_repetition_topk",
        "tfidf_top_terms", "pii_redaction", "gopher_quality_flags",
        "cosine_topk", "embedding_neardup_pairs", "train_test_split",
        "benchmark_contamination", "class_balance_sample",
        "distribution_psi_drift", "stratified_sample",
        # r4 rows (CORRECTNESS_r04.json: 47 hash-MATCH + the 3
        # contractual rows-only iterative fits, all nonzero rows)
        "bloom_prefilter_dedup", "bm25_search",
        "boilerplate_phrase_stats", "clip_duplicate_spans",
        "corpus_datacard", "curation_pipeline_e2e",
        "decontaminate_corpus", "domain_mixture_sample",
        "dominant_part_suppliers", "dsir_importance_weights",
        "duplicate_span_merge", "embedding_sq_int8",
        "filter_attrition_funnel", "hybrid_rrf_search",
        "interleave_shards", "json_encode_roundtrip",
        "label_outlier_flags", "lang_confusion_matrix",
        "lm_perplexity_buckets", "mad_outlier_flags",
        "map_entry_stats", "minhash_lsh_portable",
        "mitigation_recommendations", "mixture_temperature_weights",
        "neardup_keep_best", "neardup_threshold_sweep",
        "ngram_novelty", "pack_sequences", "papers_pipeline_e2e",
        "scalar_array_ops", "scalar_importance_score",
        "scalar_json_extract", "scalar_text_clean",
        "seq_length_histogram", "session_window_agg",
        "simhash_hamming_pairs", "simhash_portable",
        "sliding_window_agg", "sole_failed_supplier_wait",
        "source_overlap_matrix", "spearman_signal_correlation",
        "token_budget_allocation", "token_entropy",
        "tumbling_window_agg", "variant_json_stats",
        "vocab_coverage", "zipf_alpha_fit",
        # (the r4 rows of kmeans_clusters, quality_classifier and
        # classifier_eval were rows-only; each has had an oracle since
        # its family's fits were unified, so its first hash row is
        # still to come)
        # r5 rows (CORRECTNESS_r05.json: 35 hash-MATCH + 13
        # contractual rows-only, all with sane row counts; the two
        # r5 err rows — embed_documents, embedding_pca_whiten — are
        # NOT here: rewritten r6, queued via _REVERIFY_FIRST)
        "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
        "ann_pq_topk", "ann_rp_lsh_portable", "audio_chunk_windows",
        "bpe_encode_stats", "bpe_merge_ranks",
        "chunk_documents_sentences", "chunk_embed_search_e2e",
        "cms_heavy_hitters", "copurchase_link_prediction",
        "disjunctive_discount_revenue", "embed_search_portable",
        "equidepth_histogram", "event_transition_matrix",
        "gopher_repetition_ratios", "hard_negative_mining",
        "interevent_gap_histogram", "join_key_skew_report",
        "kmeans_portable", "ks_drift_statistic",
        "last_touch_attribution", "linestatus_priority_split",
        "minhash_jaccard_estimate", "mmr_diversified_topk",
        "mrl_truncation_eval", "nation_trade_volume",
        "neardup_cluster_histogram", "ngram_containment_topk",
        "part_supplier_type_counts", "pca_power_portable",
        "product_type_profit", "promo_revenue_share",
        "returned_item_report", "seasonal_decompose_daily",
        "semantic_dedup", "sentence_chunk_embed_e2e",
        "sketch_rollup", "source_kl_divergence",
        "source_upsampling_plan", "theta_audience_overlap",
        "top_supplier_revenue", "winsorized_stats",
        "word_collocation_npmi",
        # r6 rows (CORRECTNESS_r06.json: 48 hash-MATCH + the 2
        # contractual rows-only embedding queries, both 500 rows —
        # the r5 err rows are fixed and green)
        "ab_lift_bootstrap", "ann_ivf_portable", "ann_pq_portable",
        "asof_forward_attribution", "bib_coupling_topk",
        "bottomk_sample_quantiles", "bpe_portable",
        "categorical_mutual_information",
        "conversion_latency_quantiles", "dp_noisy_counts",
        "embed_documents", "embedding_pca_whiten", "event_debounce",
        "event_pattern_detect", "hits_authorities",
        "hll_distinct_portable", "image_tile_grid",
        "incremental_stats_merge", "jl_distortion_audit",
        "join_size_estimate", "k_anonymity_audit", "kcore_peel_stats",
        "kfold_assignment_audit", "l_diversity_audit",
        "label_centroid_geometry", "late_arrival_audit",
        "logreg_adagrad_portable", "peak_concurrency_by_day",
        "readability_scores", "retrieval_ndcg_eval", "rfm_segments",
        "semantic_dedup_portable", "session_overlap_pairs",
        "shard_rebalance_report", "ship_latency_histogram",
        "source_divergence_panel", "supplier_h_index",
        "temporal_split_audit", "theta_overlap_portable",
        "tokenizer_fertility_by_lang", "top_session_paths",
        "trending_parts_decayed", "weighted_sample_es",
        "zorder_layout_stats",
        # r7 rows (CORRECTNESS_r07.json: 48 hash-MATCH + the 2
        # contractual rows-only entries, both nonzero rows; names
        # already present above were re-verifications)
        "ab_srm_audit", "assoc_rules_topk", "benford_digit_audit",
        "chi2_term_selection", "column_null_profile",
        "conformal_coverage_audit", "context_fit_curve",
        "dedup_source_flow", "degree_distribution_fit",
        "embedding_isotropy_audit", "hill_tail_index",
        "pack_sequences_bestfit", "page_hinkley_drift",
        "rank_biased_overlap", "revenue_lorenz_deciles",
        "survival_km_curve", "token_gini_by_source",
        "vocab_sizing_curve", "welch_ttest_slices",
        # r8 rows (CORRECTNESS_r08.json: 47 hash-MATCH + the 3
        # contractual rows-only entries, all nonzero rows; the 8
        # _REVERIFY_FIRST rewrites all came back green)
        "clustering_coefficient_topk", "cusum_drift_chart",
        "dp_user_activity_counts", "epoch_shuffle_plan",
        "filter_agreement_kappa", "forecast_backtest_mase",
        "functional_dependency_audit", "ivf_nprobe_recall",
        "mannwhitney_u_test", "minhash_band_tuning",
        "positional_template_score", "quantile_sketch_accuracy",
        "shuffle_quality_audit", "slo_burn_alerts",
        "theilsen_trend", "ttr_lexical_diversity",
        "typo_candidate_pairs", "wasserstein_drift",
        # r9 rows (CORRECTNESS_r09.json: 50/50 hash-MATCH — the
        # entire window went to never-verified oracled queries)
        "ab_power_analysis", "abc_xyz_classification", "acf_panel",
        "anonymization_ladder", "bh_fdr_slices",
        "blocking_quality_report", "calendar_heatmap_cells",
        "ccf_leadlag", "changepoint_binary_seg",
        "char_ngram_lang_profile", "community_modularity",
        "cuped_adjusted_ab", "decision_stump_portable",
        "diff_in_diff_revenue", "dp_median_release",
        "event_study_car", "extreme_value_gumbel",
        "fano_burstiness", "fellegi_sunter_em",
        "fellegi_sunter_weights", "filter_shapley_attribution",
        "freshness_audit", "gaussian_mixture_em",
        "grubbs_outlier_test", "heaps_law_fit", "hurst_exponent_rs",
        "ipw_treatment_effect", "kendall_tau_topk",
        "ljung_box_test", "logrank_test", "lpa_communities_topk",
        "mann_kendall_trend", "negbin_basket_fit",
        "price_elasticity_by_brand", "propensity_overlap_audit",
        "quantile_pinball_backtest", "rake_keyphrases",
        "score_calibration_ece", "sequential_ab_monitoring",
        "ses_forecast_eval", "session_markov_surprisal",
        "silhouette_portable", "simpson_reversal_audit",
        "sorted_neighborhood_pairs", "spc_xbar_chart",
        "stl_strength_panel", "stylometry_burrows_delta",
        "t_closeness_audit", "wilson_conversion_ci",
        "word_burstiness_topk",
        # r10 greens (CORRECTNESS_r10.json: 48 hash-MATCH + 2
        # contractual rows-only with nonzero rows) — the r9 aged
        # rewrites and r10 _REVERIFY_FIRST entries all came back
        # green there, so both queues drained into this set
        "content_extract_payload_parse", "curriculum_schedule_plan",
        "padding_waste_report", "quantile_norm_map",
        "selection_tradeoff_curve", "source_pareto_front",
    }
)

# Verified queries whose implementation changed materially THIS round
# — they jump the re-verification queue so the driver re-checks the
# rewrite, not a stale green row. AGE RULE (r6 verdict #3): an entry
# that has waited >= 2 rounds outranks everything, including
# never-verified new queries — it goes at the very front.
# Reverify entries that have ALREADY waited >= 2 rounds: they outrank
# even never-verified new queries (r6 verdict #3 — a 3-round-old
# rewrite of green code is a bigger evidence hole than a new query's
# first row).
_REVERIFY_AGED: tuple[str, ...] = (
    # The r12 Arrow-kernel rewrite family whose driver rows predate
    # the rewrite (r12 verdict item 2: the r12 window covered only
    # the 5 head entries + the p–s rotation block, so these are
    # driver-green on PRE-rewrite code only). Every name was locally
    # re-audited at sf0.01 AND sf0.1 after its rewrite (AUDIT_LOCAL.md
    # sweep); the driver row closes the external-verification gap.
    # Shingle/xxh64 kernel family + consumers:
    "ngram_jaccard_topk", "ngram_containment_topk", "ngram_novelty",
    "neardup_components", "neardup_cluster_histogram",
    "neardup_keep_best", "neardup_threshold_sweep",
    "blocking_quality_report", "benchmark_contamination",
    "decontaminate_corpus", "simhash_fingerprints",
    "minhash_lsh_candidates", "source_overlap_matrix",
    "dedup_source_flow",
    # chunkers + portable-minhash front half:
    "chunk_documents", "chunk_exact_dedup", "duplicate_span_merge",
    "clip_duplicate_spans", "minhash_lsh_portable",
    "minhash_jaccard_estimate", "minhash_band_tuning",
    # extraction / gopher / ann_pq / null-profile / trigram / bpe:
    "content_extract_4tier", "content_extract_payload_parse",
    "extraction_method_distribution", "gopher_repetition_ratios",
    "ann_pq_portable", "column_null_profile",
    "char_ngram_lang_profile", "bpe_encode_stats", "bpe_portable",
)

_REVERIFY_FIRST = (
    # The r13 rewrites with no driver row since (ROADMAP carry-over),
    # then the clustering family moved onto the one k-means fit,
    # assignment pass and Gram pass (each re-audited at
    # sf0.001/0.01/0.1 with tools/oracle_audit.py):
    "assoc_rules_topk", "copurchase_pmi_topk",
    "part_copurchase_pagerank", "lpa_communities_topk",
    "community_modularity",
    "quality_classifier",       # new oracle: the one 10-round fit
    "classifier_eval",          # its confusion table, same CTE chain
    "kmeans_clusters",          # new oracle: unrolled 6-round Lloyd
    "kmeans_portable",          # the shared fit + assignment pass
    "silhouette_portable",      # b = the assignment's runner-up d2
    "semantic_dedup",           # blocks on the shared assignment
    "embedding_pca_whiten",     # the shared Gram pass
    "pca_power_portable",       # the shared Gram pass
    # r13 wave 2 — the freshest rewrites go FIRST (r12 verdict item
    # 2: materially-rewritten queries head the window; all re-audited
    # at sf0.001/0.01/0.1 this round via tools/oracle_audit.py):
    "mmr_diversified_topk",     # r13w2: driver-side greedy over the
    # collected 8-row page/56-row sim table
    "categorical_mutual_information",  # r13w2: driver-side MI/H/NMI
    # off the collected category-domain joint grid
    "rake_keyphrases",          # r13w2: distinct-phrase multiplicity
    "readability_scores",       # r13w2: regexp_count identities
    # replace the per-word rlike HOF
    "array_semi_filter",        # r13w2: 100th-smallest-key prefilter
    # before the array-building group
    "boilerplate_phrase_stats",  # r13w2: vectorized positional gram
    # kernel (value-exact, tests/test_round13_ops.py)
    "scalar_text_clean",        # r13w2: spread + trailing-sort drop
    "copurchase_triangles",     # r13w2: distinct-basket multiplicity
    # edge build + pinned artifact parallelism (family shares it)
    "copurchase_link_prediction",  # r13w2: same edge artifact
    "kcore_peel_stats",         # r13w2: same edge artifact
    "clustering_coefficient_topk",  # r13w2: same edge artifact
    # r13 wave 1 (each re-audited locally at sf0.001, sf0.01 AND
    # sf0.1 this round — tools/oracle_audit.py MATCH; the driver row
    # makes the rewrite externally visible):
    "logreg_adagrad_portable",  # the one logistic-regression fit:
    # feature kernel + one mapInArrow partial pass per AdaGrad round
    "ab_lift_bootstrap",        # r13: replicate weights/partials in
    # one mapInArrow pass over md5 digest bytes
    "simhash_portable",         # r13: md5-SimHash Arrow kernel
    "simhash_hamming_pairs",    # r13: consumes the same kernel
    "gaussian_mixture_em",      # r13: EM rounds driver-side over the
    # collected calendar-bounded daily series
    "hits_authorities",         # r13: single-scan window form
    "heaps_law_fit",            # r13: nested-prefix min(doc_id)
    # rewrite removes the countDistinct Expand
    "min_cost_supplier_per_part",  # r13: window argmin
)


def _round_index() -> int:
    """Current round, inferred from the driver's own artifacts —
    deterministic, and advances exactly once per round."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))) + 1


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md SS2, ordered
    so the driver's prefix-window correctness check spends its slots
    where they buy the most evidence:

    1. reverify entries that have WAITED >= 2 rounds
       (_REVERIFY_AGED) — nothing may starve them again
       (r6 verdict #3),
    2. never-verified ORACLED queries (hash-MATCH is the strongest
       evidence, so they earn the slot next),
    3. queries rewritten this round (_REVERIFY_FIRST) — ahead of
       never-verified rows-only since a rewrite of green code is a
       bigger regression risk than a rows-only count (r5 verdict #3),
    4. never-verified rows-only queries,
    5. the remaining verified set, ROTATED by round index so each
       round re-checks a different slice and every green row is
       eventually refreshed (regression detection, round-3 ADVICE).

    Freshness cadence (r10 verdict #4 — current numbers): the driver
    window is ~50 slots/round. As of r12 the registry is FROZEN at
    330 queries (now 311 oracled + 19 contractual rows-only), all 330
    driver-verified at least once (r1-r11 union). r13 spends the
    window on closing the rewrite-verification gap (r12 verdict
    item 2): 31 r12-family entries whose green rows predate their
    rewrite (_REVERIFY_AGED) + 16 r13 rewrites (_REVERIFY_FIRST)
    fill ~47 slots; rotation resumes at full width next round.
    Net-new registry growth stays frozen unless a round both
    (a) ships a new operator family and (b) keeps head small enough
    that >= 30 rotation slots remain (the r10 verdict floor); the
    local full re-verification sweep (tools/refresh_audit_local.py,
    AUDIT_LOCAL.md: 308/308 MATCH at sf0.01 AND sf0.1) supplements
    the rotation every round regardless.
    """
    qs = get_queries()
    oracled = set(get_oracles())
    aged = [n for n in _REVERIFY_AGED if n in qs]
    unverified = [n for n in qs if n not in _DRIVER_VERIFIED]
    reverify = [n for n in _REVERIFY_FIRST if n in qs]
    head = set(aged) | set(reverify)
    rest = sorted(
        n for n in qs if n in _DRIVER_VERIFIED and n not in head
    )
    if rest:
        k = (_round_index() * 17) % len(rest)
        rest = rest[k:] + rest[:k]
    order = list(aged)
    order += [n for n in unverified if n in oracled and n not in head]
    order += reverify
    order += [n for n in unverified if n not in oracled and n not in head]
    order += rest
    return {n: qs[n] for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted for
    non-SQL-expressible ops -> rows-only check)."""
    return get_oracles()
