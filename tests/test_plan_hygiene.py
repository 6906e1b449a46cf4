"""Whole-surface plan hygiene: every registered query's physical plan
is built (never executed) and swept for join shapes that do not
survive scale. A BroadcastNestedLoopJoin is O(|left| * |right|) work
with a full broadcast of one side — fine when that side is a 1-row
scalar aggregate (count / threshold / query vector), catastrophic
anywhere else; a CartesianProduct is never acceptable. The allowlist
below names every query whose nested-loop join is a deliberate
1-row scalar join, so any NEW nested-loop/cartesian sneaking into any
query fails this test."""

from __future__ import annotations

import pytest

from __spark_entry__ import queries

SF_DIR = "/root/testdata/sf0.001"

# 1-row scalar cross-joins only (verified by inspection):
#   count triples, decile/threshold scalars, single query vectors,
#   small sketch-pair expansion.
NESTED_LOOP_OK = {
    "selection_tradeoff_curve",  # 1-row percentile-boundary + 1-row
    # token-total scalar broadcasts (the lorenz-decile shape)
    "community_modularity",  # 1-row edge-total m + 1-row global-Q
    # scalar broadcasts onto the community-grain cell table
    "ann_ivf_portable",  # 1-row query-vector broadcast (cosine_topk's
    # probe shape) over the probed-list sliver
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "bm25_search",  # corpus stats (N, avgdl): 1-row scalar broadcast
    "cusum_drift_chart",  # 1-row min-week + 1-row mu/sigma scalar
    # broadcasts onto the week-grain series
    "hybrid_rrf_search",  # inherits bm25's stats row + cosine's 1-row
    # query-vector broadcast
    "ab_lift_bootstrap",  # 1-row observed-means x 1-row CI broadcast
    "ab_power_analysis",  # 1-row moments broadcast x the 4-row
    # literal lift grid
    "sequential_ab_monitoring",  # 1-row look-count broadcast onto
    # the week-grain cumulative-moments table
    "session_markov_surprisal",  # 1-row vocabulary-size scalar
    # broadcast onto the bounded |types|^2 transition model
    "curriculum_schedule_plan",  # 1-row tercile-boundary broadcast +
    # the 3-row epoch-grid inequality join (both grids fixed)
    "dp_median_release",  # 101-row public candidate grid x the
    # bounded bucket histogram + 1-row total/max/Z broadcasts
    "acf_panel",  # 7-row lag grid x the day-grain series + a 1-row
    # mean/SS scalar broadcast (both sides calendar-bounded)
    "ljung_box_test",  # acf_panel's lag-grid x day-grain join +
    # 1-row mean/SS broadcast, folded to the 1-row portmanteau
    "ccf_leadlag",  # 13-row lag grid x hour-grain series + 1-row
    # peak-argmax broadcast (the acf_panel shape, two series)
    "logrank_test",  # 1-row window anchor onto the subjects build,
    # 2-row cohort table x day spine, 1-row terms x totals fold
    "gaussian_mixture_em",  # 1-row parameter frame x the day-grain
    # series per EM round (the fs_em O(model)-per-round contract)
    "mann_kendall_trend",  # theilsen's calendar-squared week-pair
    # join + 1-row S/n/tie scalar folds
    "cuped_adjusted_ab",  # 1-row theta/mean scalar broadcast onto
    # the customer-grain panel (the welch moments shape)
    "simpson_reversal_audit",  # 1-row overall-diff broadcast onto
    # the 25-row stratum panel
    "propensity_overlap_audit",  # 1-row Kish-ESS broadcast onto
    # the 25-row propensity panel
    "freshness_audit",  # 1-row newest-mark broadcast onto the
    # 3-row per-table mark union
    "ses_forecast_eval",  # 40-row kernel grid x the day-grain
    # series (the acf_panel lag-join shape)
    "quantile_pinball_backtest",  # 3-row quantile-level ladder x
    # the day-grain test half (the acf lag-grid shape)
    "event_study_car",  # 1-row baseline broadcast onto the 21-row
    # event window
    "heaps_law_fit",  # 1-row checkpoint-boundary broadcast onto
    # the token pass + 1-row fit onto the 4-row point ladder
    "char_ngram_lang_profile",  # lang-registry pair spine: the
    # norm-table inequality self-join (5 labels -> 10 pairs)
    "source_pareto_front",  # dominance self-join of the registry-
    # bounded (lang x source) cell table (~100 cells)
    "spc_xbar_chart",  # 1-row control-limit broadcast onto the
    # week-grain subgroup table (cusum_drift_chart's shape)
    "abc_xyz_classification",  # 1-row week-count / revenue-total /
    # bin-boundary broadcasts onto part-grain and bin-grain tables
    "calendar_heatmap_cells",  # month/dow margin rollups of the
    # fixed 12 x 7 grid + 1-row total onto the 84-cell table
    "word_burstiness_topk",  # 1-row doc-count scalar broadcast onto
    # the vocab-grain stats (tfidf_top_terms' corpus-size shape)
    "hurst_exponent_rs",  # 4-rung literal size ladder x the
    # day-grain series + 1-row H-fit broadcast onto 4 rows
    "bh_fdr_slices",  # 1-row global-moments + 1-row step-up-cut
    # scalar broadcasts onto the 25-row brand panel
    "fellegi_sunter_em",  # 16-row pattern table x 1-row M-step
    # frames: the whole EM runs on <= 2^4 rows
    "blocking_quality_report",  # 3-row captured panel + 1-row doc
    # count broadcast onto the 3-row scheme panel
    "kendall_tau_topk",  # inequality self-join of the 100-row
    # TakeOrdered revenue head (4,950 pairs at any corpus size)
    "score_calibration_ece",  # 1-row ECE scalar broadcast onto the
    # 10-row reliability-bin panel
    "padding_waste_report",  # 1-row global-max ceiling broadcast
    # onto the bounded (scheme, bucket) table
    "quantile_norm_map",  # 1-row pooled-decile broadcast onto the
    # source-grain decile table
    "stl_strength_panel",  # 1-row component-means broadcast onto
    # the day-grain component table
    "t_closeness_audit",  # qid x sensitive grid: 25 nations x 5
    # segments, both fixed domains
    "bottomk_sample_quantiles",  # 1-row exact-quantile scalar
    # broadcast joined to the 1-row sample estimate (audit columns)
    "categorical_mutual_information",  # 1-row corpus-total broadcasts
    # over joint/marginal tables bounded by the category domains
    "class_balance_sample",
    "copurchase_pmi_topk",  # PMI denominator: 1-row broadcast (was a
    # driver-side distinct-count barrier before round 3)
    "cosine_topk",
    "domain_mixture_sample",  # total-weight R and cap T: two 1-row
    # scalar broadcasts feeding the integer quota arithmetic
    "embed_search_portable",  # 1-row query-vector broadcast
    # (cosine_topk's probe shape) over the in-plane hash embedding
    "dsir_importance_weights",  # 75th-pct selection cutoff: 1-row
    # scalar broadcast (replaced the r4 global ntile)
    "graph_2hop_frontier",
    "hits_authorities",  # authority-total: 1-row scalar broadcast
    # folded over the top-10 limit
    "hard_negative_mining",  # anchor batch broadcast: bounded by the
    # mining contract (a training batch, never the corpus)
    "interleave_shards",  # domain-count n_src: 1-row scalar broadcast
    "ivf_nprobe_recall",  # K-row probe-rank table + 10-row truth
    # set range-joined to the 4-rung nprobe ladder (all K/topk/
    # ladder-bounded; the 1-row query-vector broadcast is
    # cosine_topk's probe shape)
    "join_key_skew_report",  # key-count stats: 1-row scalar broadcast
    "join_size_estimate",  # exact/sample/ndv 1-row stat broadcasts
    # over key-grain count tables
    "k_anonymity_audit",  # 1-row population-total scalar broadcast
    # over the qid-grain cell table
    "benford_digit_audit",  # 1-row grand-total scalar broadcast over
    # the 9-row digit-cell table
    "chi2_term_selection",  # 1-row corpus doc-count broadcast over
    # the (term, class)-grain contingency table
    "embedding_isotropy_audit",  # 1-row sum-of-dim-sums scalar
    # broadcast joined to the 1-row vec-grain totals
    "positional_template_score",  # position-grain (8 slots) totals
    # broadcast onto the (position, word) cell table
    "quantile_sketch_accuracy",  # 1-row exact+approx percentile
    # panel broadcast back over the scan for the rank check
    "rank_biased_overlap",  # <=20-row both-prefixes broadcast range-
    # joined to the 20-row depth grid (bounded by TREND_TOPK twice)
    "vocab_sizing_curve",  # 64-row TakeOrdered head broadcast range-
    # joined to the 7-row k ladder + 1-row total broadcast
    "hill_tail_index",  # 101-row TakeOrdered head broadcast range-
    # joined to the 3-row k ladder (threshold + log folds)
    "conformal_coverage_audit",  # 1-row q_hat percentile broadcast
    # over the scored scan (dsir threshold pattern)
    "welch_ttest_slices",  # 1-row global-moments broadcast over the
    # slice-grain (n, sum, sumsq) table
    "assoc_rules_topk",  # 1-row basket-count broadcast over the
    # capped pair table (support/lift denominators)
    "revenue_lorenz_deciles",  # 1-row percentile-boundary + 1-row
    # (total revenue, part count) broadcasts over the part-grain
    # table and the 10-row decile cells
    "context_fit_curve",  # 5-row ladder broadcast over the token
    # scan + 1-row corpus-totals broadcast
    "survival_km_curve",  # 1-row horizon anchor + 1-row cohort-size
    # broadcasts over the user-grain subjects table
    "kfold_assignment_audit",  # per-method leak-metric broadcast
    # (bounded by the method x fold grid)
    "ks_drift_statistic",  # cohort totals + bin count: two 1-row
    # scalar broadcasts over the bounded bin table
    "lm_perplexity_buckets",  # smoothing denominator V + tertile
    # cutoffs: 1-row scalar broadcasts (replaced the r4 global ntile)
    "shuffle_quality_audit",  # 1-row independence-expectation scalar
    # broadcast crossed with the 1-row observed-agreement scalar
    "source_divergence_panel",  # same bounded grid as the KL query
    "source_kl_divergence",  # 256-row corpus-bucket table + 1-row
    # total: bounded broadcasts building the source x bucket grid
    "mitigation_recommendations",
    "retrieval_ndcg_eval",  # bounded eval-query batch broadcast
    # (the hard_negative_mining contract)
    "rfm_segments",  # 1-row max-date + 1-row quartile-cutoff
    # broadcasts folded over customer rows (dsir threshold pattern)
    "mmr_diversified_topk",  # 1-row query-vector broadcast + the 8-row
    # candidate-page self-pairing — every non-equi side is page-bounded
    "mrl_truncation_eval",  # 1-row query-vector broadcast (cosine_topk's
    # probe shape) x the 4-value dim ladder
    "theilsen_trend",  # week x week slope pairs: both sides are the
    # CALENDAR-bounded weekly aggregate (344 rows at any corpus
    # size), plus 1-row median/OLS scalar broadcasts
    "theta_audience_overlap",
    "theta_overlap_portable",  # pair grid over the handful of event
    # types x the K-row-per-type KMV sketch — both sides sketch-
    # bounded (K=64/type at any corpus size), never corpus-grain
    "temporal_split_audit",  # 1-row percentile cutoff + 1-row
    # crossing-users broadcasts (dsir threshold pattern)
    "tfidf_top_terms",  # corpus-size 1-row broadcast (was a
    # driver-side docs.count() barrier before round 3)
    "top_decile_mean",
    "top_session_paths",  # 1-row session-total scalar broadcast
    "trending_parts_decayed",  # 1-row newest-order anchor broadcast
    # + the 20-row trend-head broadcast theta-joined against the
    # part-grain score table (distributed rank-by-count, r8)
    "wasserstein_drift",  # 1-row corpus-total + bin-grain corpus-CDF
    # broadcasts building the source x bin grid (the KL-query shape)
    "word_collocation_npmi",  # bigram-total N: 1-row scalar broadcast
    "zorder_layout_stats",  # 1-row per-dimension min/max bounds
    # broadcast feeding the bin arithmetic
}

# construction itself runs Spark jobs (iterative label propagation /
# index build / pipeline writes) — plan-shape is asserted by their own
# dedicated tests instead.
BUILD_EXECUTES = {
    "logrank_test",  # eager-pins the user-grain subjects table
    # (3-scan build x 4 consumers unpinned); O(users) rows, the
    # cohort-study materialization a deployment runs once
    "stylometry_burrows_delta",  # eager-pins the (source, word)
    # count table and the registry x 20-word z table so the pair
    # self-join never re-derives the corpus scan (16 unpinned scans)
    "ann_ivf_topk",
    "ann_ivfpq_topk",  # IVF centroid + PQ codebook sample fits
    "categorical_mutual_information",  # collects the bounded
    # |a| x |b| joint grids and derives MI/H/NMI driver-side (r13)
    "ann_pq_portable",  # collects the M*K*ds=256-double codebook once
    "bpe_merge_ranks",  # merge loop collects 1 argmax row per round
    "bpe_portable",  # same contract: 1 argmax row per unrolled round
    "embedding_pca_whiten",  # collects the shared Gram pass's
    # per-task (n, column sums, X'X) partials
    "fellegi_sunter_em",  # eager-checkpoints the 16-row agreement
    # pattern table the EM SQL re-references
    "kcore_peel_stats",  # eager-checkpoints the edge list per peel
    # round (the CC-loop contract)
    "kmeans_clusters",  # k-means fit collects k*d centroid partials
    "silhouette_portable",  # the same k-means fit as kmeans_portable
    # (k*d partial sums collected per Lloyd round)
    "kmeans_portable",  # k-means fit collects k*d partial sums per
    # Lloyd round
    # (logreg_fit, the one logistic-regression fit, also runs at
    # construction, but the plans it leaves behind -- a scored pinned
    # table, its confusion aggregate, a literal weight table -- pass
    # these checks, so quality_classifier, classifier_eval and
    # logreg_adagrad_portable carry no entry)
    "neardup_cluster_histogram",  # shares the CC loop
    "neardup_components",
    "neardup_keep_best",  # shares the CC loop
    "mmr_diversified_topk",  # pins the 8-row candidate page eagerly
    "neardup_threshold_sweep",  # shares the materialized pair table
    "ngram_containment_topk",  # same shared pair table
    "ngram_jaccard_topk",  # same shared pair table
    "part_copurchase_pagerank",
    "pca_power_portable",  # power iteration collects the 64-row
    # direction vector per round (O(d) model, k-means contract)
    "semantic_dedup",  # same k-means fit feeds the cluster blocking
}


# Queries whose plans contain a Window with NO partition spec —
# WindowExec moves ALL input rows to a single partition, so this is
# only acceptable above a BOUNDED input (a per-group aggregate, a
# top-k, a run-history table), never above per-document /
# per-lineitem grain. Each entry inspected; the bounded input is
# named. Round-4's two doc-grain global ntiles
# (lm_perplexity_buckets, dsir_importance_weights over per-DOC
# scores) were exactly the failure this guard exists to catch — both
# now use 1-row percentile-threshold broadcasts and must NOT appear
# here at doc grain.
UNPARTITIONED_WINDOW_OK = {
    "selection_tradeoff_curve",  # cumulative selection walk over
    # the fixed 10-row decile grid (lorenz-decile boundedness)
    "abc_xyz_classification",  # top-down revenue CDF over the
    # log-revenue bin table (bounded by the value range at 1/20-log
    # resolution, never part-grain)
    "hurst_exponent_rs",  # day-index row_number over the
    # calendar-bounded daily series (acf_panel's boundedness)
    "ses_forecast_eval",  # the same day-index row_number over the
    # calendar-bounded daily series
    "event_study_car",  # CAR prefix sum + rank over the fixed
    # 21-row event window
    "ann_ivf_portable",  # seed numbering over the 8-row md5-order
    # limit (bounded by K); the assignment argmin window is
    # partitioned by vec_id
    "ivf_nprobe_recall",  # the same 8-row seed numbering + the
    # query's K-row probe-rank numbering (both bounded by IVFP_K);
    # the assignment argmin window is partitioned by vec_id
    "bh_fdr_slices",  # p-value rank + family count over the 25-row
    # brand panel (fixed by the brand domain, never corpus-grain)
    "bias_slice_disparity",  # over per-slice aggregates
    "domain_mixture_sample",  # quota arithmetic over per-source rows
    "dsir_importance_weights",  # totals fold over the 256-row
    # bucket-count model table (bounded by construction)
    "ewma_anomaly",  # over the per-run history table
    "forecast_backtest_mase",  # two lag windows over the day-grain
    # series (365 rows/year; partition by metric id for a panel)
    "extraction_method_distribution",  # share-of-total over
    # per-method counts
    "group_size_median",  # median over per-mktsegment counts
    "hybrid_rrf_search",  # ranks over two top-k candidate sets
    "temporal_split_audit",  # share-of-total over the 3-row split
    # table (bounded by the split labels)
    "incremental_stats_merge",  # global-mean fold over the per-run
    # partials table (bounded by the number of ingest runs/years)
    "interleave_shards",  # over per-source counts
    "join_key_skew_report",  # rank over the top-k limited key slice
    "ks_drift_statistic",  # ECDF cumsums over the bounded bin table
    "mixture_temperature_weights",  # over per-source rows
    "range_frame_agg",  # 7-day range frame over per-DAY aggregates
    "run_over_run_anomaly",  # over the per-run history table
    "semantic_dedup_portable",  # seed numbering over the 8-row
    # md5-order limit (bounded by K), replicated by the self-join
    # legs; argmin/size windows are partitioned
    "seasonal_decompose_daily",  # 7-day moving average over the
    # per-DAY aggregate (365 rows/year at any corpus size)
    "stl_strength_panel",  # the same 7-day moving average over the
    # same per-DAY aggregate (seasonal_decompose_daily's lineage)
    "page_hinkley_drift",  # running mean/cumsum/min prefixes over
    # the per-DAY series (365 rows/year; multi-metric deployments
    # partition by metric id)
    "cusum_drift_chart",  # cumsum/running-min prefixes over the
    # week-grain series (52 rows/year; page_hinkley's boundedness)
    "sequential_ab_monitoring",  # look numbering + cumulative
    # moments over the week-grain series (cusum_drift_chart's
    # boundedness; partition by experiment id multi-experiment)
    "dp_median_release",  # inverse-CDF cumsum over the 101-row
    # public candidate grid (fixed by DPM_CELLS, never corpus-grain)
    "slo_burn_alerts",  # trailing range frames over the hour-grain
    # series (8760 rows/year; partition by service id multi-service)
    "vocab_sizing_curve",  # rank over the 64-row TakeOrdered head
    # (bounded by the k ladder, the hill_tail_index shape)
    "hill_tail_index",  # rank over the 101-row TakeOrdered head
    "revenue_lorenz_deciles",  # cumsums over the 10-row decile-cell
    # table only (bounded by the decile grid; the part-grain NTILE
    # was replaced by percentile-boundary broadcasts in r8)
    "survival_km_curve",  # risk-set and log-sum prefixes over the
    # DAY-grain event table (page_hinkley's boundedness; partition
    # by cohort in a multi-cohort deployment)
    "seq_length_histogram",  # cumulative share over histogram bins
    "trending_parts_decayed",  # trend rank over the 20-row
    # TakeOrdered head (bounded by TREND_TOPK, r8 rewrite)
    "rank_biased_overlap",  # ranks over two 20-row TakeOrdered
    # heads + a cumsum over the 20-row depth grid (all TREND_TOPK-
    # bounded, r8 rewrite)
    "ship_latency_histogram",  # share/cum-share over the week-grain
    # bucket table (bounded by the date span, never corpus-grain)
    "source_upsampling_plan",  # share-of-total over per-source rows
    "token_budget_allocation",  # quota arithmetic over per-source rows
}


# Iterative-recomputation guard (round-5 verdict #4): an unrolled
# iterative DataFrame loop that never pins its per-round model makes
# every downstream reference re-derive all prior rounds, so the SAME
# base relation appears again and again in the optimized plan —
# pca_power_portable hit 42 jobs / 67 s this way, and the unpinned
# kmeans_portable planned 25 scans of the embeddings relation. A
# fixed small self-join constant is fine (triangles enumerate a
# 3-way edge self-join); unbounded-in-iterations growth is not. The
# ceiling is 8 scans of any one relation; the allowlist names every
# inspected query above it with the bounded reason.
MAX_RELATION_SCANS = 8
RELATION_SCAN_OK = {
    "bloom_prefilter_dedup": 9,  # bloom build + probe + keep-first
    # passes over documents: a fixed pipeline constant, not per-round
    "copurchase_link_prediction": 9,  # common-neighbor scoring:
    # 3-way self-join of the co-purchase edge list (fixed unroll)
    "copurchase_triangles": 9,  # triangle enumeration = 3-way edge
    # self-join; edges derive from one lineitem scan each
    "semantic_dedup_portable": 12,  # the within-cluster pair stage
    # references the (assignment o vdim) lineage once per self-join
    # leg plus the final size rollup — a FIXED fan-out constant (no
    # per-iteration growth; there is no loop in this query)
}


def _max_relation_scan_count(df) -> int:
    """Max number of times any single base relation (keyed by its
    output column set) appears as a LogicalRelation leaf in the
    optimized plan. InMemoryRelation / LocalRelation leaves are
    excluded: cached or literal inputs re-read for free."""
    import json as _json
    from collections import Counter

    nodes = _json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    c: Counter = Counter()
    for n in nodes:
        if n.get("class", "").endswith(".LogicalRelation"):
            out = n.get("output") or []
            c[tuple(sorted(a[0]["name"] for a in out))] += 1
    return max(c.values(), default=0)


@pytest.mark.parametrize("name", sorted(queries()))
def test_no_iterative_recomputation(spark, name):
    df = queries()[name](spark, SF_DIR)
    n = _max_relation_scan_count(df)
    cap = RELATION_SCAN_OK.get(name, MAX_RELATION_SCANS)
    assert n <= cap, (
        f"{name} scans one base relation {n}x in its optimized plan"
        f" (cap {cap}) — at scale every redundant scan re-reads the"
        " full input. If this is an unrolled iterative loop, pin the"
        " per-round model (collect O(model) and re-inject as a"
        " literal, see kmeans_portable/pca_power_portable); if the"
        " fan-out is a fixed bounded self-join, add it to"
        " RELATION_SCAN_OK with the reason."
    )


def _unpartitioned_window_count(df) -> int:
    import json as _json

    nodes = _json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sum(
        1
        for n in nodes
        if n.get("class", "").endswith("logical.Window")
        and not n.get("partitionSpec")
    )


@pytest.mark.parametrize("name", sorted(set(queries()) - BUILD_EXECUTES))
def test_no_unpartitioned_window_outside_allowlist(spark, name):
    df = queries()[name](spark, SF_DIR)
    n = _unpartitioned_window_count(df)
    if name not in UNPARTITIONED_WINDOW_OK:
        assert n == 0, (
            f"{name} plans {n} Window(s) with no partition spec — a"
            " single-partition sort of its whole input at scale. Either"
            " rewrite as a threshold/broadcast (see"
            " lm_perplexity_buckets) or, if the input is provably"
            " bounded, add it to UNPARTITIONED_WINDOW_OK with the"
            " bounded input named."
        )


@pytest.mark.parametrize("name", sorted(set(queries()) - BUILD_EXECUTES))
def test_no_unexpected_nested_loop_or_cartesian(spark, name):
    df = queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join not on the scalar allowlist"
        )


# The near-dup family joins per-document tables (shingle-set sizes,
# doc prefixes): one row per document, i.e. billions of rows at
# 100 TB. A FORCED broadcast of such a table is a scale-killer hiding
# behind a hint (round-3 verdict, What's wrong #1/#2), so these plans
# must carry NO broadcast hint at all — size-aware AQE may still
# auto-broadcast at small SF, which is fine (it is size-based and
# goes away at scale), but a ResolvedHint in the analyzed plan would
# force it at any scale.
@pytest.mark.parametrize("name", ["fuzzy_prefix_pairs"])
def test_neardup_family_has_no_forced_broadcast(spark, name):
    df = queries()[name](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        f"{name} forces a broadcast of a per-document table"
    )


def test_neardup_components_pair_stage_has_no_forced_broadcast(spark):
    # neardup_components executes jobs on construction (iterative
    # label propagation), so assert on its pair-generation core
    # directly instead of the full query.
    from citeconnect_datapipeline_spark.operators.dedup import (
        jaccard_scored_pairs,
    )
    from citeconnect_datapipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    analyzed = (
        jaccard_scored_pairs(docs)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in analyzed


# ---------------------------------------------------------------
# Unbounded-broadcast guard (round-8 verdict #3). Round 7's one
# engineering finding — vocab_sizing_curve broadcasting its FULL
# vocab-grain ranked table when only the top-64 ranks were consumed
# — was invisible to every guard above: the broadcast was an
# explicit hint (so the nested-loop allowlist said nothing about
# its SIZE) and the window sat on the build side. This guard makes
# that class a commit-time failure: every ResolvedHint (forced
# broadcast) in a registered query's ANALYZED plan must be provably
# bounded — every path from the hint to a LogicalRelation leaf must
# pass through a scalar aggregate (empty grouping = 1 row), a
# limit, or terminate in a literal relation (LocalRelation / Range
# / OneRowRelation). Grouped aggregates are NOT automatically
# bounded (groupBy doc_id is corpus-grain), so queries whose
# broadcast is a grouped aggregate at a genuinely bounded grain
# carry an allowlist entry naming the domain that bounds it.
# ---------------------------------------------------------------

# Broadcast subtrees whose boundedness comes from a grouped
# aggregate at a bounded DOMAIN (inspected; the domain is named).
BROADCAST_GRAIN_OK = {
    "calendar_heatmap_cells",  # month (12) and ISO-dow (7) margin
    # tables: fixed calendar domains at any SF
    "decision_stump_portable",  # per-feature totals: 2 rows (the
    # fixed feature panel), built from value-grain cells
    "ipw_treatment_effect",  # brand-grain propensity model: 25
    # fixed p_brand labels at every TPC-H SF
    "propensity_overlap_audit",  # the same 25-row brand-grain
    # propensity model + 1-row ESS broadcast
    "char_ngram_lang_profile",  # lang-grain norm table: the lang
    # registry (5 labels here) at any SF
    "logrank_test",  # 2-row cohort-size table (the fixed group
    # domain) crossed with the day spine; 1-row anchor/totals
    "changepoint_binary_seg",  # priority-grain totals (n, S, Q):
    # 5 fixed o_orderpriority labels at every TPC-H SF
    "ab_srm_audit",  # method x arm aggregate: 2 methods x 2 arms
    "dp_median_release",  # bucket histogram: 100 fixed public
    # cells at any SF
    "grubbs_outlier_test",  # brand-grain moments + max-deviation
    # aggregates: 25 brands at any SF
    "stl_strength_panel",  # day-of-week seasonal means: 7 rows
    "t_closeness_audit",  # sensitive-domain marginal: |mktsegment|
    # = 5 rows at any SF
    "ann_ivf_portable",  # 1-row query-vector filter (unique vec_id)
    "ann_lsh_topk",  # query-side LSH bucket rows derived from the
    # 1-row probe filter
    "benchmark_contamination",  # benchmark-suite n-grams: bounded
    # by the eval-set contract, never the corpus
    "bloom_prefilter_dedup",  # <= BLOOM_BITS distinct bucket ids
    # per seed (pmod into a fixed bit space)
    "bm25_search",  # DF rows restricted to the probe's query terms
    # (isin filter: bounded by query length)
    "categorical_mutual_information",  # joint/marginal grids at
    # |lang| x |source| and |status| x |priority| — category domains
    "chi2_term_selection",  # source-domain class counts
    "class_balance_sample",  # lang x fixed-salt quota grid
    "cms_heavy_hitters",  # CMS depth x width cell grid (constants)
    "domain_mixture_sample",  # source-grain quota table (the source
    # catalog is a curated registry, never corpus-grain)
    "equidepth_histogram",  # o_orderpriority-grain cutoffs (5 fixed
    # priority labels at every TPC-H SF)
    "conformal_coverage_audit",  # qty-domain aggregate (TPC-H
    # l_quantity: 50 discrete values at any SF)
    "cosine_topk",  # 1-row query-vector filter (unique vec_id)
    "decontaminate_corpus",  # benchmark-suite n-grams (eval-set
    # bounded, same contract as benchmark_contamination)
    "embed_search_portable",  # 1-row query-doc filter
    "embedding_sq_int8",  # dim-grain (d=64) min/max table
    "hard_negative_mining",  # bounded anchor training batch
    "hybrid_rrf_search",  # query-term DF + 1-row query vector
    "interleave_shards",  # source-grain count table (source catalog)
    "ivf_nprobe_recall",  # K-row probe ranks (1-row query filter x
    # K lists), 10-row TakeOrdered truth set, K-row per-rank stats
    "kfold_assignment_audit",  # method-grain leakage audit (2 rows:
    # grouped vs record)
    "label_centroid_geometry",  # label x dim centroid grid
    "label_outlier_flags",  # label x dim centroid grid
    "minhash_band_tuning",  # per-scheme bucket/pair counts: grouped
    # aggregates at the 5-row banding-scheme grain
    "mrl_truncation_eval",  # 1-row query vector + its top-k
    # rank-filtered candidate page
    "range_join_binned",  # window table literal-bounded to 20 keys
    # (user_id < 20); unbounded callers use the bin-join form
    "retrieval_ndcg_eval",  # bounded eval-query batch
    "seasonal_decompose_daily",  # 7-row day-of-week seasonal means
    "positional_template_score",  # position-grain totals: 8 fixed
    # leading token slots at any corpus size
    "source_divergence_panel",  # source x 256-md5-bucket grid
    # (DSIR_N_BUCKETS is a constant; sources are a curated registry)
    "wasserstein_drift",  # bin-grain corpus histogram (doc length /
    # 25-char bins: bounded by the extraction length cap, never
    # corpus-grain) broadcast into the source x bin grid
    "source_kl_divergence",  # 256-bucket corpus distribution +
    # source-grain totals (same grids as the divergence panel)
    "source_upsampling_plan",  # source-grain repeat-factor plan
    "theta_audience_overlap",  # event-type-grain sketch rows
    "theta_overlap_portable",  # KMV sketches: rank-filter keeps
    # <= 64 rows per event type at any corpus size
}

_BOUNDING_CLASSES = (
    "logical.GlobalLimit",
    "logical.LocalLimit",
    "logical.LocalRelation",
    "logical.OneRowRelation",
    "logical.Range",
)

# FIXED-cardinality dimension tables: region has 5 rows and nation
# 25 at EVERY TPC-H scale factor (the spec pins them), so a scan of
# either is a bounded broadcast side by construction — unlike
# customer/supplier/part, which scale linearly with the lake and
# must never carry a forced hint.
_FIXED_DIM_COLS = {
    "n_nationkey", "n_name", "n_regionkey", "n_comment",
    "r_regionkey", "r_name", "r_comment",
}


def _build_tree(nodes):
    it = iter(nodes)

    def build():
        n = next(it)
        kids = [build() for _ in range(n.get("num-children", 0))]
        return n, kids

    root = build()
    return root


def _iter_nodes(tree):
    node, kids = tree
    yield tree
    for k in kids:
        yield from _iter_nodes(k)


def _cte_defs(tree) -> dict:
    """cteId -> definition subtree, from the plan's WithCTE node —
    lets the boundedness walk see THROUGH CTERelationRef leaves
    instead of treating them as opaque (r8 ADVICE #2)."""
    return {
        t[0].get("id"): t[1][0]
        for t in _iter_nodes(tree)
        if t[0].get("class", "").endswith("CTERelationDef") and t[1]
    }


def _subtree_bounded(tree, defs=None) -> bool:
    defs = defs or {}
    node, kids = tree
    cls = node.get("class", "")
    if any(cls.endswith(b) for b in _BOUNDING_CLASSES):
        return True
    if cls.endswith("logical.Aggregate") and not node.get(
        "groupingExpressions"
    ):
        return True  # scalar aggregate: exactly one row
    if cls.endswith(".LogicalRelation"):
        cols = {a[0]["name"] for a in (node.get("output") or [])}
        # a nation/region scan is fixed-cardinality at any SF
        return bool(cols) and cols <= _FIXED_DIM_COLS
    if cls.endswith("CTERelationRef"):
        d = defs.get(node.get("cteId"))
        return d is not None and _subtree_bounded(d, defs)
    if cls.endswith("logical.LogicalRDD"):
        # driver-materialized rows (createDataFrame-from-pandas):
        # bounded by construction — the data already fit on the
        # driver. No operator in this repo wraps a distributed RDD
        # in a LogicalRDD (RDD usage is banned in the hot path).
        return True
    if not kids:
        # an UNLISTED childless node is NOT bounded: a cached /
        # in-memory corpus-grain relation is also childless, and a
        # catch-all True would pass it as a 'literal leaf'
        # (r8 ADVICE #2). Known literal classes are handled above.
        return False
    return all(_subtree_bounded(k, defs) for k in kids)


def _has_bounded_grain_shape(tree) -> bool:
    """True if the hinted subtree contains a grouped aggregate or a
    Deduplicate — the only shapes BROADCAST_GRAIN_OK may excuse
    (each entry names the bounded grouping/distinct domain). A
    distinct is a grouped aggregate in disguise: output cardinality
    = the named key domain, not the corpus."""
    for t in _iter_nodes(tree):
        cls = t[0].get("class", "")
        if cls.endswith("logical.Aggregate") and t[0].get(
            "groupingExpressions"
        ):
            return True
        if cls.endswith("logical.Deduplicate"):
            return True
    return False


def _all_scans_literal_filtered(tree, defs=None) -> bool:
    """True if EVERY base-relation leaf under the hint sits below at
    least one Filter whose condition contains a literal — the
    'bounded eval batch' shape (query vectors `doc_id < 8`, a
    benchmark slice, a literal-keyed window table). The filter pins
    the broadcast side to a constant key range, so its size is
    SF-independent even though no limit/aggregate node appears."""
    defs = defs or {}

    def walk(t, under_lit_filter):
        node, kids = t
        cls = node.get("class", "")
        if cls.endswith("logical.Filter"):
            cond = str(node.get("condition", ""))
            if "Literal" in cond:
                under_lit_filter = True
        if cls.endswith("CTERelationRef"):
            d = defs.get(node.get("cteId"))
            return d is None or walk(d, under_lit_filter)
        if cls.endswith(".LogicalRelation"):
            cols = {a[0]["name"] for a in (node.get("output") or [])}
            if cols and cols <= _FIXED_DIM_COLS:
                return True
            return under_lit_filter
        return all(walk(k, under_lit_filter) for k in kids)

    return walk(tree, False)


# Queries whose forced-broadcast side is a LITERAL-FILTERED scan —
# no aggregate bounds it structurally, but the filter key range is a
# compile-time constant, so the broadcast is SF-independent. Each
# entry names the literal bound. Checked PER HINT: the hint must
# satisfy _all_scans_literal_filtered; other hints in the same query
# are still asserted in full.
BROADCAST_FILTER_OK = {
    "ann_ivf_portable",  # query batch: embeddings doc_id < N_QUERIES
    "ann_lsh_topk",  # same literal query batch
    "ann_rp_lsh_portable",  # CTE over the literal query batch
    "benchmark_contamination",  # benchmark slice: doc_id in a
    # literal id range; its ngram explode stays benchmark-grain
    "context_fit_curve",  # literal eval-pair frame
    "cosine_topk",  # single literal query vector
    "decontaminate_corpus",  # same benchmark slice as contamination
    "embed_search_portable",  # literal query text rows
    "hard_negative_mining",  # literal query batch
    "hybrid_rrf_search",  # literal query vector + term row
    "ivf_nprobe_recall",  # literal query batch (truth side is the
    # grouped-aggregate hint, excused via BROADCAST_GRAIN_OK)
    "mrl_truncation_eval",  # literal query batch at each dim rung
    "retrieval_ndcg_eval",  # bounded literal eval-query batch
}


def _hint_strategies(df) -> list:
    """Strategy string per ResolvedHint, in the same PRE-ORDER the
    JSON dump uses (toJSON serializes the tree pre-order with
    identical child order, so index k here is index k there). The
    JSON drops the `hints` payload, and only BROADCAST hints ship
    data — a shuffle_hash/merge hint merely picks a join algorithm
    and must not be asserted as a broadcast."""
    out = []

    def walk(jnode):
        if jnode.getClass().getSimpleName() == "ResolvedHint":
            out.append(jnode.hints().toString())
        for i in range(jnode.children().size()):
            walk(jnode.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


@pytest.mark.parametrize("name", sorted(set(queries()) - BUILD_EXECUTES))
def test_no_unbounded_forced_broadcast(spark, name):
    import json as _json

    df = queries()[name](spark, SF_DIR)
    nodes = _json.loads(df._jdf.queryExecution().analyzed().toJSON())
    tree = _build_tree(nodes)
    defs = _cte_defs(tree)
    strategies = _hint_strategies(df)
    all_hints = [
        t
        for t in _iter_nodes(tree)
        if t[0].get("class", "").endswith("logical.ResolvedHint")
    ]
    assert len(all_hints) == len(strategies)
    hints = [
        t
        for t, strat in zip(all_hints, strategies)
        if "broadcast" in strat.lower()
    ]
    # Allowlists are applied PER HINT, not per query (r8 ADVICE #2):
    # a BROADCAST_GRAIN_OK entry excuses only grouped-agg/distinct
    # subtrees, a BROADCAST_FILTER_OK entry only literal-filtered
    # scans; any other forced hint in the same query is asserted.
    for hint in hints:
        if _subtree_bounded(hint, defs):
            continue
        if name in BROADCAST_GRAIN_OK and _has_bounded_grain_shape(
            hint
        ):
            continue
        if name in BROADCAST_FILTER_OK and _all_scans_literal_filtered(
            hint, defs
        ):
            continue
        raise AssertionError(
            f"{name} force-broadcasts a subtree with an unbounded"
            " path to a base relation — no limit, scalar aggregate,"
            " or literal relation bounds it, so at scale the"
            " broadcast ships corpus-grain data to every executor."
            " Bound it (TakeOrdered head / percentile-threshold"
            " scalar, see vocab_sizing_curve r8) or, if a grouped"
            " aggregate / distinct at a bounded domain or a"
            " literal-filtered eval batch, add the query to"
            " BROADCAST_GRAIN_OK / BROADCAST_FILTER_OK naming the"
            " bound."
        )
