#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for flagship queries.

Run from the repo root: python tools/regen_plans.py
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PICKS = {
    "shipping_priority_topk": "Q3 shape: broadcast dims, pushdown, TakeOrdered",
    "bias_slice_disparity": "the reference's load-bearing slice query",
    "late_ship_priority_dist": "EXISTS decorrelated to left-semi",
    "small_qty_part_revenue": "correlated scalar decorrelated to agg+join",
    "sessionize_events": "one exchange feeds lag + running sum + session agg",
    # rendered from the pair-generation CORE (jaccard_scored_pairs);
    # the registered query scans the shared materialized pair table
    "ngram_jaccard_topk": "inverted-index pair generation (core stage)",
    "curation_pipeline_e2e": "composed pipeline, two hash exchanges",
    "cosine_topk": "similarity top-k as TakeOrdered",
    "lm_perplexity_buckets": "r5 rewrite: percentile-threshold 1-row "
    "broadcast replaces the global-ntile WindowExec",
    "class_balance_sample": "r5 rewrite: salted two-phase rank — the "
    "window partitions on (group, salt), never the group alone",
    "disjunctive_discount_revenue": "Q19 shape: the OR'd bundles stay "
    "one equi broadcast join; per-side implications pushed to both scans",
    "equidepth_histogram": "percentile-threshold broadcast as a "
    "first-class operator — per-group cutoffs, no global rank",
    "ann_ivf_portable": "r6: IVF probe = 2-row broadcast semi join "
    "(partition pruning) + exact re-rank of the probed sliver",
    "bib_coupling_topk": "r6: cohort-pruned inverted-index pair "
    "expansion — two exchanges, nested codegen explodes in between",
    "hits_authorities": "r6: two unrolled HITS rounds = edge-keyed "
    "joins + keyed aggregates, no windows, fixed relation fan-out",
    "theta_overlap_portable": "r6: KMV sketch set algebra — per-type "
    "top-K window, then K-row-bounded joins only",
    "logreg_adagrad_portable": "the one logistic-regression fit runs "
    "while the query is built (one mapInArrow pass per AdaGrad round); "
    "the returned plan only sorts the 20-row LocalTableScan of its "
    "weights",
    "event_pattern_detect": "r6b: one user-keyed exchange feeds "
    "session numbering AND the capped path fold; patterns are "
    "codegen rlike/regexp_count",
    "zorder_layout_stats": "r6b: 1-row bounds broadcast, codegen bit "
    "interleave, two layout-constant aggregates",
    "ab_lift_bootstrap": "r6b: 64x generate (no shuffle) into a "
    "128-row map-side-combinable replicate aggregate",
    "peak_concurrency_by_day": "r6b: sweep-line running sum "
    "partitioned by DAY — bounded partitions make it distributable",
    "embedding_isotropy_audit": "r7: exact average pairwise dot via "
    "the sum-of-sums identity — two linear aggregates, NO pair join "
    "anywhere in the plan",
    "chi2_term_selection": "r7: presence distinct is the only "
    "corpus-sized exchange; class sizes and the doc total ride "
    "broadcasts into the contingency arithmetic",
    "rank_biased_overlap": "r7: part-grain rank windows, then every "
    "operator bounded by the 20-row prefixes (broadcast range join "
    "against the depth grid)",
    "page_hinkley_drift": "r7: day-grain aggregate feeds three "
    "prefix windows — the sequential test is one partition-local "
    "scan at any corpus size",
    "vocab_sizing_curve": "r8 rewrite: TakeOrdered(64) head BEFORE "
    "the rank window — the broadcast side is k-bounded, the "
    "vocab-grain global sort is gone",
    "typo_candidate_pairs": "r8: SymSpell deletion-neighborhood "
    "EQUI-join on variants (never a cross join); explode_outer "
    "keeps the variant HOF above the vocab aggregate",
    "mannwhitney_u_test": "r8: rank-sum as value-grain arithmetic — "
    "one (metric, value) aggregate, windows only over the bounded "
    "value table",
    "ivf_nprobe_recall": "r8: one augmented assignment pass carries "
    "sizes AND truth hits; TakeOrdered(10) brute-force baseline",
    "shuffle_quality_audit": "r8: lag-1 as a consecutive-id "
    "equi-join — no global order window over the corpus",
    "kendall_tau_topk": "r9: quadratic statistic bounded by a "
    "TakeOrdered(100) head — the pair join is literal-bounded "
    "nested-loop over 4,950 pairs at any SF",
    "bh_fdr_slices": "r9: one fact-join aggregate + 1-row global "
    "broadcast; the BH rank window runs over the 25-row brand panel",
    "blocking_quality_report": "r9: pair space COUNTED via block-"
    "size aggregates (k(k-1)/2), never materialized; truth capture "
    "is doc-grain key joins on the capped pair table",
    "community_modularity": "r9b: vertex-grain SHUFFLE-HASH label "
    "joins (never broadcast of vertex state), community-grain "
    "cells, 1-row m/Q scalar broadcasts",
    "abc_xyz_classification": "r9b: cumulative-share ABC with NO "
    "part-grain global sort — log-revenue bins carry the top-down "
    "CDF; boundaries come back as a 1-row broadcast",
    "filter_shapley_attribution": "r9b: all 8 coalition pass-counts "
    "in ONE map-side aggregate of flag products; the Shapley table "
    "is 1-row arithmetic stacked",
    "ipw_treatment_effect": "r9b: brand-grain propensity broadcast "
    "+ one weighted-moment fold — causal inference as two "
    "aggregates",
    "changepoint_binary_seg": "r9b: the n-1 candidate splits all "
    "priced by ONE partitioned prefix-sum window via the "
    "cumulative-moment SSE identity; struct-max argmax",
    "heaps_law_fit": "r9b: four prefix vocabularies as conditional "
    "COUNT DISTINCTs in ONE aggregate (expand, one shuffle); "
    "checkpoints stacked from the 1-row cell frame",
}
KEEP = re.compile(
    r"Scan parquet|BatchScan|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoop|Exchange|TakeOrderedAndProject|HashAggregate"
    r"|Window|Generate|PushedFilters|WholeStageCodegen|SortAggregate"
    r"|LocalTableScan"
)


def main() -> None:
    from citeconnect_datapipeline_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark()
    sf = "/root/testdata/sf0.01"
    queries = entry.queries()
    out = [
        "# PLANS — physical-plan evidence for flagship queries",
        "",
        "Auto-extracted `df.explain`-level summaries at sf0.01 (regenerate with",
        "`python tools/regen_plans.py`). For each query: the scan,",
        "join, exchange, and top-k operators that carry the scale claims made in",
        "SCALE.md and the operator docstrings.",
        "",
    ]

    def clean(line: str) -> str:
        line = re.sub(r"#\d+L?", "", line.rstrip())
        return line if len(line) <= 140 else line[:137] + "..."

    for name, why in PICKS.items():
        if name == "ngram_jaccard_topk":
            # the registered query scans the shared materialized pair
            # table; the plan worth showing is the pair-generation core
            from citeconnect_datapipeline_spark.operators.dedup import (
                jaccard_scored_pairs,
            )
            from citeconnect_datapipeline_spark.sources.tables import (
                load_table,
            )

            df = jaccard_scored_pairs(load_table(spark, sf, "documents"))
        else:
            df = queries[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [clean(l) for l in plan.splitlines() if KEEP.search(l)][:18]
        out.append(f"## {name} — {why}\n")
        out.append("```")
        out.extend(lines)
        out.append("```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md regenerated ({len(PICKS)} queries)")


if __name__ == "__main__":
    main()
