"""Library facade: the engine's DataFrame-level operator surface.

The query registry (``plans.registry``) binds every operator to the
benchmark lake for the driver contract; THIS module is the surface a
migrating user actually programs against — plain ``DataFrame ->
DataFrame`` (or driver-model) functions that compose with any data the
user already has, no lake layout required:

    from citeconnect_datapipeline_spark import api

    pairs  = api.dedup.jaccard_scored_pairs(my_docs)   # (doc_a, doc_b, jaccard)
    labels = api.graph.connected_components(
        pairs.filter("jaccard >= 0.8"), src="doc_a", dst="doc_b")
    merges = api.tokenizer.train_bpe_merges(my_docs)
    toks   = api.tokenizer.encode_word_vocab(my_docs, merges)
    train  = api.classifier.doc_features(my_docs, my_docs.source == "wiki").persist()
    fit    = api.classifier.logreg_fit(train, rounds=10)
    probs  = api.classifier.score_with_weights(train, fit.weights[-1])

Every function here is re-exported verbatim from its operator module
(one definition, one docstring, one test surface); this module only
groups them. Input contracts: document frames carry ``doc_id`` +
``text`` columns; embedding frames carry ``vec_id`` +
``embedding: array<float>``; everything else is stated per function.
``tests/test_api_facade.py`` drives the facade end-to-end on an
in-memory DataFrame (no lake) to pin that none of these functions
secretly depend on the benchmark layout.
"""

from __future__ import annotations

from types import SimpleNamespace

from .operators.asof import asof_join, asof_join_forward
from .operators.joins import interval_overlap_join
from .operators.classifier import (
    calibration_cells,
    doc_features,
    logreg_fit,
    score_with_weights,
)
from .operators.dedup import edit_neighbor_pairs, jaccard_scored_pairs, minhash_band_hashes
from .operators.graph import (
    connected_components,
    modularity_cells,
    lpa_communities,
    pagerank,
)
from .operators.extraction import extract_from_payloads
from .operators.extraction_parsers import (
    extract_content_tiers,
    extract_intro_from_pdf_text,
    fallback_abstract_tldr,
    parse_arxiv_intro_html,
    parse_grobid_intro_tei,
)
from .operators.multimodal import with_media_columns
from .operators.similarity import (
    HashProjectionModel,
    build_ivf_index,
    embed_with_model,
    embedding_isotropy,
    search_ivf_index,
    sq8_quantization_report,
)
from .operators.text import (
    bm25_rank,
    chi2_term_selection_frame,
    lexical_diversity_by,
    token_concentration_by,
)
from .operators.analytics import h_index_by
from .operators.quality import (
    benford_digit_cells,
    shapley_filter_cells,
    dp_median_exponential,
    dp_noisy_counts_release,
    dp_user_counts_release,
    fd_violations,
    k_anonymity_cells,
    l_diversity_cells,
    t_closeness_cells,
)
from .operators.statistics import (
    bh_fdr,
    did_cells,
    ipw_ate_cells,
    categorical_mi,
    grubbs_cells,
    hill_tail_profile,
    kendall_tau_b,
    mannwhitney_u,
)
from .operators.training import (
    decontaminate,
    es_weighted_sample,
    label_outliers,
)
from .operators.skew import (
    zorder_value,
    replicated_broadcast_join,
    salted_count_by_key,
    salted_sum_by_key,
)
from .operators.timeseries import (
    acf_series,
    logrank_stats,
    cusum_series,
    fano_by,
    lateness_profile,
    page_hinkley_series,
    sessionize,
)
from .operators.tokenizer import encode_word_vocab, train_bpe_merges
from .sources.jsonl import ingest_jsonl_to_zone, read_jsonl
from .sinks.models import (
    load_bpe_merges,
    load_classifier_weights,
    load_embedding_model,
    save_bpe_merges,
    save_classifier_weights,
    save_embedding_model,
)
from .sinks.report import alert_email, plot_chart, plot_slices
from .sinks.upsert import jdbc_upsert, merge_parquet, scd2_merge, upsert_parquet
from .sinks.zones import (
    compact_zone,
    read_run_asof,
    read_zone,
    vacuum_zone,
    write_json_artifact,
    write_zone,
)

dedup = SimpleNamespace(
    jaccard_scored_pairs=jaccard_scored_pairs,
    minhash_band_hashes=minhash_band_hashes,
    edit_neighbor_pairs=edit_neighbor_pairs,
)
graph = SimpleNamespace(
    connected_components=connected_components,
    modularity_cells=modularity_cells,
    pagerank=pagerank,
    h_index=h_index_by,
    lpa_communities=lpa_communities,
)
classifier = SimpleNamespace(
    doc_features=doc_features,
    logreg_fit=logreg_fit,
    score_with_weights=score_with_weights,
    calibration_cells=calibration_cells,
)
tokenizer = SimpleNamespace(
    train_bpe_merges=train_bpe_merges,
    encode_word_vocab=encode_word_vocab,
)
similarity = SimpleNamespace(
    embed_with_model=embed_with_model,
    HashProjectionModel=HashProjectionModel,
    save_embedding_model=save_embedding_model,
    load_embedding_model=load_embedding_model,
    embedding_isotropy=embedding_isotropy,
    build_ivf_index=build_ivf_index,
    search_ivf_index=search_ivf_index,
    sq8_quantization_report=sq8_quantization_report,
)
retrieval = SimpleNamespace(bm25_rank=bm25_rank)
curation = SimpleNamespace(
    decontaminate=decontaminate,
    shapley_filter_cells=shapley_filter_cells,
    chi2_term_selection=chi2_term_selection_frame,
    token_concentration_by=token_concentration_by,
    dp_noisy_counts_release=dp_noisy_counts_release,
    dp_user_counts_release=dp_user_counts_release,
    fd_violations=fd_violations,
    label_outliers=label_outliers,
    weighted_sample=es_weighted_sample,
    k_anonymity_cells=k_anonymity_cells,
    l_diversity_cells=l_diversity_cells,
    benford_digit_cells=benford_digit_cells,
    lexical_diversity_by=lexical_diversity_by,
    t_closeness_cells=t_closeness_cells,
    dp_median_exponential=dp_median_exponential,
)
multimodal = SimpleNamespace(with_media_columns=with_media_columns)
extraction = SimpleNamespace(
    extract_from_payloads=extract_from_payloads,
    extract_content_tiers=extract_content_tiers,
    parse_arxiv_intro_html=parse_arxiv_intro_html,
    parse_grobid_intro_tei=parse_grobid_intro_tei,
    extract_intro_from_pdf_text=extract_intro_from_pdf_text,
    fallback_abstract_tldr=fallback_abstract_tldr,
)
timeseries = SimpleNamespace(
    sessionize=sessionize,
    lateness_profile=lateness_profile,
    page_hinkley=page_hinkley_series,
    cusum=cusum_series,
    acf=acf_series,
    fano_by=fano_by,
    asof_join=asof_join,
    asof_join_forward=asof_join_forward,
    interval_overlap=interval_overlap_join,
)
causal = SimpleNamespace(
    ipw_ate_cells=ipw_ate_cells,
    did_cells=did_cells,
    logrank_stats=logrank_stats,
)
stats = SimpleNamespace(
    categorical_mi=categorical_mi,
    hill_tail_profile=hill_tail_profile,
    mannwhitney_u=mannwhitney_u,
    bh_fdr=bh_fdr,
    kendall_tau_b=kendall_tau_b,
    grubbs_cells=grubbs_cells,
)
skew = SimpleNamespace(
    zorder_value=zorder_value,
    salted_count_by_key=salted_count_by_key,
    salted_sum_by_key=salted_sum_by_key,
    replicated_broadcast_join=replicated_broadcast_join,
)
sources = SimpleNamespace(
    read_jsonl=read_jsonl,
    ingest_jsonl_to_zone=ingest_jsonl_to_zone,
)
models = SimpleNamespace(
    save_bpe_merges=save_bpe_merges,
    load_bpe_merges=load_bpe_merges,
    save_classifier_weights=save_classifier_weights,
    load_classifier_weights=load_classifier_weights,
    save_embedding_model=save_embedding_model,
    load_embedding_model=load_embedding_model,
)
sinks = SimpleNamespace(
    write_zone=write_zone,
    read_zone=read_zone,
    read_run_asof=read_run_asof,
    vacuum_zone=vacuum_zone,
    compact_zone=compact_zone,
    write_json_artifact=write_json_artifact,
    upsert_parquet=upsert_parquet,
    merge_parquet=merge_parquet,
    scd2_merge=scd2_merge,
    jdbc_upsert=jdbc_upsert,
    plot_slices=plot_slices,
    plot_chart=plot_chart,
    alert_email=alert_email,
)

__all__ = [
    "dedup",
    "graph",
    "classifier",
    "tokenizer",
    "similarity",
    "retrieval",
    "curation",
    "causal",
    "stats",
    "multimodal",
    "timeseries",
    "skew",
    "sources",
    "models",
    "sinks",
]
