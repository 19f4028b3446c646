"""The main correctness gate: every oracle-backed query hash-matches
its DuckDB oracle (mirrors the driver's CORRECTNESS check)."""

from __future__ import annotations

import pytest

from healthcare_oltp_to_olap_gcp_spark.oracles import ORACLE_SQL

from .conftest import SF001, SF01
from .helpers import assert_parity

ALL = sorted(ORACLE_SQL)

# Every query built on the shared KMV sketch (functions/sketch.py): the
# KMV family, the hash samples and the theta set algebra.
SKETCH_KEYS = [
    "kmv_distinct_users",
    "kmv_daily_merge_distinct_users",
    "kmv_view_purchase_overlap",
    "kmv_view_not_purchase",
    "kmv_type_overlap_matrix",
    "sampled_value_percentiles",
    "sampled_daily_merge_percentiles",
    "join_size_estimate",
    "theta_segment_users",
    "theta_union_segment_users",
    "theta_intersect_segment_users",
    "theta_anotb_segment_users",
    "theta_daily_merge_events",
]

# Every oracled query built on the ANN pipeline (operators/similarity
# ``_ann_topk``), the classifiers and miners composed over it, and the
# IVF balance rows the retrain report shares.
ANN_KEYS = [
    "ann_topk",
    "ann_lsh_topk",
    "ann_gemm_topk",
    "ivf_flat_ann_topk",
    "ivf_flat_workload_topk",
    "sq8_ann_topk",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "bq_ann_topk",
    "ann_filtered_topk",
    "ann_filtered_ivf_topk",
    "ann_twostage_truncated_topk",
    "ann_recall_report",
    "ivf_probe_sweep",
    "ann_index_retrain",
    "ann_index_balance_report",
    "knn_label_vote",
    "hard_negative_mining",
    "knn_graph_edges",
]

# Every lexical ranker and index report (operators/retrieval: one
# postings index, one probe, one result cut).
RETRIEVAL_KEYS = [
    "bm25_topk",
    "bm25_dfcap_topk",
    "bm25_workload_topk",
    "bm25_wand_topk",
    "bm25_chunk_maxp_topk",
    "bm25_rerank_topk",
    "bm25_rerank_dfcap_topk",
    "hybrid_rrf_topk",
    "hybrid_rrf_ivf_topk",
    "rm3_expansion_topk",
    "rm3_dfcap_expansion_topk",
    "lm_dirichlet_topk",
    "tfidf_doc_similarity_topk",
    "bm25_index_incremental",
    "bm25_index_stats_report",
    "retrieval_quality_report",
]

# Every oracled query of the near-dup pipeline (operators/dedup: one
# shingle table, one overlap count, one exact verify, one components
# loop), the reports composed over it and the samplers that share its
# rate-filter tail.
DEDUP_KEYS = [
    "dedup_exact",
    "ngram_dup_pairs",
    "minhash_lsh_dup_pairs",
    "ngram_containment_pairs",
    "simhash_dup_pairs",
    "dedup_components",
    "clean_documents",
    "clean_documents_keep_best",
    "split_assignments_grouped",
    "dedup_incremental",
    "dup_source_matrix",
    "split_leakage_report",
    "neardup_recall_report",
    "docs_dedup_report",
    "docs_contamination",
    "docs_contamination_bloom",
    "curated_documents",
    "dup_span_stats",
    "docs_remove_dup_spans",
    "docs_ngram_novelty",
    "knn_graph_components",
    "mixture_sample_documents",
    "temperature_sample_documents",
    "unimax_sample_documents",
    "prefix_suffix_overlap_pairs",
    "dedup_segments",
]

# The refresh cycle's monitoring views and sanity checks
# (plans/monitoring, plans/star).
REFRESH_KEYS = [
    "mon_executions",
    "mon_last_status",
    "mon_daily_summary",
    "mon_7d_summary",
    "mon_errors",
    "sanity_row_counts",
    "sanity_missing_dims",
]

# r10 (VERDICT r9 item 3): the driver's verify window is shorter than
# the full 226-query sweep, so the DEFAULT tier runs a representative
# SMOKE subset (one or more per operator family, plus every query an
# optimization round touched) and the complete sweep moves behind the
# ``fullsweep`` marker (`pytest -m fullsweep`, or `-m ""` for
# everything). The smoke set is parity-checked at sf0.001 exactly like
# the sweep — same assert, same oracle.
SMOKE_KEYS = [
    # TPC-H / star
    "q1_pricing_summary",
    "q21_waiting_suppliers",
    "fact_events_star",
    *REFRESH_KEYS,
    # windows / sessions / asof / CDC
    "sessionize",
    "asof_last_view_before_purchase",
    "scd2_user_band",
    # sketches
    *SKETCH_KEYS,
    # graph
    "part_triangles",
    "part_pagerank",
    # retrieval family
    *RETRIEVAL_KEYS,
    # ANN / similarity family
    "ann_topk",
    "ann_lsh_topk",
    "ivf_flat_ann_topk",
    "sq8_ann_topk",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "bq_ann_topk",
    "ann_recall_report",
    "ivf_probe_sweep",
    "ann_index_retrain",
    "ann_filtered_topk",
    "semdedup_embeddings",
    # dedup / curation family
    *DEDUP_KEYS,
    # text quality / tokenizers / samplers
    "docs_quality_filter",
    "docs_bigram_perplexity",
    "token_entropy",
    "chunk_documents",
    "weighted_sample_documents",
    # streaming drains + multimodal
    "fact_events_streamed",
    "view_purchase_streamed",
    "multimodal_frames",
]


@pytest.mark.parametrize("name", SMOKE_KEYS)
def test_parity_smoke(spark, name):
    assert_parity(spark, name, SF001)


@pytest.mark.parametrize("name", SKETCH_KEYS)
def test_sketch_parity_on_empty_tables(spark, empty_dir, name):
    """On empty tables the set-operation forms give one row of NULL
    estimates and the grouped forms no rows, as their oracles do."""
    assert_parity(spark, name, empty_dir)


@pytest.mark.parametrize("name", REFRESH_KEYS)
def test_refresh_parity_on_empty_tables(spark, empty_dir, name):
    """On empty tables the monitoring views have no rows and the sanity
    checks one row of zero counts, as their oracles do."""
    assert_parity(spark, name, empty_dir)


@pytest.mark.parametrize("name", ANN_KEYS)
def test_ann_parity_on_empty_tables(spark, empty_dir, name):
    """On empty tables the top-k lists and the balance report have no
    rows, and the recall and retrain reports one row per method or
    index state with zero counts, as their oracles do."""
    assert_parity(spark, name, empty_dir)


@pytest.mark.parametrize("name", DEDUP_KEYS)
def test_dedup_parity_on_empty_tables(spark, empty_dir, name):
    """On empty tables the pair lists, verdict tables, clusters and
    samples have no rows, and the recall and dedup reports one row per
    method or one row of zero counts, as their oracles do."""
    assert_parity(spark, name, empty_dir)


@pytest.mark.parametrize("name", RETRIEVAL_KEYS)
def test_retrieval_parity_on_empty_tables(spark, empty_dir, name):
    """On empty tables the ranked lists and the incremental vocabulary
    have no rows, the index stats report one row of zero counts and
    NULL ratios, and the quality report one row per method with zero
    queries and NULL metrics, as their oracles do."""
    assert_parity(spark, name, empty_dir)


@pytest.mark.fullsweep
@pytest.mark.parametrize("name", ALL)
def test_parity_sf001(spark, name):
    assert_parity(spark, name, SF001)


# The driver gate runs at sf0.01 — spot-check the queries whose
# semantics could diverge with more data (LSH recall, windows, topk).
SF01_KEYS = [
    "minhash_lsh_dup_pairs",
    "ngram_dup_pairs",
    "dedup_components",
    "ann_topk",
    "embedding_neardup_pairs",
    "sessionize",
    "dim_time",
    "mon_daily_summary",
    "q1_pricing_summary",
    "tfidf_top_terms",
    "token_typo_pairs",
    "multimodal_frames",
    "value_percentiles",
    "scd2_user_band",
    "asof_generic_last_view",
    "min_price_supplier",
    "user_value_deltas",
    "q18_large_orders",
    "docs_repetition",
    "fact_events_incremental",
    "events_snapshot_diff",
    # round-2 additions whose semantics could shift with more data
    "ann_lsh_topk",
    "ann_gemm_topk",
    "winnow_fingerprint",
    "simhash_dup_pairs",
    "ivf_flat_ann_topk",
    "embedding_neardup_lsh_pairs",
    "chunk_documents",
    "ngram_containment_pairs",
    "docs_contamination",
    "kmv_distinct_users",
    "kmv_daily_merge_distinct_users",
    "kmv_view_purchase_overlap",
    "events_hourly_anomalies",
    "sampled_value_percentiles",
    "sampled_daily_merge_percentiles",
    "customer_rfm_segments",
    "lineitem_column_stats",
    "knn_label_vote",
    "weighted_sample_documents",
    "split_assignments",
    "pack_documents",
    "q17_small_quantity_revenue",
    "q15_top_supplier",
    "q20_promotable_suppliers",
    "q21_waiting_suppliers",
    "orders_revenue_7d_ma",
    "docs_quality_filter",
    "curated_documents",
    # round-3 late additions (topk cuts / sketch estimates shift with data)
    "docs_quality_model",
    "docs_source_kl",
    "dup_span_stats",
    "mixture_sample_documents",
    "docs_perplexity",
    "prefix_suffix_overlap_pairs",
    "hard_negative_mining",
    "events_grouping_sets",
    "token_zipf_fit",
    "clean_documents_keep_best",
    "ann_recall_report",
    "docs_length_histogram",
    "docs_dedup_report",
    "docs_bigram_perplexity",
    "vocab_coverage",
    "events_hourly_robust_anomalies",
    "part_copurchase_lift",
    "events_cusum_changepoints",
    "orders_revenue_concentration",
    "langid_confusion",
    "sq8_ann_topk",
    "pq_ann_topk",
    "events_debounce",
    "join_size_estimate",
    "token_bigram_rates",
    "kmv_type_overlap_matrix",
    "events_hourly_gapfill",
    "docs_rare_token_ratio",
    # round-3 additions
    "hist_value_percentiles",
    "hist_daily_merge_percentiles",
    "value_percentiles_2pass",
    "fact_events_streamed",
    "docs_source_stats",
    "kmv_view_not_purchase",
    "label_centroids",
    "nearest_centroid_assign",
    # round-4 additions: the daily sketches saturate (>k events/day)
    # only at sf0.01+, so this exercises the capped-union theta path
    "theta_segment_users",
    "theta_union_segment_users",
    "theta_intersect_segment_users",
    "theta_anotb_segment_users",
    "theta_daily_merge_events",
    "docs_remove_dup_spans",
    "events_daily_rollup_incremental",
    "ivfpq_ann_topk",
    "temperature_sample_documents",
    # round-5 additions: semdedup's drop set and DSIR's resample cut
    # are data-dependent — check them at the driver's own SF too
    "semdedup_embeddings",
    "dsir_importance_weights",
    "dsir_sample_documents",
    "docs_ccnet_buckets",
    "dedup_segments",
    # late round-5 additions: LSH screens, top-k cuts, bin-AUC curves
    # and graph components are all data-dependent
    "bm25_topk",
    "bm25_dfcap_topk",
    "dedup_incremental",
    "dup_source_matrix",
    "split_leakage_report",
    "docs_ngram_novelty",
    "quality_signal_corr",
    "multimodal_audio_energy",
    "session_paths_topk",
    "vocab_growth_fit",
    "embedding_classifier_report",
    "events_seasonality",
    "quality_auc_report",
    "centroid_auc_report",
    "ivf_probe_sweep",
    "knn_graph_components",
    "knn_graph_edges",
    "unimax_sample_documents",
    "docs_contamination_bloom",
    "neardup_recall_report",
    # round-6 additions (the driver gate runs at sf0.01 — pre-verify
    # every new oracle-backed operator there, not just at sf0.001)
    "gopher_quality_rules",
    "domain_mixture_weights",
    "bm25_rerank_topk",
    "bm25_rerank_dfcap_topk",
    "prototypicality_prune",
    "prototypicality_prune_bucketed",
    "multimodal_phash_pairs",
    "dataset_card_report",
    # round-8 additions: pruning thresholds, capped-vocab expansion,
    # fused rank lists, streamed join drains, dup-component splits and
    # index balance are all data-dependent — keep them standing at the
    # driver's own SF (each was also pre-verified there in-session)
    "bm25_wand_topk",
    "rm3_dfcap_expansion_topk",
    "hybrid_rrf_ivf_topk",
    "view_purchase_streamed",
    "views_without_purchase_streamed",
    "embedding_drift_report",
    "ann_index_balance_report",
    "split_assignments_grouped",
    # ADVICE r8: events_hourly_streamed was registered in r8 but only
    # its two interval-join siblings entered this list — keep all three
    # streamed drains standing at the driver's own SF
    "events_hourly_streamed",
    # round-9 additions: the fixed-workload cut, chunk-level MaxP
    # ranking and the stale/retrained recall comparison are all
    # data-dependent — pre-verify at the driver's own SF
    "bm25_workload_topk",
    "bm25_chunk_maxp_topk",
    "ann_index_retrain",
    "ivf_flat_workload_topk",
    "bm25_index_stats_report",
    # round-9 batch 2: every entry is a top-k cut whose candidate sets
    # and tie-breaks shift with data — pre-verify at the driver's SF
    "lm_dirichlet_topk",
    "tfidf_doc_similarity_topk",
    "ann_filtered_topk",
    "ann_filtered_ivf_topk",
    "ann_twostage_truncated_topk",
]


@pytest.mark.sf01
@pytest.mark.parametrize("name", SF01_KEYS)
def test_parity_sf01(spark, name):
    assert_parity(spark, name, SF01)
