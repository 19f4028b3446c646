"""Public query registry — the driver contract surface.

Every operator from SURVEY.md §2 is exposed as a named query
``(spark, sf_dir) -> DataFrame``; ``oracles.ORACLE_SQL`` holds the
equivalent DuckDB SQL keyed identically. Column names/types are aligned
pairwise (see SURVEY §3 typing rules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog import table
from .operators import (
    asof,
    dedup,
    merge,
    multimodal,
    retrieval,
    sessionize,
    similarity,
    textquality,
    theta,
)
from .plans import analytics, monitoring, star


def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.fact_events(table(spark, sf_dir, "events"))


def _star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.fact_events_star(_fact(spark, sf_dir))


def _sanity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.fact_star_row_counts(_fact(spark, sf_dir))


def _asof_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_last_view_before_purchase re-expressed through the generic
    asof_join operator — same oracle, proving the reusable API."""
    from pyspark.sql import functions as F

    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("view_us")
    )
    return asof.asof_join(
        purchases, views, on="ts", by="user_id", tie="event_id",
        value_cols=("view_us",), strict=True,
    ).select(
        "event_id", "user_id", "ts", F.col("asof_view_us").alias("last_view_us")
    )


def _q1_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL surface: register temp views and run the exact same
    ANSI SQL string the DuckDB oracle uses — one text, two engines."""
    from .catalog import register_views
    from .oracles import ORACLE_SQL

    register_views(spark, sf_dir)
    return spark.sql(ORACLE_SQL["q1_pricing_summary"])


# All registered queries, grouped by family. The DRIVER-FACING order is
# defined by _PRIORITY below (the driver's correctness gate checks the
# first 50 entries of QUERIES in insertion order); this dict is layout,
# not order.
_DEFS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # =========================================================
    # Priority block A — driver-unchecked in round 1 (30)
    # =========================================================
    "sessionize": lambda s, d: sessionize.sessionize(table(s, d, "events")),
    "session_paths_topk": lambda s, d: sessionize.session_paths_topk(
        table(s, d, "events")
    ),
    "session_window_agg": lambda s, d: sessionize.session_window_agg(
        table(s, d, "events")
    ),
    "asof_last_view_before_purchase": lambda s, d: asof.asof_last_view_before_purchase(
        table(s, d, "events")
    ),
    "asof_pandas_last_view": lambda s, d: asof.asof_last_view_pandas(
        table(s, d, "events")
    ),
    "scd2_user_band": lambda s, d: asof.scd2_user_band(table(s, d, "events")),
    "asof_generic_last_view": lambda s, d: _asof_generic(s, d),
    "dedup_exact": lambda s, d: dedup.exact_dedup_stats(table(s, d, "documents")),
    "docs_fingerprint": lambda s, d: textquality.fingerprints(table(s, d, "documents")),
    "docs_token_stats": lambda s, d: textquality.token_stats(table(s, d, "documents")),
    "docs_quality": lambda s, d: textquality.quality_scores(table(s, d, "documents")),
    "docs_langid": lambda s, d: textquality.langid(table(s, d, "documents")),
    "docs_pii_scrub": lambda s, d: textquality.pii_scrub(table(s, d, "documents")),
    "docs_repetition": lambda s, d: textquality.repetition_scores(
        table(s, d, "documents")
    ),
    "ngram_dup_pairs": lambda s, d: dedup.ngram_jaccard_pairs(table(s, d, "documents")),
    "minhash_lsh_dup_pairs": lambda s, d: dedup.minhash_lsh_dup_pairs(
        table(s, d, "documents")
    ),
    "dedup_components": lambda s, d: dedup.dedup_components(table(s, d, "documents")),
    "clean_documents": lambda s, d: dedup.clean_documents(table(s, d, "documents")),
    "sample_documents": lambda s, d: dedup.sample_documents(table(s, d, "documents")),
    "stratified_sample_by_lang": lambda s, d: dedup.stratified_sample_by_lang(
        table(s, d, "documents")
    ),
    "simhash_dup_pairs": lambda s, d: dedup.simhash_dup_pairs(table(s, d, "documents")),
    "embedding_neardup_pairs": lambda s, d: similarity.embedding_neardup_pairs(
        table(s, d, "embeddings")
    ),
    "ann_topk": lambda s, d: similarity.ann_brute_topk(table(s, d, "embeddings")),
    "ann_lsh_topk": lambda s, d: similarity.ann_lsh_topk(table(s, d, "embeddings")),
    "ann_gemm_topk": lambda s, d: similarity.ann_gemm_topk(table(s, d, "embeddings")),
    "ivf_ann_topk": lambda s, d: similarity.ivf_ann_topk(table(s, d, "embeddings")),
    "multimodal_meta": lambda s, d: multimodal.extract_meta(
        multimodal.attach_payload(table(s, d, "documents"))
    ),
    "multimodal_frames": lambda s, d: multimodal.frame_sample(
        multimodal.attach_payload(table(s, d, "documents"))
    ),
    "multimodal_audio_energy": lambda s, d: multimodal.audio_window_energy(
        multimodal.attach_payload(table(s, d, "documents"))
    ),
    "winnow_fingerprint": lambda s, d: textquality.winnow_fingerprints(
        table(s, d, "documents")
    ),
    "token_freq": lambda s, d: textquality.token_freq(table(s, d, "documents")),
    "token_typo_pairs": lambda s, d: textquality.token_typo_pairs(
        table(s, d, "documents")
    ),
    "tfidf_top_terms": lambda s, d: textquality.tfidf_top_terms(
        table(s, d, "documents")
    ),
    # =========================================================
    # Priority block B — new in round 2
    # =========================================================
    "q7_volume_shipping": lambda s, d: analytics.q7_volume_shipping(
        table(s, d, "lineitem"),
        table(s, d, "orders"),
        table(s, d, "customer"),
        table(s, d, "supplier"),
        table(s, d, "nation"),
    ),
    "q8_market_share": lambda s, d: analytics.q8_market_share(
        table(s, d, "lineitem"),
        table(s, d, "orders"),
        table(s, d, "customer"),
        table(s, d, "supplier"),
        table(s, d, "nation"),
        table(s, d, "region"),
        table(s, d, "part"),
    ),
    "q9_product_profit": lambda s, d: analytics.q9_product_profit(
        table(s, d, "lineitem"),
        table(s, d, "orders"),
        table(s, d, "supplier"),
        table(s, d, "nation"),
        table(s, d, "part"),
    ),
    "q11_important_parts": lambda s, d: analytics.q11_important_parts(
        table(s, d, "lineitem")
    ),
    "q13_customer_distribution": lambda s, d: analytics.q13_customer_distribution(
        table(s, d, "customer"), table(s, d, "orders")
    ),
    "q15_top_supplier": lambda s, d: analytics.q15_top_supplier(
        table(s, d, "lineitem"), table(s, d, "supplier")
    ),
    "q16_supplier_variety": lambda s, d: analytics.q16_supplier_variety(
        table(s, d, "lineitem"), table(s, d, "part")
    ),
    "q17_small_quantity_revenue": lambda s, d: analytics.q17_small_quantity_revenue(
        table(s, d, "lineitem"), table(s, d, "part")
    ),
    "q20_promotable_suppliers": lambda s, d: analytics.q20_promotable_suppliers(
        table(s, d, "lineitem"),
        table(s, d, "supplier"),
        table(s, d, "nation"),
        table(s, d, "part"),
    ),
    "q21_waiting_suppliers": lambda s, d: analytics.q21_waiting_suppliers(
        table(s, d, "lineitem"),
        table(s, d, "orders"),
        table(s, d, "supplier"),
        table(s, d, "nation"),
    ),
    "q22_global_sales_opportunity": lambda s, d: analytics.q22_global_sales_opportunity(
        table(s, d, "customer"), table(s, d, "orders")
    ),
    "orders_daily_cumulative": lambda s, d: analytics.orders_daily_cumulative(
        table(s, d, "orders")
    ),
    "user_retention_cohorts": lambda s, d: analytics.user_retention_cohorts(
        table(s, d, "events")
    ),
    "customer_rfm_segments": lambda s, d: analytics.customer_rfm_segments(
        table(s, d, "customer"), table(s, d, "orders")
    ),
    "event_type_transitions": lambda s, d: analytics.event_type_transitions(
        table(s, d, "events")
    ),
    "docs_contamination": lambda s, d: dedup.docs_contamination(
        table(s, d, "documents")
    ),
    "ngram_containment_pairs": lambda s, d: dedup.ngram_containment_pairs(
        table(s, d, "documents")
    ),
    "token_entropy": lambda s, d: textquality.token_entropy(table(s, d, "documents")),
    "chunk_documents": lambda s, d: textquality.chunk_documents(
        table(s, d, "documents")
    ),
    "knn_label_vote": lambda s, d: similarity.knn_label_vote(
        table(s, d, "embeddings")
    ),
    "ivf_flat_ann_topk": lambda s, d: similarity.ivf_flat_ann_topk(
        table(s, d, "embeddings")
    ),
    "embedding_neardup_lsh_pairs": lambda s, d: similarity.embedding_neardup_lsh_pairs(
        table(s, d, "embeddings")
    ),
    "kmv_distinct_users": lambda s, d: analytics.kmv_distinct_users(
        table(s, d, "events")
    ),
    "kmv_daily_merge_distinct_users": lambda s, d: (
        analytics.kmv_daily_merge_distinct_users(table(s, d, "events"))
    ),
    "kmv_view_purchase_overlap": lambda s, d: analytics.kmv_view_purchase_overlap(
        table(s, d, "events")
    ),
    "events_hourly_anomalies": lambda s, d: analytics.events_hourly_anomalies(
        table(s, d, "events")
    ),
    "sampled_value_percentiles": lambda s, d: analytics.sampled_value_percentiles(
        table(s, d, "events")
    ),
    "sampled_daily_merge_percentiles": lambda s, d: (
        analytics.sampled_daily_merge_percentiles(table(s, d, "events"))
    ),
    "lineitem_column_stats": lambda s, d: analytics.lineitem_column_stats(
        table(s, d, "lineitem")
    ),
    "orders_revenue_7d_ma": lambda s, d: analytics.orders_revenue_7d_ma(
        table(s, d, "orders")
    ),
    "weighted_sample_documents": lambda s, d: dedup.weighted_sample_documents(
        table(s, d, "documents")
    ),
    "split_assignments": lambda s, d: dedup.split_assignments(
        table(s, d, "documents")
    ),
    "pack_documents": lambda s, d: dedup.pack_documents(table(s, d, "documents")),
    # Composite pipeline steps (past the driver's 50-entry correctness
    # window — every constituent verdict above IS inside it; these are
    # additionally parity-checked at sf0.001 and sf0.01 locally).
    "docs_quality_filter": lambda s, d: textquality.quality_filter(
        table(s, d, "documents")
    ),
    "curated_documents": lambda s, d: dedup.curated_documents(
        table(s, d, "documents")
    ),
    # =========================================================
    # Priority block C — driver-green in round 1 (regression
    # coverage retained by tests/test_parity.py at sf0.001)
    # =========================================================
    # --- star-schema ETL (reference parity) ---
    "fact_events": _fact,
    "fact_events_incremental": lambda s, d: star.fact_events_incremental(
        table(s, d, "events")
    ),
    "dim_time": lambda s, d: star.dim_time(_fact(s, d)),
    "dim_user": lambda s, d: star.dim_user(_fact(s, d)),
    "dim_event_type": lambda s, d: star.dim_event_type(_fact(s, d)),
    "dim_band": lambda s, d: star.dim_band(_fact(s, d)),
    "dim_source": lambda s, d: star.dim_source(_fact(s, d)),
    "fact_events_star": _star,
    "sanity_row_counts": _sanity_counts,
    "sanity_missing_dims": lambda s, d: star.sanity_missing_dims(_fact(s, d)),
    "weekend_activity": lambda s, d: star.weekend_activity(_fact(s, d)),
    # --- monitoring views (reference parity) ---
    "mon_executions": lambda s, d: monitoring.executions(table(s, d, "events")),
    "mon_last_status": lambda s, d: monitoring.last_status(table(s, d, "events")),
    "mon_daily_summary": lambda s, d: monitoring.daily_summary(table(s, d, "events")),
    "mon_7d_summary": lambda s, d: monitoring.summary_7d(table(s, d, "events")),
    "mon_errors": lambda s, d: monitoring.errors(table(s, d, "events")),
    # --- warehouse analytics ---
    "q1_pricing_summary": lambda s, d: analytics.q1_pricing_summary(
        table(s, d, "lineitem")
    ),
    "q1_sql": _q1_sql,
    "q3_top_revenue_orders": lambda s, d: analytics.q3_top_revenue_orders(
        table(s, d, "customer"), table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "q5_revenue_by_nation": lambda s, d: analytics.q5_revenue_by_nation(
        table(s, d, "region"),
        table(s, d, "nation"),
        table(s, d, "customer"),
        table(s, d, "supplier"),
        table(s, d, "orders"),
        table(s, d, "lineitem"),
    ),
    "q4_order_priority": lambda s, d: analytics.q4_order_priority(
        table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "q10_returned_items": lambda s, d: analytics.q10_returned_item_revenue(
        table(s, d, "customer"),
        table(s, d, "orders"),
        table(s, d, "lineitem"),
        table(s, d, "nation"),
    ),
    "q12_priority_lines": lambda s, d: analytics.q12_priority_lines(
        table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "min_price_supplier": lambda s, d: analytics.min_price_supplier_per_part(
        table(s, d, "lineitem")
    ),
    "bloom_prejoin_revenue": lambda s, d: analytics.bloom_prejoin_revenue(
        table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "user_value_deltas": lambda s, d: analytics.user_value_deltas(
        table(s, d, "events")
    ),
    "hll_sketch_distinct_users": lambda s, d: analytics.hll_sketch_distinct_users(
        table(s, d, "events")
    ),
    "q6_forecast_revenue": lambda s, d: analytics.q6_forecast_revenue(
        table(s, d, "lineitem")
    ),
    "q14_promo_revenue": lambda s, d: analytics.q14_promo_revenue(
        table(s, d, "lineitem"), table(s, d, "part")
    ),
    "q19_disjunctive_revenue": lambda s, d: analytics.q19_disjunctive_revenue(
        table(s, d, "lineitem"), table(s, d, "part")
    ),
    "q18_large_orders": lambda s, d: analytics.q18_large_orders(
        table(s, d, "customer"), table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "customers_without_orders": lambda s, d: analytics.customers_without_orders(
        table(s, d, "customer"), table(s, d, "orders")
    ),
    "merge_upsert_events": lambda s, d: merge.merge_upsert_events(
        table(s, d, "events")
    ),
    "validate_events": lambda s, d: merge.validate_events(table(s, d, "events")),
    "events_snapshot_diff": lambda s, d: merge.events_snapshot_diff(
        table(s, d, "events")
    ),
    "top_customers_per_nation": lambda s, d: analytics.top_customers_per_nation(
        table(s, d, "customer"), table(s, d, "orders"), table(s, d, "nation")
    ),
    "events_hourly": lambda s, d: analytics.events_hourly(table(s, d, "events")),
    "events_seasonality": lambda s, d: analytics.events_seasonality(
        table(s, d, "events")
    ),
    "funnel_view_to_purchase": lambda s, d: analytics.funnel_view_to_purchase(
        table(s, d, "events")
    ),
    "events_json_k": lambda s, d: analytics.events_json_k(table(s, d, "events")),
    "events_sliding_2h": lambda s, d: analytics.events_sliding_2h(
        table(s, d, "events")
    ),
    "salted_event_type_counts": lambda s, d: analytics.salted_event_type_counts(
        table(s, d, "events")
    ),
    "events_rollup": lambda s, d: analytics.events_rollup(table(s, d, "events")),
    "events_cube": lambda s, d: analytics.events_cube(table(s, d, "events")),
    "events_pivot": lambda s, d: analytics.events_pivot(table(s, d, "events")),
    "events_unpivot": lambda s, d: analytics.events_unpivot(table(s, d, "events")),
    "distinct_users_by_type": lambda s, d: analytics.distinct_users_by_type(
        table(s, d, "events")
    ),
    "approx_distinct_users": lambda s, d: analytics.approx_distinct_users(
        table(s, d, "events")
    ),
    "value_percentiles": lambda s, d: analytics.value_percentiles(
        table(s, d, "events")
    ),
    "approx_value_percentiles": lambda s, d: analytics.approx_value_percentiles(
        table(s, d, "events")
    ),
    "value_range_join": lambda s, d: analytics.value_range_join(
        table(s, d, "events")
    ),
    "value_range_window": lambda s, d: analytics.value_range_window(
        table(s, d, "events")
    ),
    # --- round-3 additions ---
    "hist_value_percentiles": lambda s, d: analytics.hist_value_percentiles(
        table(s, d, "events")
    ),
    "hist_daily_merge_percentiles": lambda s, d: (
        analytics.hist_daily_merge_percentiles(table(s, d, "events"))
    ),
    "value_percentiles_2pass": lambda s, d: analytics.value_percentiles_2pass(
        table(s, d, "events")
    ),
    "fact_events_streamed": lambda s, d: _streaming_pipeline().fact_events_streamed(
        s, d
    ),
    "docs_source_stats": lambda s, d: textquality.source_stats(
        table(s, d, "documents")
    ),
    "kmv_view_not_purchase": lambda s, d: analytics.kmv_view_not_purchase(
        table(s, d, "events")
    ),
    "label_centroids": lambda s, d: similarity.label_centroids(
        table(s, d, "embeddings")
    ),
    "nearest_centroid_assign": lambda s, d: similarity.nearest_centroid_assign(
        table(s, d, "embeddings")
    ),
    "docs_rare_token_ratio": lambda s, d: textquality.rare_token_ratio(
        table(s, d, "documents")
    ),
    "token_bigram_rates": lambda s, d: textquality.token_bigram_rates(
        table(s, d, "documents")
    ),
    "events_hourly_gapfill": lambda s, d: analytics.events_hourly_gapfill(
        table(s, d, "events")
    ),
    "kmv_type_overlap_matrix": lambda s, d: analytics.kmv_type_overlap_matrix(
        table(s, d, "events")
    ),
    "sq8_ann_topk": lambda s, d: similarity.sq8_ann_topk(table(s, d, "embeddings")),
    "pq_ann_topk": lambda s, d: similarity.pq_ann_topk(table(s, d, "embeddings")),
    "events_debounce": lambda s, d: sessionize.events_debounce(table(s, d, "events")),
    "join_size_estimate": lambda s, d: analytics.join_size_estimate(
        table(s, d, "orders"), table(s, d, "lineitem")
    ),
    "docs_quality_model": lambda s, d: textquality.quality_model_scores(
        table(s, d, "documents")
    ),
    "docs_source_kl": lambda s, d: textquality.source_kl(table(s, d, "documents")),
    "dup_span_stats": lambda s, d: dedup.dup_span_stats(table(s, d, "documents")),
    "mixture_sample_documents": lambda s, d: dedup.mixture_sample_documents(
        table(s, d, "documents")
    ),
    "docs_perplexity": lambda s, d: textquality.docs_perplexity(
        table(s, d, "documents")
    ),
    "prefix_suffix_overlap_pairs": lambda s, d: dedup.prefix_suffix_overlap_pairs(
        table(s, d, "documents")
    ),
    "hard_negative_mining": lambda s, d: similarity.hard_negative_mining(
        table(s, d, "embeddings")
    ),
    "events_grouping_sets": lambda s, d: analytics.events_grouping_sets(
        table(s, d, "events")
    ),
    "token_zipf_fit": lambda s, d: textquality.token_zipf_fit(
        table(s, d, "documents")
    ),
    "clean_documents_keep_best": lambda s, d: dedup.clean_documents_keep_best(
        table(s, d, "documents")
    ),
    # Composites / exact-integer rollups past the 50-entry driver
    # window (the recall report's five constituent top-k frames are
    # each windowed individually; the histogram is pure integer
    # aggregation) — parity-checked at both local SFs like the
    # round-2 composite family.
    "ann_recall_report": lambda s, d: similarity.ann_recall_report(
        table(s, d, "embeddings")
    ),
    "docs_length_histogram": lambda s, d: textquality.docs_length_histogram(
        table(s, d, "documents")
    ),
    "docs_dedup_report": lambda s, d: dedup.docs_dedup_report(
        table(s, d, "documents")
    ),
    # New primitives that do not fit the full round-3 window — first
    # in line for the round-4 rotation; until then the identical
    # parity gate covers them at sf0.001 + sf0.01.
    "docs_bigram_perplexity": lambda s, d: textquality.docs_bigram_perplexity(
        table(s, d, "documents")
    ),
    "vocab_coverage": lambda s, d: textquality.vocab_coverage(
        table(s, d, "documents")
    ),
    "events_hourly_robust_anomalies": lambda s, d: (
        analytics.events_hourly_robust_anomalies(table(s, d, "events"))
    ),
    "part_copurchase_lift": lambda s, d: analytics.part_copurchase_lift(
        table(s, d, "lineitem")
    ),
    "events_cusum_changepoints": lambda s, d: analytics.events_cusum_changepoints(
        table(s, d, "events")
    ),
    "orders_revenue_concentration": lambda s, d: (
        analytics.orders_revenue_concentration(table(s, d, "orders"))
    ),
    "langid_confusion": lambda s, d: textquality.langid_confusion(
        table(s, d, "documents")
    ),
    "part_pagerank": lambda s, d: analytics.part_pagerank(table(s, d, "lineitem")),
    "part_triangles": lambda s, d: analytics.part_triangles(table(s, d, "lineitem")),
    "view_purchase_attribution": lambda s, d: analytics.view_purchase_attribution(
        table(s, d, "events")
    ),
    "cms_token_counts": lambda s, d: textquality.cms_token_counts(
        table(s, d, "documents")
    ),
    "theta_segment_users": lambda s, d: theta.theta_segment_users(
        table(s, d, "events")
    ),
    "theta_union_segment_users": lambda s, d: theta.theta_union_segment_users(
        table(s, d, "events")
    ),
    "theta_intersect_segment_users": lambda s, d: (
        theta.theta_intersect_segment_users(table(s, d, "events"))
    ),
    "theta_anotb_segment_users": lambda s, d: theta.theta_anotb_segment_users(
        table(s, d, "events")
    ),
    "theta_daily_merge_events": lambda s, d: theta.theta_daily_merge_events(
        table(s, d, "events")
    ),
    "pq_trained_ann_topk": lambda s, d: similarity.pq_trained_ann_topk(
        table(s, d, "embeddings")
    ),
    "ivf_flat_trained_ann_topk": lambda s, d: (
        similarity.ivf_flat_trained_ann_topk(table(s, d, "embeddings"))
    ),
    "ivfpq_trained_ann_topk": lambda s, d: (
        similarity.ivfpq_trained_ann_topk(table(s, d, "embeddings"))
    ),
    "ann_recall_report_trained": lambda s, d: (
        similarity.ann_recall_report_trained(table(s, d, "embeddings"))
    ),
    "docs_remove_dup_spans": lambda s, d: dedup.remove_dup_spans(
        table(s, d, "documents")
    ),
    "events_daily_rollup_incremental": lambda s, d: (
        analytics.events_daily_rollup_incremental(table(s, d, "events"))
    ),
    "bpe_merges": lambda s, d: textquality.bpe_merges(table(s, d, "documents")),
    "ivfpq_ann_topk": lambda s, d: similarity.ivfpq_ann_topk(
        table(s, d, "embeddings")
    ),
    "temperature_sample_documents": lambda s, d: (
        dedup.temperature_sample_documents(table(s, d, "documents"))
    ),
    "bq_ann_topk": lambda s, d: similarity.bq_ann_topk(table(s, d, "embeddings")),
    "semdedup_embeddings": lambda s, d: similarity.semdedup_embeddings(
        table(s, d, "embeddings")
    ),
    "dsir_importance_weights": lambda s, d: textquality.dsir_importance_weights(
        table(s, d, "documents")
    ),
    "dsir_sample_documents": lambda s, d: textquality.dsir_sample_documents(
        table(s, d, "documents")
    ),
    "docs_ccnet_buckets": lambda s, d: textquality.docs_ccnet_buckets(
        table(s, d, "documents")
    ),
    "dedup_segments": lambda s, d: dedup.dedup_segments(table(s, d, "documents")),
    "bpe_encode_documents": lambda s, d: textquality.bpe_encode(
        table(s, d, "documents")
    ),
    "bm25_topk": lambda s, d: retrieval.bm25_topk(table(s, d, "documents")),
    "bm25_dfcap_topk": lambda s, d: retrieval.bm25_topk(
        table(s, d, "documents"), df_cap=True
    ),
    "docs_contamination_bloom": lambda s, d: dedup.docs_contamination_bloom(
        table(s, d, "documents")
    ),
    "dedup_incremental": lambda s, d: dedup.dedup_incremental(
        table(s, d, "documents")
    ),
    "dup_source_matrix": lambda s, d: dedup.dup_source_matrix(
        table(s, d, "documents")
    ),
    "split_leakage_report": lambda s, d: dedup.split_leakage_report(
        table(s, d, "documents")
    ),
    "docs_ngram_novelty": lambda s, d: dedup.docs_ngram_novelty(
        table(s, d, "documents")
    ),
    "quality_signal_corr": lambda s, d: textquality.quality_signal_corr(
        table(s, d, "documents")
    ),
    "vocab_growth_fit": lambda s, d: textquality.vocab_growth_fit(
        table(s, d, "documents")
    ),
    "quality_auc_report": lambda s, d: textquality.quality_auc_report(
        table(s, d, "documents")
    ),
    "knn_graph_edges": lambda s, d: similarity.knn_graph_edges(
        table(s, d, "embeddings")
    ),
    "centroid_auc_report": lambda s, d: similarity.centroid_auc_report(
        table(s, d, "embeddings")
    ),
    "ivf_probe_sweep": lambda s, d: similarity.ivf_probe_sweep(
        table(s, d, "embeddings")
    ),
    "knn_graph_components": lambda s, d: similarity.knn_graph_components(
        table(s, d, "embeddings")
    ),
    "embedding_classifier_report": lambda s, d: (
        similarity.embedding_classifier_report(table(s, d, "embeddings"))
    ),
    "unimax_sample_documents": lambda s, d: dedup.unimax_sample_documents(
        table(s, d, "documents")
    ),
    "neardup_recall_report": lambda s, d: dedup.neardup_recall_report(
        table(s, d, "documents")
    ),
    # -- round 6 --
    "gopher_quality_rules": lambda s, d: textquality.gopher_quality_rules(
        table(s, d, "documents")
    ),
    "domain_mixture_weights": lambda s, d: textquality.domain_mixture_weights(
        table(s, d, "documents")
    ),
    "bm25_rerank_topk": lambda s, d: retrieval.bm25_rerank_topk(
        table(s, d, "documents"), table(s, d, "embeddings")
    ),
    "bm25_rerank_dfcap_topk": lambda s, d: retrieval.bm25_rerank_topk(
        table(s, d, "documents"), table(s, d, "embeddings"), df_cap=True
    ),
    "prototypicality_prune": lambda s, d: similarity.prototypicality_prune(
        table(s, d, "embeddings")
    ),
    "prototypicality_prune_bucketed": lambda s, d: (
        similarity.prototypicality_prune_bucketed(table(s, d, "embeddings"))
    ),
    "kcenter_diversity_sample": lambda s, d: similarity.kcenter_diversity_sample(
        table(s, d, "embeddings")
    ),
    "multimodal_phash_pairs": lambda s, d: multimodal.multimodal_phash_pairs(
        multimodal.attach_payload(table(s, d, "documents"))
    ),
    "unigram_lm_vocab": lambda s, d: textquality.unigram_lm_vocab(
        table(s, d, "documents")
    ),
    "unigram_encode_documents": lambda s, d: textquality.unigram_encode(
        table(s, d, "documents")
    ),
    "dataset_card_report": lambda s, d: textquality.dataset_card_report(
        table(s, d, "documents")
    ),
    # -- round 7 --
    "retrieval_quality_report": lambda s, d: retrieval.retrieval_quality_report(
        table(s, d, "documents"), table(s, d, "embeddings")
    ),
    "ann_index_incremental": lambda s, d: similarity.ann_index_incremental(
        table(s, d, "embeddings")
    ),
    "bm25_index_incremental": lambda s, d: retrieval.bm25_index_incremental(
        table(s, d, "documents")
    ),
    "ann_index_streamed": lambda s, d: _streaming_pipeline().ann_index_streamed(
        s, d
    ),
    "hybrid_rrf_topk": lambda s, d: retrieval.hybrid_rrf_topk(
        table(s, d, "documents"), table(s, d, "embeddings")
    ),
    "rm3_expansion_topk": lambda s, d: retrieval.rm3_expansion_topk(
        table(s, d, "documents")
    ),
    "events_drift_report": lambda s, d: analytics.events_drift_report(
        table(s, d, "events")
    ),
    "embedding_isotropy_report": lambda s, d: similarity.embedding_isotropy_report(
        table(s, d, "embeddings")
    ),
    "events_drift_streamed": lambda s, d: _streaming_pipeline().events_drift_streamed(
        s, d
    ),
    "events_sessions_streamed": lambda s, d: _streaming_pipeline().sessions_streamed(
        s, d
    ),
    "user_totals_streamed": lambda s, d: _streaming_pipeline().user_totals_streamed(
        s, d
    ),
    # -- round 8: bounded deployment twins + WAND + interval-join stream --
    "rm3_dfcap_expansion_topk": lambda s, d: retrieval.rm3_expansion_topk(
        table(s, d, "documents"), df_cap=True
    ),
    "hybrid_rrf_ivf_topk": lambda s, d: retrieval.hybrid_rrf_ivf_topk(
        table(s, d, "documents"), table(s, d, "embeddings")
    ),
    "bm25_wand_topk": lambda s, d: retrieval.bm25_wand_topk(
        table(s, d, "documents")
    ),
    "view_purchase_streamed": lambda s, d: _streaming_pipeline().view_purchase_streamed(
        s, d
    ),
    "views_without_purchase_streamed": lambda s, d: _streaming_pipeline().views_without_purchase_streamed(
        s, d
    ),
    "embedding_drift_report": lambda s, d: similarity.embedding_drift_report(
        table(s, d, "embeddings")
    ),
    "ann_index_balance_report": lambda s, d: similarity.ann_index_balance_report(
        table(s, d, "embeddings")
    ),
    "split_assignments_grouped": lambda s, d: dedup.split_assignments_grouped(
        table(s, d, "documents")
    ),
    "events_hourly_streamed": lambda s, d: _streaming_pipeline().events_hourly_streamed(
        s, d
    ),
    # -- round 9: fixed workload, chunk-level MaxP retrieval, retrain --
    "bm25_workload_topk": lambda s, d: retrieval.bm25_workload_topk(
        table(s, d, "documents")
    ),
    "bm25_chunk_maxp_topk": lambda s, d: retrieval.bm25_chunk_maxp_topk(
        table(s, d, "documents")
    ),
    "ann_index_retrain": lambda s, d: similarity.ann_index_retrain(
        table(s, d, "embeddings")
    ),
    "ivf_flat_workload_topk": lambda s, d: similarity.ivf_flat_workload_topk(
        table(s, d, "embeddings")
    ),
    "bm25_index_stats_report": lambda s, d: retrieval.bm25_index_stats_report(
        table(s, d, "documents")
    ),
    # -- round 9 batch 2: the second classical lexical ranker, doc-to-
    # doc similarity, filtered + two-stage vector search --
    "lm_dirichlet_topk": lambda s, d: retrieval.lm_dirichlet_topk(
        table(s, d, "documents")
    ),
    "tfidf_doc_similarity_topk": lambda s, d: retrieval.tfidf_doc_similarity_topk(
        table(s, d, "documents")
    ),
    "ann_filtered_topk": lambda s, d: similarity.ann_filtered_topk(
        table(s, d, "embeddings")
    ),
    "ann_filtered_ivf_topk": lambda s, d: similarity.ann_filtered_ivf_topk(
        table(s, d, "embeddings")
    ),
    "ann_twostage_truncated_topk": lambda s, d: similarity.ann_twostage_truncated_topk(
        table(s, d, "embeddings")
    ),
}


def _streaming_pipeline():
    from .streaming import pipeline

    return pipeline


# The driver's correctness gate checks the first 50 entries of QUERIES;
# they are the 50 keys with the oldest driver CORRECTNESS row, oldest-first
# then alphabetical, so tools/window_check.py's staleness gate holds.
_PRIORITY = [
    # -- last driver row r5 --
    "bpe_encode_documents",
    "bpe_merges",
    "bq_ann_topk",
    "centroid_auc_report",
    "clean_documents",
    "dedup_components",
    "dedup_incremental",
    "dedup_segments",
    "docs_ccnet_buckets",
    "docs_contamination_bloom",
    "docs_ngram_novelty",
    "docs_perplexity",
    "dsir_importance_weights",
    "dsir_sample_documents",
    "dup_source_matrix",
    "embedding_classifier_report",
    "event_type_transitions",
    "events_seasonality",
    "hard_negative_mining",
    "ivf_probe_sweep",
    "knn_graph_components",
    "knn_label_vote",
    "minhash_lsh_dup_pairs",
    "mixture_sample_documents",
    "multimodal_audio_energy",
    "neardup_recall_report",
    "pq_ann_topk",
    "pq_trained_ann_topk",
    "quality_auc_report",
    "quality_signal_corr",
    "scd2_user_band",
    "session_paths_topk",
    "simhash_dup_pairs",
    "split_leakage_report",
    "sq8_ann_topk",
    "unimax_sample_documents",
    "user_retention_cohorts",
    "value_range_join",
    "vocab_growth_fit",
    # -- last driver row r6 --
    "bloom_prejoin_revenue",
    "bm25_rerank_dfcap_topk",
    "bm25_rerank_topk",
    "customers_without_orders",
    "dataset_card_report",
    "dim_band",
    "dim_event_type",
    "dim_source",
    "dim_time",
    "dim_user",
    "domain_mixture_weights",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: _DEFS[k] for k in _PRIORITY
}
QUERIES.update({k: v for k, v in _DEFS.items() if k not in QUERIES})
