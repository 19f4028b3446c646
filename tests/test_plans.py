"""Physical-plan shape assertions: the properties that matter at 100 TB
(broadcast joins for dims, predicate pushdown into scans) must actually
appear in the executed plan, not just in docstrings."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.api import QUERIES
from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.functions.timewindow import epoch_micros
from healthcare_oltp_to_olap_gcp_spark.plans import monitoring

from .conftest import SF001
from .helpers import jobs_run, plan_nodes, plan_text


def _plan(spark, name: str) -> str:
    """The formatted executed plan of registry query ``name`` at sf0.001."""
    return plan_text(QUERIES[name](spark, SF001))


def test_star_never_shuffles_the_fact(spark):
    # the surrogate keys are derived, not joined: past the dedup
    # shuffle below the fact, the star adds no exchange and no join
    fact = _plan(spark, "fact_events")
    plan = _plan(spark, "fact_events_star")
    assert plan_nodes(plan, "Exchange") == plan_nodes(fact, "Exchange")
    assert "Join" not in plan


def test_sanity_row_counts_dedups_the_events_once(spark):
    # both counts are one aggregate over one deduplicated fact: one
    # events scan, one dedup window, and past the dedup shuffle only
    # the final count's exchange
    fact = _plan(spark, "fact_events")
    plan = _plan(spark, "sanity_row_counts")
    assert plan_nodes(plan, "Scan parquet") == 1
    assert plan_nodes(plan, "Window") == 1
    assert plan_nodes(plan, "Exchange") == plan_nodes(fact, "Exchange") + 1


def test_q5_broadcasts_dims(spark):
    plan = _plan(spark, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_q3_pushes_segment_filter_to_scan(spark):
    plan = _plan(spark, "q3_top_revenue_orders")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # inside PushedFilters


def test_q1_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # only the 7 needed lineitem columns are read, not all 11
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_bloom_prejoin_broadcasts_bucket_set(spark):
    """The bucket prefilter must reach the fact as a broadcast semi-join
    BEFORE the real join — that ordering is the entire point of the
    operator at 100 TB."""
    plan = _plan(spark, "bloom_prejoin_revenue")
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "Left keys [1]: [_bucket" in plan


def test_incremental_fact_single_final_window(spark):
    """base ∪ delta re-dedup: exactly two window (row_number) passes —
    one for the base fact, one for the merge — and no extra joins."""
    plan = _plan(spark, "fact_events_incremental")
    assert plan_nodes(plan, "RunningWindowFunction") + plan_nodes(plan, "Window") >= 2


def test_daily_rollup_incremental_pushes_cutoff_and_merges(spark):
    """The IVM refresh: (1) the cutoff predicates reach the scans
    (PushedFilters on ts — delta reads delta bytes only), (2) the merge
    equals the full recompute at EVERY cutoff, including mid-day ones
    where one day's rows straddle base and delta (the partial-state
    merge path the default-cutoff oracle run can't isolate)."""
    from pyspark.sql import functions as F

    from healthcare_oltp_to_olap_gcp_spark.catalog import table
    from healthcare_oltp_to_olap_gcp_spark.plans.analytics import (
        events_daily_rollup_incremental,
    )

    from .helpers import normalize

    plan = _plan(spark, "events_daily_rollup_incremental")
    assert "LessThan(ts," in plan and "GreaterThanOrEqual(ts," in plan
    assert plan.count("ReadSchema: struct<ts:") == 2  # 3-column pruned scans

    events = table(spark, SF001, "events")
    full = events.groupBy(
        F.to_date("ts").alias("event_date"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,8)")).cast("double").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    for cutoff in ("2024-01-10 12:30:00", "2024-01-24", "2023-01-01", "2030-01-01"):
        got = events_daily_rollup_incremental(events, cutoff)
        assert normalize(got.toPandas()) == normalize(full.toPandas()), cutoff


def test_q9_pushes_substring_filter_and_broadcasts(spark):
    """The part-name substring filter must reach the part scan and the
    filtered part dim must broadcast — the fact is pre-pruned by a
    broadcast join, never shuffled against an unfiltered dim."""
    plan = _plan(spark, "q9_product_profit")
    assert "StringContains(p_name,gear)" in plan
    assert "BroadcastHashJoin" in plan


def test_q7_broadcasts_both_nation_sides(spark):
    """Customer and supplier shrink to the 2-nation filter before any
    fact join; both must arrive broadcast."""
    plan = _plan(spark, "q7_volume_shipping")
    assert plan_nodes(plan, "BroadcastHashJoin") >= 2


def test_containment_join_is_hash_not_nested_loop(spark):
    """The inverted-index self-join must be a hash/merge join on the
    shingle key — a nested-loop plan would mean the posting-list
    equi-join degenerated to doc×doc pairs."""
    plan = _plan(spark, "ngram_containment_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_uses_take_ordered(spark):
    """orderBy().limit(n) must compile to TakeOrderedAndProject — a
    global Sort here would serialize the whole corpus at 100 TB."""
    plan = _plan(spark, "weighted_sample_documents")
    assert "TakeOrderedAndProject" in plan


def test_kmv_partial_aggregates(spark):
    """The sketch builds from a distinct over (type, hash) — partial
    (map-side) aggregation must appear so the shuffle carries combined
    hashes, not raw events."""
    plan = _plan(spark, "kmv_distinct_users")
    assert "partial" in plan.lower()


def test_q20_broadcasts_part_filter_and_threshold(spark):
    """Parts pre-filter and the per-part threshold are broadcast sides;
    lineitem must shuffle only for its own aggregation, never SMJ
    against a dim."""
    plan = _plan(spark, "q20_promotable_suppliers")
    assert plan_nodes(plan, "BroadcastHashJoin") >= 2


def test_q21_semi_anti_share_order_key(spark):
    """The EXISTS/NOT EXISTS pair must appear as semi + anti joins (no
    row-widening inner joins of the fact against itself), and the final
    top-k must compile to TakeOrderedAndProject — per-partition local
    top-k, never a single-reducer global sort over the per-supplier
    counts."""
    plan = _plan(spark, "q21_waiting_suppliers")
    low = plan.lower()
    assert "leftsemi" in low
    assert "leftanti" in low
    assert "TakeOrderedAndProject" in plan


def test_2pass_percentiles_all_broadcast_no_smj(spark):
    """value_percentiles_2pass: every join carries tiny bucket/target
    metadata and must broadcast — a SortMergeJoin would mean the refine
    subtree got joined as a shuffled side (the double-instantiation
    shape this operator was specifically structured to avoid); windows
    must all be partitioned (per-type cumulative / per-bucket rank)."""
    plan = _plan(spark, "value_percentiles_2pass")
    assert "SortMergeJoin" not in plan, plan
    assert plan_nodes(plan, "BroadcastHashJoin") >= 5
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.startswith("event_type"), frag[:80]


def test_hist_sketch_partial_agg_and_broadcast(spark):
    """Histogram sketch: bucket counts must combine map-side, and the
    per-type total joins back as a broadcast."""
    plan = _plan(spark, "hist_value_percentiles")
    assert "partial" in plan.lower()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rfm_has_no_global_sort_or_window(spark):
    """customer_rfm_segments must assign quartiles from broadcast value
    boundaries — the plan may contain NO Window and NO global Sort over
    the per-customer rollup (the former three unpartitioned ntile(4)
    passes were single-reducer sorts at 100 TB)."""
    plan = _plan(spark, "customer_rfm_segments")
    assert "Window" not in plan, plan
    assert "TakeOrdered" in plan or plan_nodes(plan, "Sort") == 0, plan


@pytest.mark.fullsweep
def test_neardup_lsh_broadcasts_candidates(spark):
    """Banded-LSH near-dup: the candidate id-pair set is broadcast into
    the verify joins; no cartesian anywhere."""
    plan = _plan(spark, "embedding_neardup_lsh_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_no_shuffle(spark):
    """Chunking is a pure map stage: no Exchange beyond the explicit
    repartition of the single-file test input."""
    plan = _plan(spark, "chunk_documents")
    assert plan_nodes(plan, "Exchange") <= 1  # only the input-spread repartition


def test_ivf_flat_broadcasts_centroids(spark):
    plan = _plan(spark, "ivf_flat_ann_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_monitoring_views_register_under_reference_names(spark):
    """The reference's dashboards query views by name
    (monitoring/*.sql); the registered temp views must answer
    spark.sql() with exactly the DataFrame-API results."""
    from healthcare_oltp_to_olap_gcp_spark.catalog import table
    from healthcare_oltp_to_olap_gcp_spark.plans import monitoring

    events = table(spark, SF001, "events")
    names = monitoring.register_monitoring_views(events)
    assert set(names) == {
        "scheduler_executions_results_vw",
        "scheduler_executions_last_status_vw",
        "scheduler_executions_daily_summary_vw",
        "scheduler_executions_7d_summary_vw",
        "scheduler_executions_errors_vw",
    }
    via_sql = spark.sql(
        "SELECT * FROM scheduler_executions_last_status_vw"
    ).collect()
    direct = monitoring.last_status(events).collect()
    assert sorted(map(tuple, via_sql)) == sorted(map(tuple, direct))
    n_err = spark.sql(
        "SELECT COUNT(*) AS n FROM scheduler_executions_errors_vw"
    ).collect()[0].n
    assert n_err == monitoring.errors(events).count()


def test_monitoring_window_bound_is_collected_once_per_frame(spark):
    """The five views over one frame share one max(ts) job, run when
    the first view is built; another frame gets its own."""
    events = table(spark, SF001, "events")
    one = jobs_run(spark, "mon_bound_one", lambda: monitoring.executions(events))
    assert one >= 1
    again = jobs_run(
        spark,
        "mon_bound_five",
        lambda: [build(events) for build in monitoring.VIEW_BUILDERS.values()],
    )
    assert again == 0
    other = table(spark, SF001, "events")
    assert jobs_run(spark, "mon_bound_other", lambda: monitoring.summary_7d(other)) == one


def test_monitoring_window_moves_with_a_new_frame(spark):
    """A frame with later rows gets a later window: the bound is never
    served from an earlier frame."""
    events = table(spark, SF001, "events")
    newest = events.agg(F.max("ts")).first()[0]
    older = events.filter(F.col("ts") < F.lit(newest - dt.timedelta(days=10)))
    for frame in (older, events):
        want = frame.filter(
            F.col("ts") >= F.lit(frame.agg(F.max("ts")).first()[0] - dt.timedelta(days=7))
        )
        got = monitoring.executions(frame).select("event_id")
        assert sorted(got.collect()) == sorted(want.select("event_id").collect())
    assert (
        monitoring.executions(events).agg(F.min("ts")).first()[0]
        > monitoring.executions(older).agg(F.max("ts")).first()[0]
    )


def test_monitoring_window_keeps_its_lower_edge(spark):
    """A row exactly 7 days before the newest is in the window; one
    microsecond earlier is not."""
    newest = epoch_micros(dt.datetime(2024, 1, 30, 13, 37))
    bound = newest - monitoring.WINDOW_MICROS
    rows = [(1, newest), (2, bound), (3, bound - 1)]
    frame = spark.createDataFrame(rows, "event_id long, us long").select(
        F.timestamp_micros("us").alias("ts"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit(7).cast("long").alias("user_id"),
        "event_id",
    )
    got = monitoring.executions(frame).collect()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_monitoring_views_of_an_empty_frame_are_empty(spark):
    empty = table(spark, SF001, "events").filter(F.col("event_id") < 0)
    for build in monitoring.VIEW_BUILDERS.values():
        assert build(empty).count() == 0


def test_monitoring_pushes_the_window_into_the_scan(spark):
    plan = _plan(spark, "mon_executions")
    assert "GreaterThanOrEqual(ts," in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


# BroadcastNestedLoopJoin is acceptable ONLY where it is a conscious
# choice: quadratic baselines (broadcast + inequality condition,
# docstring-marked BASELINE-ONLY) and one-row-scalar broadcast crosses
# (global totals / bounds / tiny centroid tables). A new query that
# plans a BNLJ must be reviewed and added here explicitly.
_BNLJ_ALLOWED = {
    # quadratic baselines
    "embedding_neardup_pairs",
    "ann_topk",
    "knn_label_vote",  # inherits ivf_flat's one-row centroid-array cross
    # reviewed: composes knn_label_vote (ivf_flat centroid cross) and
    # nearest_centroid_assign (one-row struct-array cross)
    "embedding_classifier_report",
    # one-row-scalar broadcast crosses
    "q11_important_parts",  # global value total
    "q22_global_sales_opportunity",  # global average balance
    "tfidf_top_terms",  # corpus doc count
    "events_seasonality",  # one-row event-total cross (tfidf shape)
    "ivf_flat_ann_topk",  # one-row centroid-struct-array cross (r7 per-row argmax)
    # reviewed: inherits ivf_flat's one-row centroid-array cross per
    # width + the recall report's one-row hit/total crosses
    "ivf_probe_sweep",
    "customer_rfm_segments",  # one-row max-date + quartile-bounds crosses
    "nearest_centroid_assign",  # one-row centroid-struct-array cross
    # reviewed: L-row normalized-prototype broadcast cross for the
    # one-vs-rest scoring scan — nearest_centroid_assign's shape kept
    # long (one row per (vector, label)) instead of argmax'd
    "centroid_auc_report",
    "events_hourly_gapfill",  # one-row hour-bounds cross onto the type list
    "kmv_type_overlap_matrix",  # T×T pair expansion over ≤T·k sketch rows
    "sq8_ann_topk",  # one-row quant-bounds cross + code scan vs broadcast queries
    # reviewed: two one-row codebook-struct-array crosses (corpus
    # encoding, query LUTs) + the ADC code scan of every corpus code
    # against the broadcast query LUTs on NOT (query_id = neighbor_id)
    # — sq8_ann_topk's code-scan shape with PQ codes
    "pq_ann_topk",
    "docs_source_kl",  # one-row grand-total cross
    "docs_perplexity",  # one-row grand-total cross
    "mixture_sample_documents",  # one-row min-count cross onto the rate table
    "hard_negative_mining",  # inherits ivf_flat's one-row centroid-array cross
    "ann_recall_report",  # one-row hit-count x one-row total per method
    "docs_dedup_report",  # four one-row stage-rollup crosses
    "vocab_coverage",  # one-row conditional-sum frame x one-row total
    "part_copurchase_lift",  # one-row order-total cross onto the pair counts
    "orders_revenue_concentration",  # one-row percentile-boundary cross
    "part_pagerank",  # one-row node-count cross per iteration
    "ivfpq_ann_topk",  # one-row centroid-array cross (inherits ivf_flat's shape)
    # reviewed: |Q|-row broadcast code scan (8-byte Hamming codes vs the
    # corpus code table) — the same intentional shape as sq8_ann_topk
    "bq_ann_topk",
    # reviewed: one-row min-source-count scalar cross onto the per-source
    # rate table — same shape as mixture_sample_documents
    "temperature_sample_documents",
    # reviewed: one-row centroid-struct-array cross for the per-row
    # argmax assignment — the same shape as ivf_flat_ann_topk (r7)
    "semdedup_embeddings",
    # reviewed: one-row (T_r, T_t) grand-totals cross onto the per-doc
    # weight frame — same shape as docs_perplexity's grand-total cross
    "dsir_importance_weights",
    "dsir_sample_documents",  # inherits the weights' one-row cross
    "docs_ccnet_buckets",  # one-row percentile-boundary cross (the
    # orders_revenue_concentration shape)
    # reviewed: one-row (n_docs, total_tokens) corpus-stats cross onto
    # the probe's broadcast query side — tfidf_top_terms' count-cross
    # shape on |query terms| rows
    "bm25_topk",
    "bm25_dfcap_topk",  # + the one-row θ (median df) cross onto the vocabulary

    # reviewed: one-row centroid-struct-array cross for the per-row
    # cell/probe sorted-slice — the same shape as ivf_flat_ann_topk (r7)
    "knn_graph_edges",
    # reviewed: |langs|-row × one-row water-filling crosses (totals,
    # saturation scalars) — same shape as mixture_sample_documents
    "unimax_sample_documents",
    # reviewed: per-method one-row count × one-row total crosses — the
    # ann_recall_report dashboard shape on the dedup family
    "neardup_recall_report",
    # theta daily merge: one-row n_days cross onto the one-row estimate
    "theta_daily_merge_events",
    # r6 reviewed: one-row token-total and weight-normalizer crosses
    # over the |sources|-row frame (mixture_sample_documents shape)
    "domain_mixture_weights",
    # r6 reviewed: inherits bm25_topk's one-row corpus-stats cross;
    # the candidate and query-vector joins are proper broadcast-hash
    "bm25_rerank_topk",
    "bm25_rerank_dfcap_topk",  # + the dfcap twin's θ cross
    # r7 reviewed: inherits its constituents' one-row stats/θ crosses
    # (bm25 family); every metric join runs on |Q|·k rows
    "retrieval_quality_report",
    # r7 reviewed: one-row centroid-struct-array cross for the per-row
    # argmax assignment — nearest_centroid_assign's shape
    "ann_index_incremental",
    # r7 reviewed: inherits bm25_topk's one-row corpus-stats cross;
    # the fusion itself is a proper full-outer hash join of two
    # |Q|·m ranked lists
    "hybrid_rrf_topk",
    # r7 reviewed: inherits bm25's one-row corpus-stats cross in BOTH
    # passes; the feedback/expansion joins are broadcast-hash on tiny
    # |Q|·fb_m / |Q|·e frames
    "rm3_expansion_topk",
    # r7 reviewed: one-row time-midpoint scalar cross onto the event
    # stream (the mon_* max-ts window-bound shape)
    "events_drift_report",
    # r8 reviewed: inherits bm25_topk's one-row corpus-stats cross; the
    # threshold/seed/essential-term joins are broadcast-hash on tiny
    # |Q|-row / (query, term) frames
    "bm25_wand_topk",
    # r8 reviewed: inherits rm3's one-row stats cross + the dfcap twin's
    # θ cross (bm25_dfcap_topk's shape)
    "rm3_dfcap_expansion_topk",
    # r8 reviewed: inherits bm25_dfcap's stats/θ crosses + the
    # IVF-Flat one-row centroid-struct-array cross
    "hybrid_rrf_ivf_topk",
    # r8 reviewed: two one-row split-stats crosses onto the one-row
    # geometry aggregate — the isotropy-report shape
    "embedding_drift_report",
    # r8 reviewed: one-row centroid-struct-array cross for the per-row
    # argmax assignment — ivf_flat_ann_topk's shape
    "ann_index_balance_report",
    # r7 reviewed: one-row (n, norm_sum) corpus-stats cross onto the
    # d-row per-dimension frame — tfidf's count-cross shape
    "embedding_isotropy_report",
    # r9 reviewed: inherits bm25_topk's one-row corpus-stats cross; the
    # workload restriction is a broadcast semi-join on a 20-row frame
    "bm25_workload_topk",
    # r9 reviewed: one-row chunk-corpus-stats cross onto the probe's
    # query side — bm25_topk's stats-cross shape at chunk grain
    "bm25_chunk_maxp_topk",
    # r9 reviewed: per-state one-row centroid-struct-array crosses
    # (ivf_flat's shape), one-row drawn-centroid-count cross in the
    # balance row, and one-row hit × total crosses (the recall-report
    # dashboard shape)
    "ann_index_retrain",
    # r9 reviewed: inherits ivf_flat_ann_topk's one-row centroid-array
    # cross; the workload cut is a 20-row TakeOrdered query frame
    "ivf_flat_workload_topk",
    # r9 reviewed: the one-row θ cross onto the vocabulary (the capped
    # postings sum) and the one-row vocabulary-shape and capped-sum
    # crosses onto the one-row corpus-stats frame — the dashboard shape
    # (everything after the postings build is vocab-sized)
    "bm25_index_stats_report",
    # r9 batch-2 reviewed: inherits bm25_topk's one-row corpus-stats
    # cross onto the query side (the cf-smoothing denominator needs
    # total_tokens); the probe is a broadcast hash join
    "lm_dirichlet_topk",
    # r9 batch-2 reviewed: one-row n_docs corpus-stats cross onto the
    # weighted postings — tfidf_top_terms' count-cross shape; the
    # sparse dot is a broadcast hash join on term
    "tfidf_doc_similarity_topk",
    # r9 batch-2 reviewed: the EXACT filtered truth — ann_topk's
    # labeled brute broadcast-inequality scan over the predicate-kept
    # half of the corpus (the baseline the IVF twin is measured
    # against; the scan is the definition, not an accident)
    "ann_filtered_topk",
    # r9 batch-2 reviewed: inherits ivf_flat_ann_topk's one-row
    # centroid-struct-array cross; the filter is a broadcast semi-join
    # of id keys into the inverted-list probe
    "ann_filtered_ivf_topk",
    # r9 batch-2 reviewed: stage 1 is the half-width brute scan
    # (broadcast-inequality by definition — the funnel's coarse pass);
    # stage 2 re-joins m·|Q| candidate ids as proper hash joins
    "ann_twostage_truncated_topk",
}
# These run eager work (KMeans fit / query collect / stream drain) at
# plan-build time; their plan shape is asserted in their own tests.
_EAGER_BUILD = {
    "ivf_ann_topk",
    # r7: stages the embeddings table as a file stream and drains it at
    # plan-build time (the fact_events_streamed pattern); its stateless
    # plan shape is asserted in tests/test_streaming.py
    "ann_index_streamed",
    "ann_gemm_topk",
    "fact_events_streamed",
    "pq_trained_ann_topk",
    "ivf_flat_trained_ann_topk",
    "ivfpq_trained_ann_topk",
    "ann_recall_report_trained",
    "bpe_merges",
    # r6: collects its md5-ranked fit sample at plan-build time; its
    # one-row centers cross + invariants are asserted in its own tests
    "kcenter_diversity_sample",
    # r6: EM loop / vocab collect run at plan-build time (bpe pattern)
    "unigram_lm_vocab",
    "unigram_encode_documents",
}


@pytest.mark.fullsweep
def test_registry_wide_no_accidental_cartesian(spark):
    """Engine-wide guard: CartesianProduct is banned in every
    registered query's physical plan, and BroadcastNestedLoopJoin is
    allowed only on the reviewed allowlist — a new operator can't
    silently regress to an all-pairs plan."""
    offenders = {}
    for name in QUERIES:
        if name in _EAGER_BUILD:
            continue
        plan = _plan(spark, name)
        bad = ["CartesianProduct"] if "CartesianProduct" in plan else []
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, f"all-pairs plans outside the allowlist: {offenders}"
