"""Scale probe: measure how the heavy operators scale from sf0.1 to an
amplified 10x copy (id-shifted unions of the driver-provided tables —
used ONLY for performance measurement; correctness always runs against
the unmodified driver parquet).

    python tools/scale_probe.py [factor] [query ...]

With query names, probes only those (they must be PROBES keys) —
used to add rows for new operators without re-running the full set.

Prints per-query seconds at 1x and Nx (best of ``bench.RUNS`` after
one session warm-up) and the observed ratio. A
near-linear ratio (≈ N for scan-bound ops, ≈ N·log N for sort-bound)
is the evidence that the plan would keep holding at cluster scale; a
super-linear ratio flags a quadratic term that 100 TB would amplify.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.catalog import TABLES, table  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (query, id columns to shift so amplified copies stay disjoint)
PROBES = {
    "q1_pricing_summary": {"lineitem": ["l_orderkey"]},
    "sessionize": {"events": ["event_id", "user_id"]},
    "minhash_lsh_dup_pairs": {"documents": ["doc_id"]},
    "simhash_dup_pairs": {"documents": ["doc_id"]},
    "dedup_components": {"documents": ["doc_id"]},
    "ann_lsh_topk": {"embeddings": ["vec_id"]},
    "embedding_neardup_lsh_pairs": {"embeddings": ["vec_id"]},
    "chunk_documents": {"documents": ["doc_id"]},
    "token_freq": {"documents": ["doc_id"]},
    # round-3 additions
    "value_percentiles_2pass": {"events": ["event_id", "user_id"]},
    "hist_value_percentiles": {"events": ["event_id", "user_id"]},
    "customer_rfm_segments": {"orders": ["o_orderkey", "o_custkey"],
                              "customer": ["c_custkey"]},
    "nearest_centroid_assign": {"embeddings": ["vec_id"]},
    "q21_waiting_suppliers": {"lineitem": ["l_orderkey"],
                              "orders": ["o_orderkey"]},
    # round-3 continuation additions
    "dup_span_stats": {"documents": ["doc_id"]},
    "docs_perplexity": {"documents": ["doc_id"]},
    "docs_source_kl": {"documents": ["doc_id"]},
    "docs_quality_model": {"documents": ["doc_id"]},
    "mixture_sample_documents": {"documents": ["doc_id"]},
    "prefix_suffix_overlap_pairs": {"documents": ["doc_id"]},
    "hard_negative_mining": {"embeddings": ["vec_id"]},
    # round-3 final-pass additions
    "part_pagerank": {"lineitem": ["l_orderkey"]},
    "part_triangles": {"lineitem": ["l_orderkey"]},
    "view_purchase_attribution": {"events": ["event_id", "user_id"]},
    "cms_token_counts": {"documents": ["doc_id"]},
    "value_range_join": {"events": ["event_id"]},
    "asof_pandas_last_view": {"events": ["event_id", "user_id"]},
    # round-4 additions
    "theta_union_segment_users": {"events": ["event_id", "user_id"]},
    "theta_daily_merge_events": {"events": ["event_id", "user_id"]},
    "events_daily_rollup_incremental": {"events": ["event_id", "user_id"]},
    "docs_remove_dup_spans": {"documents": ["doc_id"]},
    "pq_trained_ann_topk": {"embeddings": ["vec_id"]},
    "bpe_merges": {"documents": ["doc_id"]},
    "ivfpq_ann_topk": {"embeddings": ["vec_id"]},
    "temperature_sample_documents": {"documents": ["doc_id"]},
    # round-5 additions
    "bq_ann_topk": {"embeddings": ["vec_id"]},
    "ann_recall_report": {"embeddings": ["vec_id"]},
    "semdedup_embeddings": {"embeddings": ["vec_id"]},
    "dsir_importance_weights": {"documents": ["doc_id"]},
    "dsir_sample_documents": {"documents": ["doc_id"]},
    "docs_ccnet_buckets": {"documents": ["doc_id"]},
    "dedup_segments": {"documents": ["doc_id"]},
    "bpe_encode_documents": {"documents": ["doc_id"]},
    # round-5 continuation additions
    "bm25_topk": {"documents": ["doc_id"]},
    "bm25_dfcap_topk": {"documents": ["doc_id"]},
    "dedup_incremental": {"documents": ["doc_id"]},
    "dup_source_matrix": {"documents": ["doc_id"]},
    "split_leakage_report": {"documents": ["doc_id"]},
    "docs_ngram_novelty": {"documents": ["doc_id"]},
    "quality_signal_corr": {"documents": ["doc_id"]},
    "multimodal_audio_energy": {"documents": ["doc_id"]},
    "session_paths_topk": {"events": ["event_id", "user_id"]},
    "vocab_growth_fit": {"documents": ["doc_id"]},
    "embedding_classifier_report": {"embeddings": ["vec_id"]},
    "events_seasonality": {"events": ["event_id", "user_id"]},
    "quality_auc_report": {"documents": ["doc_id"]},
    "centroid_auc_report": {"embeddings": ["vec_id"]},
    "ivf_probe_sweep": {"embeddings": ["vec_id"]},
    "knn_graph_components": {"embeddings": ["vec_id"]},
    "docs_contamination_bloom": {"documents": ["doc_id"]},
    "knn_graph_edges": {"embeddings": ["vec_id"]},
    "unimax_sample_documents": {"documents": ["doc_id"]},
    "neardup_recall_report": {"documents": ["doc_id"]},
    # round-6 additions (bench_sf1 headline coverage + trained twins)
    "docs_dedup_report": {"documents": ["doc_id"]},
    "clean_documents": {"documents": ["doc_id"]},
    "clean_documents_keep_best": {"documents": ["doc_id"]},
    "ann_gemm_topk": {"embeddings": ["vec_id"]},
    "ivf_ann_topk": {"embeddings": ["vec_id"]},
    "ivf_flat_ann_topk": {"embeddings": ["vec_id"]},
    "ivf_flat_trained_ann_topk": {"embeddings": ["vec_id"]},
    "ivfpq_trained_ann_topk": {"embeddings": ["vec_id"]},
    "ann_recall_report_trained": {"embeddings": ["vec_id"]},
    # round-6 new operators
    "gopher_quality_rules": {"documents": ["doc_id"]},
    "domain_mixture_weights": {"documents": ["doc_id"]},
    "bm25_rerank_topk": {"documents": ["doc_id"], "embeddings": ["vec_id"]},
    "prototypicality_prune": {"embeddings": ["vec_id"]},
    "prototypicality_prune_bucketed": {"embeddings": ["vec_id"]},
    "kcenter_diversity_sample": {"embeddings": ["vec_id"]},
    "multimodal_phash_pairs": {"documents": ["doc_id"]},
    "unigram_lm_vocab": {"documents": ["doc_id"]},
    "unigram_encode_documents": {"documents": ["doc_id"]},
    "dataset_card_report": {"documents": ["doc_id"]},
    "bm25_rerank_dfcap_topk": {"documents": ["doc_id"], "embeddings": ["vec_id"]},
    # round-7 additions
    "retrieval_quality_report": {"documents": ["doc_id"], "embeddings": ["vec_id"]},
    "hybrid_rrf_topk": {"documents": ["doc_id"], "embeddings": ["vec_id"]},
    "rm3_expansion_topk": {"documents": ["doc_id"]},
    "events_drift_report": {"events": ["event_id", "user_id"]},
    "embedding_isotropy_report": {"embeddings": ["vec_id"]},
    "events_drift_streamed": {"events": ["event_id", "user_id"]},
    "events_sessions_streamed": {"events": ["event_id", "user_id"]},
    "user_totals_streamed": {"events": ["event_id", "user_id"]},
    "ann_index_incremental": {"embeddings": ["vec_id"]},
    "bm25_index_incremental": {"documents": ["doc_id"]},
    "ann_index_streamed": {"embeddings": ["vec_id"]},
    # sf1-headline coverage: amplification spec so bench_sf1 can time it
    "lineitem_column_stats": {"lineitem": ["l_orderkey"]},
    # round-8 additions (bounded deployment twins + WAND + interval join)
    "rm3_dfcap_expansion_topk": {"documents": ["doc_id"]},
    "hybrid_rrf_ivf_topk": {"documents": ["doc_id"], "embeddings": ["vec_id"]},
    "bm25_wand_topk": {"documents": ["doc_id"]},
    "view_purchase_streamed": {"events": ["event_id", "user_id"]},
    "views_without_purchase_streamed": {"events": ["event_id", "user_id"]},
    "embedding_drift_report": {"embeddings": ["vec_id"]},
    "ann_index_balance_report": {"embeddings": ["vec_id"]},
    "split_assignments_grouped": {"documents": ["doc_id"]},
    "events_hourly_streamed": {"events": ["event_id", "user_id"]},
    # round-9 additions. bm25_workload_topk is THE fixed-|Q| probe
    # (VERDICT r8 item 3): the id-shifted amplification keeps copy-0's
    # doc ids the smallest, so the 20-query workload is IDENTICAL at 1x
    # and Nx while the corpus (and every posting list) grows Nx — an
    # observed ~Nx ratio is the direct measurement of "per-query cost
    # bounded by the query terms' posting lists" that the corpus-slice
    # workloads can only argue.
    "bm25_workload_topk": {"documents": ["doc_id"]},
    "bm25_chunk_maxp_topk": {"documents": ["doc_id"]},
    "ann_index_retrain": {"embeddings": ["vec_id"]},
    "ivf_flat_workload_topk": {"embeddings": ["vec_id"]},
    "bm25_index_stats_report": {"documents": ["doc_id"]},
}

# Grown-C probe variants (VERDICT r5 item 1, r6 item 1). The
# corpus-as-queries graph ops keep n_cells FIXED inside QUERIES so the
# DuckDB oracle is the identical computation — at fixed C their
# per-cell work is (n_probe·n/C)·(n/C) ∝ n², which the standard probe
# duly measures as ~30x at 10x. Their documented deploy rule is
# **C ∝ √n** (r7 correction from C ∝ n): the per-row assignment scan
# costs n·C and the within-cell joins n·(n/C)·n_probe, so √n sizing
# balances both terms at Θ(n^1.5) — C ∝ n would make the assignment
# term itself Θ(n²). These entries measure exactly that deployment:
# the 1x run uses the default C, the Nx run grows C by √N, so an
# observed ratio ≈ N^1.5/N = N^0.5 in scored work (plus fixed
# overheads) is the evidence the rule works — recorded in SCALING.md
# next to the fixed-C rows.
# Each value: (tables-to-amplify, builder(spark, sf_dir, mult)).
def _grown_c_builders():
    from healthcare_oltp_to_olap_gcp_spark.operators import similarity

    emb = {"embeddings": ["vec_id"]}

    def grown(m: int) -> int:
        return int(round(16 * m**0.5))

    return {
        "knn_graph_edges@grownC": (
            emb,
            lambda s, d, m: similarity.knn_graph_edges(
                table(s, d, "embeddings"), n_centroids=grown(m)
            ),
        ),
        "knn_graph_components@grownC": (
            emb,
            lambda s, d, m: similarity.knn_graph_components(
                table(s, d, "embeddings"), n_centroids=grown(m)
            ),
        ),
        "semdedup_embeddings@grownC": (
            emb,
            lambda s, d, m: similarity.semdedup_embeddings(
                table(s, d, "embeddings"), n_cells=grown(m)
            ),
        ),
    }


GROWN_C = _grown_c_builders()

ID_SPAN = 100_000_000  # shift per copy; far above any real id


def amplify(spark, out_dir: str, tables: dict[str, list[str]], factor: int) -> None:
    for t in TABLES:
        df = table(spark, SF_DIR, t)
        if t in tables:
            parts = []
            for i in range(factor):
                c = df
                for col in tables[t]:
                    c = c.withColumn(col, F.col(col) + i * ID_SPAN)
                parts.append(c)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def amplified_tables(names) -> dict[str, list[str]]:
    """The tables (and their id columns) the probes ``names`` amplify."""
    needed: dict[str, list[str]] = {}
    for name in names:
        needed.update(GROWN_C[name][0] if name in GROWN_C else PROBES[name])
    return needed


def time_1x_nx(spark, name: str, amp_dir: str, factor: int) -> tuple[float, float]:
    """Best-of-``bench.RUNS`` noop-sink seconds of probe ``name`` on
    SF_DIR and on its ``factor``-x amplification in ``amp_dir``. Call
    ``bench.warm_up`` once before the first probe, or its 1x time
    carries the session's JVM and codegen warm-up."""
    if name in GROWN_C:
        _, build = GROWN_C[name]
        run_1x = lambda: build(spark, SF_DIR, 1)  # noqa: E731
        run_nx = lambda: build(spark, amp_dir, factor)  # noqa: E731
    else:
        run_1x = lambda: QUERIES[name](spark, SF_DIR)  # noqa: E731
        run_nx = lambda: QUERIES[name](spark, amp_dir)  # noqa: E731
    return bench.best_seconds(spark, run_1x), bench.best_seconds(spark, run_nx)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]
    unknown = [q for q in only if q not in PROBES and q not in GROWN_C]
    if unknown:
        raise SystemExit(f"not in PROBES/GROWN_C: {unknown}")
    todo = dict.fromkeys(only) if only else dict.fromkeys(PROBES)
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, SF_DIR)
    results = {}
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as tmp:
        amplify(spark, tmp, amplified_tables(todo), factor)
        for name in todo:
            base, big = time_1x_nx(spark, name, tmp, factor)
            results[name] = {
                "t_1x": round(base, 2),
                f"t_{factor}x": round(big, 2),
                "ratio": round(big / base, 2),
            }
            print(name, results[name], flush=True)
    print(json.dumps({"factor": factor, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
