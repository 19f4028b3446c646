"""Partitioning-independence: the engine claims results are identical
regardless of partition count and row order (exact decimal sums,
rounded-then-summed partials, deterministic tie-breaks). Verify by
running sensitive queries against a REPARTITIONED, SHUFFLED copy of the
input and asserting bit-identical normalized output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.api import QUERIES
from healthcare_oltp_to_olap_gcp_spark.catalog import TS_COLS, table

from .conftest import SF001
from .helpers import normalize

# Queries whose aggregates would drift under float reordering if the
# decimal/rounding discipline broke, plus deterministic top-k/sampling.
SENSITIVE = [
    "q1_pricing_summary",
    "token_entropy",
    "weighted_sample_documents",
    "kmv_distinct_users",
    "orders_daily_cumulative",
    "top_customers_per_nation",
    "minhash_lsh_dup_pairs",
    "value_percentiles",
    # round-5: DECIMAL-summed log-ratio contributions + Gumbel top-k
    # cut; cell argmax + dominated-by-any keeper tie-breaks
    "dsir_sample_documents",
    "semdedup_embeddings",
    # late round-5: DECIMAL product sums; decimal mean Jaccard; path
    # assembly from collect_list + top-k cut; decimal centroids + bin
    # cumsum window
    "quality_signal_corr",
    "dup_source_matrix",
    "session_paths_topk",
    "centroid_auc_report",
    # r6: driver-side spherical-KMeans fit must be partition-order
    # independent (md5-ranked bounded sample draw + pure numpy Lloyd)
    "ivf_flat_trained_ann_topk",
    # r6: decimal-summed per-doc ratios + decimal normalizer; md5-ranked
    # bounded Gonzalez fit + decimal per-center mean distances
    "domain_mixture_weights",
    "kcenter_diversity_sample",
    # r6: EM fit state is exact-integer piece counts aggregated from a
    # mapInPandas E-step — partitioning must not change the model
    "unigram_lm_vocab",
    # r7: PSI terms / ECDF distances are rounded-then-DECIMAL-summed;
    # the midpoint split is exact integer arithmetic — none may move
    # under repartitioning
    "events_drift_report",
    # r7: per-dim component sums and the d-row reductions are all
    # round-then-DECIMAL — the sum-vector identity must not wobble
    "embedding_isotropy_report",
    # r8: the vec_id-midpoint split + per-(half, dim) decimal sums and
    # the one-row geometry reductions must survive repartitioning
    "embedding_drift_report",
]

_TABLE_FOR = {
    "q1_pricing_summary": "lineitem",
    "token_entropy": "documents",
    "weighted_sample_documents": "documents",
    "kmv_distinct_users": "events",
    "orders_daily_cumulative": "orders",
    "minhash_lsh_dup_pairs": "documents",
    "value_percentiles": "events",
    "dsir_sample_documents": "documents",
    "semdedup_embeddings": "embeddings",
    "quality_signal_corr": "documents",
    "dup_source_matrix": "documents",
    "session_paths_topk": "events",
    "centroid_auc_report": "embeddings",
    "ivf_flat_trained_ann_topk": "embeddings",
    "domain_mixture_weights": "documents",
    "kcenter_diversity_sample": "embeddings",
    "unigram_lm_vocab": "documents",
    "events_drift_report": "events",
    "embedding_isotropy_report": "embeddings",
    "embedding_drift_report": "embeddings",
}


def _scrambled_dir(spark, tmp_path, tables):
    """Rewrite the needed tables re-partitioned into 13 shuffled parts."""
    out = tmp_path / "scrambled"
    out.mkdir()
    for t in tables:
        df = spark.read.parquet(f"{SF001}/{t}.parquet")
        (
            df.repartition(13, F.pmod(F.xxhash64(*df.columns[:1]), F.lit(997)))
            .write.mode("overwrite")
            .parquet(str(out / f"{t}.parquet"))
        )
    return str(out)


# A default-tier sample of the sweep: exact decimal sums (q1), the LSH
# band pipeline, and the driver-side KMeans fit on a scope-memoized
# sample; every other case runs under ``fullsweep``.
SMOKE = {"q1_pricing_summary", "minhash_lsh_dup_pairs", "ivf_flat_trained_ann_topk"}


@pytest.mark.parametrize(
    "name",
    [n if n in SMOKE else pytest.param(n, marks=pytest.mark.fullsweep) for n in SENSITIVE],
)
def test_partitioning_independence(spark, tmp_path, name):
    if name == "top_customers_per_nation":
        tables = ("customer", "orders", "nation")
    else:
        tables = (_TABLE_FOR[name],)
    scrambled = _scrambled_dir(spark, tmp_path, set(tables) | set(TS_COLS))
    base = normalize(QUERIES[name](spark, SF001).toPandas())
    scr = normalize(QUERIES[name](spark, scrambled).toPandas())
    assert base == scr, f"{name} drifted under repartitioning"
