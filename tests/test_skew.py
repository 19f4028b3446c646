"""Skewed-data hardening: one user owning half of all events must not
change correctness of the user-keyed operators (parity vs DuckDB on the
same skewed tables), and AQE must actually split the skewed partitions
of a large-large join on that key — evidence for the SCALING.md skew
claims, not just prose."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest

from healthcare_oltp_to_olap_gcp_spark.catalog import TABLES, table

from .conftest import SF01
from .helpers import assert_parity, plan_nodes, plan_text, session_confs

# Operators whose shuffle key is user_id (window sorts / aggregations
# partition on the skewed key).
USER_KEYED = (
    "sessionize",
    "session_window_agg",
    "event_type_transitions",
    "user_retention_cohorts",
    "user_value_deltas",
    "asof_last_view_before_purchase",
    "events_debounce",
)


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """sf0.01 with user_id collapsed to 1 for every even event_id —
    ~50% of all rows land on one key. Written with pyarrow so the ts
    column keeps the driver file's exact physical type and the DuckDB
    oracle reads the identical bytes."""
    d = tmp_path_factory.mktemp("skewdata")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF01}/{t}.parquet", d / f"{t}.parquet")
    tbl = pq.read_table(f"{SF01}/events.parquet")
    pdf = tbl.to_pandas()
    pdf.loc[pdf["event_id"] % 2 == 0, "user_id"] = 1
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(pdf, schema=tbl.schema, preserve_index=False),
        d / "events.parquet",
    )
    return str(d)


@pytest.mark.parametrize("name", USER_KEYED)
def test_user_keyed_parity_under_skew(spark, skew_dir, name):
    assert_parity(spark, name, skew_dir)


def test_aqe_splits_skewed_join(spark, skew_dir):
    """A view⋈purchase self-join on the skewed user key, forced to
    sort-merge with test-scale skew thresholds: the executed adaptive
    plan must mark the join skew=true (AQE split the hot partition)."""
    from pyspark.sql import functions as F

    # repartition(16): a single-file scan has ONE map task, and AQE can
    # only split a skewed reduce partition at map-output granularity —
    # exactly the cluster topology (many mappers) the split relies on.
    events = table(spark, skew_dir, "events").repartition(16)
    views = events.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("view_ts")
    )
    purchases = events.filter(
        F.col("event_type").isin("purchase", "signup")
    ).select("user_id", F.col("ts").alias("purchase_ts"))
    confs = {
        # force SMJ (both sides are tiny at test scale)…
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # …and scale the skew thresholds down to the KB-sized shuffle
        # (defaults target 256 MB partitions)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        # the global agg after the join adds a shuffle; without force,
        # AQE declines to split rather than add one more exchange
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    with session_confs(spark, confs):
        joined = views.join(purchases, "user_id").groupBy().count()
        [row] = joined.collect()
        assert row["count"] > 0
        plan = plan_text(joined)
        assert plan_nodes(plan, r"SortMergeJoin\(skew=true") >= 1, plan


@pytest.fixture(scope="module")
def label_skew_dir(tmp_path_factory):
    """sf0.01 embeddings with the label collapsed to one value for 80%
    of vectors — the dominant-class shape prototypicality_prune's
    within-label rank window partitions on."""
    d = tmp_path_factory.mktemp("labelskew")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF01}/{t}.parquet", d / f"{t}.parquet")
    tbl = pq.read_table(f"{SF01}/embeddings.parquet")
    pdf = tbl.to_pandas()
    pdf.loc[pdf["vec_id"] % 5 != 0, "label"] = 1
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(pdf, schema=tbl.schema, preserve_index=False),
        d / "embeddings.parquet",
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    (
        "prototypicality_prune",
        "prototypicality_prune_bucketed",
        "label_centroids",
        "centroid_auc_report",
    ),
)
def test_label_keyed_parity_under_skew(spark, label_skew_dir, name):
    """An 80%-one-label class distribution must not change correctness
    of the label-keyed operators (rank windows, centroid means, AUC
    bins all partition on the skewed key)."""
    assert_parity(spark, name, label_skew_dir)
