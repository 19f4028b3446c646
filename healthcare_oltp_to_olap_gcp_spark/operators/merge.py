"""CDC merge-upsert and data-validation operators.

``merge_upsert`` is the engine's MERGE INTO: updates win over existing
rows on the key, implemented as union + a keyed ``top_k`` cut (one
shuffle, no join fan-out) — the same plan a Delta/Iceberg MERGE lowers to for
whole-row upserts. The reference achieves idempotent re-delivery the
same way (newest created_at wins, sql/bq_fact_vitals.sql).

``validate_events`` is the expectations gate a pipeline runs before
publishing a batch: each rule is a conditional aggregate, all rules in
one pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rank import top_k


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    tiebreak: tuple[F.Column, ...] = (),
) -> DataFrame:
    """Rows from ``updates`` replace same-key rows in ``existing``;
    unmatched update rows insert. Columns must align. ``tiebreak``
    orders survivors within a priority class — without it, duplicate
    keys inside one side pick a nondeterministic survivor (re-delivered
    rows sharing a key but differing in payload)."""
    tagged = updates.withColumn("_prio", F.lit(0)).unionByName(
        existing.withColumn("_prio", F.lit(1))
    )
    return top_k(tagged, [key], (F.col("_prio"), *tiebreak), 1).drop("_prio")


def simulated_updates(events: DataFrame) -> DataFrame:
    """Deterministic CDC batch for tests/oracles: every 10th event gets
    its value bumped by 1000."""
    return events.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 1000
    )


def merge_upsert_events(events: DataFrame) -> DataFrame:
    from ..plans.star import dedup_order

    return merge_upsert(events, simulated_updates(events), "event_id", dedup_order())


# (rule name, boolean violation predicate) — single source for Spark and
# the SQL oracle.
EVENT_RULES = (
    ("value_in_range", "value < 0 OR value > 10000 OR value IS NULL"),
    ("ts_not_null", "ts IS NULL"),
    (
        "known_event_type",
        "event_type NOT IN ('click','error','purchase','signup','view')",
    ),
    ("props_has_k", "props NOT LIKE '%\"k\":%'"),
)


def validate_events(events: DataFrame) -> DataFrame:
    """One row per expectation rule with its violation count (all rules
    evaluated in a single scan)."""
    aggs = [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(name)
        for name, pred in EVENT_RULES
    ]
    wide = events.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("rule"), F.col(name).alias("n_violations"))
                for name, _ in EVENT_RULES
            ]
        )
    )
    return wide.select(stacked.alias("r")).select("r.rule", "r.n_violations")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "event_id",
    payload_cols: tuple[str, ...] = ("ts", "user_id", "event_type", "value", "props"),
) -> DataFrame:
    """CDC change feed between two table snapshots: (key, change_type ∈
    insert/update/delete). One full-outer join on the key comparing an
    md5 payload fingerprint — the diff a replication edge (reference
    scheduler/dataflow_flex_body.json) would emit as its change stream.
    Unchanged rows drop out, so the output is proportional to the
    actual drift, not the table.

    NULL handling: concat_ws SKIPS null arguments, so a bare concat
    fingerprint would hash (NULL, 'x') and ('x', NULL) identically and
    silently drop that update. Every payload column is therefore
    coalesced to a \\x1e sentinel (a control char no cast value
    contains) so NULL *position* participates in the fingerprint."""
    def fp(df: DataFrame, side: str) -> DataFrame:
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x1e")) for c in payload_cols
        ]
        return df.select(
            F.col(key).alias(f"{side}_key"),
            F.md5(F.concat_ws("\x1f", *cols)).alias(f"{side}_fp"),
        )

    o, n = fp(old, "o"), fp(new, "n")
    joined = o.join(n, o["o_key"] == n["n_key"], "full_outer")
    change = (
        F.when(F.col("o_key").isNull(), F.lit("insert"))
        .when(F.col("n_key").isNull(), F.lit("delete"))
        .when(F.col("o_fp") != F.col("n_fp"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col("n_key"), F.col("o_key")).alias(key),
            "change_type",
        )
    )


def events_snapshot_diff(events: DataFrame) -> DataFrame:
    """snapshot_diff exercised on deterministic slices of the events
    table: the 'old' snapshot lacks event_id % 7 == 0 (→ inserts), the
    'new' snapshot drops event_id % 11 == 0 (→ deletes) and bumps value
    for event_id % 5 == 0 (→ updates); ids hitting several rules get
    the highest-precedence change, exactly as the operator computes."""
    old = events.filter(F.col("event_id") % 7 != 0)
    new = events.filter(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.round(F.col("value") + 1.0, 4)).otherwise(
            F.col("value")
        ),
    )
    return snapshot_diff(old, new)
