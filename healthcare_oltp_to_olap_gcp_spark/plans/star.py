"""Star-schema ETL over the ``events`` stream table.

Reference parity (see SURVEY.md §1-§2): the reference's vitals pipeline
maps onto ``events(event_id, ts, user_id, event_type, value, props)``:
patient→user, loinc_code→event_type, value_num→value, effective_ts→ts,
raw JSON→props. Each builder mirrors one reference SQL file:

- ``fact_events``       ← sql/bq_fact_vitals.sql (dedup newest per id)
- ``dim_time``          ← sql/bq_dim_time.sql
- ``dim_user``          ← sql/bq_dim_patient.sql
- ``dim_event_type``    ← sql/bq_dim_code.sql
- ``dim_band``          ← sql/bq_dim_unit.sql (value band ≈ unit)
- ``dim_source``        ← sql/bq_dim_source.sql (derived from the raw
                          JSON ``props`` column, as the reference keeps
                          raw JSON for exactly this kind of later use)
- ``fact_events_star``  ← sql/bq_fact_vitals_star.sql
- sanity checks         ← README "Sanity Checks" section

Scale notes (100 TB): the dedup is one hash shuffle on the (high
cardinality, unskewed) event_id; the star derives its surrogate keys
by hashing the fact's natural keys (each dimension is the DISTINCT set
of those keys, so a join to it would only recompute the hash): one
narrow pass that never shuffles the fact and builds no dimension. A
dimension is built and broadcast only where its attributes are read
(``weekend_activity``'s ``dim_time``). ``write_star`` reproduces
BigQuery's PARTITION BY day + CLUSTER BY keys with partitionBy +
sortWithinPartitions.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from ..functions.keys import surrogate_key
from ..functions.rank import top_k


def dedup_order() -> tuple[F.Column, ...]:
    """Dedup survivor ordering: newest ts wins, with a deterministic
    payload tie-break — replicated rows can share (event_id, ts) with
    different payloads, and without the tie-break Spark vs the DuckDB
    oracle (and run vs run) could pick different survivors. Null
    placement is pinned because Spark (nulls first) and DuckDB (nulls
    last) disagree on the ASC default; the oracle SQL mirrors this
    ordering exactly. (A function, not a module constant: building a
    Column requires an active SparkContext.)"""
    return (
        F.col("ts").desc(),
        F.col("value").asc_nulls_first(),
        F.col("props").asc_nulls_first(),
    )

# Deterministic derivations of the unit/source analogs from raw columns.
PROPS_K_PATTERN = r'"k": (\d+)'


def prepared_events(events: DataFrame) -> DataFrame:
    """Derive the star's natural-key columns from the raw event row.
    ``props`` without a ``"k"`` gives a NULL ``k`` and ``src`` (the
    oracle's TRY_CAST), not an ANSI cast error on the empty match."""
    k = F.regexp_extract("props", PROPS_K_PATTERN, 1).try_cast("long")
    return events.withColumns(
        {
            "k": k,
            "src": F.concat(F.lit("src"), (k % 5).cast("string")),
            "band": F.when(F.col("value") < 50, F.lit("low"))
            .when(F.col("value") < 150, F.lit("mid"))
            .otherwise(F.lit("high")),
        }
    )


def fact_events(events: DataFrame) -> DataFrame:
    """Deduplicated fact: newest row per event_id (idempotent wrt.
    replication overlap), ref sql/bq_fact_vitals.sql:14-17."""
    return top_k(prepared_events(events), ["event_id"], dedup_order(), 1)


def dim_time(fact: DataFrame) -> DataFrame:
    """Calendar-day dimension spanning the fact, ref sql/bq_dim_time.sql."""
    bounds = fact.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    d = F.col("date_key")
    return (
        bounds.select(F.explode(F.sequence("lo", "hi")).alias("date_key"))
        .select(
            d,
            F.date_format(d, "yyyyMMdd").cast("long").alias("date_id"),
            F.year(d).cast("long").alias("year"),
            F.quarter(d).cast("long").alias("quarter"),
            F.month(d).cast("long").alias("month"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.weekofyear(d).cast("long").alias("iso_week"),
            F.dayofmonth(d).cast("long").alias("day_of_month"),
            F.dayofweek(d).cast("long").alias("day_of_week"),
            F.date_format(d, "EEEE").alias("day_name"),
            F.dayofweek(d).isin(1, 7).alias("is_weekend"),
        )
    )


def dim_user(fact: DataFrame) -> DataFrame:
    """ref sql/bq_dim_patient.sql: surrogate key + first/last seen + count."""
    return fact.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen_date"),
        F.max(F.to_date("ts")).alias("last_seen_date"),
        F.count("*").alias("measurement_count"),
    ).select(
        surrogate_key("user_id").alias("user_key"),
        "user_id",
        "first_seen_date",
        "last_seen_date",
        "measurement_count",
    )


def dim_event_type(fact: DataFrame) -> DataFrame:
    """ref sql/bq_dim_code.sql: key + display label."""
    return fact.select("event_type").distinct().select(
        surrogate_key("event_type").alias("event_type_key"),
        "event_type",
        F.initcap("event_type").alias("event_type_display"),
    )


def dim_band(fact: DataFrame) -> DataFrame:
    """ref sql/bq_dim_unit.sql: DISTINCT + key over the small lookup."""
    return fact.select("band").distinct().select(
        surrogate_key("band").alias("band_key"), "band"
    )


def dim_source(fact: DataFrame) -> DataFrame:
    """ref sql/bq_dim_source.sql."""
    return fact.select("src").distinct().select(
        surrogate_key("src").alias("source_key"), F.col("src").alias("source")
    )


# Natural keys the star resolves against its dimensions.
NATURAL_KEYS = ("user_id", "event_type", "band", "src")


def _all_keys_present() -> F.Column:
    return reduce(operator.and_, (F.col(k).isNotNull() for k in NATURAL_KEYS))


def fact_events_star(fact: DataFrame) -> DataFrame:
    """Star fact: surrogate keys + measure + degenerate event_id,
    ref sql/bq_fact_vitals_star.sql.

    The reference joins the fact to each dimension on its natural key
    to fetch the surrogate key. Every dimension is the DISTINCT set of
    the fact's own natural keys and its key is ``surrogate_key`` of
    that value, so each inner join only recomputes the same hash and
    drops rows whose natural key is NULL. The star derives the keys in
    one narrow filter + projection instead: no dimension build, no
    join, and the fact side never shuffles (pinned equal to the explicit
    four-dimension join in tests/test_star_keys.py)."""
    return fact.filter(_all_keys_present()).select(
        surrogate_key("user_id").alias("user_key"),
        surrogate_key("event_type").alias("event_type_key"),
        surrogate_key("band").alias("band_key"),
        surrogate_key("src").alias("source_key"),
        F.to_date("ts").alias("date_key"),
        "event_id",
        F.col("value").alias("measure_value"),
        "ts",
    )


def weekend_activity(fact: DataFrame) -> DataFrame:
    """The star in use: fact ⋈ dim_time on date_key (the join the
    reference builds dim_time for — README 'Time dimension'), rolled up
    by the precomputed is_weekend attribute."""
    star = fact_events_star(fact)
    dt = F.broadcast(dim_time(fact).select("date_key", "is_weekend"))
    return star.join(dt, "date_key").groupBy("is_weekend").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("measure_value").cast("decimal(18,8)"))
        .cast("double")
        .alias("sum_value"),
    )


def sanity_row_counts(fact: DataFrame, star: DataFrame) -> DataFrame:
    """ref README 'Counts Match' check — fact vs star row counts, in
    one aggregate over both tables with each row tagged by its side
    (one shuffle, no cross join of two one-row counts). ``count_if``
    keeps an empty table's count 0 where a sum would be NULL."""
    side = F.col("_fact")
    return (
        fact.select(F.lit(True).alias("_fact"))
        .unionByName(star.select(F.lit(False).alias("_fact")))
        .agg(F.count_if(side).alias("fact_rows"), F.count_if(~side).alias("star_rows"))
    )


def fact_star_row_counts(fact: DataFrame) -> DataFrame:
    """``sanity_row_counts`` of ``fact`` against its own
    ``fact_events_star``, in one aggregate over one read of the fact:
    the star keeps exactly the fact rows whose natural keys are all
    present (a filter and a 1:1 projection), so its row count is a
    conditional count of the fact. A union of the two sides would read
    and deduplicate the events once per side, because each side prunes
    the scan to different columns."""
    return fact.agg(
        F.count("*").alias("fact_rows"),
        F.count_if(_all_keys_present()).alias("star_rows"),
    )


def sanity_missing_dims(fact: DataFrame) -> DataFrame:
    """ref README 'No Missing Dimensions' — rows whose natural keys
    fail to resolve in any dimension (should be 0). A dimension holds
    every non-NULL natural key of the fact, so exactly the rows with a
    NULL key miss one."""
    return fact.agg(
        F.count_if(~_all_keys_present()).alias("rows_missing_any_dimension")
    )


def _star_writer(star: DataFrame) -> DataFrameWriter:
    """The writer ``write_star`` and ``write_star_incremental`` share:
    one file per day partition, clustered row groups."""
    return (
        star.repartition("date_key")
        .sortWithinPartitions("user_key", "event_type_key")
        .write.mode("overwrite")
        .partitionBy("date_key")
    )


def write_star(star: DataFrame, path: str) -> None:
    """Materialize the star fact the way BigQuery does PARTITION BY
    DATE(effective_ts) CLUSTER BY patient_key, code_key
    (ref sql/bq_fact_vitals_star.sql:3-4):

    - ``partitionBy(date_key)`` → directory-level partition pruning;
    - ``repartition(date_key)`` → one file per day partition instead of
      files x tasks small-file explosion;
    - ``sortWithinPartitions(user_key, event_type_key)`` → clustered
      parquet row groups, so min/max row-group stats prune key lookups.
    """
    _star_writer(star).parquet(path)


def write_star_incremental(star_delta: DataFrame, path: str) -> None:
    """Dynamic-partition-overwrite refresh: rewrite ONLY the day
    partitions present in ``star_delta``, leaving every other partition
    untouched — the BigQuery MERGE-into-partitioned-table equivalent,
    and the write mode a 10-min replication cadence needs (rewriting a
    100 TB table per cycle is a non-starter; rewriting the 1-2 days the
    delta touches is O(delta)).

    ``partitionOverwriteMode=dynamic`` is a per-write option, so the
    session conf (and any concurrent full ``write_star``) keeps
    static-overwrite semantics."""
    _star_writer(star_delta).option("partitionOverwriteMode", "dynamic").parquet(path)


INCREMENTAL_CUTOFF = "2024-01-24"


def fact_events_incremental(events: DataFrame, cutoff: str = INCREMENTAL_CUTOFF) -> DataFrame:
    """Incremental fact refresh: the already-materialized base fact
    (rows before ``cutoff``, one per event_id) is combined with only the
    new slice — the reference's 10-min-cadence/20-min-lookback Dataflow
    replication (scheduler/dataflow_flex_body.json) expressed as a
    DataFrame plan. The re-dedup window runs over base ∪ delta, and
    because the base side is pre-deduplicated, at 100 TB only the date
    partitions the delta touches need rewriting (merge-on-read); the
    oracle is the full-table dedup, which this provably equals."""
    cut = F.lit(cutoff).cast("timestamp")
    base = fact_events(events.filter(F.col("ts") < cut))
    delta = prepared_events(events.filter(F.col("ts") >= cut))
    return top_k(base.unionByName(delta), ["event_id"], dedup_order(), 1)


def write_star_zorder(star: DataFrame, path: str) -> None:
    """Z-order-clustered variant of ``write_star``: instead of the
    lexicographic ``sortWithinPartitions(user_key, event_type_key)``
    (which clusters row groups on user_key but leaves every file
    spanning the FULL event_type_key range), sort each day partition by
    the Morton interleave of both keys. Row groups then cover quad
    blocks of the (user, type) plane, so min/max stats prune lookups on
    EITHER key — the multi-column generalization of BigQuery
    CLUSTER BY, and the layout a 100 TB fact wants when both
    ``user_key = ?`` and ``event_type_key = ?`` scans matter.
    The sort key is pure bit arithmetic (functions/keys.zorder_key),
    dropped before the write — file contents are identical to
    ``write_star`` modulo row order.

    The sort leads with the partition column: ``partitionBy`` makes the
    writer require a sort on date_key, and dropping ``_z`` discards the
    plan's output ordering, so with a ``_z``-only sort the z-clustering
    would survive only through the sorter's (undocumented) stability
    for equal keys. ``sortWithinPartitions('date_key', '_z')`` makes
    the writer-inserted sort a no-op and the clustering contractual."""
    from ..functions.keys import hash_bits, zorder_key

    (
        star.withColumn(
            "_z", zorder_key(hash_bits("user_key"), hash_bits("event_type_key"))
        )
        .repartition("date_key")
        .sortWithinPartitions("date_key", "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("date_key")
        .parquet(path)
    )
