"""Windowed replication with overlap + dependency-ordered model refresh
(reference: Dataflow 10-min cadence w/ 20-min lookback + BigQuery
scheduled rebuilds)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.functions.timewindow import epoch_micros
from healthcare_oltp_to_olap_gcp_spark.plans import star
from healthcare_oltp_to_olap_gcp_spark.plans.refresh import refresh_model
from healthcare_oltp_to_olap_gcp_spark.sources import replicate

from .conftest import SF001
from .helpers import jobs_run, plan_text


def test_overlapping_windows_dedup_to_exact_source(spark, tmp_path):
    events = table(spark, SF001, "events")
    sink = str(tmp_path / "raw")
    start = datetime(2024, 1, 1, 0, 0, 0)
    # Six 10-minute-cadence runs, each looking back 20 minutes — every
    # event in the hour is copied, most twice (deliberate overlap).
    for i in range(1, 7):
        replicate.replicate_window(events, sink, start + timedelta(minutes=10 * i))

    raw = replicate.read_raw(spark, sink)
    window_events = events.filter(
        (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-01 01:00:00").cast("timestamp"))
    )
    assert raw.count() > window_events.count()  # overlap really duplicated
    fact = star.fact_events(raw)
    assert fact.count() == window_events.count()  # dedup restores exactness
    assert fact.select("event_id").distinct().count() == fact.count()


def test_replication_idempotent(spark, tmp_path):
    events = table(spark, SF001, "events")
    sink = str(tmp_path / "raw2")
    # sf0.001 events are sparse (~1.4/hour) — use a day-long lookback so
    # the window is guaranteed non-empty.
    end = datetime(2024, 1, 3, 0, 0, 0)
    replicate.replicate_window(events, sink, end, lookback_minutes=2880)
    once = star.fact_events(replicate.read_raw(spark, sink)).count()
    replicate.replicate_window(events, sink, end, lookback_minutes=2880)
    twice = star.fact_events(replicate.read_raw(spark, sink)).count()
    assert once > 0
    assert once == twice


@pytest.mark.parametrize(
    "end",
    [datetime(2024, 1, 3), datetime(2024, 1, 3, 13, 37, 0, 5)],
    ids=["window_across_midnight", "window_inside_a_day"],
)
def test_extract_window_is_half_open_at_both_edges(spark, end):
    """[end - lookback, end): the first microsecond of the window is
    copied, the one before it is not; the last one before ``end`` is
    copied, ``end`` itself is not."""
    stop = epoch_micros(end)
    start = stop - 20 * 60_000_000
    edges = [start - 1, start, stop - 1, stop]
    rows = spark.createDataFrame(list(enumerate(edges)), "event_id long, us long").select(
        "event_id", F.timestamp_micros("us").alias("ts")
    )
    got = replicate.extract_window(rows, end, lookback_minutes=20).collect()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_extract_window_reads_a_naive_end_in_the_session_zone(spark):
    """A naive ``window_end`` is the instant Spark's cast of that
    wall-clock time names in the session time zone, as ``ts`` is."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        walls = ["13:16:59.999999", "13:17:00", "13:36:59.999999", "13:37:00"]
        rows = spark.createDataFrame(
            [(i, f"2024-01-03 {w}") for i, w in enumerate(walls)], "event_id long, t string"
        ).select("event_id", F.col("t").cast("timestamp").alias("ts"))
        end = datetime(2024, 1, 3, 13, 37)
        got = replicate.extract_window(rows, end, lookback_minutes=20).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert sorted(r.event_id for r in got) == [1, 2]


def test_read_raw_uses_the_saved_schema(spark, tmp_path):
    """The landing zone is read with the schema its writer saved: no
    schema-inference job, and the schema inference would give."""
    sink = str(tmp_path / "raw_schema")
    events = table(spark, SF001, "events")
    replicate.replicate_window(events, sink, datetime(2024, 1, 3), lookback_minutes=2880)
    assert jobs_run(spark, "read_raw_known_schema", lambda: replicate.read_raw(spark, sink)) == 0
    inferred = spark.read.parquet(sink).drop("load_date")
    assert replicate.read_raw(spark, sink).schema == inferred.schema


def test_refresh_model_builds_consistent_star(spark, tmp_path):
    events = table(spark, SF001, "events")
    paths = refresh_model(spark, events, str(tmp_path / "model"))
    fact = spark.read.parquet(paths["fact_events"])
    star_df = spark.read.parquet(paths["fact_events_star"])
    # reference sanity checks: counts match, no missing dims
    assert fact.count() == star_df.count()
    assert star.sanity_missing_dims(fact).collect()[0][0] == 0
    # star is day-partitioned on disk (BigQuery PARTITION BY analog)
    import os

    parts = [p for p in os.listdir(paths["fact_events_star"]) if p.startswith("date_key=")]
    assert len(parts) >= 25  # ~30 days of events
    # partition pruning reaches the scan
    plan = plan_text(star_df.filter(F.col("date_key") == "2024-01-05"))
    assert "PartitionFilters: [isnotnull(date_key" in plan


def test_write_star_incremental_rewrites_only_touched_partitions(spark, tmp_path):
    """Dynamic-partition-overwrite: a delta touching one date_key must
    replace exactly that partition and leave every other byte alone."""
    import os

    from pyspark.sql import functions as F

    from healthcare_oltp_to_olap_gcp_spark.catalog import table
    from healthcare_oltp_to_olap_gcp_spark.plans import star as star_plan

    from .conftest import SF001
    from .helpers import normalize

    events = table(spark, SF001, "events")
    full = star_plan.fact_events_star(star_plan.fact_events(events))
    path = str(tmp_path / "star_inc")
    star_plan.write_star(full, path)

    target = full.agg(F.max("date_key")).collect()[0][0]
    others_before = {
        d: sorted(os.listdir(f"{path}/date_key={d}"))
        for d in os.listdir(path)
        if d.startswith("date_key=") and d != f"date_key={target}"
        for d in [d.split("=", 1)[1]]
    }
    assert others_before, "need >1 partition for the test to mean anything"

    delta = full.filter(F.col("date_key") == F.lit(target)).withColumn(
        "measure_value", F.col("measure_value") * 2
    )
    conf_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    star_plan.write_star_incremental(delta, path)

    got = spark.read.parquet(path)
    want = full.filter(F.col("date_key") != F.lit(target)).unionByName(delta)
    assert normalize(got.toPandas()) == normalize(want.toPandas())
    # untouched partitions keep their exact files
    for d, files in others_before.items():
        assert sorted(os.listdir(f"{path}/date_key={d}")) == files
    # dynamic overwrite is a per-write option: the session conf is untouched
    assert conf_before.upper() == "STATIC"
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == conf_before
