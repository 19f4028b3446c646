"""The session's generated-class cache holds a refresh cycle's working
set: running the same queries again compiles (almost) nothing, instead
of evicting and recompiling every class in Janino as a 100-entry cache
does once a sequence needs more than 100 classes."""

from __future__ import annotations

from pyspark.sql import functions as F

from bench import janino_compiles
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES
from healthcare_oltp_to_olap_gcp_spark.plans import monitoring

from .conftest import SF001

# bm25_wand_topk alone generates ~107 classes; with the star and the
# monitoring views the sequence needs ~160.
SEQUENCE = (
    "bm25_wand_topk",
    "fact_events_star",
    "mon_executions",
    "mon_last_status",
    "mon_daily_summary",
    "mon_7d_summary",
    "mon_errors",
)


def _run_sequence(spark) -> int:
    """Janino compiles while the sequence runs once."""
    before = janino_compiles(spark)
    for name in SEQUENCE:
        QUERIES[name](spark, SF001).write.format("noop").mode("overwrite").save()
    return janino_compiles(spark) - before


def test_second_run_of_a_cycle_reuses_generated_classes(spark):
    first = _run_sequence(spark)
    second = _run_sequence(spark)
    # the first run may find classes cached by earlier tests; the second
    # must find nearly all of them (a 100-entry cache recompiles ~170)
    assert second <= max(10, first // 10), (first, second)


def _events_until(spark, path: str, minutes: int):
    """Events one a minute from 2024-01-30 00:00 for ``minutes`` minutes,
    written to ``path`` and read back: the newest event, and so the
    monitoring bound, moves with ``minutes`` within one day."""
    spark.range(minutes).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(1_706_572_800_000_000) + F.col("id") * 60_000_000).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.when(F.col("id") % 5 == 0, "error").otherwise("view").alias("event_type"),
        F.col("id").cast("double").alias("value"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_monitoring_bound_moving_within_a_day_compiles_nothing(spark, tmp_path):
    """The exact window bound is not written into generated code: the
    views over a frame whose newest event is later on the same day
    reuse every class compiled for the earlier frame."""
    earlier = _events_until(spark, str(tmp_path / "earlier"), 50)
    later = _events_until(spark, str(tmp_path / "later"), 100)
    monitoring.executions(earlier).write.format("noop").mode("overwrite").save()
    before = janino_compiles(spark)
    monitoring.executions(later).write.format("noop").mode("overwrite").save()
    assert janino_compiles(spark) - before == 0
