"""Windowed batch replication with deliberate overlap.

Re-expresses the reference's Dataflow cadence (every 10 minutes, copy
the last 20 minutes — scheduler/dataflow_flex_body.json query:
``WHERE effective_ts >= NOW() - INTERVAL '10 minutes'`` with the
initial load using a 20-minute lookback): late/failed runs are covered
by the next run's overlap, and the downstream dedup fact
(plans/star.fact_events) makes re-delivery idempotent.

At scale the source read is predicate-pushed and the sink append is
partitioned by day so each incremental run touches only current
partitions. The window is applied in two parts (functions/timewindow):
the day range around it reaches the scan, and the exact half-open
``[start, end)`` is a comparison whose bounds are not written into
generated code, so a run compiles no new classes when its window
moves within the day. Each append saves the landing zone's schema as
``_schema.json`` (sources/known_schema), so ``read_raw`` runs no
schema-inference job.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timewindow import epoch_micros, ts_window
from .known_schema import read_parquet, save_schema


def extract_window(
    events: DataFrame, window_end: datetime, lookback_minutes: int = 20
) -> DataFrame:
    """The windowed slice a single replication run copies:
    ``[window_end - lookback, window_end)``, a naive ``window_end`` read
    in the session time zone, as the ``ts`` column's reads are."""
    end = epoch_micros(window_end, events.sparkSession.conf.get("spark.sql.session.timeZone"))
    start = end - int(lookback_minutes) * 60_000_000
    return events.filter(ts_window(F.col("ts"), start, end))


def replicate_window(
    events: DataFrame,
    sink_path: str,
    window_end: datetime,
    lookback_minutes: int = 20,
) -> None:
    """One replication run: append the window to the raw landing zone,
    day-partitioned. Overlapping windows write duplicate event_ids on
    purpose — the dedup fact resolves them (idempotency is downstream,
    exactly like the reference)."""
    rows = extract_window(events, window_end, lookback_minutes).withColumn(
        "load_date", F.to_date("ts")
    )
    rows.write.mode("append").partitionBy("load_date").parquet(sink_path)
    save_schema(rows, sink_path)


def read_raw(spark: SparkSession, sink_path: str) -> DataFrame:
    return read_parquet(spark, sink_path).drop("load_date")
