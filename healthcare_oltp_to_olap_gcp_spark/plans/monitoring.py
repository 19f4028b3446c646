"""Monitoring rollups, re-expressing /root/reference/monitoring/*.sql.

The reference monitors scheduler executions (job_name, http status,
success flag) over a 7-day window. The analog here treats
``events.event_type`` as the job name and ``event_type <> 'error'`` as
the success flag; the window is the 7 days up to the newest event so
results are deterministic on the frozen test data.

Scale notes: the window bound is fixed per source frame. The first
view built over a frame collects its ``max(ts)`` (one small aggregate
job) and every later view over the same frame object reuses it, so the
bound is a literal. It is applied in two parts (functions/timewindow):
the scan pushes ``ts >=`` the midnight before ``max(ts) - 7 days`` down
(``PushedFilters``) and can skip row groups outside the window, and
the exact ``ts >= max(ts) - 7 days`` is a comparison whose bound is not
written into generated code, so a refresh whose newest event falls on
the same day as the last one compiles no new classes. A file-based
frame already fixes its file listing when it is built, so a frame's
bound and its files describe the same data; a refresh builds a new
frame over the new data, which gets its own bound. The rollups are
partial-agg groupBys on low-cardinality keys.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rank import top_k
from ..functions.timewindow import DAY_MICROS, ts_window

WINDOW_MICROS = 7 * DAY_MICROS


# Epoch-micros max(ts) per source frame, ``None`` for an empty one. Weak
# keys: a bound lives exactly as long as its frame, and a new frame
# (another corpus, a later refresh) is never served an old bound.
_MAX_TS: weakref.WeakKeyDictionary[DataFrame, int | None] = weakref.WeakKeyDictionary()


def _max_ts_micros(events: DataFrame) -> int | None:
    if events not in _MAX_TS:
        _MAX_TS[events] = events.agg(F.max(F.unix_micros("ts"))).first()[0]
    return _MAX_TS[events]


def executions(events: DataFrame) -> DataFrame:
    """Base view, ref monitoring/scheduler_executions_results_vw.sql:
    windowed slice + success flag."""
    newest = _max_ts_micros(events)
    # an empty frame has no max(ts) and keeps no row
    keep = F.lit(False) if newest is None else ts_window(F.col("ts"), newest - WINDOW_MICROS)
    return (
        events.filter(keep)
        .select(
            "ts",
            F.col("event_type").alias("job_name"),
            F.col("value").alias("status_value"),
            (F.col("event_type") != "error").alias("is_success"),
            "user_id",
            "event_id",
        )
    )


def last_status(events: DataFrame) -> DataFrame:
    """ref monitoring/scheduler_executions_last_status_vw.sql:
    ROW_NUMBER()=1 per job, newest first."""
    return (
        top_k(
            executions(events),
            ["job_name"],
            (F.col("ts").desc(), F.col("event_id").desc()),
            1,
        )
        .select(
            F.col("ts").alias("last_event_ts"),
            "job_name",
            F.col("status_value").alias("last_status_value"),
            F.col("is_success").alias("last_is_success"),
        )
    )


def daily_summary(events: DataFrame) -> DataFrame:
    """ref monitoring/scheduler_executions_daily_summary_vw.sql."""
    base = executions(events)
    return base.groupBy(
        F.to_date("ts").alias("event_date"), F.col("job_name")
    ).agg(
        F.count("*").alias("total_runs"),
        F.sum(F.when(F.col("is_success"), 1).otherwise(0)).alias("success_runs"),
        F.sum(F.when(~F.col("is_success"), 1).otherwise(0)).alias("failed_runs"),
        F.round(
            F.sum(F.when(F.col("is_success"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("success_rate"),
    )


def summary_7d(events: DataFrame) -> DataFrame:
    """ref monitoring/scheduler_executions_7d_summary_vw.sql."""
    base = executions(events)
    return base.groupBy("job_name").agg(
        F.count("*").alias("runs_7d"),
        F.sum(F.when(F.col("is_success"), 1).otherwise(0)).alias("success_7d"),
        F.round(
            F.sum(F.when(F.col("is_success"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("success_rate_7d"),
    )


def errors(events: DataFrame) -> DataFrame:
    """ref monitoring/scheduler_executions_errors_vw.sql: failures only."""
    return executions(events).filter(~F.col("is_success")).select(
        "ts", "job_name", "status_value", "user_id", "event_id"
    )


# The reference ships these as SQL views a dashboard queries by name
# (/root/reference/monitoring/*.sql → Looker Studio). Mirror that
# surface: registering them makes `spark.sql("SELECT * FROM
# scheduler_executions_last_status_vw")` work verbatim.
VIEW_BUILDERS = {
    "scheduler_executions_results_vw": executions,
    "scheduler_executions_last_status_vw": last_status,
    "scheduler_executions_daily_summary_vw": daily_summary,
    "scheduler_executions_7d_summary_vw": summary_7d,
    "scheduler_executions_errors_vw": errors,
}


def register_monitoring_views(events: DataFrame) -> list[str]:
    """Register every monitoring rollup as a temp view under its
    reference name; returns the registered names. Temp views are
    lazy — each dashboard query re-plans over ``events``, like the
    reference's BigQuery views, with the window bound fixed for that
    frame (see the module's scale notes): after a refresh, register the
    views again over the new frame."""
    for name, build in VIEW_BUILDERS.items():
        build(events).createOrReplaceTempView(name)
    return list(VIEW_BUILDERS)
