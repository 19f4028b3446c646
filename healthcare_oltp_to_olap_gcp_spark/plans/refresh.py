"""Dependency-ordered model refresh: fact → dims → star.

The reference schedules BigQuery scripts (`build_fact_vitals_15min`,
`build_dim_time_hourly`, `build_fact_vitals_star_hourly` — README
"Schedule Model to Refresh") with the ordering convention fact → dims →
star. Here the whole refresh is one function so the ordering is
structural, not a scheduling convention; each table materializes as
parquet. The dims and the star both read the materialized fact: the
star derives its surrogate keys from the fact's natural keys
(``fact_events_star``) rather than reading the dim tables just written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import star as star_plan


def refresh_model(spark: SparkSession, events: DataFrame, out_dir: str) -> dict[str, str]:
    """Rebuild the full model under ``out_dir``; returns table → path."""
    paths: dict[str, str] = {}
    fact = star_plan.fact_events(events)
    paths["fact_events"] = f"{out_dir}/fact_events"
    fact.write.mode("overwrite").parquet(paths["fact_events"])
    fact = spark.read.parquet(paths["fact_events"])  # dims read the materialized fact

    for name, builder in (
        ("dim_time", star_plan.dim_time),
        ("dim_user", star_plan.dim_user),
        ("dim_event_type", star_plan.dim_event_type),
        ("dim_band", star_plan.dim_band),
        ("dim_source", star_plan.dim_source),
    ):
        paths[name] = f"{out_dir}/{name}"
        builder(fact).write.mode("overwrite").parquet(paths[name])

    paths["fact_events_star"] = f"{out_dir}/fact_events_star"
    star_plan.write_star(star_plan.fact_events_star(fact), paths["fact_events_star"])
    return paths
