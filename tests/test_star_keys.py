"""The star derives its surrogate keys by hashing the fact's natural
keys. That must equal the reference's shape, the fact joined to each
dimension on its natural key, on rows with NULL keys and on replicated
overlap as well."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.plans import star

from .helpers import normalize

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


@pytest.fixture(scope="module")
def fact(spark):
    t = datetime(2024, 1, 3, 8)
    t2 = datetime(2024, 1, 6, 9)  # a weekend day
    rows = [
        (1, t, 10, "click", 20.0, '{"k": 1}'),
        (2, t, 10, "view", 120.0, '{"k": 2}'),
        (3, t2, 11, "click", 300.0, '{"k": 7}'),
        (4, t2, None, "click", 40.0, '{"k": 3}'),  # NULL user_id
        (5, t, 12, None, 90.0, '{"k": 4}'),  # NULL event_type
        (6, t, 12, "view", 60.0, '{"x": 1}'),  # no "k": NULL src
        (10, t, 12, "view", 60.0, None),  # NULL props: NULL src
        (7, t2, 13, "error", None, '{"k": 5}'),  # NULL value: band "high"
        # replicated overlap: the same event delivered twice, the newer
        # copy (and its keys) wins
        (8, t, 14, "view", 10.0, '{"k": 1}'),
        (8, t2, 15, "click", 10.0, '{"k": 2}'),
        (9, t, None, "view", 10.0, '{"k": 1}'),
        (9, t, None, "view", 10.0, '{"k": 1}'),
    ]
    return star.fact_events(spark.createDataFrame(rows, EVENTS_SCHEMA))


def _star_join(fact, how: str):
    """The reference star: fact ⋈ the four dimensions on natural keys."""
    return (
        fact.join(star.dim_user(fact), "user_id", how)
        .join(star.dim_event_type(fact), "event_type", how)
        .join(star.dim_band(fact), "band", how)
        .join(star.dim_source(fact), F.col("src") == F.col("source"), how)
    )


def test_derived_keys_equal_the_dimension_join(fact):
    want = _star_join(fact, "inner").select(
        "user_key",
        "event_type_key",
        "band_key",
        "source_key",
        F.to_date("ts").alias("date_key"),
        "event_id",
        F.col("value").alias("measure_value"),
        "ts",
    )
    got = star.fact_events_star(fact)
    assert got.columns == want.columns
    rows = normalize(got.toPandas())
    assert len(rows) == 5  # events 1, 2, 3, 7 and the newest copy of 8
    assert rows == normalize(want.toPandas())


def test_missing_dims_equal_the_left_join_null_count(fact):
    joined = _star_join(fact, "left")
    want = joined.filter(
        F.col("user_key").isNull()
        | F.col("event_type_key").isNull()
        | F.col("band_key").isNull()
        | F.col("source_key").isNull()
    ).count()
    got = star.sanity_missing_dims(fact).first()["rows_missing_any_dimension"]
    assert want == 5  # events 4, 5, 6, 9 and 10
    assert got == want


def test_weekend_activity_counts_only_resolved_rows(fact):
    rows = {r.is_weekend: r.n_events for r in star.weekend_activity(fact).collect()}
    assert rows == {False: 2, True: 3}
