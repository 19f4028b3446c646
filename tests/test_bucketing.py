"""Bucketed co-located join: both sides pre-placed by bucket hash, so
the join plan contains no Exchange — the property that deletes the two
biggest shuffles of a fact-to-fact join at scale."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.sources import bucketed

from .conftest import SF001
from .helpers import plan_nodes, plan_text, session_confs


@pytest.mark.fullsweep
def test_bucketed_join_has_no_exchange(spark, tmp_path):
    events = table(spark, SF001, "events")
    user_totals = events.groupBy("user_id").agg(F.count("*").alias("n"))

    bucketed.write_bucketed(events, "ev_bucketed", "user_id")
    bucketed.write_bucketed(user_totals, "ut_bucketed", "user_id")

    # Disable broadcast so the planner must consider the shuffle join —
    # the situation bucketing exists for (two large sides at scale).
    with session_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = bucketed.bucketed_join(spark, "ev_bucketed", "ut_bucketed", "user_id")
        plan = plan_text(joined)
        assert plan_nodes(plan, "SortMergeJoin") >= 1, plan
        assert plan_nodes(plan, r"\w*Exchange") == 0, plan  # both sides pre-bucketed
        assert joined.count() == events.count()
