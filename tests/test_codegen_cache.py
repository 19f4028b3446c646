"""The session's generated-class cache holds a refresh cycle's working
set: running the same queries again compiles (almost) nothing, instead
of evicting and recompiling every class in Janino as a 100-entry cache
does once a sequence needs more than 100 classes."""

from __future__ import annotations

from healthcare_oltp_to_olap_gcp_spark.api import QUERIES

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


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_sequence(spark) -> int:
    """Janino compiles while the sequence runs once."""
    before = _compiles(spark)
    for name in SEQUENCE:
        QUERIES[name](spark, SF001).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_second_run_of_a_cycle_reuses_generated_classes(spark):
    first = _run_sequence(spark)
    second = _run_sequence(spark)
    # the first run may find classes cached by earlier tests; the second
    # must find nearly all of them (a 100-entry cache recompiles ~170)
    assert second <= max(10, first // 10), (first, second)
