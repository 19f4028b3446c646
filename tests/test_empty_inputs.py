"""Every registered query must survive EMPTY input tables.

At 100 TB an incremental load, a partition-pruned scan, or a fresh
deployment routinely hands an operator zero rows; a plan that crashes on
an empty frame (e.g. an ML fit, a driver-side collect indexing [0])
is a production outage, not an edge case. This sweep runs the entire
registry against a schema-identical empty mirror of the sf0.001 tables
(the ``empty_dir`` fixture), asserting "no exception" (row counts are
free to be zero).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def test_trained_recall_report_survives_empty_tables(spark, empty_dir):
    """Default-tier sample of the sweep below: the trained recall report
    takes the empty-corpus fit path (a None fit sample, memoized once
    per query scope) in three of its six methods."""
    assert entry.queries()["ann_recall_report_trained"](spark, empty_dir).count() == 6


@pytest.mark.fullsweep
def test_all_queries_survive_empty_tables(spark, empty_dir):
    failures = {}
    for name, fn in entry.queries().items():
        try:
            fn(spark, empty_dir).collect()
        except Exception as exc:  # noqa: BLE001 - we want every failure listed
            failures[name] = str(exc).splitlines()[0][:200]
    assert not failures, f"queries crashed on empty input: {failures}"
