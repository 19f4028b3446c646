"""Plan construction stays cheap on the driver: building a query is a
few hundred py4j round trips, not thousands.

PySpark 4's DataFrame call-site capture adds ~10 round trips to every
F.*/Column call; the session turns it off, and the SimHash signature is
built from SQL expressions instead of ~640 Column calls."""

from __future__ import annotations

import pyspark.errors.utils as pyspark_errors

import bench
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES

from .conftest import SF001

# Building simhash_dup_pairs at sf0.001 takes 693 round trips; with
# call-site capture on it took 8,983, with the per-bit Column form of
# the signature (capture off) 2,533.
SIMHASH_BUILD_BUDGET = 1000


def test_session_does_not_capture_python_call_sites(spark):
    # PySpark caches the flag per process at its first wrapped call;
    # read it again from this session.
    pyspark_errors._enable_debugging_cache = None
    assert pyspark_errors.is_debugging_enabled() is False


def test_simhash_build_stays_within_round_trip_budget(spark):
    QUERIES["simhash_dup_pairs"](spark, SF001)  # first build: imports, schema reads
    sent, _ = bench.build_cost(lambda: QUERIES["simhash_dup_pairs"](spark, SF001))
    assert sent <= SIMHASH_BUILD_BUDGET, sent
