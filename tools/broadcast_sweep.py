"""Broadcast-threshold sensitivity sweep: re-time representative
join-heavy registry queries under several values of
``spark.sql.autoBroadcastJoinThreshold`` (including -1 = never
broadcast) and report the timing and the join strategies the planner
actually picked.

    python tools/broadcast_sweep.py [sf_dir]

Why this matters at 100 TB: the engine leans on broadcast joins for
every dimension/sketch/rate table (see SCALING.md), but a cluster
deploy tunes one global threshold. The sweep shows (a) which queries
DEGRADE when broadcasting is disabled — i.e. where the explicit
``F.broadcast`` hints the code carries are load-bearing vs merely
confirming the planner's own choice, and (b) that no query silently
depends on an over-large auto-broadcast that a real driver (with many
concurrent queries) couldn't afford. Explicit hints survive the
threshold, so the numbers isolate the AUTO decisions.

Output: one JSON line per (threshold, query) with seconds and the
physical join mix, then a summary table.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402

# Join-heavy shapes across the families: star ETL (the dim_time join),
# multi-dim TPC-H, semi/anti, sketch-rate lookup, ANN composition,
# inverted index.
SWEEP_QUERIES = (
    "weekend_activity",
    "q5_revenue_by_nation",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "mixture_sample_documents",
    "ngram_containment_pairs",
    "hard_negative_mining",
    "docs_perplexity",
)

THRESHOLDS = ("-1", "10KB", "1MB", "10MB")  # 10MB = Spark default


def join_mix(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    mix = []
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        n = len(re.findall(node, plan))
        if n:
            mix.append(f"{node[:-4]}x{n}")
    return ",".join(mix) or "none"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("broadcast-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    results: dict[str, dict[str, float]] = {q: {} for q in SWEEP_QUERIES}
    for thr in THRESHOLDS:
        spark.conf.set(key, thr)
        for name in SWEEP_QUERIES:
            df = QUERIES[name](spark, sf_dir)
            sec = round(bench.noop_seconds(lambda: df), 3)
            results[name][thr] = sec
            print(json.dumps({
                "threshold": thr, "query": name, "sec": sec,
                "joins": join_mix(df),
            }))
            spark.catalog.clearCache()
    spark.conf.set(key, prev)

    print(f"\n{'query':32s} " + " ".join(f"{t:>8s}" for t in THRESHOLDS)
          + "   worst/best")
    for name, row in results.items():
        vals = [row[t] for t in THRESHOLDS]
        ratio = max(vals) / min(vals) if min(vals) > 0 else float("inf")
        print(f"{name:32s} " + " ".join(f"{v:8.3f}" for v in vals)
              + f"   {ratio:8.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
