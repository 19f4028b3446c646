"""Driver-side plan-build cost per registry query: the py4j round trips
and wall seconds each builder spends in Python before Spark plans or
runs anything.

Usage:
  python tools/build_cost.py SF_DIR [--top N] [query ...]

Builds every registry query (or the named ones) once over the data set
in SF_DIR, releasing caches between builds (``bench.settle``), and
prints ``query<TAB>round_trips<TAB>seconds`` for the top N by round
trips, then the totals over all built queries.

The round-trip count is the deterministic counter: only the building
thread's commands count, and two sweeps of the registry gave the same
count for every query, whatever the host's load. Build seconds vary.
Streamed and loop-driven builders (staged drains, convergence loops,
fitted samples) execute Spark jobs while they build, so their seconds
include running those jobs; only the round-trip count is a pure build
cost.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", help="default: the whole registry")
    ap.add_argument("--top", type=int, default=20)
    args = ap.parse_intermixed_args()
    spark = get_spark("build-cost")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, args.sf_dir)
    costs = {}
    for name in args.queries or QUERIES:
        costs[name] = bench.build_cost(lambda: QUERIES[name](spark, args.sf_dir))
        bench.settle(spark)
    for name, (sent, seconds) in sorted(costs.items(), key=lambda kv: -kv[1][0])[: args.top]:
        print(f"{name}\t{sent}\t{seconds:.3f}")
    print(
        f"total ({len(costs)} queries)\t{sum(c[0] for c in costs.values())}"
        f"\t{sum(c[1] for c in costs.values()):.3f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
