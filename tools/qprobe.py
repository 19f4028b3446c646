"""Per-query optimization probe (round 9): time a named query with
bench.py's measurement loop (warm-up, noop sink, min of ``bench.RUNS``
runs, cleaner-settle between runs) and/or dump its
``explain('formatted')`` to a file.

Usage:
  python tools/qprobe.py time  q1 q2 ...      # print per-query seconds
  python tools/qprobe.py plan  OUTDIR SUFFIX q1 q2 ...
                                              # write OUTDIR/<q>_SUFFIX.txt
  python tools/qprobe.py both  OUTDIR SUFFIX q1 q2 ...

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 data set, as in bench.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402


def main() -> None:
    mode = sys.argv[1]
    if mode in ("plan", "both"):
        outdir, suffix = sys.argv[2], sys.argv[3]
        names = sys.argv[4:]
        os.makedirs(outdir, exist_ok=True)
    else:
        outdir, suffix = "", ""
        names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qprobe")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)

    for name in names:
        if mode in ("plan", "both"):
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            bench.settle(spark)
        if mode in ("time", "both"):
            spark.sparkContext.setJobDescription(f"qprobe:{name}")
            best = bench.best_seconds(spark, lambda: QUERIES[name](spark, sf_dir))
            print(f"{name}\t{best:.3f}", flush=True)
            spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
