"""Core-scaling probe at sf1 (VERDICT r9 item 8): every top-10 query's
8-core/32-core ratio at sf0.1 is ≤1.1 — at that SF the heavy queries
are bound by per-stage scheduling, not parallel work, so core-scaling
claims were unmeasured. This tool measures the SAME queries against an
sf1-sized amplification (scale_probe.amplify, the id-shifted 10x union
— synthetic amplification for performance only, never correctness) at
two core counts, so SCALING.md can carry a real parallel-speedup
number.

Usage:
  python tools/core_probe.py prepare DIR q1 q2 ...   # amplify once
  SPARK_GRAFT_CPUS=32 python tools/core_probe.py run DIR q1 q2 ...
  SPARK_GRAFT_CPUS=8  python tools/core_probe.py run DIR q1 q2 ...

`run` prints one `name\\tseconds` line per query, timed with
bench.py's measurement loop (warm-up, noop sink, min of ``bench.RUNS``
runs, cleaner-settle between runs). The session honors
$SPARK_GRAFT_CPUS through the ordinary get_spark factory, so the probe
exercises exactly the session the driver's bench builds.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402

import scale_probe  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = 10


def main() -> None:
    mode, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    unknown = [q for q in names if q not in scale_probe.PROBES]
    if unknown:
        raise SystemExit(f"no PROBES amplification spec: {unknown}")
    spark = get_spark(f"core-probe-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "prepare":
        needed: dict[str, list[str]] = {}
        for name in names:
            needed.update(scale_probe.PROBES[name])
        scale_probe.amplify(spark, out_dir, needed, FACTOR)
        print(f"amplified {sorted(needed)} x{FACTOR} -> {out_dir}")
        spark.stop()
        return
    assert mode == "run"
    bench.warm_up(spark, SF_DIR)
    for name in names:
        spark.sparkContext.setJobDescription(f"core-probe:{name}")
        best = bench.best_seconds(spark, lambda: QUERIES[name](spark, out_dir))
        print(f"{name}\t{best:.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
