"""Per-query optimization probe (round 9): time a named query with
bench.py's measurement loop (warm-up, noop sink, min of ``bench.RUNS``
runs, cleaner-settle between runs), dump its ``explain('formatted')``
to a file, or count the Spark stages it runs.

Usage:
  python tools/qprobe.py time  q1 q2 ...      # print per-query seconds
  python tools/qprobe.py plan  OUTDIR SUFFIX q1 q2 ...
                                              # write OUTDIR/<q>_SUFFIX.txt
  python tools/qprobe.py both  OUTDIR SUFFIX q1 q2 ...
  python tools/qprobe.py stages q1 q2 ...     # stages, jobs, compiles, ...

``stages`` writes Spark's event log (uncompressed, non-rolling) to a
temporary directory, runs each query twice through the noop sink with
its jobs tagged by ``setJobGroup``, and prints, for the second run,
the completed stages, the Spark jobs, the classes Janino compiled
(``CodegenMetrics``), task CPU seconds, shuffle bytes written and wall
seconds (plan build included). The log is parsed with perfbench's
``spans.parse_event_log``. Stages, jobs and compiles are counts a busy
host does not move.

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 data set, as in bench.py).
"""

from __future__ import annotations

import os
import shlex
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))

import bench  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.api import QUERIES  # noqa: E402
from healthcare_oltp_to_olap_gcp_spark.session import get_spark  # noqa: E402

STAGE_RUNS = 2


def _event_log_dir() -> str:
    """Switch Spark's event log on before the JVM starts; returns its
    directory."""
    logs = tempfile.mkdtemp(prefix="qprobe_eventlog_")
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{logs}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    return logs


def _print_stages(logs: str, runs: dict[str, tuple[float, int, int]]) -> None:
    import spans

    stages = spans.parse_event_log(spans.find_event_log(logs))
    print("query\tstages\tjobs\tcompiles\ttask_cpu_s\tshuffle_write_bytes\twall_s")
    for group, (wall, jobs, compiles) in runs.items():
        mine = [s for s in stages if s.group == group]
        name = group.rsplit("#", 1)[0]
        cpu = sum(s.cpu_ns for s in mine) / 1e9
        shuffled = sum(s.shuffle_write for s in mine)
        print(f"{name}\t{len(mine)}\t{jobs}\t{compiles}\t{cpu:.2f}\t{shuffled}\t{wall:.2f}", flush=True)


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
    logs = _event_log_dir() if mode == "stages" else None
    spark = get_spark("qprobe")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)

    runs: dict[str, tuple[float, int, int]] = {}
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
        if mode == "stages":
            sc = spark.sparkContext
            for run in range(1, STAGE_RUNS + 1):
                group = f"{name}#{run}"
                before = bench.janino_compiles(spark)
                sc.setJobGroup(group, group)
                wall = bench.noop_seconds(lambda: QUERIES[name](spark, sf_dir))
                sc.setLocalProperty("spark.jobGroup.id", None)
                compiles = bench.janino_compiles(spark) - before
                bench.settle(spark)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            runs[group] = (wall, jobs, compiles)
    spark.stop()
    if logs is not None:
        try:
            _print_stages(logs, runs)
        finally:
            shutil.rmtree(logs, ignore_errors=True)


if __name__ == "__main__":
    main()
