"""Benchmark of the engine's refresh loop, with the dashboard reads
that follow each refresh, and of its data curation reports.

    python3 perfbench/run.py --workload refresh_cycles --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
a scratch directory under ``.perfbench_work/`` that is removed on exit.
Spark runs on ``local[<cpus available>]``. The run sets up (session,
inputs, base model, warm-up), then times whole passes of the workload's
ops until ``--seconds`` of op time and the workload's minimum number of
passes have been measured, then checks the outputs. The last line of stdout is one JSON object:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``op_s.p50``,
  ``op_s.tail``, ``pass_s``);
- ``--trace 1``: Spark's event log is switched on from outside the
  package and each span is tagged with ``setJobGroup``; the per-layer
  metrics come from the log.

The line before it is a human-readable summary that also names the
tail percentile, the sample count, the host control timing and every
timed op in order.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONTROL_ROWS = 20_000_000


def _configure(work: str, trace: bool) -> str:
    """Point every file Spark and Python write into ``work``, before
    the JVM starts; returns the event-log directory."""
    tmp, logs = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, logs):
        os.makedirs(d)
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{logs}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "PYSPARK_SUBMIT_ARGS": shlex.join([*args, "pyspark-shell"]),
        }
    )
    return logs


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _control_s(spark) -> float:
    """A fixed engine-only job; shown beside results, never used to
    normalise them."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.range(0, CONTROL_ROWS, 1, int(os.environ["SPARK_GRAFT_CPUS"])).agg(F.sum(F.hash("id"))).collect()
    return time.perf_counter() - t


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, str]:
    t0 = time.perf_counter()
    logs = _configure(work, trace)
    sys.path.insert(1, ROOT)
    import host
    import spans
    from stats import median, tail
    from workloads import WORKLOADS

    from healthcare_oltp_to_olap_gcp_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[workload](spark, work, seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark.sparkContext if trace else None)
        control = [_control_s(spark)]
        op_s: list[float] = []
        pass_s: list[float] = []
        attempted = failed = 0
        cached = 0
        hwm: dict[int, int] = {}
        while sum(op_s) < seconds or len(pass_s) < wl.min_passes:
            this_pass = 0.0
            for op in wl.pass_ops():
                t = time.perf_counter()
                try:
                    result = op.run(tracer, len(op_s))
                    ok = True
                except Exception:  # a failed op is counted, not fatal
                    print(f"op {op.name} failed:", file=sys.stderr)
                    traceback.print_exc()
                    ok = False
                dt = time.perf_counter() - t
                op_s.append(dt)
                this_pass += dt
                attempted += 1
                failed += not (ok and wl.check_op(op, result))
                cached = max(cached, _cached_bytes(spark))
                host.sample_hwm(hwm)
                if len(control) == 1 and sum(op_s) >= seconds / 2:
                    control.append(_control_s(spark))
            pass_s.append(this_pass)
        control.append(_control_s(spark))
        failed += wl.check()
        host.sample_hwm(hwm)
    finally:
        host.stop_session(spark)

    pct, tail_s = tail(op_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_s.p50": (median(op_s), "s"),
        "op_s.tail": (tail_s, "s"),
        "pass_s": (median(pass_s), "s"),
    }
    peak_rss_mb = sum(hwm.values()) / 1024.0
    summary = (
        f"{workload} seed={seed} trace={int(trace)}: "
        + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items())
        + f" peak_rss_mb={peak_rss_mb:.1f} tail=p{pct:.1f} n_ops={len(op_s)} n_passes={len(pass_s)}"
        + f" host.control_s={median(control):.4f} attempted={attempted} failed={failed}"
        + " op_s=[" + ",".join(f"{v:.2f}" for v in op_s) + "]"
    )
    if trace:
        layers = spans.layer_metrics(tracer.spans, spans.parse_event_log(spans.find_event_log(logs)))
        layers.update(
            {
                "session.cached_bytes_after": float(cached),
                "session.peak_rss_mb": peak_rss_mb,
                "host.control_s": median(control),
                "trace.op_s.p50": median(op_s),
            }
        )
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _ in spans.per_layer_spec()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, summary


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["refresh_cycles", "curation_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, summary = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(summary)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
