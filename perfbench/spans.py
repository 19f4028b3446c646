"""Spans around the benchmark's calls into the engine, and their
attribution from Spark's event log.

Each span is tagged on the Spark side with ``setJobGroup`` so every job,
stage and task the call causes carries the span id in the event log.
Spans live in memory and are matched against the log after the session
stops. Nothing here reaches into the engine: the log is switched on
through ``PYSPARK_SUBMIT_ARGS`` before the JVM starts.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import median

# Layers named after the engine's modules, in the order they are reported.
MODULES = (
    "sources.replicate",
    "sources.factstore",
    "plans.star",
    "plans.monitoring",
    "plans.analytics",
    "catalog",
    "operators.dedup",
    "operators.similarity",
    "operators.retrieval",
    "operators.textquality",
)
SPAN_METRICS = (
    ("wall_s", "s", "lower"),
    ("stages", "count", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("sched_gap_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
)
EXTRA_METRICS = (
    ("sources.replicate.output_bytes", "bytes", "lower"),
    ("sources.factstore.output_bytes", "bytes", "lower"),
    ("sources.factstore.write_amp", "ratio", "lower"),
    ("catalog.input_bytes", "bytes", "lower"),
    ("catalog.input_rows", "count", "lower"),
    ("session.cached_bytes_after", "bytes", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("session.failed_tasks", "count", "lower"),
    ("host.control_s", "s", "lower"),
    ("trace.op_s.p50", "s", "lower"),
)


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    spec = [(f"{m}.{k}", u, b) for m in MODULES for k, u, b in SPAN_METRICS]
    return spec + list(EXTRA_METRICS)


@dataclass
class Span:
    sid: str
    module: str
    op: int
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; with ``sc`` set, also tags Spark jobs per span.
    Spans do not nest."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, module: str, op: int):
        s = Span(f"{module}#{len(self.spans)}", module, op, time.time())
        self.spans.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.sid, s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class StageRun:
    group: str | None
    submit_ms: int = 0
    done_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    failed_tasks: int = 0


def parse_event_log(path: str) -> list[StageRun]:
    """One record per completed stage attempt, with its job group and
    the task metrics summed over its tasks (failed tasks included)."""
    stages: dict[tuple[int, int], StageRun] = {}
    done: list[tuple[int, int]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stages[key] = StageRun(group)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is None:
                    continue
                if ev["Task End Reason"]["Reason"] != "Success":
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.spill += m.get("Disk Bytes Spilled", 0)
                st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                if key in stages:
                    stages[key].submit_ms = info["Submission Time"]
                    stages[key].done_ms = info["Completion Time"]
                    done.append(key)
    return [stages[k] for k in done]


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(spans: list[Span], stages: list[StageRun]) -> dict[str, dict[str, float]]:
    """Per span id: wall time, stage count, task CPU, the part of
    the span no stage of it was running, and the byte counters."""
    by_group: dict[str, list[StageRun]] = {}
    for st in stages:
        if st.group is not None:
            by_group.setdefault(st.group, []).append(st)
    out = {}
    for s in spans:
        mine = by_group.get(s.sid, [])
        running = _covered_s([(x.submit_ms / 1e3, x.done_ms / 1e3) for x in mine], s.start, s.end)
        out[s.sid] = {
            "wall_s": s.end - s.start,
            "stages": float(len(mine)),
            "task_cpu_s": sum(x.cpu_ns for x in mine) / 1e9,
            "sched_gap_s": (s.end - s.start) - running,
            "shuffle_write_bytes": float(sum(x.shuffle_write for x in mine)),
            "spill_bytes": float(sum(x.spill for x in mine)),
            "input_bytes": float(sum(x.input_bytes for x in mine)),
            "input_rows": float(sum(x.input_rows for x in mine)),
            "output_bytes": float(sum(x.output_bytes for x in mine)),
            "failed_tasks": float(sum(x.failed_tasks for x in mine)),
        }
    return out


def layer_metrics(spans: list[Span], stages: list[StageRun]) -> dict[str, float]:
    """Per module and metric: the counters summed over the module's
    spans within one op, then the median over the ops that called it.
    Modules the workload never calls read 0."""
    per_span = span_metrics(spans, stages)
    per_op: dict[str, dict[int, dict[str, float]]] = {}
    for s in spans:
        acc = per_op.setdefault(s.module, {}).setdefault(s.op, {})
        for k, v in per_span[s.sid].items():
            acc[k] = acc.get(k, 0.0) + v

    def med(module: str, key: str) -> float:
        return median([m[key] for m in per_op.get(module, {}).values()])

    out = {f"{m}.{k}": med(m, k) for m in MODULES for k, _, _ in SPAN_METRICS}
    rep = med("sources.replicate", "output_bytes")
    out["sources.replicate.output_bytes"] = rep
    out["sources.factstore.output_bytes"] = med("sources.factstore", "output_bytes")
    out["sources.factstore.write_amp"] = out["sources.factstore.output_bytes"] / rep if rep else 0.0
    out["catalog.input_bytes"] = med("catalog", "input_bytes")
    out["catalog.input_rows"] = med("catalog", "input_rows")
    out["session.failed_tasks"] = float(sum(x.failed_tasks for x in stages))
    return out


def find_event_log(log_dir: str) -> str:
    """The single finished application log the session wrote."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])
