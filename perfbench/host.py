"""Process accounting for the benchmark: peak memory of the whole
process tree (driver Python, the JVM it launched, the Python workers the
JVM forks) and an orderly stop that waits for every one of them."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # comm (field 2) may hold spaces; ppid follows the closing paren
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            parent = _ppid(int(name))
            if parent is not None:
                children.setdefault(parent, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def sample_hwm(seen: dict[int, int]) -> None:
    """Record the VmHWM of this process and every live descendant.
    Python workers can exit before the run ends, so the runner samples
    after every op and sums the last value seen per process."""
    me = os.getpid()
    for p in [me, *descendants(me)]:
        seen[p] = max(seen.get(p, 0), _vm_hwm_kb(p))


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait until every process
    this one started has exited, killing what outlives the timeout."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if _wait_gone(started, timeout_s):
        return
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if not _wait_gone(started, 5.0):
        raise RuntimeError(f"processes still running after SIGKILL: {started}")


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True
