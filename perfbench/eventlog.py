"""Spark-runtime layer of the traced run: the event-log fold and the
streaming progress listener.

The traced session writes an uncompressed, non-rolling event log.
:func:`fold` reduces the stages submitted inside the measured window to
the ``spark.*`` per-layer metrics. Task sizes are not in the event log;
Spark's scheduler logs a warning for every stage whose task exceeds
1000 KiB, and :func:`max_task_kb` reads those warnings from the log file
the run's log4j configuration routes them to (0 means no stage crossed
that threshold).
"""

from __future__ import annotations

import glob
import json
import os
import re

MB = 1024.0 * 1024.0


def _events(log_dir: str):
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def fold(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Runtime metrics of the stages submitted in ``[t0, t1]`` (epoch
    seconds)."""
    stages: dict[int, tuple[float, float]] = {}
    tasks = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None and t0 <= sub / 1000.0 <= t1:
                stages[info["Stage ID"]] = (sub / 1000.0, done / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    m = dict.fromkeys((
        "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "fetch_wait_s", "spill_mb"), 0.0)
    n_tasks = 0
    for ev in tasks:
        if ev.get("Stage ID") not in stages:
            continue
        n_tasks += 1
        tm = ev.get("Task Metrics") or {}
        rd = tm.get("Shuffle Read Metrics") or {}
        wr = tm.get("Shuffle Write Metrics") or {}
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                 + rd.get("Local Bytes Read", 0)) / MB
        m["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
        m["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
        m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                          + tm.get("Disk Bytes Spilled", 0)) / MB
    clipped = [(max(a, t0), min(b, t1)) for a, b in stages.values() if b > a]
    m["tasks"] = float(n_tasks)
    m["stages"] = float(len(stages))
    m["driver_only_s"] = max(0.0, (t1 - t0) - _union_s(clipped))
    return m


_TASK_SIZE = re.compile(r"^(\d+) .*task of very large size \((\d+) KiB\)")


def max_task_kb(task_log: str, t0: float, t1: float) -> float:
    best = 0.0
    try:
        with open(task_log, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                hit = _TASK_SIZE.match(line)
                if hit and t0 <= int(hit.group(1)) / 1000.0 <= t1:
                    best = max(best, float(hit.group(2)))
    except OSError:
        pass
    return best


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as
    a dict (name, batchId, timestamp, durationMs, stateOperators, ...)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def batch_phases(events: list[dict]) -> dict[str, list[float]]:
    """Per-micro-batch phase times (seconds) and state sizes of a list
    of progress events."""
    out = {k: [] for k in ("trigger", "add_batch", "commit", "planning",
                           "state_rows", "state_mb")}
    for p in events:
        d = p.get("durationMs") or {}
        out["trigger"].append(d.get("triggerExecution", 0) / 1e3)
        out["add_batch"].append(d.get("addBatch", 0) / 1e3)
        out["commit"].append((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        out["planning"].append(d.get("queryPlanning", 0) / 1e3)
        ops = p.get("stateOperators") or []
        out["state_rows"].append(float(sum(o.get("numRowsTotal", 0) for o in ops)))
        out["state_mb"].append(sum(o.get("memoryUsedBytes", 0) for o in ops) / MB)
    return out
