"""Measurement helpers shared by the workloads: spans, streaming
progress, and scheduler counts and task metrics from the event log.

Spans are kept in memory and written once, when the run ends. Layer
self time is a span's duration minus the part of it its child spans
cover.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return percentile(values, 50)


class Tracer:
    """Records (name, start, end, parent, run id) spans around calls into
    the program. Disabled tracers cost one attribute check per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: duration minus the time
        covered by direct children (children never overlap: spans nest
        on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)


def make_progress_listener():
    """A StreamingQueryListener that keeps EVERY progress event as a
    dict. ``query.recentProgress`` keeps only the last 100
    (``spark.sql.streaming.numRecentProgressUpdates``), which a run of a
    few hundred triggers overflows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            rec = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def for_query(self, query_id: str) -> list[dict]:
            with self._lock:
                return [p for p in self.progress if p["id"] == query_id]

    return ProgressListener()


def trigger_metrics(progress: list[dict]) -> dict[str, float]:
    """p50/p95 per trigger phase over the triggers that read data, plus
    state-store figures from the last of them."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {"trigger.count": float(len(data))}
    phases = {
        "exec_ms": ("triggerExecution",),
        "add_batch_ms": ("addBatch",),
        "planning_ms": ("queryPlanning",),
        "log_ms": ("walCommit", "commitOffsets"),
        "source_ms": ("latestOffset", "getBatch"),
    }
    for name, keys in phases.items():
        vals = [sum(float(p["durationMs"].get(k, 0)) for k in keys) for p in data] or [0.0]
        out[f"trigger.{name}_p50"] = percentile(vals, 50)
        out[f"trigger.{name}_p95"] = percentile(vals, 95)
    commits = [float(op.get("commitTimeMs", 0)) for p in data for op in p.get("stateOperators", [])] or [0.0]
    last_ops = data[-1].get("stateOperators", []) if data else []
    out["state.commit_ms_p50"] = percentile(commits, 50)
    out["state.rows_total"] = float(sum(op.get("numRowsTotal", 0) for op in last_ops))
    out["state.memory_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for op in last_ops))
    return out


_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def event_log_metrics(log_dir: str, bucket) -> dict[str, dict[str, float]]:
    """Scheduler counts and task metrics from the Spark event log,
    summed per bucket. ``bucket(job_group, epoch_ms)`` names the bucket
    a job, stage or task belongs to, or returns None to skip it; the
    job group is None outside any group. Read after ``spark.stop()``,
    which flushes the log."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_LOG_KEYS, 0.0))
    stage_group: dict[tuple[int, int], str | None] = {}
    # Spark writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if (b := bucket(gid, ev.get("Submission Time", 0))) is not None:
                        out[b]["scheduler.jobs"] += 1
                elif '"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    info = ev["Stage Info"]
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = gid
                    if (b := bucket(gid, info.get("Submission Time", 0))) is not None:
                        out[b]["scheduler.stages"] += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    ti = ev.get("Task Info") or {}
                    gid = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    b = bucket(gid, ti.get("Finish Time", 0))
                    if b is None:
                        continue
                    sums = out[b]
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sums["scheduler.tasks"] += 1
                    sums["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    sums["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sums["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sums["executor.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    sums["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sums["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in ti.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (_PY_SENT, _PY_RETURNED):
                            key = "python.bytes_sent" if name == _PY_SENT else "python.bytes_returned"
                            sums[key] += float(acc.get("Update") or 0)
    return dict(out)


EVENT_LOG_KEYS = [
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.spill_bytes",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "python.bytes_sent",
    "python.bytes_returned",
]


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (VmHWM in
    /proc/<pid>/status)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
