"""Spark event-log reader: assigns jobs, stages and tasks to benchmark ops
and sums their runtime metrics.

The log is written with ``spark.eventLog.compress=false``. Spark 4 writes
either one file per application or a rolling directory
``eventlog_v2_<app>/events_<n>_<app>``; both are read, rolling parts in
index order.

Ops run one at a time, but the transfer engine's worker threads do not
inherit job groups or descriptions, so a job belongs to the op whose
wall-clock interval contains the job's submission time. A stage belongs to
its job's op and a task to its stage's op.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

from spans import union_seconds

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "stage_busy_s",
    "driver_s",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_skew",
)


def log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``, rolling parts in order."""
    out: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            out.extend(os.path.join(path, p) for p in parts)
        elif not name.startswith("."):
            out.append(path)
    for path in out:
        if path.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {path}: set spark.eventLog.compress=false")
    return out


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def op_profiles(events, ops: list[tuple[float, float]]) -> list[dict[str, float]]:
    """One metrics dict per op. ``ops`` holds each op's (start, end) in
    epoch seconds, the clock the event log's millisecond stamps use."""

    def op_of(ms: float) -> int | None:
        t = ms / 1000.0
        for i, (lo, hi) in enumerate(ops):
            if lo <= t <= hi:
                return i
        return None

    stage_op: dict[int, int] = {}
    prof = [defaultdict(float) for _ in ops]
    stage_iv: list[list[tuple[float, float]]] = [[] for _ in ops]
    task_times: list[list[float]] = [[] for _ in ops]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = op_of(ev["Submission Time"])
            if i is None:
                continue
            prof[i]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = i
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            i = stage_op.get(info["Stage ID"])
            if i is None or "Submission Time" not in info:
                continue
            prof[i]["stages"] += 1
            stage_iv[i].append(
                (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
            )
        elif kind == "SparkListenerTaskEnd":
            i = stage_op.get(ev["Stage ID"])
            if i is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            p = prof[i]
            p["tasks"] += 1
            task_times[i].append(max(0.0, info["Finish Time"] - info["Launch Time"]))
            p["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            p["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            p["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            p["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            p["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    out = []
    for i, (lo, hi) in enumerate(ops):
        p = {k: float(prof[i].get(k, 0.0)) for k in SPARK_METRICS}
        busy = union_seconds(stage_iv[i])
        p["stage_busy_s"] = busy
        p["driver_s"] = (hi - lo) - busy
        tt = task_times[i]
        p["task_skew"] = max(tt) / max(1.0, statistics.median(tt)) if tt else 0.0
        out.append(p)
    return out


def summarize(profiles: list[dict[str, float]]) -> dict[str, float]:
    """Per-op means, except ``task_skew`` which is the median over ops."""
    if not profiles:
        return {k: 0.0 for k in SPARK_METRICS}
    n = len(profiles)
    out = {k: sum(p[k] for p in profiles) / n for k in SPARK_METRICS}
    out["task_skew"] = statistics.median(p["task_skew"] for p in profiles)
    return out
