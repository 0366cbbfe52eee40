"""Spark event-log reader: per-operation Spark work from time windows.

Spark writes one JSON event per line. Spark 4 rolls the log into an
``eventlog_v2_<app>/events_<n>_<app>`` directory by default; older
layouts write a single ``<app>`` file. Both are read, uncompressed only
(the benchmark sets ``spark.eventLog.compress=false``).

Operations run one after another, so each Spark job and stage is
attributed to the operation whose ``[start_ms, end_ms]`` window holds its
submission time, and each task to its stage. Work submitted outside every
window (session start-up, checks) is attributed to nothing.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields
from pathlib import Path

_EVENTS = {
    "SparkListenerJobStart",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}


@dataclass
class SparkWork:
    """Spark work attributed to one operation window."""

    jobs: int = 0
    stages: int = 0
    scan_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wait_s: float = 0.0

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


@dataclass
class _Stage:
    submitted_ms: int
    input_records: int = 0


def log_files(log_dir: str | Path) -> list[Path]:
    """Every event file under ``log_dir``, rolled or single-file."""
    out = []
    for p in sorted(Path(log_dir).rglob("*")):
        if p.is_file() and not p.name.startswith(("appstatus_", ".")):
            out.append(p)
    return out


def read_events(log_dir: str | Path) -> list[tuple[int, dict]]:
    """(file index, event) for the event types the attribution uses.
    Stage ids restart with every application, so the file index keeps
    the stages of different sessions apart."""
    out = []
    for i, path in enumerate(log_files(log_dir)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                # cheap prefilter: most lines are SQL/accumulator updates
                if '"SparkListener' not in line[:60]:
                    continue
                ev = json.loads(line)
                if ev["Event"] in _EVENTS:
                    out.append((i, ev))
    return out


def _window_of(ms: int, windows: list[tuple[int, int]]) -> int | None:
    for k, (lo, hi) in enumerate(windows):
        if lo <= ms <= hi:
            return k
    return None


def attribute(
    events: list[tuple[int, dict]], windows: list[tuple[int, int]]
) -> list[SparkWork]:
    """One :class:`SparkWork` per window (epoch milliseconds, inclusive)."""
    work = [SparkWork() for _ in windows]
    stages: dict[tuple, tuple[int, _Stage]] = {}
    for app, ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            k = _window_of(ev["Submission Time"], windows)
            if k is not None:
                work[k].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sub = info.get("Submission Time")
            k = None if sub is None else _window_of(sub, windows)
            if k is not None:
                key = (app, info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = (k, _Stage(sub))
                work[k].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (app, ev["Stage ID"], ev["Stage Attempt ID"])
            if key not in stages:
                continue
            k, st = stages[key]
            _add_task(work[k], st, ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (app, info["Stage ID"], info["Stage Attempt ID"])
            if key in stages:
                k, st = stages[key]
                if st.input_records > 0:
                    work[k].scan_stages += 1
    return work


def _add_task(w: SparkWork, st: _Stage, ev: dict) -> None:
    info = ev["Task Info"]
    w.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        w.failed_tasks += 1
    w.task_wait_s += max(0, info["Launch Time"] - st.submitted_ms) / 1000.0
    m = ev.get("Task Metrics")
    if not m:
        return
    w.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    w.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    w.gc_s += m.get("JVM GC Time", 0) / 1000.0
    inp = m.get("Input Metrics", {})
    w.input_bytes += inp.get("Bytes Read", 0)
    w.input_records += inp.get("Records Read", 0)
    st.input_records += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics", {})
    w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    w.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
