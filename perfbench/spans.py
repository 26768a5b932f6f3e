"""In-memory spans, timing wrappers and Spark event-log folding.

Nothing here touches the engine's code: wrappers replace module
attributes of ``energi_data_pipeline_spark`` for the life of one
benchmark process, and the Spark-side numbers come from Spark's own
event log and streaming progress.

Interval arithmetic (self time, union of stage intervals, attribution
of jobs to benchmark operations) is kept in plain functions so it can
be unit-tested on synthetic spans.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None      # benchmark operation id


def union_length(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals intersected with ``[lo, hi]``; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.end - s.start
            - union_length(clip(children.get(i, []), s.start, s.end))
            for i, s in enumerate(spans)]


class Tracer:
    """Collects spans in memory.  Each thread keeps its own stack; a
    span opened on a thread with an empty stack (a streaming callback
    or a pool worker) is parented to the current benchmark op."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: int | None = None
        self.op_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)
        return timed

    def totals(self) -> dict[str, float]:
        """Summed duration per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end:
                out[s.name] = out.get(s.name, 0.0) + s.end - s.start
        return out

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


def patch_everywhere(package: str, module: str, attr: str, replacement):
    """Point every loaded ``package.*`` module global that is bound to
    ``module.attr`` at ``replacement`` (covers ``from x import f``
    bindings made at import time).  Returns an undo callable."""
    original = getattr(sys.modules[module], attr)
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package
                               or mod_name.startswith(package + ".")):
            continue
        for key, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, key, replacement)
                undo.append((mod, key))

    def restore():
        for mod, key in undo:
            setattr(mod, key, original)
    return restore


# ---------------------------------------------------------------- events

@dataclass
class StageRecord:
    stage_id: int
    job_time: float  # submission time of the job that ran it (s)
    start: float
    end: float
    tasks: int = 0
    failed_tasks: int = 0
    empty_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def read_event_log(path: str) -> tuple[list[float], list[StageRecord]]:
    """Fold an uncompressed Spark event log into job submission times
    and one record per completed stage attempt."""
    stage_job: dict[int, float] = {}
    jobs: list[float] = []
    stages: dict[tuple[int, int], StageRecord] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000
                jobs.append(t)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, t)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if "Submission Time" not in info:
                    continue
                stages[(sid, info.get("Stage Attempt ID", 0))] = \
                    StageRecord(sid, stage_job.get(sid, 0.0),
                                info["Submission Time"] / 1000,
                                info["Completion Time"] / 1000)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        rec = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
        if rec is None:
            continue
        rec.tasks += 1
        if ev.get("Task End Reason", {}).get("Reason") != "Success":
            rec.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics", {})
        inp = m.get("Input Metrics", {})
        if inp.get("Records Read", 0) + rd.get("Total Records Read", 0) == 0:
            rec.empty_tasks += 1
        rec.run_s += m.get("Executor Run Time", 0) / 1e3
        rec.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        rec.gc_s += m.get("JVM GC Time", 0) / 1e3
        rec.shuffle_read += (rd.get("Remote Bytes Read", 0)
                             + rd.get("Local Bytes Read", 0))
        rec.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        rec.spill += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
        rec.input_bytes += inp.get("Bytes Read", 0)
        rec.output_bytes += m.get("Output Metrics", {}).get(
            "Bytes Written", 0)
    return jobs, list(stages.values())


def spark_layer(ops: list[tuple[float, float]], jobs: list[float],
                stages: list[StageRecord], cores: int) -> dict[str, float]:
    """Engine metrics for the work submitted inside the benchmark's op
    intervals.  A stage belongs to an op when its job was submitted
    inside the op; ``stage_busy_s`` is the union of those stages'
    intervals clipped to the op, ``driver_only_s`` the rest of the op
    wall."""
    def in_op(t):
        return any(lo <= t <= hi for lo, hi in ops)

    mine = [s for s in stages if in_op(s.job_time)]
    wall = sum(hi - lo for lo, hi in ops)
    busy = sum(union_length(clip([(s.start, s.end) for s in mine], lo, hi))
               for lo, hi in ops)
    tasks = sum(s.tasks for s in mine)
    cpu = sum(s.cpu_s for s in mine)
    return {
        "spark.jobs": sum(1 for t in jobs if in_op(t)),
        "spark.stages": len(mine),
        "spark.tasks": tasks,
        "spark.task_failures": sum(s.failed_tasks for s in mine),
        "spark.empty_task_ratio": (sum(s.empty_tasks for s in mine) / tasks
                                   if tasks else 0.0),
        "spark.executor_run_s": sum(s.run_s for s in mine),
        "spark.executor_cpu_s": cpu,
        "spark.gc_s": sum(s.gc_s for s in mine),
        "spark.cpu_busy_ratio": cpu / (wall * cores) if wall else 0.0,
        "spark.stage_busy_s": busy,
        "spark.driver_only_s": wall - busy,
        "spark.shuffle_read_bytes": sum(s.shuffle_read for s in mine),
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in mine),
        "spark.spill_bytes": sum(s.spill for s in mine),
        "spark.input_bytes": sum(s.input_bytes for s in mine),
        "spark.output_bytes": sum(s.output_bytes for s in mine),
    }
