"""Spans kept in memory, plus Spark's own counters for the traced job.

A span is ``(name, start, end, parent, trace_id)``.  Spans are recorded
by the benchmark around its calls into the program's modules and are
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "trace_id": self.trace_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def self_time(self, idx: int) -> float:
        """Duration minus what direct children cover (children of one
        span run one after another, so their durations add)."""
        kids = sum(self.duration(i) for i, s in enumerate(self.spans) if s["parent"] == idx)
        return self.duration(idx) - kids

    def self_by_name(self, root: int) -> dict:
        """Summed self time per span name over ``root``'s subtree."""
        inside = {root}
        out: dict = {}
        for i, s in enumerate(self.spans):
            if i in inside or s["parent"] in inside:
                inside.add(i)
                out[s["name"]] = out.get(s["name"], 0.0) + self.self_time(i)
        return out

    def find(self, name: str) -> int:
        return next(i for i, s in enumerate(self.spans) if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def job_counts(spark, group: str) -> dict:
    """Exact job, stage and task counts of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = 0, 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


def event_log_metrics(log_dir: str, group: str) -> dict:
    """Task-level figures for one job group from an uncompressed event
    log: task time quantiles, shuffle writes, spills, GC and failures."""
    stage_ids: set = set()
    durations, failed = [], 0
    shuffle_b = spill_b = gc_ms = 0
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if f.startswith("events_")]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    if (e.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stage_ids.update(e["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
                    info = e["Task Info"]
                    durations.append(info["Finish Time"] - info["Launch Time"])
                    failed += bool(info.get("Failed"))
                    m = e.get("Task Metrics") or {}
                    shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    gc_ms += m.get("JVM GC Time", 0)
    return {
        "spark.task_p50_ms": statistics.median(durations) if durations else 0.0,
        "spark.task_max_ms": max(durations, default=0.0),
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.spill_mb": spill_b / 2**20,
        "spark.gc_s": gc_ms / 1000,
        "spark.failed_tasks": failed,
    }
