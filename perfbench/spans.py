"""Spans around layer calls, and per-span counters from the Spark event log.

A span records name, start, end, parent and run id, and sets the Spark job
group to its name for its duration, so every job it submits carries the
span's name in the event log. Spans stay in memory until the run ends.

The event log is read with ``BENCH/occupancy.py``'s file finder, and task
busy time is counted as it counts it (task finish minus launch), so the
two tools agree on busy core-seconds.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from BENCH.occupancy import newest

MB = 1024 * 1024
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self.run_id}
            )
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def wall(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == name
        )
        covered, reach = 0.0, None
        for a, b in kids:
            if reach is not None and a < reach:
                a = reach
            if b > a:
                covered += b - a
                reach = b
        return self.wall(name) - covered


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count and per-task counters. Jobs submitted
    outside any span fall under the group ``""``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list] = defaultdict(list)
    for log in newest(log_dir):
        with open(log) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    ti = ev.get("Task Info", {})
                    launch, finish = ti.get("Launch Time"), ti.get("Finish Time")
                    if group is None or not (launch and finish and finish > launch):
                        continue
                    tm = ev.get("Task Metrics") or {}
                    python = sum(
                        float(a.get("Update") or 0)
                        for a in ti.get("Accumulables", [])
                        if a.get("Name") in (PY_SENT, PY_RECEIVED)
                    )
                    tasks[group].append(
                        {
                            "ms": finish - launch,
                            "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": tm.get("Disk Bytes Spilled", 0),
                            "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "python": python,
                        }
                    )
    return {
        g: {"spark_jobs": jobs[g], "tasks": tasks.get(g, [])}
        for g in set(jobs) | set(tasks)
    }


def span_counters(tracer: Tracer, groups: dict[str, dict], cores: int) -> dict[str, dict]:
    """The counters of each span's own jobs (children's jobs are theirs)."""
    out = {}
    for s in tracer.spans:
        name = s["name"]
        g = groups.get(name, {"spark_jobs": 0, "tasks": []})
        ts = g["tasks"]
        busy = sum(t["ms"] for t in ts) / 1e3
        self_s = tracer.self_time(name)
        med = statistics.median(t["ms"] for t in ts) if ts else 0
        out[name] = {
            "wall_s": tracer.wall(name),
            "self_s": self_s,
            "busy_core_s": busy,
            "tasks": len(ts),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "task_skew": max(t["ms"] for t in ts) / max(med, 1) if ts else 0.0,
            "slot_occupancy": busy / (cores * self_s) if self_s > 0 else 0.0,
            "spark_jobs": g["spark_jobs"],
            "input_mb": sum(t["input"] for t in ts) / MB,
            "arrow_mb": sum(t["python"] for t in ts) / MB,
        }
    return out


def total_busy_core_s(log_dir: str) -> float:
    """Busy core-seconds over every task in the log, as occupancy.py sums it."""
    return sum(
        t["ms"] for g in read_event_log(log_dir).values() for t in g["tasks"]
    ) / 1e3
