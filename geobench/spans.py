"""Spans recorded by the benchmark around its calls into the engine, and the
Spark task counters joined to them through the event log.

A span is ``{id, name, parent, run_id, group, start, end}``.  Each span
sets its own Spark job group (``sc.setJobGroup``), so every job the span
starts carries the span's group id in the event log; the counters of a
span are the sums over the tasks of those jobs.  Spans stay in memory and
are written out once, when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a no-op."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "group": f"{self.run_id}.{len(self.spans)}",
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "spill_bytes": 0, "shuffle_write_bytes": 0,
        "input_records": 0}


def group_counters(event_dir: str) -> dict:
    """Job group -> summed task counters, read from Spark's JSON event log.

    Tasks are attributed through their stage to the first job that lists
    the stage; a stage reused (skipped) by a later job is not counted
    twice, and ``stages`` counts only stages that ran tasks."""
    stage_group: dict = {}
    out: dict = {}
    ran_stages: set = set()
    for path in sorted(glob.glob(f"{event_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    c = out.setdefault(group, dict(ZERO))
                    c["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = out[group]
                    stage = (ev["Stage ID"], ev.get("Stage Attempt ID"))
                    if stage not in ran_stages:
                        ran_stages.add(stage)
                        c["stages"] += 1
                    c["tasks"] += 1
                    c["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                                 ).get("Shuffle Bytes Written", 0)
                    c["input_records"] += (m.get("Input Metrics") or {}
                                           ).get("Records Read", 0)
    return out


def span_counters(spans: list, groups: dict, span_id: int) -> dict:
    """Counters of one span, its descendants included."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    total = dict(ZERO)
    todo = [span_id]
    while todo:
        sid = todo.pop()
        todo.extend(kids.get(sid, []))
        for k, v in groups.get(spans[sid]["group"], {}).items():
            total[k] += v
    return total
