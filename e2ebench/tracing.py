"""Spans around the benchmark's calls into the library, and the Spark
event-log join that turns them into per-layer counters.

A span is (name, layer, start, end, parent). A call span also tags its
Spark jobs with ``setJobGroup("<layer>:<op>#<n>")``; after the session
stops, the event log's ``SparkListenerJobStart`` records map each stage
to its group and every ``SparkListenerTaskEnd`` adds its metrics to that
group, so each call gets its own jobs, tasks and bytes.

With tracing off (the end-to-end runs) the tracer keeps only the
monotonic timings the metrics need: no job groups, no event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

IDLE_GROUP = "bench:idle"


class Span:
    __slots__ = ("name", "layer", "group", "start", "end", "parent", "sid")

    def __init__(self, sid, name, layer, group, start, parent):
        self.sid, self.name, self.layer = sid, name, layer
        self.group, self.start, self.end, self.parent = group, start, None, parent

    @property
    def dur(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "group": self.group, "start": self.start, "end": self.end,
                "parent": self.parent}


class Tracer:
    """Spans in memory; job groups only when ``enabled``."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._calls: dict[str, int] = {}

    @contextmanager
    def span(self, layer: str, op: str):
        """Time one call into ``layer``; with tracing on, its Spark jobs
        get a job group of their own."""
        group = None
        if self.enabled:
            n = self._calls.get(f"{layer}:{op}", 0)
            self._calls[f"{layer}:{op}"] = n + 1
            group = f"{layer}:{op}#{n}"
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), op, layer, group, time.monotonic(),
                 parent.sid if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        if group and self.sc is not None:
            self.sc.setJobGroup(group, group)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if group and self.sc is not None:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                self.sc.setJobGroup(outer or IDLE_GROUP, outer or IDLE_GROUP)

    def durations(self, layer: str, op: str) -> list[float]:
        return [s.dur for s in self.spans if s.layer == layer and s.name == op]

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans
        cover (children never overlap: one client thread)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(s.sid, 0.0)
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.record() for s in self.spans], f)


def _event_files(event_dir: str) -> list[str]:
    """Every event-log file under ``event_dir``: Spark 4's rolling
    ``eventlog_v2_*/events_*`` layout or a single uncompressed file."""
    out = []
    for dirpath, _, files in os.walk(event_dir):
        for name in sorted(files):
            if name.startswith("appstatus") or name.endswith(".crc"):
                continue
            out.append(os.path.join(dirpath, name))
    return out


def group_counters(event_dir: str) -> dict[str, dict]:
    """Job group -> {jobs, tasks, task_ms, input_bytes, output_bytes,
    shuffle_write_bytes, spill_bytes}, from the event log's JSON lines."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group):
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_ms": 0, "input_bytes": 0,
            "output_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        })

    for path in _event_files(event_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or IDLE_GROUP
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), IDLE_GROUP)
                    b = bucket(group)
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    b["task_ms"] += m.get("Executor Run Time", 0)
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    b["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return out


def per_call(counters: dict[str, dict], tracer: Tracer, layer: str, op: str) -> list[dict]:
    """Counters of every call of ``layer:op`` in call order; a call that
    ran no job of its own counts as zeros."""
    zero = {"jobs": 0, "tasks": 0, "task_ms": 0, "input_bytes": 0,
            "output_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    return [counters.get(s.group, zero) for s in tracer.spans
            if s.layer == layer and s.name == op and s.group]


def median_of(calls: list[dict], key: str) -> float:
    return statistics.median(c[key] for c in calls) if calls else 0
