"""Spans around the benchmark's calls into the engine, and the Spark
event-log totals attributed to them.

A span records its name, id, parent, start and end; spans stay in memory
and are written out when the run ends.  When tracing is on, each span
also sets a Spark job group named after its id, so every job the wrapped
call starts carries the span in its properties and the event log's task
metrics and SQL accumulables can be summed per span afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    id: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; given a SparkContext, also tags Spark jobs per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"s{len(self.spans)}", parent.id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span_id: str | None) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_end = 0.0, s.start
        for c in sorted(self.children(s.id), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return s.dur - covered

    def dump(self, path: str) -> None:
        """Write the spans out, one JSON object per line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "id": s.id,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end}) + "\n")


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

#: task-metric fields summed per span (event-log JSON names)
_TASK_FIELDS = {
    "cpu_ns": ("Executor CPU Time",),
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "spill_mem": ("Memory Bytes Spilled",),
    "spill_disk": ("Disk Bytes Spilled",),
}

#: SQL metrics summed per span: name -> (key, scale); the three timings
#: are Spark "timing" metrics, reported in milliseconds
_SQL_METRICS = {
    "sort time": ("sort_s", 1e-3),
    "time in aggregation build": ("agg_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1.0),
    "data returned from Python workers": ("python_recv_bytes", 1.0),
}


@dataclass
class SpanTotals:
    jobs: int = 0
    tasks: int = 0
    values: dict = field(default_factory=lambda: defaultdict(float))
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))


def _walk_plan(node: dict, acc: dict) -> None:
    for m in node.get("metrics", []):
        acc[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for c in node.get("children", []):
        _walk_plan(c, acc)


def read_event_log(log_dir: str) -> dict[str, SpanTotals]:
    """Sum task metrics and SQL accumulables per job group (= span id)."""
    # Spark writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    acc_info: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, SpanTotals] = defaultdict(SpanTotals)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(ev["sparkPlanInfo"], acc_info)
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group].jobs += 1
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    _add_task(out[group], ev, acc_info)
    return out


def _add_task(tot: SpanTotals, ev: dict, acc_info: dict) -> None:
    tot.tasks += 1
    tm = ev.get("Task Metrics") or {}
    v = tot.values
    for key, path in _TASK_FIELDS.items():
        x = tm
        for p in path:
            x = x.get(p, 0) if isinstance(x, dict) else 0
        v[key] += x or 0
    tot.stage_task_ms[ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        info = acc_info.get(a.get("ID"))
        name = a.get("Name") or (info[1] if info else None)
        try:
            upd = float(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
        if name in _SQL_METRICS:
            key, scale = _SQL_METRICS[name]
            v[key] += upd * scale
        elif (name == "number of output rows" and info
              and info[0].startswith("Scan")):
            v["scan_rows"] += upd


def merge(totals: list[SpanTotals]) -> SpanTotals:
    out = SpanTotals()
    for t in totals:
        out.jobs += t.jobs
        out.tasks += t.tasks
        for k, x in t.values.items():
            out.values[k] += x
        for sid, ms in t.stage_task_ms.items():
            out.stage_task_ms[sid].extend(ms)
    return out


def task_skew(t: SpanTotals) -> float:
    """max / median task run time of the stage with the most task time."""
    if not t.stage_task_ms:
        return 1.0
    ms = max(t.stage_task_ms.values(), key=sum)
    med = statistics.median(ms)
    return max(ms) / med if med > 0 else 1.0
