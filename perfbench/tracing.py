"""Spans around the benchmark's calls into the library, and Spark task
metrics attributed to them.

A span is opened by the benchmark around one call into a layer. While it
is open the benchmark's Spark job group is the span id, so every job the
call launches is tagged with it: job counts come from the status
tracker, and task run time, JVM CPU, shuffle bytes and spill come from
Spark's uncompressed event log, grouped by `spark.jobGroup.id`. Spans
are kept in memory; the event log is parsed once the SparkContext has
stopped and flushed it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# task metrics summed per job group: (output key, path in "Task Metrics")
_TASK_FIELDS = [
    ("task_run_s", ("Executor Run Time",), 1e-3),
    ("jvm_cpu_s", ("Executor CPU Time",), 1e-9),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("spill_bytes", ("Memory Bytes Spilled",), 1),
    ("spill_bytes", ("Disk Bytes Spilled",), 1),
]
METRIC_KEYS = ["tasks", "task_run_s", "jvm_cpu_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes"]


@dataclass
class Span:
    span_id: str
    name: str
    trace_id: str
    parent_id: str | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with `sc` given, also tags Spark jobs per span.

    Job groups do not nest in Spark, so a span sets its own group on
    entry and gives the group back to its parent on exit: a job belongs
    to the innermost open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._n = 0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._open[-1] if self._open else None
        self._n += 1
        sp = Span(span_id=f"pb{self._n:05d}", name=name,
                  trace_id=trace_id or (parent.trace_id if parent else f"t{self._n}"),
                  parent_id=parent.span_id if parent else None,
                  start=time.monotonic())
        self._open.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            if self.sc is not None:
                sp.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(sp.span_id))
            self._open.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def to_json(self) -> list[dict]:
        return [{"span_id": s.span_id, "name": s.name, "trace_id": s.trace_id,
                 "parent_id": s.parent_id, "start": s.start, "end": s.end,
                 "job_ids": s.jobs} for s in sorted(self.spans, key=lambda s: s.start)]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every (plain or rolling) uncompressed event log
    under `log_dir`, in file order. A truncated last line is skipped."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f) and not f.endswith(".inprogress.tmp"))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def group_metrics(events: list[dict]) -> dict[str, dict]:
    """Job group id -> summed task metrics of the stages its jobs ran.

    A stage's group is read from its StageSubmitted properties (the job
    group of the thread that submitted it), falling back to the group of
    the first job that listed it."""
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerStageSubmitted":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                stage_group[ev["Stage Info"]["Stage ID"]] = grp
    out: dict[str, dict] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        grp = stage_group.get(ev.get("Stage ID"))
        if grp is None:
            continue
        acc = out.setdefault(grp, dict.fromkeys(METRIC_KEYS, 0))
        acc["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        for key, path, scale in _TASK_FIELDS:
            v = tm
            for p in path:
                v = v.get(p, 0) if isinstance(v, dict) else 0
            acc[key] += (v or 0) * scale
    return out


def span_metrics(span: Span, spans: list[Span], groups: dict[str, dict]) -> dict:
    """Task metrics of a span and all its descendants, plus their job count."""
    ids, todo = set(), [span.span_id]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(s.span_id for s in spans if s.parent_id == sid)
    acc = dict.fromkeys(METRIC_KEYS, 0)
    acc["jobs"] = 0
    for s in spans:
        if s.span_id in ids:
            acc["jobs"] += len(s.jobs)
            for k, v in groups.get(s.span_id, {}).items():
                acc[k] += v
    return acc
