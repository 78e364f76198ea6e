"""Spans recorded around calls into the engine's layers, plus Spark job
attribution read back from Spark's own event log.

The tracer wraps public engine functions from the outside (it patches
module attributes for the duration of a run and restores them after), so
the engine itself carries no tracing code.  Before each wrapped call the
tracer sets the Spark local property ``perfbench.span``; every job the
call launches — AQE stage jobs included — inherits it, and the event log
records it in the job's properties.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    trace_id: str


class Tracer:
    """In-memory span recorder.  Spans stay in memory until ``dump``."""

    def __init__(self, trace_id: str, sc=None, clock=time.time):
        self.trace_id = trace_id
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _current(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str):
        return _SpanContext(self, name)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``restore``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._current()
        s = Span(next(t._ids), self.name, t.clock(), None,
                 stack[-1] if stack else None, t.trace_id)
        t.spans.append(s)
        stack.append(s.span_id)
        if t.sc is not None:
            t.sc.setLocalProperty(SPAN_PROPERTY, str(s.span_id))
        self.span = s
        return s

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.span.end = t.clock()
        stack = t._current()
        stack.pop()
        if t.sc is not None:
            t.sc.setLocalProperty(SPAN_PROPERTY, str(stack[-1]) if stack else None)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.span_id, [])]
        out[s.span_id] = (s.end - s.start) - _covered([k for k in kids if k[1] > k[0]])
    return out


def covered_within(intervals, start: float, end: float) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return _covered([c for c in clipped if c[1] > c[0]])


# -- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    job_id: int
    span: int | None
    start: float
    end: float
    stages: list[int]


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, dict]]:
    """Jobs (with the span that launched them) and per-stage task totals
    from every uncompressed event log file under ``log_dir``."""
    files = sorted(
        os.path.join(root, name)
        for root, _dirs, names in os.walk(log_dir)
        for name in names
        if not name.startswith((".", "appstatus"))
    )
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], int(sid) if sid else None,
                        e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0,
                        list(e["Stage IDs"]),
                    )
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_b": 0, "spill_b": 0})
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id), stages


def executor_totals(stages: dict[int, dict]) -> dict[str, float]:
    run = sum(s["run_s"] for s in stages.values())
    cpu = sum(s["cpu_s"] for s in stages.values())
    return {
        "exec.task_busy_core_s": run,
        "exec.task_jvm_cpu_s": cpu,
        "exec.python_wait_frac": (1.0 - cpu / run) if run > 0 else 0.0,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages.values()) / 1e6,
        "exec.spill_mb": sum(s["spill_b"] for s in stages.values()) / 1e6,
        "exec.gc_s": sum(s["gc_s"] for s in stages.values()),
    }
