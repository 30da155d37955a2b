"""Tracing for the benchmark's traced mode.

Two sources of per-layer numbers, both gathered from outside the program:

- **Spans.** ``Tracer.wrap`` replaces a layer function, at the module
  attribute its callers look it up through, with a wrapper that records
  a span (name, start, end, parent). Spans live in memory and go into
  the run's record once, at the end of the run. A layer's self time is
  its span time minus the part covered by its child spans.
- **Spark's event log.** The traced run enables ``spark.eventLog`` in the
  run's work directory; ``window_counters`` sums jobs, stages, task
  metrics and the Python-worker SQL metrics over a time window.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Spans are recorded only while
    ``enabled`` is true, so one process can alternate traced and
    untraced passes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._main_stack = self._stack()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # A span opened on a worker thread (pipeline.collect runs its
        # sources on a pool) belongs to whatever the main thread has open.
        parents = stack or self._main_stack
        with self._lock:
            sp = Span(len(self.spans), name, parents[-1] if parents else None, time.time())
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def within(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.start and s.end <= t1]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the time its direct children
    cover (children on other threads may overlap, so their union is
    subtracted, clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def count_by_name(spans: list[Span]) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0) + 1
    return out


# ---------------------------------------------------------------------------
# Spark event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``."""
    events: list[dict] = []
    for root, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_exchanges(info: dict) -> int:
    name = info.get("nodeName", "")
    own = name.endswith("Exchange") and not name.startswith("Reused")
    return int(own) + sum(_plan_exchanges(c) for c in info.get("children", []))


def window_counters(events: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Counters of the Spark work started in wall-clock window [t0, t1]
    (seconds). The benchmark is a closed loop with one op at a time, so
    everything submitted in a pass's window belongs to that pass."""
    lo, hi = t0 * 1000, t1 * 1000
    c = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "exchanges": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "python_bytes_sent": 0,
        "python_bytes_received": 0,
    }
    plans: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                c["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if lo <= info.get("Submission Time", -1) <= hi:
                c["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not lo <= info["Launch Time"] <= hi:
                continue
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == _PY_SENT:
                    c["python_bytes_sent"] += int(acc.get("Update", 0))
                elif acc.get("Name") == _PY_RECV:
                    c["python_bytes_received"] += int(acc.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if lo <= ev["time"] <= hi:
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in plans:
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    c["exchanges"] = sum(_plan_exchanges(p) for p in plans.values())
    return c
