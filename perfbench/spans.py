"""Spans around calls into the engine's layers, and the attribution of Spark's
event-log counters to them.

A span records (id, name, start, end, parent, op). Spans live in memory and
are written out once, at the end of the traced run. Entering a span tags
the calling thread's Spark jobs with a job group ``pb|<op>|<span id>``, so
each job in Spark's event log maps back to the innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass

# The Spark counters kept per layer (event-log task metrics).
COUNTERS = ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
            "python_bytes_in", "python_bytes_out")
DRIVER_OTHER = "driver_other"
GROUP_PREFIX = "pb|"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """Collects spans; ``sc`` is the SparkContext whose job group is set on
    entry (None in unit tests)."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.op}|{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.clock(), 0.0,
                 parent.id if parent else None, op or (parent.op if parent else name))
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children of one parent run sequentially (one driver thread), so their
    union is the sum of their clipped durations."""
    covered: dict[int, float] = {s.id: 0.0 for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            covered[p.id] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return {s.id: (s.end - s.start) - covered[s.id] for s in spans}


def op_breakdown(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per op (a root span): layer -> self seconds. The root's own self time
    is ``driver_other``: wall time inside the op that no layer span covers
    (driver code, result collection, JIT). By construction the values sum
    to the root's duration."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        layers = out.setdefault(s.op, {})
        name = DRIVER_OTHER if s.parent is None else s.name
        layers[name] = layers.get(name, 0.0) + st[s.id]
    return out


def nesting_errors(spans: list[Span]) -> list[str]:
    """Spans that break the assumptions ``self_times`` rests on: a child
    must lie inside its parent, and siblings must not overlap."""
    by_id = {s.id: s for s in spans}
    errs = []
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
        p = by_id.get(s.parent)
        if p is not None and (s.start < p.start or s.end > p.end):
            errs.append(f"span {s.id} ({s.name}) extends outside its parent {p.id}")
    for kids in children.values():
        kids = sorted(kids, key=lambda k: k.start)
        for a, b in zip(kids, kids[1:]):
            if b.start < a.end:
                errs.append(f"spans {a.id} ({a.name}) and {b.id} ({b.name}) overlap")
    return errs


def attribution_errors(breakdown: dict[str, dict[str, float]], walls: dict[str, float],
                       tol_s: float = 0.01) -> list[str]:
    """Ops whose layer self times (``driver_other`` included) do not add up,
    within ``tol_s``, to the wall time measured for the op outside the
    tracer."""
    errs = []
    for op, wall in walls.items():
        total = sum(breakdown.get(op, {}).values())
        if abs(total - wall) > tol_s:
            errs.append(f"{op}: layer self times sum to {total:.4f} s, "
                        f"the op took {wall:.4f} s")
    return errs


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir`` (the traced session
    writes one uncompressed, unrolled file)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _acc(task_info: dict, name: str) -> int:
    total = 0
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name and a.get("Update") is not None:
            total += int(a["Update"])
    return total


def job_counters(events: list[dict]) -> dict[str, dict[str, float]]:
    """Job group -> summed counters of its jobs' tasks. Jobs without a
    group land under ''. A stage is charged to the first job that lists it
    (a later job only lists it as skipped)."""
    group_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, {k: 0 for k in COUNTERS})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group_of_job[e["Job ID"]] = g
            bucket(g)["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                job_of_stage.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = job_of_stage.get(e["Stage ID"])
            b = bucket(group_of_job.get(job, ""))
            m = e.get("Task Metrics") or {}
            b["tasks"] += 1
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            info = e.get("Task Info") or {}
            b["python_bytes_in"] += _acc(info, "data sent to Python workers")
            b["python_bytes_out"] += _acc(info, "data returned from Python workers")
    return out


def layer_counters(spans: list[Span], groups: dict[str, dict[str, float]]
                   ) -> dict[str, dict[str, dict[str, float]]]:
    """Per op: layer -> Spark counters of the jobs its spans tagged. Jobs
    tagged by a root span go to ``driver_other``."""
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, dict[str, float]]] = {}
    for g, counters in groups.items():
        if not g.startswith(GROUP_PREFIX):
            continue
        op, sid = g[len(GROUP_PREFIX):].rsplit("|", 1)
        s = by_id.get(int(sid))
        if s is None:
            continue
        layer = DRIVER_OTHER if s.parent is None else s.name
        acc = out.setdefault(op, {}).setdefault(layer, {k: 0 for k in COUNTERS})
        for k, v in counters.items():
            acc[k] += v
    return out
