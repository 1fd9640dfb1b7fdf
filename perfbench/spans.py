"""Timing and tracing around the benchmark's calls into the engine.

``Tracer.span(name, layer)`` is a context manager around one public
engine call. With tracing off it only measures wall time, which the
end-to-end metrics are built from. With tracing on it also tags the
call's Spark jobs with a job group of its own and, when the call
returns, reads ``statusTracker()`` to count the jobs, stages and tasks
that group ran, plus the jobs that finished in the interval without any
group (jobs started from engine worker threads, which do not inherit
the caller's group). Spans are kept in memory and written out by
:func:`write_trace` when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    unattributed_jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Opens spans; records them only when ``enabled``."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled and sc is not None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op = None

    @property
    def _stack(self) -> list[Span]:
        # per thread: a span opened in a callback thread (foreachBatch)
        # nests under the span passed as ``parent``, not another thread's
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def op(self, op_id: int | None) -> None:
        """Tag the spans that follow with one operation id."""
        self._op = op_id

    def span(self, name: str, layer: str, parent: Span | None = None, **attrs) -> _SpanCtx:
        return _SpanCtx(self, name, layer, attrs, parent)

    # ---------------------------------------------------- Spark counters

    def _group(self, sp: Span) -> str:
        return f"perfbench-{sp.id}"

    def _set_group(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(sp), sp.name)

    def _count(self, sp: Span, no_group_before: set[int], extra_groups=()) -> None:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(self._group(sp)))
        for g in extra_groups:
            jobs.extend(st.getJobIdsForGroup(g))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si is not None else 0
        sp.jobs, sp.stages, sp.tasks = len(jobs), stages, tasks
        sp.unattributed_jobs = len(set(st.getJobIdsForGroup(None)) - no_group_before)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict, parent):
        self.t = tracer
        self.parent = parent
        self.sp = Span(0, name, layer, 0.0, attrs=attrs)
        self.extra_groups: list[str] = []

    def __enter__(self) -> _SpanCtx:
        t, sp = self.t, self.sp
        if t.enabled:
            sp.id = next(t._ids)
            up = t._stack[-1] if t._stack else self.parent
            sp.parent = up.id if up is not None else None
            sp.op = t._op
            self._no_group = set(t.sc.statusTracker().getJobIdsForGroup(None))
            t._stack.append(sp)
            t._set_group(sp)
        sp.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        t, sp = self.t, self.sp
        sp.end = time.perf_counter()
        if t.enabled:
            t._stack.pop()
            t._set_group(t._stack[-1] if t._stack else None)
            t._count(sp, self._no_group, self.extra_groups)
            t.spans.append(sp)

    @property
    def ms(self) -> float:
        return self.sp.ms


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover (ms).

    Children of one span run one after another on its thread, so their
    covered part is the union of their intervals clipped to the
    parent's."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = (s.end - s.start - covered) * 1e3
    return out


def tree_jobs(spans: list[Span], root: Span) -> int:
    """Jobs behind ``root`` and every span nested under it, at any depth:
    the grouped jobs of the whole subtree, plus the ungrouped jobs that
    finished inside ``root`` (a superset of its descendants' own)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    jobs, todo = root.unattributed_jobs, [root]
    while todo:
        s = todo.pop()
        jobs += s.jobs
        todo.extend(kids.get(s.id, []))
    return jobs


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per layer: calls, self ms, the Spark counts of its own spans, and
    the ungrouped jobs that finished inside its leaf spans."""
    st = self_times(spans)
    parents = {s.parent for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.layer, {"calls": 0, "self_ms": 0.0, "jobs": 0, "stages": 0,
                                       "tasks": 0, "unattributed_jobs": 0})
        row["calls"] += 1
        row["self_ms"] += st[s.id]
        row["jobs"] += s.jobs
        row["stages"] += s.stages
        row["tasks"] += s.tasks
        if s.id not in parents:
            row["unattributed_jobs"] += s.unattributed_jobs
    return out


def write_trace(path: str, spans: list[Span], header: dict) -> None:
    """One JSON object per line: a header, then one line per span."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        fh.write(json.dumps({"header": header}) + "\n")
        for s in spans:
            d = asdict(s)
            d["ms"] = s.ms
            fh.write(json.dumps(d, default=str) + "\n")
