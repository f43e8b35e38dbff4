"""Spans around the calls into each engine layer, for the traced run only.

``install`` rebinds each traced function where its callers look it up
(``plans.manager`` imports ``change_tracking_info``, ``decide``,
``project_cast`` and ``net_changes`` by name, so those module attributes are
rebound; methods are rebound on their class). Every span runs its Spark jobs
under a job group of its own and restores the parent's group on exit, so the
jobs a layer launched can be counted afterwards from the status tracker.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    group: str
    jobs: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@contextmanager
def job_group(sc, group: str, description: str):
    """Run the body under Spark job group ``group``; on exit restore the
    group, description and cancel flag that were set before (a streaming
    query's own group on its micro-batch thread, or a parent span's)."""
    prev = [sc.getLocalProperty(k) for k in GROUP_PROPS]
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in zip(GROUP_PROPS, prev):
            sc.setLocalProperty(k, v)


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.recording = False

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.sid if parent else None,
                 parent.trace if parent else sid, f"ingestbench-{sid}")
        stack.append(s)
        try:
            with job_group(self.sc, s.group, name):
                yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.recording:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count_jobs(self) -> None:
        """Fill ``Span.jobs`` (jobs launched under the span's own group) once
        the listener bus has delivered every job-start event."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = len(tracker.getJobIdsForGroup(s.group))


# (name, module path, attribute owner, attribute) — names are
# ``<module>.<function>`` relative to the package
TRACED = [
    ("sources.change_tracking_info", "plans.manager", None, "change_tracking_info"),
    ("plans.run", "plans.manager", "DataLoadManager", "run"),
    ("plans.decide", "plans.manager", None, "decide"),
    ("operators.project_cast", "plans.manager", None, "project_cast"),
    ("operators.net_changes", "plans.manager", None, "net_changes"),
    ("sinks.snapshot.full_refresh_from_envelopes", "sinks.snapshot", "SnapshotTable",
     "full_refresh_from_envelopes"),
    ("sinks.snapshot.merge", "sinks.snapshot", "SnapshotTable", "merge"),
    ("sinks.snapshot.compact_deltas", "sinks.snapshot", "SnapshotTable", "compact_deltas"),
    ("sinks.snapshot.read", "sinks.snapshot", "SnapshotTable", "read"),
    ("sinks.snapshot.read_keys", "sinks.snapshot", "SnapshotTable", "read_keys"),
    ("sinks.snapshot.current_manifest", "sinks.snapshot", "SnapshotTable", "current_manifest"),
    ("state.append", "state", "StateTable", "append"),
    ("streaming.apply_batch", "streaming.runner", "StreamingIngest", "apply_batch"),
]
LAYERS = [name for name, *_ in TRACED]


def install(tracer: Tracer) -> None:
    import importlib

    for name, module, owner, attr in TRACED:
        mod = importlib.import_module(f"relational_data_loader_spark.{module}")
        target = getattr(mod, owner) if owner else mod
        setattr(target, attr, tracer.wrap(name, getattr(target, attr)))


# ---- span arithmetic -------------------------------------------------------------


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
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
        out[s.sid] = (s.end - s.start - covered) * 1000.0
    return out


def inclusive_jobs(spans: list[Span]) -> dict[int, int]:
    """Jobs a span launched itself plus those of all its descendants."""
    by_id = {s.sid: s for s in spans}
    total = {s.sid: s.jobs for s in spans}
    for s in sorted(spans, key=lambda s: s.start, reverse=True):
        # children start after their parent, so reverse start order folds
        # every subtree before its root
        if s.parent in by_id:
            total[s.parent] += total[s.sid]
    return total
