"""Spans and counts recorded around the benchmark's calls into each layer.

A span has a name, a layer, start and end, its parent span and the op it
belongs to.  Spans stay in memory and are written out once, at the end of
a traced run.  At op boundaries the tracer also counts the Spark jobs and
tasks the op ran: jobs are tagged with a per-op job group, and jobs
started from threads without a group (the builder overlaps stages in
threads) are attributed to the op that was running when they appeared.

With tracing off every method is a cheap no-op, so the untraced run
measures the program alone.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    t0: float
    t1: float
    parent: int | None
    op: int | None
    tag: str = ""
    jobs: int = 0
    tasks: int = 0


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._op: Span | None = None
        self._ungrouped: set[int] = set()
        #: seconds spent inside the tracer itself (the tracing overhead)
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else self._op
        sp = Span(
            len(self.spans), name, layer, 0.0, 0.0,
            parent.sid if parent else None, self._op.sid if self._op else None,
        )
        self.spans.append(sp)
        st.append(sp)
        self.bookkeeping_s += time.perf_counter() - b0
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()

    @contextlib.contextmanager
    def op(self, name: str, tag: str = ""):
        """Root span of one benchmark operation, with Spark job/task
        counting.  The op's own self time is the benchmark's work
        (checks) around the layer calls; ``tag`` labels it (the query
        shape of a search)."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        group = f"perfbench-op-{len(self.spans)}"
        self._ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        self.bookkeeping_s += time.perf_counter() - b0
        with self.span(name, "bench") as sp:
            sp.tag = tag
            self._op = sp
            try:
                yield sp
            finally:
                self._op = None
        b0 = time.perf_counter()
        sp.jobs, sp.tasks = self._count(group)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bookkeeping_s += time.perf_counter() - b0

    def _count(self, group: str) -> tuple[int, int]:
        # job events reach the status store through an asynchronous
        # listener bus; drain it so the op's jobs are all visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(group))
        ids |= set(st.getJobIdsForGroup(None)) - self._ungrouped
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return len(ids), tasks

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` with a version that records a span
        around every call (for layers the program calls internally)."""
        fn = getattr(module, attr)

        def traced(*args, **kw):
            with self.span(name, layer):
                return fn(*args, **kw)

        setattr(module, attr, traced)

    # ----------------------------------------------------------- analysis

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered, end = 0.0, sp.t0
            for c in sorted(kids[sp.sid], key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, sp.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[sp.layer] += (sp.t1 - sp.t0) - covered
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [sp.t1 - sp.t0 for sp in self.spans if sp.name == name]

    def ops(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name and sp.layer == "bench"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")
