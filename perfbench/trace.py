"""In-memory spans around the benchmark's own calls into the package.

A span records its name, start, end, parent and op id. Each span runs its
Spark jobs under its own job group, so after an op the jobs, tasks and
failed tasks of every span are read back from ``statusTracker()``. Self
time is the span's duration minus the time its child spans cover. Nothing
is written while the benchmark runs; ``summary`` reduces the spans once at
the end. With tracing off, ``span`` yields ``None`` and records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int  # -1 for set-up
    parent: int | None
    start: float
    lazy: bool  # the call only builds a DataFrame
    end: float = 0.0
    child_s: float = 0.0
    build_s: float = 0.0  # time in lazy child calls
    counts: dict = field(default_factory=dict)

    @property
    def total_s(self) -> float:
        return self.end - self.start

    @property
    def busy_s(self) -> float:
        return self.total_s - self.child_s


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self.sc = None
        self._stack: list[int] = []
        self._unresolved: list[int] = []

    def bind(self, sc) -> None:
        """Follow the SparkContext once the session has started."""
        self.sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, time.perf_counter(), lazy=False)
        self.spans.append(s)
        self._stack.append(idx)
        if self.sc is not None:  # None while the session itself starts
            self._unresolved.append(idx)
            self.sc.setJobGroup(f"perfbench-{idx}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                p = self.spans[parent]
                p.child_s += s.total_s
                if s.lazy:
                    p.build_s += s.total_s
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``; a
        DataFrame result marks the span as a lazy build."""
        from pyspark.sql import DataFrame

        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name) as s:
            out = fn(*args, **kwargs)
            s.lazy = isinstance(out, DataFrame)
        return out

    def resolve(self) -> None:
        """Attach job, task and failed-task counts to the spans recorded
        since the last call. Call between ops, outside timing."""
        if not self.enabled or not self._unresolved:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for idx in self._unresolved:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{idx}")
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            self.spans[idx].counts.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        self._unresolved.clear()

    def summary(self, setup_names: tuple[str, ...] = ()) -> dict[str, dict[str, float]]:
        """Per span name: mean per call of busy_s, build_s, total_s and of
        every count, with jobs/tasks/failed_tasks summed over the span's
        subtree first. Set-up spans count only for ``setup_names``."""
        subtree = [dict(s.counts) for s in self.spans]
        for idx in range(len(self.spans) - 1, -1, -1):
            p = self.spans[idx].parent
            if p is not None:
                for k in ("jobs", "tasks", "failed_tasks"):
                    subtree[p][k] = subtree[p].get(k, 0) + subtree[idx].get(k, 0)
        acc: dict[str, dict[str, float]] = {}
        calls: dict[str, int] = {}
        for s, counts in zip(self.spans, subtree):
            if s.op < 0 and s.name not in setup_names:
                continue
            a = acc.setdefault(s.name, {})
            calls[s.name] = calls.get(s.name, 0) + 1
            fields = {"busy_s": s.busy_s, "total_s": s.total_s, "build_s": s.build_s, **counts}
            if s.lazy:
                fields["build_s"] = s.total_s
            for k, v in fields.items():
                a[k] = a.get(k, 0.0) + v
        return {
            name: {k: v / calls[name] for k, v in a.items()} for name, a in acc.items()
        }
