"""Spans, Spark job counters and process-tree memory, all recorded from
outside the library.

The benchmark never edits library code. In a traced run it replaces a few
module attributes with wrappers that open a span around each call. The
library's own call-time imports pick the wrappers up: ``run_resumable``
imports ``execute`` when called, and ``execute`` imports
``spec_drift_report`` the same way.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int


class Tracer:
    """In-memory span recorder. ``enabled`` toggles recording, so one run
    can interleave traced and untraced iterations to measure overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), float("nan"), parent, self.iteration)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, record=None) -> None:
        """Replace ``owner.attr`` with a spanned call-through. While
        recording, ``record`` also receives each call's return value."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if record is not None and self.enabled:
                record(out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self, iteration: int) -> dict[str, float]:
        """Seconds per span name in one iteration, each span minus the part
        of its interval that its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.iteration != iteration:
                continue
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def total(self, name: str, iteration: int, under: str | None = None) -> float:
        """Summed duration of the named spans in one iteration; with
        ``under``, only those whose parent span has that name."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name
            and s.iteration == iteration
            and (
                under is None
                or (s.parent is not None and self.spans[s.parent].name == under)
            )
        )

    def count(self, name: str, iteration: int) -> int:
        return sum(1 for s in self.spans if s.name == name and s.iteration == iteration)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class JobCounter:
    """Spark jobs, stages and tasks started between two snapshots, read from
    ``SparkContext.statusTracker()``. The library sets no job groups, so
    every job it starts is in the group-less set."""

    def __init__(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self._seen = set(self._tracker.getJobIdsForGroup(None))

    def delta(self) -> dict[str, int]:
        ids = set(self._tracker.getJobIdsForGroup(None))
        new = ids - self._seen
        self._seen = ids
        stages: set[int] = set()
        failed_jobs = 0
        for j in new:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            stages.update(info.stageIds)
            failed_jobs += info.status == "FAILED"
        tasks = failed_tasks = 0
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
                failed_tasks += st.numFailedTasks
        return {
            "jobs": len(new),
            "stages": len(stages),
            "tasks": tasks,
            "failed_tasks": failed_tasks,
            "failed_jobs": failed_jobs,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; ppid is the second field after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children() if kids is None else kids
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(slots: int, jvm: int) -> tuple[float, float]:
    """VmHWM in MB of (this Python driver plus the JVM's Python workers,
    the driver JVM ``jvm``). Workers count at most one per task slot (the
    ``slots`` largest): Spark keeps idle workers pooled for a while, so how
    many more are alive at a sample depends on timing, not on the work."""
    workers = sorted((_vm_hwm_kb(p) for p in descendants(jvm)), reverse=True)[:slots]
    python = _vm_hwm_kb(os.getpid()) + sum(workers)
    return python / 1024.0, _vm_hwm_kb(jvm) / 1024.0
