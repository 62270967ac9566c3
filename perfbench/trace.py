"""Spans around the calls into the program's layers.

The benchmark wraps the public entry points of each module from its own
files (the program carries no tracing code). Every span runs its call under
a job group of its own and, when it ends, reads the public
``statusTracker`` for that group's jobs and tasks. A span's jobs, tasks and
time include those of the spans it caused; self time subtracts them.

With tracing off, no call is wrapped and ``span`` does nothing, so the
untraced run carries no job-group or tracker cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    child_s: float = 0.0  # time of the spans this one caused

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        # wall time the tracer spends on its own bookkeeping
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, group=f"{name}#{next(self._ids)}")
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent.group if parent else None
            )
            jobs, tasks = self._count(s.group)
            s.jobs += jobs
            s.tasks += tasks
            if parent is not None:
                parent.jobs += s.jobs
                parent.tasks += s.tasks
                parent.child_s += s.seconds
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    def _count(self, group: str) -> tuple[int, int]:
        """Jobs and completed tasks run under ``group`` itself; a child
        span's own are added to its parent when the child ends."""
        tracker = self.sc.statusTracker()
        jobs = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return jobs, tasks

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a call inside a span named ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)


def tree_bytes(root: str) -> dict[int, int]:
    """inode -> size of every regular file under ``root`` (hardlinks once)."""
    out: dict[int, int] = {}
    for cur, _dirs, files in os.walk(root):
        for fn in files:
            try:
                st = os.stat(os.path.join(cur, fn))
            except FileNotFoundError:
                continue
            out[st.st_ino] = st.st_size
    return out
