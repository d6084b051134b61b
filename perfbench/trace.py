"""Layer accounting taken from outside the program.

- :class:`Tracer` keeps spans in memory (name, op id, parent, start,
  end) and writes them out once, at exit.  A span's self time is its
  duration minus the part of its interval that its child spans cover.
- :func:`spark_job_counts` reads one op's job group back through
  ``SparkContext.statusTracker``.
- :func:`dir_snapshot` / :func:`rewrite_stats` diff inode/size
  snapshots of a store directory taken around a write.

An untraced run uses :data:`NO_TRACE`, whose spans cost one attribute
lookup and record nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, name: str) -> list[float]:
        """Self time (seconds) of every span called ``name``."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            if s.name == name:
                out.append(s.duration - _covered(s, children.get(i, [])))
        return out

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def attr_values(self, name: str, key: str) -> list:
        return [s.attrs[key] for s in self.spans if s.name == name and key in s.attrs]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the
    parent's interval."""
    total, cur_lo, cur_hi = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, span.start), min(k.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class _NoTrace:
    enabled = False
    op = -1

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


NO_TRACE = _NoTrace()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Spark engine, read from outside
# ---------------------------------------------------------------------------

def spark_job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else []:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# Store directory snapshots
# ---------------------------------------------------------------------------

def dir_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{path: (inode, size)} of every regular file under ``root``."""
    snap = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            snap[p] = (st.st_ino, st.st_size)
    return snap


def rewrite_stats(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after a write that were not there, with
    the same inode and size, before it."""
    files = nbytes = 0
    for p, (ino, size) in after.items():
        if before.get(p) != (ino, size):
            files += 1
            nbytes += size
    return files, nbytes


def dir_bytes(root: str) -> int:
    return sum(size for _ino, size in dir_snapshot(root).values())
