"""Span recorder for the traced run.

A span wraps one call into a layer's public function. Each span gets
its own Spark job group, so after it ends the JVM status store (which
is populated with ``spark.ui.enabled=false`` too) attributes the
group's jobs and stages to it: job count, task time, shuffle, spill,
bytes written, and the busy intervals of its stages.

- ``ms`` is self time: the span's wall time minus its child spans'.
- ``idle_ms`` is self time during which none of the span's own stages
  was running (a stage runs from its first task launch to its
  completion): the fixed per-job scheduling overhead.

Spans are kept in memory and written out at the end. With tracing off
the recorder does nothing and patches nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    group: str
    start: float
    parent: str | None
    end: float = 0.0
    child_s: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    task_ms: float = 0.0
    busy_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0

    @property
    def self_ms(self) -> float:
        return max(0.0, (self.end - self.start - self.child_s) * 1000.0)

    @property
    def idle_ms(self) -> float:
        return max(0.0, self.self_ms - self.busy_ms)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    busy, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        start = max(a, end)
        if b > start:
            busy += b - start
            end = b
    return busy


class Tracer:
    """Records spans around wrapped calls when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside the recorder itself

    # -- recording ------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, stack: list[Span]) -> None:
        """Point this thread's Spark jobs at the innermost open span."""
        sc = self.spark.sparkContext
        if stack:
            sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s += seconds

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        s = Span(name, f"perfbench-{next(self._ids)}", time.time(),
                 stack[-1].group if stack else None, counts=dict(counts))
        stack.append(s)
        self._set_group(stack)
        self._charge(time.perf_counter() - t0)
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            if stack:
                stack[-1].child_s += s.end - s.start
            self._set_group(stack)
            self._harvest(s)
            with self._lock:
                self.spans.append(s)
            self._charge(time.perf_counter() - t1)

    def wrap(self, owner, attr: str, name: str, counts=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``counts(args,
        kwargs)`` may return extra per-call counts for the span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            extra = counts(args, kwargs) if counts else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` for the traced run; ``unwrap_all`` undoes it."""
        if not self.enabled:
            return
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def untraced(self, fn):
        """Run ``fn()`` (recorder bookkeeping such as counting a span's
        input rows) under a job group of its own, so its jobs count
        toward no span, and charge its time to the recorder."""
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("perfbench-bookkeeping", "recorder bookkeeping")
        try:
            return fn()
        finally:
            self._set_group(self._stack())
            self._charge(time.perf_counter() - t0)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- status store -----------------------------------------------------

    def _harvest(self, s: Span) -> None:
        """Attribute the group's finished jobs and stages to the span.
        The status store is fed by an asynchronous listener, so wait
        briefly until every job of the group reads as finished."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        deadline = time.time() + 5.0
        while True:
            job_ids = list(sc.statusTracker().getJobIdsForGroup(s.group))
            jobs = [store.job(j) for j in job_ids]
            if all(j.status().toString() not in ("RUNNING", "UNKNOWN") for j in jobs) \
                    or time.time() > deadline:
                break
            time.sleep(0.02)
        s.jobs = len(jobs)
        lo, hi = s.start * 1000.0, s.end * 1000.0
        intervals = []
        seen: set[int] = set()
        for j in jobs:
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                s.task_ms += st.executorRunTime()
                s.shuffle_bytes += st.shuffleWriteBytes()
                s.spill_bytes += st.diskBytesSpilled()
                s.bytes_written += st.outputBytes()
                a, b = _opt_ms(st.firstTaskLaunchedTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    intervals.append((max(a, lo), min(b, hi)))
        s.busy_ms = _union_ms(intervals)

    # -- output -------------------------------------------------------------

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row.update(self_ms=s.self_ms, idle_ms=s.idle_ms)
                f.write(json.dumps(row) + "\n")
