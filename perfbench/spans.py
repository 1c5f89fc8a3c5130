"""Spans around calls into the engine's layers, with Spark's own counts.

A span is a named interval on one client thread.  When tracing is on,
every span sets its own Spark job group on the calling thread, so each
Spark job lands in exactly one span: the innermost one open when the job
was submitted.  After the span's output has been consumed, the counts of
its jobs are read back from Spark's status store (this works with the UI
disabled) and summed per span:

- ``jobs``: jobs submitted in the span;
- ``tasks``: tasks of the stages that ran (skipped stages count 0);
- ``shuffle_write_bytes``: bytes those stages wrote to shuffle files;
- ``executor_run_s``: summed executor run time of those tasks;
- ``driver_wait_s``: span wall time during which none of its jobs was
  running (planning, Python glue, result handling).

With tracing off a span only measures wall time; it sets no job group and
reads nothing from Spark.  With tracing on, the tracer also times its own
bookkeeping (setting job groups, waiting for the listener bus, reading
the store): that is what a traced pass spends and an untraced one does
not, so it is the tracing overhead.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNT_KEYS = ("jobs", "tasks", "shuffle_write_bytes", "executor_run_s")
_GROUP_KEY = "spark.jobGroup.id"


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    group: str | None
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    own: dict = field(default_factory=dict)  # counts of this span's own jobs
    intervals: list = field(default_factory=list)  # (start, end) of own jobs

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def total(self, key: str) -> float:
        """Count over this span and every span inside it."""
        return self.own.get(key, 0) + sum(c.total(key) for c in self.children)

    def job_intervals(self) -> list:
        out = list(self.intervals)
        for c in self.children:
            out.extend(c.job_intervals())
        return out

    def driver_wait_s(self) -> float:
        """Span wall time not covered by any of its Spark jobs."""
        clipped = ((max(s, self.start), min(e, self.end)) for s, e in self.job_intervals())
        return max(self.wall_s - union_length((s, e) for s, e in clipped if e > s), 0.0)

    def self_s(self) -> float:
        """Span wall time minus the part its child spans cover."""
        return max(self.wall_s - sum(c.wall_s for c in self.children), 0.0)


class Tracer:
    """Records spans per thread; reads Spark counts when ``enabled``."""

    def __init__(self, spark, enabled: bool, cpu_clock=None):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.cpu_clock = cpu_clock  # CPU seconds of the process tree, if given
        self.cost_s = 0.0  # wall time of the bookkeeping so far
        self.cost_cpu_s = 0.0  # CPU time of the bookkeeping so far (with cpu_clock)
        self.roots: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._prefix = f"perfbench-{id(self):x}-"

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _bookkeeping(self, cpu: bool = False):
        """Charge the enclosed work to the tracing overhead.  CPU is read
        only around the store reads: the job-group calls are too short for
        a scan of the process tree to be worth it."""
        cpu = cpu and self.cpu_clock is not None
        t0 = time.time()
        c0 = self.cpu_clock() if cpu else 0.0
        try:
            yield
        finally:
            cpu = self.cpu_clock() - c0 if cpu else 0.0
            with self._lock:
                self.cost_s += time.time() - t0
                self.cost_cpu_s += cpu

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        group = f"{self._prefix}{next(self._ids)}" if self.enabled else None
        if group is not None:
            with self._bookkeeping():
                self.sc.setLocalProperty(_GROUP_KEY, group)
        sp = Span(name, group, time.time(), parent=parent)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if group is not None:
                with self._bookkeeping():
                    # back to the enclosing span's group (or none)
                    self.sc.setLocalProperty(_GROUP_KEY, parent.group if parent else None)
                if parent is None:
                    with self._bookkeeping(cpu=True):
                        self._read_counts(sp)
            if parent is not None:
                parent.children.append(sp)
            else:
                with self._lock:
                    self.roots.append(sp)

    def _read_counts(self, root: Span) -> None:
        """Fill ``own`` counts for ``root`` and its descendants.

        The status store is fed by Spark's listener bus, which runs behind
        the action that returned; wait for it to drain first.  Every job
        and stage of the span must still be in the store (``run.py`` raises
        Spark's retention limits far above what a run submits); one that is
        missing raises rather than being counted as 0."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc._jsc.statusTracker()
        # job ids count up from 0, so while the highest id is below the
        # retention limit no job has been evicted
        limit = int(self.sc.getConf().get("spark.ui.retainedJobs", "1000"))
        todo = [root]
        while todo:
            sp = todo.pop()
            todo.extend(sp.children)
            own = dict.fromkeys(COUNT_KEYS, 0)
            for job_id in tracker.getJobIdsForGroup(sp.group):
                if job_id >= limit:
                    raise RuntimeError(
                        f"job {job_id} is past spark.ui.retainedJobs={limit}; "
                        "earlier jobs of the span may have been evicted")
                job = store.job(job_id)
                own["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(i))
                    except Py4JJavaError as exc:
                        raise RuntimeError(
                            f"stage {stage_ids.apply(i)} of job {job_id} is not in the "
                            "status store; raise spark.ui.retainedStages") from exc
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    own["tasks"] += st.numTasks()
                    own["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    own["executor_run_s"] += st.executorRunTime() / 1000.0
            sp.own = own

    def current(self, name: str) -> Span | None:
        """Innermost open span called ``name`` on this thread."""
        for sp in reversed(self._stack()):
            if sp.name == name:
                return sp
        return None

    def spans(self, name: str) -> list[Span]:
        """Every recorded span called ``name``, at any depth, oldest first."""
        out, todo = [], list(self.roots)
        while todo:
            sp = todo.pop()
            todo.extend(sp.children)
            if sp.name == name:
                out.append(sp)
        return sorted(out, key=lambda sp: sp.start)


def per_call(tracer: Tracer, name: str, suffixes) -> dict:
    """``{name}.{suffix}`` per call of the spans called ``name``: counts
    are means (they repeat exactly), times are medians.  A layer the
    workload never calls reports 0."""
    spans = tracer.spans(name)
    out = {}
    for suffix in suffixes:
        if not spans:
            out[f"{name}.{suffix}"] = 0
        elif suffix in COUNT_KEYS:
            out[f"{name}.{suffix}"] = sum(sp.total(suffix) for sp in spans) / len(spans)
        else:
            value = {
                "wall_s": lambda sp: sp.wall_s,
                "ms": lambda sp: sp.wall_s * 1000,
                "driver_wait_s": Span.driver_wait_s,
                "self_ms": lambda sp: sp.self_s() * 1000,
            }[suffix]
            out[f"{name}.{suffix}"] = statistics.median(value(sp) for sp in spans)
    return out


def phase_s(tracer: Tracer, first: str, last: str) -> float:
    """Median time from the start of a ``first`` span to the end of the
    ``last`` span that follows it: one phase of a pass."""
    return statistics.median(
        b.end - a.start for a, b in zip(tracer.spans(first), tracer.spans(last)))
