"""Outside-in tracer for the traced run.

It wraps the program's public functions at runtime, from the
benchmark's own code, and keeps spans in memory: name, start, end,
parent and request id. Each span runs its call under a Spark job group
of its own and records the jobs, stages and tasks of that group, read
from ``statusTracker``; a span's inclusive counts add those of the spans
under it. At the end it reduces the spans to each layer's self time (its
duration minus the part its child spans cover) and an explicit
unattributed remainder, so that layer self times plus the remainder add
up to the wall time of the root span.

The tracer is never installed in a run that reports end-to-end metrics.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass(eq=False)
class Span:
    name: str
    start: float
    parent: int | None
    request_id: str | None
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class SparkCounters:
    """Job-group accounting on one Spark session.

    ``enter`` puts the calling thread's jobs under a group of the span's
    own and returns the group it replaced (a foreachBatch callback runs
    on the stream's thread, whose group is the query's run id) with the
    number of streaming queries started so far; ``exit`` restores that
    group and counts the span's jobs, their stages and the
    stages' tasks. A streaming query runs its micro-batches under its
    run id as group, so the queries started while a span was open, and
    not already claimed by a span under it, are counted as the span's
    too. The status store is fed by the listener bus, so ``exit`` first
    waits until the bus has delivered every event."""

    GROUP = "spark.jobGroup.id"

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        started: list[str] = []

        class Runs(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._runs = started
        self._claimed: set[str] = set()
        self._listener = Runs()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def enter(self, group: str) -> tuple[str | None, int]:
        prev = self._sc.getLocalProperty(self.GROUP)
        self._sc.setLocalProperty(self.GROUP, group)
        return prev, len(self._runs)

    def exit(self, group: str, entered: tuple[str | None, int]) -> dict:
        prev, first_run = entered
        self._sc.setLocalProperty(self.GROUP, prev)
        self._bus.waitUntilEmpty()
        runs = [r for r in self._runs[first_run:] if r not in self._claimed]
        self._claimed.update(runs)
        tracker = self._sc.statusTracker()
        jobs = [j for g in [group, *runs] for j in tracker.getJobIdsForGroup(g)]
        stages = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


class Tracer:
    def __init__(self, counters: SparkCounters | None = None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # Spark runs foreachBatch callbacks on another Python thread while
        # the caller blocks, so one stack (not one per thread) keeps the
        # callback's spans under the drain that caused them.
        self._lock = threading.Lock()
        self._counters = counters
        self._clock = clock
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            if request_id is None and parent is not None:
                request_id = self.spans[parent].request_id
            sp = Span(name, self._clock(), parent, request_id)
            self.spans.append(sp)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        group = f"perfbench-{id(self)}-{idx}"
        entered = self._counters.enter(group) if self._counters else None
        try:
            yield sp
        finally:
            sp.end = self._clock()
            with self._lock:
                self._stack.remove(idx)
            if self._counters:
                sp.counts = self._counters.exit(group, entered)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)
        if self._counters:
            self._counters.close()

    # --- reduction ----------------------------------------------------------

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under ``root`` (inclusive); the root's
        own self time is returned as ``trace.unattributed_s``."""
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            sp = self.spans[i]
            kids = children.get(i, [])
            todo.extend(kids)
            covered = _union_length(
                [(max(self.spans[k].start, sp.start), min(self.spans[k].end, sp.end)) for k in kids]
            )
            name = "trace.unattributed" if i == root else sp.name
            out[name] = out.get(name, 0.0) + (sp.end - sp.start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def inclusive_counts(self, i: int) -> dict[str, int]:
        """Jobs, stages and tasks of span ``i`` and every span under it."""
        tot = {"jobs": 0, "stages": 0, "tasks": 0}
        for j, sp in enumerate(self.spans):
            k = j
            while k is not None and k != i:
                k = self.spans[k].parent
            if k == i:
                for c in tot:
                    tot[c] += sp.counts.get(c, 0)
        return tot

    def count_totals(self, name: str) -> dict[str, int]:
        """Inclusive counts summed over every span called ``name``."""
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "calls": 0}
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                tot["calls"] += 1
                for c, v in self.inclusive_counts(i).items():
                    tot[c] += v
        return tot

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "request_id": s.request_id, **s.counts}
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
