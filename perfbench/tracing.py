"""Spans and counters for the traced run.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
wraps the package functions and pyspark methods that mark a layer
boundary, and ``Tracer.span`` opens a span around each benchmark
operation. Spans stay in memory (id, parent id, op id, name, start,
end) and are folded into the per-layer readings after each traced
pass or fit; nothing is written on the timed path. A layer's self time
is its span time minus the part of it that its child spans cover.

``SparkCounters`` reads the scheduler, GC and storage state of one
operation through Spark's public status API: every operation runs in
its own job group, so ``statusTracker`` attributes jobs, stages and
tasks to it. Streaming micro-batches run on the stream's own thread
without the caller's job group, so they are counted by a
``StreamingQueryListener`` instead.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "loan_default_prediction_app_big_data_spark"

#: Marks a patched attribute that the owner inherited rather than defined.
_INHERITED = object()


@dataclass
class Span:
    sid: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder. One per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper (undone by ``restore``)."""
        fn = getattr(owner, attr)
        own = vars(owner).get(attr, _INHERITED)
        self._undo.append((owner, attr, own))
        setattr(owner, attr, self.wrap(name, fn))

    def patch_everywhere(self, fn, name: str) -> None:
        """Trace ``fn`` in every loaded package module that imported it
        by name, so calls through ``from x import fn`` are seen too."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self.patch(mod, attr, name)

    def restore(self) -> None:
        for owner, attr, own in reversed(self._undo):
            if own is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._undo.clear()

    # -- summaries -----------------------------------------------------

    def select(self, ops: set[str]) -> list[Span]:
        return [s for s in self.spans if s.op in ops]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[str, float]:
        """Total self time per span name over ``spans``."""
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: Counter = Counter()
        for s in spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    @staticmethod
    def counts(spans: list[Span]) -> Counter:
        return Counter(s.name for s in spans)


class _SpanCtx:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        with t._lock:
            self.sid = t._next
            t._next += 1
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self.tracer
        t._stack().pop()
        t.spans.append(Span(self.sid, self.parent, t.op, self.name, self.start, end))


class StreamCounter(StreamingQueryListener):
    """Micro-batch counts and trigger time from streaming progress events."""

    def __init__(self) -> None:
        self.batches = 0
        self.trigger_ms = 0
        self.input_rows = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.trigger_ms += int(p.durationMs.get("triggerExecution", 0))
            self.input_rows += int(p.numInputRows)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, int, int]:
        with self._lock:
            return self.batches, self.trigger_ms, self.input_rows


class SparkCounters:
    """Per-operation scheduler, GC, storage and session-hygiene readings."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._gc_beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_ms(self) -> int:
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def conf(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def temp_views(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables() if t.isTemporary}

    def begin(self, group: str, name: str) -> None:
        self.sc.setJobGroup(group, name)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str, timeout: float = 5.0) -> tuple[int, int, int, int]:
        """(jobs, stages, tasks, failed tasks) of one job group, once the
        status store has seen every job of the group finish."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            ids = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        stages = tasks = failed = 0
        for info in infos:
            if info is None:
                continue
            stages += len(info.stageIds)
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:  # None: skipped stage, no tasks ran
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return len(ids), stages, tasks, failed
