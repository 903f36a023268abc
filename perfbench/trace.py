"""Spans and Spark counters at the engine's layer boundaries.

The benchmark wraps the public entry points of each layer from here —
``pipeline.driver.crawl``/``run_round``, ``TableCatalog.stage_round``/
``commit_rounds``/``read_deltas`` and ``ShardedBloom.build``/``or_delta``
— and never edits the engine.  Each span sets its own Spark job group in
the calling thread (PySpark pins a JVM thread per Python thread, so the
Phase-B writes on the round's pool threads tag their own jobs); jobs and
stages come from the status tracker, shuffle bytes, spill and executor
run time from the application status store, which runs even with the UI
off.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.trace}-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer's wrappers call
    straight through, so one installed set of wrappers serves both the
    traced and the untraced repetitions of a run."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.main_thread()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread started by a span of the main thread (Phase B)
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._parent()
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None,
                     self.trace_id, 0.0, attrs=attrs)
            self.spans.append(s)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(s.group, name, False)
        stack = self._stack()
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)

    # -- wrappers ------------------------------------------------------------
    def install(self) -> None:
        """Wrap the layers' entry points for the rest of the process."""
        from bathyscaphe_spark.operators.bloom import ShardedBloom
        from bathyscaphe_spark.pipeline import driver
        from bathyscaphe_spark.state.tables import TableCatalog

        tracer = self

        def crawl(orig):
            def wrapper(*a, **kw):
                with tracer.span("crawl"):
                    return orig(*a, **kw)
            return wrapper

        def run_round(orig):
            def wrapper(catalog, pages, host_status, config, round_n, *a, **kw):
                with tracer.span("run_round", round=round_n) as s:
                    stats = orig(catalog, pages, host_status, config, round_n, *a, **kw)
                    if s is not None:
                        s.attrs.update(fetched=stats.fetched, discovered=stats.discovered)
                    return stats
            return wrapper

        def stage_round(orig):
            def wrapper(self, name, df, round_n, *a, **kw):
                with tracer.span("stage_round", table=name, round=round_n,
                                 dir=self._round_dir(name, round_n)):
                    return orig(self, name, df, round_n, *a, **kw)
            return wrapper

        def commit_rounds(orig):
            def wrapper(self, *a, **kw):
                with tracer.span("commit_rounds"):
                    return orig(self, *a, **kw)
            return wrapper

        def read_deltas(orig):
            def wrapper(self, *a, **kw):
                tracer.count("tables.read_deltas_calls")
                return orig(self, *a, **kw)
            return wrapper

        def bloom_build(orig):
            fn = orig.__func__

            def wrapper(cls, *a, **kw):
                with tracer.span("bloom.build"):
                    return fn(cls, *a, **kw)
            return classmethod(wrapper)

        def or_delta(orig):
            def wrapper(self, *a, **kw):
                with tracer.span("bloom.or_delta"):
                    return orig(self, *a, **kw)
            return wrapper

        for owner, attr, make in (
            (driver, "crawl", crawl),
            (driver, "run_round", run_round),
            (TableCatalog, "stage_round", stage_round),
            (TableCatalog, "commit_rounds", commit_rounds),
            (TableCatalog, "read_deltas", read_deltas),
            (ShardedBloom, "build", bloom_build),
            (ShardedBloom, "or_delta", or_delta),
        ):
            setattr(owner, attr, make(owner.__dict__[attr]))

    def count(self, key: str) -> None:
        """Add one to a counter on the innermost open span, if any."""
        s = self._parent()
        if s is not None:
            with self._lock:
                s.attrs[key] = s.attrs.get(key, 0) + 1

    # -- counters --------------------------------------------------------------
    def collect_counters(self) -> None:
        """Attach Spark counters to every span from its own job group
        (children's jobs are in their own groups, so these are self
        counts).  Runs once, after the timed region."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_cache: dict[int, tuple | None] = {}
        for s in self.spans:
            c = dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0,
                     executor_run_s=0.0)
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid not in stage_cache:
                        stage_cache[sid] = _stage_counters(store, sid)
                    st = stage_cache[sid]
                    if st is None:
                        continue
                    c["stages"] += 1
                    c["tasks"] += st[0]
                    c["shuffle_bytes"] += st[1]
                    c["spill_bytes"] += st[2]
                    c["executor_run_s"] += st[3]
            s.attrs["spark"] = c


def _stage_counters(store, sid: int):
    """(tasks, shuffle read+write bytes, spilled bytes, executor run s)
    of a stage that ran, or None for a skipped or evicted stage."""
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:
        return None
    if str(sd.status()) == "SKIPPED":
        return None
    return (
        sd.numTasks(),
        sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
        sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        sd.executorRunTime() / 1000.0,
    )


# -- span arithmetic ------------------------------------------------------------

def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (Phase-B children overlap)."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: Span, kids: dict) -> float:
    return span.duration - covered([(c.start, c.end) for c in kids.get(span.id, [])])


def subtree(span: Span, kids: dict) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def spark_total(spans: list[Span], key: str):
    return sum(s.attrs.get("spark", {}).get(key, 0) for s in spans)
