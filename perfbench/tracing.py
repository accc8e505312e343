"""Spans around layer calls and per-operation Spark counters.

Everything here observes the engine from outside: spans wrap the calls
the benchmark makes into ``stonedb_spark`` and, for calls the engine
makes into its own layers (``catalog.load_tables`` from a query builder,
``dialect.rewrite_expr`` from ``catalog.mysql``, the ``operators``
functions from the pipeline queries), wrappers swapped in for the
module attributes for the length of a traced run.  Spark's own work is
read per operation from its status store by job group.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

@dataclass
class Span:
    sid: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        """The engine layer a span is named after: the part of its name
        before the first dot (``catalog.sql`` -> ``catalog``)."""
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder; one span stack per thread."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    # time the benchmark spent reading counters, outside any operation
    overhead_s: float = 0.0

    def __post_init__(self) -> None:
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(
            sid=sid,
            name=name,
            trace=trace if trace is not None else (parent.trace if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def instrument(tracer: Tracer):
    """Swap span-recording wrappers in for the engine's inner layer
    entry points; returns a function that restores the originals.

    A function is replaced in every loaded ``stonedb_spark`` module that
    holds it, so ``from x import f`` bindings are covered too."""
    import importlib
    import pkgutil

    import stonedb_spark.operators as ops_pkg
    from stonedb_spark import catalog, dialect

    targets: dict[int, tuple[object, str]] = {
        id(catalog.load_tables): (catalog.load_tables, "catalog.load_tables"),
        id(dialect.rewrite_expr): (dialect.rewrite_expr, "dialect.rewrite"),
    }
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for attr, val in vars(mod).items():
            if (
                callable(val)
                and not attr.startswith("_")
                and getattr(val, "__module__", None) == mod.__name__
                and not isinstance(val, type)
            ):
                targets[id(val)] = (val, f"operators.{attr}")
    swapped: list[tuple[object, str, object]] = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("stonedb_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = targets.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, tracer.wrap(hit[1], val))
                swapped.append((mod, attr, val))

    def restore() -> None:
        for mod, attr, val in swapped:
            setattr(mod, attr, val)

    return restore


# Stage fields summed per operation: (report key, StageData accessor)
_STAGE_FIELDS = (
    ("task_run_ms", "executorRunTime"),
    ("task_cpu_ns", "executorCpuTime"),
    ("input_records", "inputRecords"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_memory_bytes", "memoryBytesSpilled"),
    ("spill_disk_bytes", "diskBytesSpilled"),
    ("failed_tasks", "numFailedTasks"),
    ("tasks", "numTasks"),
)


class SparkCounters:
    """Reads one operation's jobs, stages and task metrics by job group
    from Spark's status tracker and status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def collect(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        # the status listener runs asynchronously; drain it so the last
        # stage's metrics have landed before they are read
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = {k: 0.0 for k, _ in _STAGE_FIELDS}
        out.update(jobs=0.0, stages=0.0, first_task_wait_ms=0.0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            submitted = self._store.job(jid).submissionTime()
            first_launch = None
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted or never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter in _STAGE_FIELDS:
                    out[key] += getattr(st, getter)()
                launched = st.firstTaskLaunchedTime()
                if launched.isDefined():
                    t = launched.get().getTime()
                    first_launch = t if first_launch is None else min(first_launch, t)
            if submitted.isDefined() and first_launch is not None:
                out["first_task_wait_ms"] += first_launch - submitted.get().getTime()
        return out
