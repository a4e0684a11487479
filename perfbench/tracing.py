"""Spans and Spark counters for the traced benchmark run.

A span covers one call into a layer: its name, the layer, start and
end (wall clock, seconds since the epoch) and the span that was open
when it started. Spans are kept in memory and written out once, at the
end of the run.

Every span tags the Spark jobs its thread starts with its own job
group (``spark.jobGroup.id``), so the jobs' stage metrics can be read
back from Spark's status store and charged to the span. A streaming
query runs its micro-batches on its own thread under the query's run
id; those jobs are charged to the span that waited on the query
(``adopt``), unless a span opened inside the micro-batch claimed them.

The layers are wrapped from outside the program: ``patch`` replaces a
module attribute with a wrapper that opens a span around each call,
and ``restore`` puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPARK_COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "input_bytes", "spill_bytes",
                  "executor_cpu_s", "slot_busy_ratio")

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    """Records spans and counters for one SparkContext's lifetime."""

    def __init__(self, cores: int):
        self.cores = cores
        self.sc = None
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()

    def bind(self, sc) -> None:
        """Attach to a SparkContext (None: detach); earlier spans keep
        their data."""
        if sc is not self.sc:
            self._seen_stages = set()
        self.sc = sc

    # -- spans ---------------------------------------------------------
    def span(self, layer: str, name: str = ""):
        return _SpanCtx(self, layer, name)

    def _open(self, layer: str, name: str) -> tuple[Span, str | None]:
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), layer, name or layer, parent,
                     time.time())
            self.spans.append(s)
            self._stack.append(s)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(_GROUP)
            tag = f"perfbench-span-{s.id}"
            s.groups.append(tag)
            self.sc.setLocalProperty(_GROUP, tag)
        return s, prev

    def _close(self, s: Span, prev: str | None) -> None:
        s.end = time.time()
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, prev)
        with self._lock:
            self._stack.remove(s)

    def adopt(self, group: str) -> None:
        """Charge the jobs of another job group (a streaming query's
        run id) to the innermost open span."""
        with self._lock:
            if self._stack:
                self._stack[-1].groups.append(group)

    def count(self, name: str, n: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += n

    # -- module patching -----------------------------------------------
    def patch(self, module, attr: str, layer: str, after=None) -> None:
        """Wrap ``module.attr`` in a span of ``layer``. ``after(args,
        kwargs, result)`` runs once the span has closed."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, attr):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # -- Spark status store --------------------------------------------
    def collect_spark(self, spans: list[Span], timeout: float = 10.0) -> None:
        """Read the stage metrics of every job started under ``spans``
        and add them to the span that started it. Call it after the
        spans have closed; it waits (up to ``timeout``) for the status
        store's listener to see those jobs finish."""
        sc = self.sc
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_tasks = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        owner: dict[int, Span] = {}
        for s in spans:
            for g in s.groups:
                for job in tracker.getJobIdsForGroup(g):
                    owner.setdefault(int(job), s)
        deadline = time.time() + timeout
        for job in sorted(owner):
            while True:
                info = tracker.getJobInfo(job)
                status = info.status if info is not None else "GONE"
                if status not in ("RUNNING", "UNKNOWN") \
                        or time.time() > deadline:
                    break
                time.sleep(0.02)
            if info is None:
                continue
            s = owner[job]
            s.stats["jobs"] += 1
            for stage in sorted(info.stageIds):
                if stage in self._seen_stages:
                    continue
                self._seen_stages.add(stage)
                attempts = store.stageData(stage, False, no_tasks, False,
                                           no_quantiles)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    st = s.stats
                    st["tasks"] += d.numCompleteTasks()
                    st["failed_tasks"] += d.numFailedTasks()
                    st["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    st["shuffle_read_bytes"] += d.shuffleReadBytes()
                    st["input_bytes"] += d.inputBytes()
                    st["spill_bytes"] += d.diskBytesSpilled()
                    st["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    st["executor_run_s"] += d.executorRunTime() / 1e3

    # -- reports -------------------------------------------------------
    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in spans:
            covered, edge = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def layer_totals(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """Per layer: self time, call count and the Spark counters of
        the jobs its spans started."""
        selft = self.self_times(spans)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for s in spans:
            t = out[s.layer]
            t["self_s"] += selft[s.id]
            t["calls"] += 1
            for k, v in s.stats.items():
                t[k] += v
        for t in out.values():
            busy = t["self_s"] * self.cores
            t["slot_busy_ratio"] = t["executor_run_s"] / busy if busy else 0.0
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "layer": s.layer, "name": s.name,
                 "parent": s.parent, "start": s.start, "end": s.end,
                 **s.stats}
                for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        self.span, self.prev = self.tracer._open(self.layer, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span, self.prev)


class NullTracer:
    """Stand-in for untraced runs: spans cost one method call."""

    def bind(self, sc) -> None:
        pass

    def span(self, layer: str, name: str = ""):
        return contextlib.nullcontext()

    def adopt(self, group: str) -> None:
        pass

    def count(self, name: str, n: float = 1.0) -> None:
        pass
