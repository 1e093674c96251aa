"""Spans and Spark counters recorded around calls into the package's layers.

A span is opened by the benchmark around one call into a layer's public
function (plus, for lazy DataFrame APIs, the action that materialises its
result). Each span runs its Spark jobs under its own job group, so the
jobs, stages and task metrics it caused can be read back from the status
tracker and the JVM status store; this works with the UI disabled.

Spans are kept in memory and written once, at the end of the run. When the
tracer is disabled, ``span`` costs one attribute check and sets no job group.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "functions", "operators", "queries", "pipelines", "serve")

# Summed over the stages of every job a span's job group ran. Times are
# seconds, sizes bytes.
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records", "executor_cpu_s", "gc_s",
)


@dataclass
class Span:
    id: int
    parent: int | None
    request: str  # one id per interaction, op run or pipeline step
    name: str  # "<layer>.<function>", e.g. "serve.map_center"
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for the calling threads; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, parent.id if parent else None,
                    request or (parent.request if parent else f"r{sid}"), name,
                    time.perf_counter(), group=f"perfbench-{sid}")
        stack.append(span)
        self._sc.setJobGroup(span.group, name)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self._spans[sid] = span
                if parent is not None:
                    parent.children.append(sid)
            if parent is None:
                self._collect(span)

    def _collect(self, root: Span) -> None:
        """Read the Spark counters of a finished root span and its children.

        The status store is fed by the asynchronous listener bus, so the bus
        is drained first; reading per root keeps well within the store's
        retained-jobs limit.
        """
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self._sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        tracker = self._sc.statusTracker()
        todo = [root]
        while todo:
            span = todo.pop()
            with self._lock:
                todo.extend(self._spans[c] for c in span.children)
            c = dict.fromkeys(COUNTERS, 0.0)
            for job in tracker.getJobIdsForGroup(span.group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage in info.stageIds:
                    attempts = store.stageData(stage, False, no_status, False, no_quantiles)
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        c["stages"] += 1
                        c["tasks"] += d.numTasks()
                        c["failed_tasks"] += d.numFailedTasks()
                        c["shuffle_read_bytes"] += d.shuffleReadBytes()
                        c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                        c["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                        c["input_records"] += d.inputRecords()
                        c["executor_cpu_s"] += d.executorCpuTime() / 1e9
                        c["gc_s"] += d.jvmGcTime() / 1e3
            span.counters = c

    # -- read-out -------------------------------------------------------

    def spans(self) -> list[Span]:
        with self._lock:
            return sorted(self._spans.values(), key=lambda s: s.id)

    def self_s(self, span: Span) -> float:
        """Wall time minus the time covered by child spans (same thread, so
        children never overlap)."""
        return span.wall_s - sum(self._spans[c].wall_s for c in span.children)

    def inclusive(self, span: Span, counter: str) -> float:
        """A counter summed over the span and all its descendants."""
        return span.counters.get(counter, 0.0) + sum(
            self.inclusive(self._spans[c], counter) for c in span.children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans() if s.name == name]

    def layer_totals(self, exclude_prefix: str) -> dict[str, dict[str, float]]:
        """Per layer: self time and the counters of its spans' own jobs, as
        means per request that called into the layer, over the spans whose
        request id does not start with ``exclude_prefix``."""
        out = {layer: dict.fromkeys(("self_s",) + COUNTERS, 0.0) for layer in LAYERS}
        requests: dict[str, set[str]] = defaultdict(set)
        for s in self.spans():
            if s.request.startswith(exclude_prefix):
                continue
            requests[s.layer].add(s.request)
            t = out[s.layer]
            t["self_s"] += self.self_s(s)
            for k in COUNTERS:
                t[k] += s.counters.get(k, 0.0)
        for layer, t in out.items():
            for k in t:
                t[k] /= max(len(requests[layer]), 1)
        return out

    def write(self, path: str, extra: dict) -> None:
        rows = []
        for s in self.spans():
            rows.append({
                "id": s.id, "parent": s.parent, "request": s.request, "name": s.name,
                "start": s.start, "end": s.end, "wall_s": s.wall_s,
                "self_s": self.self_s(s), **s.counters,
            })
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)
