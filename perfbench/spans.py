"""In-memory span tracer for the traced run.

Spans are opened by the benchmark's own code around each call into a layer
of ``datapipelines_spark`` (the package itself is not instrumented). Each
span records its layer, parent, a monotonic interval for durations and an
epoch-millisecond interval for matching against Spark's status store.

After the run, every stage and job the status store recorded is credited to
the spans whose interval contains its submission time; a span's inclusive
value is what it saw between its start and end, the same delta a read of
the store before and after the call would give. Self values are inclusive
minus the children's inclusive values, for time and counters alike.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: module names of ``datapipelines_spark`` the benchmark traces
LAYERS = (
    "session",
    "queries",
    "sources.parquet",
    "sources.shards",
    "operators.text",
    "operators.dedup",
    "operators.components",
    "operators.bloom",
    "operators.packing",
    "operators.imageops",
    "sinks.writer",
    "sinks.loader",
    "functions.caching",
)

#: per-layer metrics every layer reports: name -> unit
GENERIC = {
    "self_s": "s",
    "calls": "count",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "gc_s": "s",
    "failed_tasks": "count",
}

#: counters read from the status store, per span
STORE_COUNTERS = ("jobs", "tasks", "task_cpu_s", "shuffle_write_mb", "gc_s", "failed_tasks")


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    start: float
    start_ms: float
    end: float = 0.0
    end_ms: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans kept in memory; ``counts`` holds boundary counts by metric name
    (``sources.shards.samples`` etc.) that the workloads add to."""

    def __init__(self, clock=time.perf_counter, wall_ms=lambda: time.time() * 1000.0):
        self._clock = clock
        self._wall_ms = wall_ms
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        #: wrapped calls record spans only while active (during traced ops)
        self.active = False

    @contextlib.contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, layer, self._clock(), self._wall_ms())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self._clock()
            s.end_ms = self._wall_ms()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def wrap(self, layer: str, fn):
        """``fn`` with every call recorded as a span of ``layer``."""

        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- aggregation ---------------------------------------------------------

    def inclusive(self, stages: list[dict], jobs: list[dict]) -> list[dict[str, float]]:
        """Per span: its duration and the status-store counters of every job
        and stage submitted inside its interval."""
        events = [
            (
                st["submissionTime"],
                {
                    "tasks": st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0),
                    "failed_tasks": st.get("numFailedTasks", 0),
                    "task_cpu_s": st.get("executorCpuTime", 0) / 1e9,
                    "shuffle_write_mb": st.get("shuffleWriteBytes", 0) / 1e6,
                    "gc_s": st.get("jvmGcTime", 0) / 1e3,
                },
            )
            for st in stages
            if st.get("submissionTime") is not None
        ]
        events += [
            (job["submissionTime"], {"jobs": 1})
            for job in jobs
            if job.get("submissionTime") is not None
        ]
        events.sort(key=lambda e: e[0])
        times = [t for t, _ in events]
        # prefix sums: the counters of events[:i] are prefix[i]
        prefix = [dict.fromkeys(STORE_COUNTERS, 0.0)]
        for _, add in events:
            nxt = dict(prefix[-1])
            for k, x in add.items():
                nxt[k] += x
            prefix.append(nxt)
        out = []
        for s in self.spans:
            lo = bisect.bisect_left(times, s.start_ms)
            hi = bisect.bisect_left(times, s.end_ms)
            v = {k: prefix[hi][k] - prefix[lo][k] for k in STORE_COUNTERS}
            v["self_s"] = s.end - s.start
            out.append(v)
        return out

    def self_values(self, inclusive: list[dict[str, float]]) -> list[dict[str, float]]:
        """Inclusive minus the sum of the direct children's inclusive."""
        out = []
        for s, inc in zip(self.spans, inclusive):
            own = dict(inc)
            for c in s.children:
                for k, v in inclusive[c].items():
                    own[k] -= v
            out.append(own)
        return out

    def layer_inclusive(self, layer: str, stages: list[dict], jobs: list[dict]) -> dict[str, float]:
        """Inclusive values summed over the outermost spans of ``layer``."""
        inc = self.inclusive(stages, jobs)
        total = dict.fromkeys(inc[0] if inc else STORE_COUNTERS, 0.0)
        for s, v in zip(self.spans, inc):
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if p is None:
                for k, x in v.items():
                    total[k] += x
        return total

    def dump(self, path: str, stages: list[dict], jobs: list[dict]) -> None:
        """Write every span with its self values as JSON."""
        own = self.self_values(self.inclusive(stages, jobs))
        rows = [
            {"id": s.id, "parent": s.parent, "layer": s.layer,
             "start_ms": s.start_ms, "end_ms": s.end_ms, "self": v}
            for s, v in zip(self.spans, own)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, "counts": dict(self.counts)}, f)

    def layer_metrics(self, stages: list[dict], jobs: list[dict]) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer and generic metric, plus the
        boundary counts."""
        own = self.self_values(self.inclusive(stages, jobs))
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in GENERIC}
        for s, v in zip(self.spans, own):
            out[f"{s.layer}.calls"] += 1
            for k, x in v.items():
                out[f"{s.layer}.{k}"] += x
        out.update(self.counts)
        return out
