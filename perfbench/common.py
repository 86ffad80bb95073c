"""Pieces the workloads share: the outcome record, optional spans and
layer-boundary materialization for the traced run, and the timed loop."""

from __future__ import annotations

import contextlib
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """What one workload run measured.

    ``op_rates`` holds each timed operation's items per second and
    ``wall_s`` their summed time; ``latencies_s`` holds the workload's
    latency samples; ``named`` holds the workload's own metric names for the
    human-readable report."""

    op_rates: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    latencies_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    untraced_op_s: float | None = None
    traced_op_s: list[float] = field(default_factory=list)


def span(tracer, layer: str):
    return tracer.span(layer) if tracer is not None else contextlib.nullcontext()


def layer_call(tracer, layer: str, build):
    """``build()`` inside a span of ``layer``. In the traced run the result
    is materialized inside the span, so the layer's jobs are counted where
    they run; untraced, the plan stays lazy and fused."""
    with span(tracer, layer):
        df = build()
        if tracer is not None:
            df = df.localCheckpoint(eager=True)
    return df


def timed_loop(seconds: float, op, tracer, out: Outcome, min_ops: int = 1) -> None:
    """Closed loop, one client: run ``op(tracer)`` until ``seconds`` of
    timed work have passed and at least ``min_ops`` operations (two when
    traced) have run. ``op`` returns (items,
    latencies, attempted, failed, timed_s), where ``timed_s`` is its work
    time without its output checks. An exception counts as one failed
    operation whose time is its latency, and ends the loop. In the traced
    run the first ``op`` runs untraced, to give the tracing overhead its
    base."""
    n_ops = 0
    if tracer is not None:
        min_ops = 2
    raised = False
    while not raised and (n_ops < min_ops or out.wall_s < seconds):
        traced_op = tracer if n_ops > 0 else None
        if tracer is not None:
            tracer.active = traced_op is not None
        t0 = time.perf_counter()
        try:
            items, lats, attempted, failed, timed_s = op(traced_op)
        except Exception:
            traceback.print_exc()
            raised = True
            timed_s = time.perf_counter() - t0
            items, lats, attempted, failed = 0, [timed_s], 1, 1
        if tracer is not None:
            if traced_op is None:
                out.untraced_op_s = timed_s
            else:
                out.traced_op_s.append(timed_s)
        if timed_s > 0:
            out.op_rates.append(items / timed_s)
        out.latencies_s.extend(lats)
        out.attempted += attempted
        out.failed += failed
        out.wall_s += timed_s
        n_ops += 1
    if tracer is not None:
        tracer.active = False
