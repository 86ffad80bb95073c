"""Metric catalog, percentile rule and the result line.

The end-to-end metrics are named the same on every workload, so each run
reports all of them; what an "item" and an "operation" are depends on the
workload (see README.md). The per-layer names are ``<layer>.<metric>``.
"""

from __future__ import annotations

import json
import math
import re

from perfbench.spans import GENERIC, LAYERS

#: name -> (unit, better)
END_TO_END = {
    "items_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

#: layer-specific metrics of the traced run: name -> (unit, better)
LAYER_SPECIFIC = {
    "sources.shards.samples": ("count", "higher"),
    "sources.shards.mb_read": ("MB", "higher"),
    "sinks.loader.wait_s": ("s", "lower"),
    "sinks.loader.rows": ("count", "higher"),
    "operators.dedup.lsh_candidates": ("count", "lower"),
    "operators.dedup.lsh_verified_per_candidate": ("ratio", "higher"),
    "operators.imageops.decode_errors_per_sample": ("ratio", "lower"),
    "queries.plan_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.jobs_per_query": ("count", "lower"),
    "functions.caching.persists": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}

#: every per-layer metric: name -> (unit, better); the generic ones count
#: time or work, so lower is better
PER_LAYER = {
    f"{layer}.{m}": (unit, "lower") for layer in LAYERS for m, unit in GENERIC.items()
}
PER_LAYER.update(LAYER_SPECIFIC)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile p with at least ``beyond`` of ``n``
    samples above its nearest-rank value (p90 needs 100 samples); None when
    there are too few samples for any."""
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return None


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, float],
                units: dict[str, str]) -> str:
    """The final JSON line; every metric carries its unit."""
    body = {}
    for name, value in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(units[name]):
            raise ValueError(f"bad metric name or unit: {name!r} {units[name]!r}")
        body[name] = {"value": float(value), "unit": units[name]}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
         "metrics": body}
    )
