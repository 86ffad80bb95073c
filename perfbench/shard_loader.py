"""shard_loader: WebDataset tar shards -> decode, square crop, resize ->
collated training batches.

read_tar_samples -> crop_resize_images -> create_loader, consumed by a loop
that times how long each ``next()`` blocks. One operation is one pass over
the dataset; an item is one delivered sample; the latency samples are the
per-batch waits.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import inputs, stats
from perfbench.common import Outcome, layer_call, span, timed_loop

N_SAMPLES = 1024
N_SHARDS = 16
TARGET = 16
#: one partition per shard and one batch per two partitions: the loader
#: prefetches the next partition, so with one batch per partition the waits
#: alternate between a full job and almost nothing, and their median jumps
#: between the two modes
BATCH = 2 * N_SAMPLES // N_SHARDS
#: end-to-end metric -> (name in this workload's terms, scale, unit)
ALIASES = {
    "items_per_s": ("loader_samples_per_s", 1.0, "1/s"),
    "latency_p50_ms": ("batch_wait_p50_ms", 1.0, "ms"),
}
PPM_BYTES = len(f"P6\n{TARGET} {TARGET}\n255\n") + TARGET * TARGET * 3


def prepare(work: str, seed: int) -> dict:
    d = inputs.shards(work, seed, N_SAMPLES, N_SHARDS)
    with open(os.path.join(d, "meta", "manifest.json")) as f:
        manifest = json.load(f)
    tar_mb = sum(
        os.path.getsize(os.path.join(d, n)) for n in os.listdir(d) if n.endswith(".tar")
    ) / 1e6
    return {"dir": d, "manifest": manifest, "tar_mb": tar_mb}


def dataset(spark, inp: dict, tracer):
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.imageops import crop_resize_images
    from datapipelines_spark.sources.shards import read_tar_samples

    samples = layer_call(
        tracer,
        "sources.shards",
        lambda: read_tar_samples(spark, inp["dir"], num_partitions=N_SHARDS),
    )
    if tracer is not None:
        tracer.count("sources.shards.samples", samples.count())
        tracer.count("sources.shards.mb_read", inp["tar_mb"])
    images = samples.select(
        "__key__",
        F.coalesce(F.element_at("data", "jpg"), F.element_at("data", "png")).alias("img"),
    )
    crops = layer_call(
        tracer,
        "operators.imageops",
        lambda: crop_resize_images(images, payload_col="img", target=TARGET),
    )
    return crops.select(
        "__key__", "orig_width", "orig_height", "width", "height", "mean_pixel",
        "ppm", "decode_error",
    )


def check_batch(batch: dict, manifest: dict, seen: set) -> bool:
    """Every row a known, first-seen key with the expected crop shape."""
    ok = True
    for i, key in enumerate(batch["__key__"]):
        want = manifest.get(key)
        ok &= (
            want is not None
            and key not in seen
            and batch["decode_error"][i] is None
            and int(batch["width"][i]) == TARGET
            and int(batch["height"][i]) == TARGET
            and len(batch["ppm"][i]) == PPM_BYTES
            and [int(batch["orig_height"][i]), int(batch["orig_width"][i])] == want[1:]
        )
        seen.add(key)
    return ok


def run(spark, inp: dict, seconds: float, tracer) -> Outcome:
    from datapipelines_spark.sinks.loader import create_loader

    out = Outcome()
    manifest = inp["manifest"]
    first_batch: list[float] = []

    def one_pass(tr):
        t0 = time.perf_counter()
        df = dataset(spark, inp, tr)
        if tr is not None:
            with span(tr, "sinks.loader"):
                pass_waits, batches, t_first = _consume(create_loader(df, batch_size=BATCH))
            t_end = time.perf_counter()
            tr.count("sinks.loader.wait_s", sum(pass_waits))
            tr.count("sinks.loader.rows", sum(len(b["__key__"]) for b in batches))
            tr.count(
                "operators.imageops.decode_errors",
                sum(e is not None for b in batches for e in b["decode_error"]),
            )
        else:
            pass_waits, batches, t_first = _consume(create_loader(df, batch_size=BATCH))
            t_end = time.perf_counter()
        first_batch.append(t_first - t0)
        seen: set = set()
        failed = 0
        for b in batches:
            failed += not check_batch(b, manifest, seen)
        if seen != manifest.keys():
            failed += 1  # a key was lost
        return len(seen), pass_waits, len(batches), failed, t_end - t0

    one_pass(None)  # untimed warm-up
    first_batch.clear()
    timed_loop(seconds, one_pass, tracer, out)
    out.named = {
        "first_batch_s": (stats.median(first_batch), "s"),
        "batch_wait_p90_ms": (stats.percentile(out.latencies_s, 90) * 1e3, "ms"),
        "samples_per_pass": (N_SAMPLES, "count"),
        "image_px": (TARGET, "px"),
    }
    return out


def _consume(loader) -> tuple[list[float], list[dict], float]:
    """Drain ``loader``, timing each ``next()``; keeps the batches (they are
    checked after the pass, outside the waits). Also returns the clock
    reading when the first batch arrived."""
    waits, batches = [], []
    t_first = 0.0
    it = iter(loader)
    while True:
        t0 = time.perf_counter()
        try:
            b = next(it)
        except StopIteration:
            break
        t1 = time.perf_counter()
        waits.append(t1 - t0)
        t_first = t_first or t1
        batches.append(b)
    return waits, batches, t_first
