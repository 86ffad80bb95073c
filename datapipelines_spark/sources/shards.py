"""Shard-path resolution and WebDataset-style tar ingestion.

Parity targets (SURVEY.md §2.1):
- S2 brace expansion — semantics of ``_shard_expand``
  (/root/reference/sdata/custom_datapipes.py:39-66): ``{lo..hi}`` numeric
  ranges, inclusive, zero-padded iff lo and hi have equal width and lo starts
  with "0"; multiple ranges per string expand left-to-right (outer loop on the
  leftmost range); validation errors mirror the reference's rules.
- S1/S3/S4 path listing — directory walk filtered to ``.tar``
  (/root/reference/sdata/datapipeline.py:277-303), with an optional sampler
  over the shard list.
- S5/S6 tar loading — reference iterates tar members as streams and closes
  handles (/root/reference/sdata/custom_datapipes.py:339-408); here each Spark
  task opens its shard with ``tarfile``, groups members by basename into one
  row per sample (J1), and injects ``__key__``/``__url__``
  (/root/reference/sdata/custom_datapipes.py:292-322).

Scale note: shard *lists* are driver-side metadata (millions of strings at
most); the bytes are only touched inside executors. One task per shard is the
same parallelism granularity the reference uses per worker, but scheduled
dynamically by Spark across the cluster.
"""

from __future__ import annotations

import os
import re
import tarfile
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_RANGE_RE = re.compile(r"\{([0-9]+)\.\.([0-9]+)\}")


def shard_expand(spec: str) -> list[str]:
    """Expand ``prefix-{000..123}.tar`` brace ranges into concrete paths.

    Purely lexical (no filesystem calls), so it is deterministic and
    storage-system independent. Matches the reference's zero-padding and
    validation semantics (custom_datapipes.py:48-60):

    >>> shard_expand("ds-{00..03}.tar")
    ['ds-00.tar', 'ds-01.tar', 'ds-02.tar', 'ds-03.tar']
    >>> shard_expand("plain.tar")
    ['plain.tar']
    """
    m = _RANGE_RE.search(spec)
    if m is None:
        return [spec]
    lo_s, hi_s = m.group(1), m.group(2)
    pad = 0
    if len(lo_s) == len(hi_s) and lo_s.startswith("0"):
        pad = len(hi_s)
    elif len(lo_s) <= len(hi_s):
        if lo_s.startswith("0") and lo_s != "0":
            raise ValueError(
                f"shard_expand: zero-padded low bound {lo_s!r} must have the "
                f"same width as the high bound {hi_s!r} in {spec!r}"
            )
    else:
        raise ValueError(
            f"shard_expand: low bound {lo_s!r} wider than high bound {hi_s!r} in {spec!r}"
        )
    lo, hi = int(lo_s), int(hi_s)
    if lo >= hi:
        raise ValueError(f"shard_expand: empty or inverted range in {spec!r}")
    head = spec[: m.start()]
    tails = shard_expand(spec[m.end() :])  # ranges to the right expand per i
    out: list[str] = []
    for i in range(lo, hi + 1):
        mid = f"{i:0{pad}d}" if pad else str(i)
        out.extend(head + mid + tail for tail in tails)
    return out


def list_shards(
    urls: str | Sequence[str],
    is_braceexpand: bool | None = None,
    sampler: Callable[[Sequence[str]], Sequence[str]] | None = None,
) -> list[str]:
    """Resolve a url spec to a concrete list of ``.tar`` shard paths.

    Mirrors ``list_files_in_datapipe`` (datapipeline.py:277-303): either every
    url is a brace pattern (expanded lexically) or every url is a directory
    (walked recursively for ``*.tar``). ``sampler`` optionally subsets the
    final list (S4, default identity).
    """
    if isinstance(urls, str):
        urls = [urls]
    if is_braceexpand is None:
        is_braceexpand = any(_RANGE_RE.search(u) for u in urls)
        if is_braceexpand and not all(_RANGE_RE.search(u) for u in urls):
            raise ValueError("either all urls must be brace patterns or none")
    paths: list[str] = []
    if is_braceexpand:
        for u in urls:
            paths.extend(shard_expand(u))
    else:
        for u in urls:
            for root, _dirs, files in os.walk(u):
                paths.extend(os.path.join(root, f) for f in sorted(files))
    paths = [p for p in paths if p.endswith(".tar")]
    if sampler is not None:
        paths = list(sampler(paths))
    return paths


#: Schema of a tar-ingested sample row: system columns plus a map of
#: extension -> raw bytes (the reference's dict-of-bytes sample, SURVEY §1.1).
SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("__key__", T.StringType(), False),
        T.StructField("__url__", T.StringType(), False),
        T.StructField("data", T.MapType(T.StringType(), T.BinaryType()), False),
    ]
)


def _iter_tar_samples(shard_path: str, on_error: str) -> Iterator[tuple[str, str, dict]]:
    """Yield (key, url, {ext: bytes}) per basename group in one tar shard.

    Handles are closed per archive (the reference added an explicit
    close-and-gc fix for fd leaks, custom_datapipes.py:391-399 — ``with``
    gives us the same guarantee).
    """
    try:
        tf = tarfile.open(shard_path, mode="r")
    except Exception:
        if on_error == "skip":
            return
        raise
    with tf:
        current_key: str | None = None
        members: dict[str, bytes] = {}
        try:
            for info in tf:
                if not info.isfile():
                    continue
                base = os.path.basename(info.name)
                key, _, ext = base.partition(".")
                fh = tf.extractfile(info)
                if fh is None:
                    continue
                payload = fh.read()
                if current_key is not None and key != current_key:
                    yield current_key, shard_path, members
                    members = {}
                current_key = key
                members[ext] = payload
            if current_key is not None:
                yield current_key, shard_path, members
        except Exception:
            if on_error != "skip":
                raise


def read_tar_samples(
    spark: SparkSession,
    urls: str | Sequence[str],
    is_braceexpand: bool | None = None,
    on_error: str = "fail",
    num_partitions: int | None = None,
) -> DataFrame:
    """WebDataset tar source: shards -> one DataFrame row per sample.

    Distributed: the shard list is parallelized and each task streams its own
    tar(s). For durable pipelines convert tar to Parquet once and use the
    parquet source — this reader exists for reference parity and ad-hoc scans.

    ``on_error`` is ``"fail"`` (raise on an unreadable shard) or ``"skip"``
    (drop the rest of that shard); a tar shard has no per-sample row to
    quarantine, so any other value raises ``ValueError``.
    ``num_partitions`` defaults to ``min(#shards, defaultParallelism)``; a
    value below 1 raises ``ValueError``.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"read_tar_samples: on_error must be 'fail' or 'skip', got {on_error!r}")
    if num_partitions is not None and num_partitions < 1:
        raise ValueError(
            f"read_tar_samples: num_partitions must be >= 1, got {num_partitions}"
        )
    shards = list_shards(urls, is_braceexpand)
    if not shards:
        return spark.createDataFrame([], SAMPLE_SCHEMA)
    n = num_partitions or min(len(shards), spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(shards, n).flatMap(
        lambda p: _iter_tar_samples(p, on_error)
    )
    return spark.createDataFrame(rdd, SAMPLE_SCHEMA)
