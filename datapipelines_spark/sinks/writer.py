"""Dataset writers: the ETL sink side (the reference only ever sinks into a
torch DataLoader; a Spark-native engine also needs durable, re-readable
outputs).

``write_dataset`` targets the 100 TB posture directly:
- partition-by columns for downstream partition pruning,
- file sizing via a pre-write repartition (~target_rows per file) so output
  is neither a million tiny files nor ten huge ones,
- sorted-within-files option so downstream scan filters benefit from parquet
  min/max row-group statistics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_dataset(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    target_files: int | None = None,
    sort_within_by: Sequence[str] = (),
    mode: str = "error",
    format: str = "parquet",
) -> None:
    out = df
    if target_files:
        if partition_by:
            # co-locate each output partition's rows, capping file count
            out = out.repartition(target_files, *[out[c] for c in partition_by])
        else:
            out = out.repartition(target_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    writer = out.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    path: str | None = None,
    sort_by: Sequence[str] | None = None,
    mode: str = "error",
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    The production layout for fact-fact joins: two tables bucketed on the
    same key with the same bucket count join with NO exchange on either side
    (Spark trusts the on-disk hash partitioning) — at 100 TB that removes
    the dominant shuffle from every lineitem⋈orders-shaped query. Bucketed
    writes must go through the catalog (saveAsTable), hence the table name.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_sample_shards(
    df: DataFrame,
    path: str,
    shard_rows: int = 10_000,
    mode: str = "error",
) -> None:
    """WebDataset-style sharding for the sample table: fixed-ish rows per
    output file (the parquet equivalent of the reference's N-samples-per-tar
    layout)."""
    n_rows = df.count()
    n_files = max(1, (n_rows + shard_rows - 1) // shard_rows)
    df.repartition(n_files).write.mode(mode).parquet(path)


def write_tar_shards(
    df: DataFrame,
    path: str,
    key_col: str = "__key__",
    data_col: str = "data",
    shard_rows: int = 10_000,
    mode: str = "error",
) -> list[tuple[str, int]]:
    """WebDataset tar-shard sink — the exact inverse of
    ``sources/shards.py:read_tar_samples``, so the engine round-trips the
    reference's native format (a migrating user can re-emit shards that
    ``sdata``/webdataset consume directly).

    Input shape is SAMPLE_SCHEMA-like: ``key_col`` (string sample key) and
    ``data_col`` (map<string, binary> of extension -> payload). Each output
    task streams ONE ``shard-%06d.tar`` with members named
    ``<key>.<ext>`` — executor-side tarfile writes, nothing collected; rows
    are sorted by key within each shard so output is deterministic given a
    deterministic partitioning. Returns [(shard filename, n_samples)].

    Reference parity: the reference only reads this layout
    (/root/reference/sdata/custom_datapipes.py tar loader); writing it is
    the missing half a Spark-native ETL engine must add (same reasoning as
    write_dataset above).
    """
    import os
    import shutil

    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    if shard_rows < 1:
        raise ValueError(f"shard_rows must be >= 1, got {shard_rows}")
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"mode must be 'error', 'overwrite' or 'append', got {mode!r}")
    if os.path.exists(path):
        if mode == "error":
            raise FileExistsError(f"{path} exists (mode='error')")
        if mode == "overwrite":
            shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)

    n_rows = df.count()
    if n_rows == 0:
        return []
    n_shards = max(1, (n_rows + shard_rows - 1) // shard_rows)
    part = (
        df.select(F.col(key_col).alias("__key__"), F.col(data_col).alias("data"))
        .repartition(n_shards, "__key__")
        .sortWithinPartitions("__key__")
        .withColumn("__pid", F.spark_partition_id())
    )
    summary_schema = T.StructType(
        [T.StructField("shard", T.StringType()), T.StructField("n_samples", T.LongType())]
    )

    def write_partition(batches):
        import io
        import tarfile

        tf = None
        shard_name = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if tf is None:
                pid = int(pdf["__pid"].iloc[0])
                shard_name = f"shard-{pid:06d}.tar"
                tf = tarfile.open(os.path.join(path, shard_name), mode="w")
            for key, data in zip(pdf["__key__"], pdf["data"]):
                for ext, payload in sorted(data.items()):
                    buf = bytes(payload) if payload is not None else b""
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(buf)
                    tf.addfile(info, io.BytesIO(buf))
                n += 1
        if tf is not None:
            tf.close()
            yield pd.DataFrame({"shard": [shard_name], "n_samples": [n]})

    out = part.mapInPandas(write_partition, summary_schema).collect()
    return sorted((r["shard"], r["n_samples"]) for r in out)
