"""Merge-on-read upsert table on plain parquet — keyed mutation without a
table format.

Plain ``parquet`` directories are append/overwrite-only; pipelines that
need keyed corrections (late metadata fixes, tombstoned documents, quality
re-scores) usually reach for a lakehouse format. The merge-on-read pattern
those formats implement (Hudi MOR / Iceberg v2 position-less equality
deletes, both public designs) is itself expressible on bare parquet:

  write:   every ``upsert_write`` lands a new immutable delta under
           ``v=N/`` (monotonic version partition dirs); deletes are rows
           with a ``__deleted`` tombstone flag;
  read:    partition discovery yields the version column for free; the
           snapshot is latest-version-wins per key — ONE window (or the
           equivalent max-version semi-join) keyed on the primary key —
           minus tombstones;
  compact: rewrite the merged snapshot as a new base and drop history, so
           read cost returns to a plain scan.

Scale shape: deltas are small next to the base, so the merge shuffle
carries base-size rows exactly once (the same cost a table format's MOR
read pays); versions are coarse-grained directories, so planning stays
O(#versions), and compaction bounds #versions. Readers racing a writer see
a consistent PREFIX of versions (directories appear atomically on rename-
capable filesystems); on object stores a manifest would pin the version
list — out of scope here, as for any single-writer pipeline sink.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

DELETED_COL = "__deleted"
VERSION_COL = "__v"


def _versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = re.fullmatch(r"v=(\d+)", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


_VACUUM_MARKER = "_vacuumed-"  # underscore-prefixed: invisible to parquet


def _recover_vacuum(path: str) -> None:
    """Repair a vacuum interrupted between its swap renames (the only
    window where a version dir is ever absent). Mirrors
    operators/incremental.py:_recover_state: if ``v=V`` is missing, adopt
    a COMPLETE staging (Spark's _SUCCESS plus the ``_vacuumed-V`` marker —
    a markerless staging is torn by definition) else restore the
    moved-aside original; then delete leftovers. Pre-cutoff versions a
    crash left undeleted are NOT touched here — the folded base keeps
    tombstones, so leftover history is merely a larger table (latest-wins
    already correct) and the next vacuum removes it. Called from every
    read/write entry point; single-writer per table, as documented."""
    import glob as _glob
    import shutil

    root = path.rstrip("/")
    stagings = _glob.glob(root + ".vacuum-staging-*")
    olds = _glob.glob(root + ".vacuum-old-*")
    for leftover in stagings + olds:
        v = int(leftover.rsplit("-", 1)[1])
        target = os.path.join(root, f"v={v}")
        if not os.path.isdir(target):
            staged = root + f".vacuum-staging-{v}"
            complete = os.path.isdir(staged) and (
                os.path.exists(os.path.join(staged, "_SUCCESS"))
                and os.path.exists(os.path.join(staged, f"{_VACUUM_MARKER}{v}"))
            )
            if complete:
                os.rename(staged, target)
            elif os.path.isdir(root + f".vacuum-old-{v}"):
                os.rename(root + f".vacuum-old-{v}", target)
    for leftover in stagings + olds:
        if os.path.isdir(leftover):
            shutil.rmtree(leftover, ignore_errors=True)


def _read_raw(
    spark: SparkSession, path: str, as_of_version: int | None = None
) -> DataFrame:
    """All delta rows (with the ``v`` partition column), schema-merged
    across versions — SCHEMA EVOLUTION: a delta may add or omit columns;
    absent fields read as NULL. ``as_of_version`` restricts the FILE LIST,
    not just the rows, so a time-travel read carries the schema AS OF that
    commit (a column added later does not exist in the old snapshot)."""
    _recover_vacuum(path)
    versions = _versions(path)
    if not versions:
        raise ValueError(
            f"no v=N version directories under {path} — not an upsert "
            "table (or nothing committed yet)"
        )
    if as_of_version is not None:
        versions = [v for v in versions if v <= as_of_version]
        if not versions:
            raise ValueError(
                f"no version <= {as_of_version} in {path} — below the "
                "vacuum horizon or before the first commit"
            )
    dirs = [os.path.join(path, f"v={v}") for v in versions]
    return (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )


def upsert_write(df: DataFrame, path: str, *, delete: bool = False) -> int:
    """Land ``df`` as the next delta version; returns the version number.

    ``delete=True`` writes the rows as tombstones (only the key columns
    need real values). Rows in later versions fully replace same-key rows
    from earlier versions at read time. The delta's schema may differ from
    earlier versions' (SCHEMA EVOLUTION): added columns read as NULL on
    old rows, omitted columns as NULL on the new ones — snapshot schema is
    the union of the versions it reads."""
    _recover_vacuum(path)
    version = (_versions(path)[-1] + 1) if _versions(path) else 0
    (
        df.withColumn(DELETED_COL, F.lit(bool(delete)))
        .write.mode("errorifexists")
        .parquet(os.path.join(path, f"v={version}"))
    )
    return version


def read_merged(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    as_of_version: int | None = None,
) -> DataFrame:
    """Latest-version-wins snapshot of the upsert table, tombstones applied.

    One window over the key: rows are already colocated by the merge
    shuffle, so dedup and tombstone filtering share a single exchange.
    Rows are ordered BETWEEN versions only — a key written twice inside
    the SAME delta has no defined winner (dedup within the batch before
    writing, as streaming/dedup.py does); versions are the unit of
    ordering, exactly like a table format's commit sequence.

    ``as_of_version`` is TIME TRAVEL: the snapshot as of that commit —
    later deltas never even reach the file list (stronger than partition
    pruning: their footers aren't consulted, so the snapshot also carries
    the SCHEMA as of that commit — see ``_read_raw``)."""
    raw = _read_raw(spark, path, as_of_version)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("v"))
    return (
        raw.withColumn(VERSION_COL, F.row_number().over(w))
        .where((F.col(VERSION_COL) == 1) & ~F.col(DELETED_COL))
        .drop(VERSION_COL, DELETED_COL, "v")
    )


def compact(spark: SparkSession, path: str, key_cols: list[str]) -> int:
    """Fold every delta into a fresh base version and remove history;
    returns the new (single) version number. Read cost afterwards is a
    plain scan of one directory until new deltas land."""
    import shutil

    merged = read_merged(spark, path, key_cols)
    staging = path.rstrip("/") + ".compacting"
    shutil.rmtree(staging, ignore_errors=True)
    new_version = _versions(path)[-1] + 1
    (
        merged.withColumn(DELETED_COL, F.lit(False))
        .write.mode("overwrite")
        .parquet(os.path.join(staging, f"v={new_version}"))
    )
    # Swap ORDER is the crash-safety contract: the
    # compacted base becomes visible FIRST via atomic rename — it carries
    # the highest version, so latest-wins reads are already correct the
    # instant it lands — and old versions are deleted only AFTERWARDS. A
    # crash anywhere in between leaves a table that is merely larger than
    # necessary (base + not-yet-deleted history), never gapped and never
    # inconsistent; re-running compact() folds the leftovers. Local
    # rename/rmtree are the sandbox stand-in for a filesystem with atomic
    # dir rename (HDFS); object stores need a manifest commit instead —
    # see the module docstring.
    os.rename(
        os.path.join(staging, f"v={new_version}"),
        os.path.join(path, f"v={new_version}"),
    )
    for v in _versions(path):
        if v != new_version:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return new_version


def vacuum(
    spark: SparkSession, path: str, key_cols: list[str], retain_n: int
) -> int | None:
    """Bound the table's history to the last ``retain_n`` versions without
    touching the snapshot: versions older than the cutoff FOLD into a
    rewritten base at the cutoff version (latest-per-key as of the cutoff,
    TOMBSTONES KEPT), then the pre-cutoff dirs are deleted. Every read —
    current or time travel to any retained version — is unchanged; only
    history below the horizon becomes unreachable (``read_merged`` with an
    ``as_of_version`` below it raises). Returns the cutoff version, or
    None when there is nothing to fold.

    Tombstones are kept in the folded base, unlike ``compact`` (which
    rewrites at a NEW highest version, where dropping them is safe): here
    the fold sits BELOW retained deltas, and if a crash leaves a
    pre-cutoff live row undeleted while its tombstone had been folded
    away, the key would resurrect. With the tombstone kept, leftover
    history is merely a larger table. Run ``compact`` to clear tombstones.

    Crash-ordering (compact's visible-first discipline + the
    incremental-sink swap, since the cutoff dir must be REPLACED): the
    folded base is written to ``.vacuum-staging-V`` with a ``_vacuumed-V``
    marker riding inside, the old ``v=V`` renamed ASIDE, the staging
    renamed in, and only then is history deleted — old-aside first,
    pre-cutoff versions last. ``_recover_vacuum`` (run at every
    read/write entry) adopts a complete staging or restores the aside dir,
    so no crash point leaves a version missing or a key resurrected
    (crash-point sweep in tests/test_upsert_vacuum.py)."""
    import shutil

    _recover_vacuum(path)
    versions = _versions(path)
    if retain_n < 1:
        raise ValueError(f"retain_n must be >= 1, got {retain_n}")
    if len(versions) <= retain_n:
        return None
    v_cut = versions[-retain_n]
    raw = _read_raw(spark, path, as_of_version=v_cut)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("v"))
    folded = (
        raw.withColumn(VERSION_COL, F.row_number().over(w))
        .where(F.col(VERSION_COL) == 1)
        .drop(VERSION_COL, "v")
    )
    root = path.rstrip("/")
    staging = root + f".vacuum-staging-{v_cut}"
    shutil.rmtree(staging, ignore_errors=True)
    folded.write.mode("overwrite").parquet(staging)  # materializes the read
    open(os.path.join(staging, f"{_VACUUM_MARKER}{v_cut}"), "w").close()
    old = root + f".vacuum-old-{v_cut}"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(os.path.join(path, f"v={v_cut}"), old)
    os.rename(staging, os.path.join(path, f"v={v_cut}"))
    shutil.rmtree(old, ignore_errors=True)
    for v in versions:
        if v < v_cut:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return v_cut


def streaming_upsert_sink(path: str, *, delete_col: str | None = None):
    """foreachBatch callback landing each micro-batch as upsert deltas —
    keyed mutation FROM A STREAM (CDC apply, late metadata corrections)
    with exactly-once SNAPSHOT semantics under micro-batch retries and
    stream restarts.

    Commit protocol (epoch ids alone cannot name versions,
    because a restart with a FRESH checkpoint directory restarts epochs at
    0 and would silently collide with committed history):

    - version numbers are allocated at COMMIT time (``max existing + 1``),
      never derived from the epoch id — a fresh-checkpoint restart can
      therefore never be mistaken for already-committed work;
    - each delta is written to a dot-staging dir, atomically renamed to
      ``v=N``, then a replay marker keyed by (sink instance, epoch) is
      recorded under ``_commits/``. A retry of an epoch THIS instance
      already committed finds its marker and is skipped;
    - a replay the marker cannot vouch for (restart after a crash between
      rename and marker, or a new run replaying its predecessor's last
      epoch) re-lands the SAME batch content as a new version — and
      latest-version-wins merging makes a duplicate delta row-idempotent
      (same keys, same values), so the merged snapshot is still
      exactly-once. Correctness never depends on the skip decision; the
      marker only avoids redundant writes.

    Single-writer per table, as for the batch writer. ``delete_col``
    (boolean) marks tombstone rows inside a batch; other rows upsert.

    Use with streaming/sinks.py:foreach_batch_pipeline or directly as the
    ``foreachBatch`` function."""
    import shutil
    import uuid

    run = uuid.uuid4().hex[:12]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        marker = os.path.join(path, "_commits", f"{run}-{epoch}")
        if os.path.exists(marker):
            return  # this instance already committed this epoch
        out = batch_df
        if delete_col is not None:
            out = out.withColumn(DELETED_COL, F.col(delete_col)).drop(delete_col)
        else:
            out = out.withColumn(DELETED_COL, F.lit(False))
        version = (_versions(path)[-1] + 1) if _versions(path) else 0
        staging = os.path.join(path, f".staging-{run}-{epoch}")
        shutil.rmtree(staging, ignore_errors=True)
        out.write.mode("overwrite").parquet(staging)
        os.rename(staging, os.path.join(path, f"v={version}"))
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(str(version))

    return process


def table_diff(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    v_from: int,
    v_to: int,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed change set between two snapshots of the upsert table:
    one row per key that was ``added``, ``removed``, or ``changed`` between
    ``as_of_version=v_from`` and ``as_of_version=v_to`` (unchanged keys
    drop out). ``before``/``after`` carry the value structs (null on
    the missing side). Value comparison is per-field null-safe.

    ``compare_cols`` restricts BOTH the comparison and the carried structs
    to the named value columns — on a wide table the parquet scan then
    reads only keys + those fields (column pruning reaches the file
    footers), instead of deserializing every column to diff two of them.

    The audit face of time travel: what did the last N commits do to the
    table, as data. Scale shape: both snapshot reads shuffle by the same
    key for their merge windows, and the full-outer join keys on the same
    columns — one co-partitioned join over two key-partitioned inputs, no
    extra exchange beyond what the snapshots already pay.

    Keys must be non-null (the primary-key contract every upsert path here
    assumes): a null join key never matches itself, so a null-keyed row
    would report as added+removed instead of changed. VALUE columns may be
    null — comparison is per-field null-safe (null→x and x→null are
    'changed', null→null is unchanged)."""
    import functools
    import operator

    before = read_merged(spark, path, key_cols, as_of_version=v_from)
    after = read_merged(spark, path, key_cols, as_of_version=v_to)
    # Schema evolution: the two snapshots may not share a column set (a
    # column added between v_from and v_to exists only in `after`). Diff
    # over the UNION of value columns, with the absent side read as NULL —
    # so adding a column reports 'changed' exactly for keys whose new
    # field is non-null.
    b_val = [c for c in before.columns if c not in key_cols]
    a_val = [c for c in after.columns if c not in key_cols]
    val_cols = b_val + [c for c in a_val if c not in b_val]
    if compare_cols is not None:
        unknown = [c for c in compare_cols if c not in val_cols]
        if unknown:
            raise ValueError(
                f"compare_cols not value columns of the table: {unknown}"
            )
        val_cols = [c for c in val_cols if c in compare_cols]

    dtypes = {**dict(before.dtypes), **dict(after.dtypes)}

    def _struct(df: DataFrame, have: list[str], alias: str):
        fields = [
            F.col(c).alias(c)
            if c in have
            else F.lit(None).cast(dtypes[c]).alias(c)  # typed NULL, not void
            for c in val_cols
        ]
        return df.select(*key_cols, F.struct(*fields).alias(alias))

    b = _struct(before, b_val, "before")
    a = _struct(after, a_val, "after")
    joined = b.join(a, key_cols, "full_outer")
    field_changed = functools.reduce(
        operator.or_,
        [
            ~F.col(f"before.{c}").eqNullSafe(F.col(f"after.{c}"))
            for c in val_cols
        ],
        F.lit(False),
    )
    change = (
        F.when(F.col("before").isNull(), F.lit("added"))
        .when(F.col("after").isNull(), F.lit("removed"))
        .when(field_changed, F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(*key_cols, "change", "before", "after")
    )


def scd2_history(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Type-2 slowly-changing-dimension view of the commit history: one row
    per (key, validity span) — the standard dimension-table answer to
    "what was this row's value AT commit N, and when did it change?".

    A delta row's span opens at its own commit (``valid_from = v``) and
    closes the commit before the key's NEXT change (``valid_to = next_v -
    1``; NULL while still current). A tombstone closes the prior span the
    same way and contributes no span of its own, so deleted keys end with
    no open row — consistent with ``read_merged``, whose snapshot equals
    "spans where valid_to IS NULL".

    One window over the same key partitioning every other merge path uses;
    no join against the snapshot, no per-version scan.
    """
    raw = _read_raw(spark, path)
    w = Window.partitionBy(*key_cols).orderBy("v")
    nxt = F.lead("v").over(w)
    value_cols = [c for c in raw.columns if c not in (*key_cols, "v", DELETED_COL)]
    return (
        raw.withColumn("valid_to", (nxt - 1).cast("bigint"))
        .where(~F.col(DELETED_COL))
        .select(
            *key_cols,
            *value_cols,
            F.col("v").cast("bigint").alias("valid_from"),
            "valid_to",
        )
    )
