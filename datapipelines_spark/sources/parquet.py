"""Parquet table sources for the fixture star schema (TESTDATA.md).

Scans are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning and partition pruning. At 100 TB these tables would be
directory-partitioned; nothing here assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale factor —
#: at TPC-H geometry, region=5 and nation=25 rows regardless of SF; supplier
#: and part grow linearly but stay far below lineitem/orders. Join helpers use
#: this to pick broadcast sides.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


#: (applicationId, abs sf_dir, table) -> resolved DataFrame. ``spark.read
#: .parquet`` re-lists the path and re-reads footers for schema inference on
#: EVERY call — ~30-60 ms of driver-side fixed cost per table per query
#: build, which dominated sub-second bench queries. A real
#: deployment resolves a table once per session through a metastore catalog;
#: this memo is that, scoped per live session so a restarted session (new
#: applicationId) re-resolves. Fixture dirs are immutable, so no staleness.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``sf_dir`` like ``/root/testdata/sf0.01``.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects; we read it as int64 (``nanosAsLong``) and truncate to microsecond
    ``timestamp_ntz`` — the same floor-to-micros DuckDB applies when coercing
    TIMESTAMP_NS to its microsecond TIMESTAMP, so both engines see identical
    values. The conf is set at runtime so this works under any caller-provided
    SparkSession (e.g. the driver's).
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if len(_TABLE_CACHE) > 512:  # dead-session entries; keys never rehit
        _TABLE_CACHE.clear()
    df = _read_table(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        # Integer division: nanos ~1.7e18 exceed double precision (2^53), so
        # `/ 1000` through double would be off by ±1 µs on some rows.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


#: applicationId -> sf_dir currently bound to the session's temp views.
_VIEWS_BOUND: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL entry point.

    Idempotent per (session, sf_dir): re-registering 10 views re-resolves 10
    parquet schemas, which at ~0.5 s per call dominated every ``sql_*`` bench
    repeat. Switching sf_dir within a session rebinds all views."""
    app_id = spark.sparkContext.applicationId
    target = os.path.abspath(sf_dir)
    if _VIEWS_BOUND.get(app_id) == target:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_BOUND[app_id] = target
