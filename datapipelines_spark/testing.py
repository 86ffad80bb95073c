"""Differential-test harness: Spark result vs DuckDB oracle.

Local replica of the driver's correctness gate (BASELINE.md t2): run a
catalog query on Spark and its oracle SQL on DuckDB over the same parquet,
normalize (column order sorted by name, rows sorted, doubles rounded to 9
significant digits, timestamps naive UTC), and compare values. Every test
run calls ``compare_query`` for every catalog query, and again on a
null/edge-row fixture for each query that reads the documents, events or
embeddings tables.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.sources.parquet import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0:
            return 0.0
        # 9 significant digits (FIXTURES.md determinism rules)
        return float(f"{f:.9g}")
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def spark_result(df: DataFrame) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _pandas_kinds(pdf) -> dict[str, str]:
    return {c: pdf[c].dtype.kind for c in pdf.columns}


def check_numeric_kinds(
    spark_df: DataFrame, s_cols: list[str], s_rows: list[tuple], oracle_pdf
) -> str | None:
    """Driver-faithful dtype check: the driver materializes BOTH sides via
    pandas before hashing, so a DuckDB HUGEINT column (uncast integer SUM)
    becomes float64 while Spark's stays int64 — a hash mismatch even when
    every value is numerically equal. Flag a column when Spark's schema is
    integral, Spark produced no NULLs in it (NULLs float both sides alike),
    but DuckDB's pandas dtype is float. Return an error string, else None."""
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    d_kinds = _pandas_kinds(oracle_pdf)
    bad = []
    for idx, field in enumerate(spark_df.schema.fields):
        if not isinstance(field.dataType, integral):
            continue
        if field.name not in d_kinds or d_kinds[field.name] != "f":
            continue
        if any(r[idx] is None for r in s_rows):
            continue
        bad.append(field.name)
    if bad:
        return (
            "pandas dtype kind mismatch — DuckDB returns float64 where Spark "
            "is integral (uncast HUGEINT in oracle? wrap the integer SUM in "
            "CAST(... AS BIGINT)): " + ", ".join(bad)
        )
    return None


def check_scalar_columns(spark_df: DataFrame) -> str | None:
    """Driver-faithful type gate: the driver canonicalizer sorts rows via
    pandas ``sort_values``, which raises ``TypeError: unhashable type: 'list'``
    on array/map-typed cells (the r3 reds: map_type_status_counts,
    mapper_einops_reduce_groups, kmeans_centroids_2iter). Oracle-checked
    queries must therefore emit scalar columns only — stringify with
    array_join/concat_ws or explode to rows. Return an error string naming
    the offending columns, else None."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if bad:
        return (
            "non-scalar output column(s) — the driver canonicalizer cannot "
            "sort/hash list cells; array_join/explode them: " + ", ".join(bad)
        )
    return None


def compare_query(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[bool, str]:
    """Run one catalog query both ways; return (match, detail)."""
    from datapipelines_spark.catalog import all_queries

    spec = all_queries()[name]
    s_df = spec.builder(spark, sf_dir)
    if spec.oracle is not None:
        scalar_err = check_scalar_columns(s_df)
        if scalar_err is not None:
            return False, scalar_err
    s_cols, s_rows = spark_result(s_df)
    if spec.oracle is None:
        return True, f"rows-only check: {len(s_rows)} rows"
    con = duckdb_connection(sf_dir)
    try:
        d_cols, d_rows = duckdb_result(con, spec.oracle)
        d_pdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    kind_err = check_numeric_kinds(s_df, s_cols, s_rows, d_pdf)
    if kind_err is not None:
        return False, kind_err
    sn = normalize_rows(s_cols, s_rows)
    dn = normalize_rows(d_cols, d_rows)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"match: {len(s_rows)} rows"
