"""Declared-query catalog: the engine's operator coverage, made executable.

Every operator family from SURVEY.md §2 (plus the LLM-pipeline extensions) is
demonstrated by at least one named query here. Each entry pairs

- a **builder**: ``(spark, sf_dir) -> DataFrame`` written with the engine's
  operators / DataFrame API, and
- an optional **oracle**: an ANSI-ish SQL string DuckDB runs over the same
  parquet tables (views ``region nation customer supplier part orders
  lineitem events documents embeddings``) for differential correctness.

Column names are aliased identically on both sides — the driver sorts columns
by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None -> driver does a rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = "") -> Callable[[Builder], Builder]:
    """Register a named query; used as a decorator over builder functions."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module and return the full registry."""
    # Imports are deferred so `import datapipelines_spark` stays cheap.
    from datapipelines_spark.queries import (  # noqa: F401
        relational,
        windows,
        setops,
        scalars,
        dedup,
        similarity,
        textstats,
        events,
        samples,
        advanced,
        sqlapi,
        vectors,
        tpch_extra,
        cleaning,
        breadth,
        streamrep,
        layout,
        urls,
        ingest,
        recall,
    )

    return dict(_REGISTRY)
