"""Blocked-GEMM embedding dedup must equal the all-pairs oracle operator
exactly, and its physical plan must be shuffle+GEMM, not a nested-loop
product (the scale-safe default path)."""

import pyspark.sql.functions as F

from datapipelines_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_cosine_pairs_blocked,
)
from datapipelines_spark.sources.parquet import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.select("vec_a", "vec_b", "cosine").collect())


def test_blocked_matches_allpairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    exact = embedding_cosine_pairs(e, "embedding", "vec_id", threshold=0.45)
    blocked = embedding_cosine_pairs_blocked(e, "embedding", "vec_id", threshold=0.45)
    assert _rows(blocked) == _rows(exact)


def test_blocked_matches_allpairs_tiny_blocks(spark, sf_dir):
    # Forcing many blocks exercises diagonal AND off-diagonal tasks plus the
    # min/max pair orientation across blocks.
    e = load_table(spark, sf_dir, "embeddings")
    exact = embedding_cosine_pairs(e, "embedding", "vec_id", threshold=0.45)
    blocked = embedding_cosine_pairs_blocked(
        e, "embedding", "vec_id", threshold=0.45, block_size=64
    )
    assert _rows(blocked) == _rows(exact)


def test_blocked_plan_has_no_nested_loop(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    blocked = embedding_cosine_pairs_blocked(e, "embedding", "vec_id", threshold=0.45)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the GEMM stage
    # while the oracle operator (deliberately) is a nested-loop product
    exact = embedding_cosine_pairs(e, "embedding", "vec_id", threshold=0.45)
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in exact_plan or "CartesianProduct" in exact_plan


def test_blocked_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = embedding_cosine_pairs_blocked(empty, "embedding", "vec_id", threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_a", "vec_b", "cosine"]


def test_blocked_zero_vector_pairs_dropped_like_allpairs(spark):
    """A zero-norm vector's cosine is undefined: the engine session runs
    non-ANSI Spark, where 0/0 is NULL and `NULL >= t` filters the pair out
    of the all-pairs operator; the blocked path's NaN cosines are dropped
    by `>=` the same way. Pin that both paths agree (drop), with the
    defined pairs untouched."""
    rows = [
        (1, [0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [1.0, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = _rows(embedding_cosine_pairs(df, "embedding", "vec_id", threshold=0.9))
    blocked = _rows(
        embedding_cosine_pairs_blocked(
            df, "embedding", "vec_id", threshold=0.9, block_size=2
        )
    )
    assert blocked == exact
    assert {(a, b) for a, b, _ in blocked} == {(2, 3)}  # zero-vector pairs dropped
