"""The BLAS-vectorized top-k scorer must agree with the expression-based
exact operator (same ids; cosines equal to 1e-9)."""

import pyspark.sql.functions as F

from datapipelines_spark.operators.similarity import cosine_topk, cosine_topk_vectorized
from datapipelines_spark.sources.parquet import load_table


def test_vectorized_topk_matches_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    exact = cosine_topk(e, "embedding", "vec_id", pred, k=5)
    fast = cosine_topk_vectorized(e, "embedding", "vec_id", pred, k=5)
    ex = [(r["query_id"], r["rank"], r["neighbor_id"], r["cosine"]) for r in
          exact.orderBy("query_id", "rank").collect()]
    fa = [(r["query_id"], r["rank"], r["neighbor_id"], r["cosine"]) for r in
          fast.orderBy("query_id", "rank").collect()]
    assert ex == fa


def test_vectorized_topk_excludes_self(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_vectorized(e, "embedding", "vec_id", F.col("vec_id") < 3, k=3)
    assert out.where(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_vectorized_topk_empty_query_set(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_vectorized(e, "embedding", "vec_id", F.col("vec_id") < 0, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]


def test_vectorized_topk_oversized_query_side_fails_fast(spark, sf_dir):
    """The driver-side collect is capped: a fat query predicate must raise
    with guidance, not silently OOM the driver at 100× scale."""
    import pytest

    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_vectorized(
            e, "embedding", "vec_id", F.lit(True), k=3, max_query_rows=10
        )


def test_vectorized_topk_breaks_ties_by_neighbor_id(spark):
    """Duplicate vectors produce exact cosine ties at the top-k boundary;
    the partial per-batch top-k must keep the LOWER neighbor id, matching
    the global window order (cosine desc, neighbor_id asc)."""
    # 6 identical unit vectors -> every cross pair has cosine 1.0; with k=3
    # the kept neighbors for query 0 must be exactly ids 1,2,3.
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = cosine_topk(df, "embedding", "vec_id", F.col("vec_id") == 0, k=3)
    fast = cosine_topk_vectorized(df, "embedding", "vec_id", F.col("vec_id") == 0, k=3)
    ex = [(r["rank"], r["neighbor_id"]) for r in exact.orderBy("rank").collect()]
    fa = [(r["rank"], r["neighbor_id"]) for r in fast.orderBy("rank").collect()]
    assert ex == fa == [(1, 1), (2, 2), (3, 3)]


def test_chunked_equals_vectorized(spark, sf_dir):
    """Chunked BLAS top-k must equal the single-matrix path exactly —
    chunks partition the query set, so the union is the same result."""
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.similarity import (
        cosine_topk_chunked,
        cosine_topk_vectorized,
    )
    from datapipelines_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 20 == 0  # 25 queries at sf0.001
    one = cosine_topk_vectorized(e, "embedding", "vec_id", pred, k=3)
    many = cosine_topk_chunked(
        e, "embedding", "vec_id", pred, k=3, chunk_rows=7  # forces ~4 chunks
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_auto_router_matches_both_paths(spark, sf_dir):
    """cosine_topk_auto must return identical results whichever path the
    pair-budget routes to (small corpora skip the BLAS worker-launch
    overhead)."""
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.similarity import (
        cosine_topk_auto,
        cosine_topk_vectorized,
    )
    from datapipelines_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    blas = cosine_topk_vectorized(e, "embedding", "vec_id", pred, k=5)
    small = cosine_topk_auto(e, "embedding", "vec_id", pred, k=5)  # -> exact path
    forced = cosine_topk_auto(
        e, "embedding", "vec_id", pred, k=5, pair_budget=1  # -> BLAS path
    )
    ref = sorted(map(tuple, blas.collect()))
    assert sorted(map(tuple, small.collect())) == ref
    assert sorted(map(tuple, forced.collect())) == ref
