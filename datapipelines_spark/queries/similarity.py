"""Similarity-search catalog entries over the ``embeddings`` table."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.functions.caching import managed_persist
from datapipelines_spark.operators import similarity as ops
from datapipelines_spark.sources.parquet import load_table

_DIM = 64
_PLANES = 16

_DOT_SQL = "list_sum(list_transform(range(1, {dim} + 1), i -> {a}[i] * {b}[i]))"


def nonzero_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``embeddings`` rows a cosine is defined for: the vector is not
    NULL and not the zero vector, which has no direction."""
    sumsq = F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
    )
    return load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (sumsq > 0)
    )


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DOT_SQL.format(dim=_DIM, a='q.v', b='c.v')} / (q.nrm * c.nrm) AS cos_raw
        FROM e q JOIN e c ON q.vec_id != c.vec_id
        WHERE q.vec_id % 100 = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for every 100th vector (the ANN ground truth).

    Served by the cost router (``cosine_topk_auto``): a small corpus takes
    the broadcast-join Catalyst path (millisecond constants), a big one the
    BLAS path (``cosine_topk_vectorized``: driver-resident query matrix,
    corpus streamed in Arrow batches, one matmul + partial top-k per batch)
    — bit-equal results either way including tie order
    (tests/test_similarity_vectorized.py)."""
    e = nonzero_embeddings(spark, sf_dir)
    return ops.cosine_topk_auto(
        e, vec_col="embedding", id_col="vec_id", query_pred=F.col("vec_id") % 100 == 0, k=5
    ).orderBy("query_id", "rank")


def _sig_sql() -> str:
    """DuckDB expression recomputing the identical LSH signature. Each
    plane dot zips ``v`` with the literal plane: the same products summed
    in the same order as ``_DOT_SQL``, without indexing a 64-element
    literal inside a lambda (~100× slower in DuckDB)."""
    bits = []
    for j in range(_PLANES):
        plane = ops.hyperplane(j, _DIM)
        plane_sql = "[" + ", ".join(f"{w}.0" for w in plane) + "]"
        dot = f"list_sum(list_transform(list_zip(v, {plane_sql}), x -> x[1] * x[2]))"
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << j}::BIGINT ELSE 0 END")
    return " + ".join(bits)


@query(
    "sim_lsh_bucket_histogram",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (SELECT vec_id, {_sig_sql()} AS sig FROM e)
    SELECT sig, COUNT(*) AS bucket_size, MIN(vec_id) AS min_vec_id
    FROM sigs GROUP BY sig
    ORDER BY sig
    """,
)
def sim_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (16 planes): bucket histogram.

    The scale path for ANN: vectors sharing a signature land in one bucket;
    search then joins query signatures to bucket members instead of
    cross-joining the corpus. Signatures are integer-deterministic, verified
    bit-for-bit against the oracle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sigs = ops.lsh_signatures(e, vec_col="embedding", id_col="vec_id", dim=_DIM, num_planes=_PLANES)
    return (
        sigs.groupBy("sig")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("sig")
    )


@query(
    "sim_lsh_candidate_pairs",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    sigs AS (SELECT vec_id, v, nrm, {_sig_sql()} AS sig FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_SQL.format(dim=_DIM, a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS cosine
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    ORDER BY vec_a, vec_b
    """,
)
def sim_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate generation: cosine for pairs sharing an LSH bucket —
    the equi-join that replaces the O(n²) cross join at scale."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from datapipelines_spark.operators.dedup import _dot, _norm

    # both join branches read the signature table: persist so the 16-plane
    # signature + norm stage runs once, not twice
    sigs = (
        e.withColumn("nrm", _norm(F.col("v")))
        # name form -> memoized plane expression
        .withColumn("sig", ops.lsh_signature("v", _DIM, _PLANES))
    )
    sigs = managed_persist(sigs)
    a = sigs.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "sig"
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "sig"
    )
    return (
        a.join(b, "sig")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("vec_a", "vec_b")
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               {_DOT_SQL.format(dim=_DIM, a='q.v', b='c.v')} / (q.nrm * c.nrm)
                   AS cos_raw
        FROM e q JOIN e c ON q.label != c.label
        WHERE q.vec_id % 100 = 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           round(cos_raw, 6) AS cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:hard_negatives): for
    every 100th vector, the 3 most cosine-similar vectors with a DIFFERENT
    label — the contrastive-training counterpart of the brute-force top-k
    ground truth. The probe set broadcasts; candidates stream once; the
    oracle replays the label-mismatch join and tie order exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        ops.hard_negatives(
            e,
            vec_col="embedding",
            id_col="vec_id",
            label_col="label",
            query_pred=F.col("vec_id") % 100 == 0,
            k=3,
        )
        .withColumn("rank", F.col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    )
