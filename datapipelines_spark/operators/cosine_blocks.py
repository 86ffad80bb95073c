"""Blocked cosine scoring shared by the embedding operators.

Exact near-dup pairs and their IVF prefilter
(``dedup.embedding_cosine_pairs_blocked``), SemDeDup
(``dedup.semantic_dedup``) and the kNN graph shortlist
(``similarity.knn_graph``) all score vector pairs within groups: one group,
multi-probe IVF cells, or k-means cells. This module is that mechanism:

- ``prepare`` casts the id to long and the vector to ``array<double>``,
  widens a narrow input and caches it.
- ``score_blocks`` hash-splits every group larger than ``block_size`` into
  ``ceil(|group| / block_size)`` blocks and sends each vector to the
  block-pair tasks ``(group, bi <= bj)`` of its block: one hash shuffle.
  Each task sorts its rows by id, L2-normalizes them and runs the numpy
  GEMM in chunks of at most ``block_size`` rows, so a task holds at most
  two blocks whatever the group's size. On a diagonal task (``bi == bj``)
  self pairs and the lower triangle are masked to ``-inf``; every pair of
  a group is scored exactly once.

An operator supplies only its grouping and a reducer that turns one score
chunk into output rows. Zero-norm vectors score NaN, which no ``>=``
comparison keeps.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datapipelines_spark.functions.caching import managed_persist
from datapipelines_spark.functions.partitioning import parallelize_small

#: ``reduce(scores, ids_r, ids_c)``: ``scores[i, j]`` is the cosine of
#: vectors ``ids_r[i]`` and ``ids_c[j]``; returns the chunk's output rows.
Reducer = Callable[[np.ndarray, np.ndarray, np.ndarray], pd.DataFrame]


def require_positive(**args: int) -> None:
    """Raise ``ValueError`` for the first argument below 1."""
    for name, value in args.items():
        if value < 1:
            raise ValueError(f"{name} must be >= 1, got {value!r}")


def prepare(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """``(__id long, v array<double>)``, widened and cached."""
    return managed_persist(
        parallelize_small(
            df.select(
                F.col(id_col).cast("long").alias("__id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
        )
    )


def score_blocks(
    vectors: DataFrame,
    rows: DataFrame,
    group: str | None,
    block_size: int,
    reduce: Reducer,
    schema: str,
) -> DataFrame:
    """Run ``reduce`` over the cosine scores of every pair within a group.

    ``vectors`` is the ``prepare``d input, one row per vector; ``rows`` is
    ``(__id, v, <group>)``, where a vector may sit in several groups.
    ``group=None`` scores all of ``rows`` as one group. Block sizing reads
    at most ``block_size + 1`` rows of ``vectors``; only a larger input
    pays one aggregate of the group sizes.
    """
    bs = int(block_size)
    g = F.lit(0) if group is None else F.col(group)
    if vectors.select(F.lit(1)).limit(bs + 1).count() <= bs:
        nb = F.lit(1)
    else:
        sizes = rows.groupBy(g.alias("__g")).count().collect()
        nb = F.create_map(
            *[F.lit(x) for r in sizes for x in (r["__g"], -(-r["count"] // bs))]
        )[g]
    tasks = (
        rows.select("__id", "v", g.alias("__g"), nb.alias("__nb"))
        .withColumn("__blk", F.pmod(F.xxhash64("__id"), F.col("__nb")).cast("int"))
        .withColumn("__t", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)))
        .select(
            "__id",
            "v",
            "__g",
            "__blk",
            F.least("__blk", "__t").alias("bi"),
            F.greatest("__blk", "__t").alias("bj"),
        )
    )

    def side(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        V = np.stack(pdf["v"].to_numpy())
        return pdf["__id"].to_numpy(dtype=np.int64), V / np.linalg.norm(
            V, axis=1, keepdims=True
        )

    def score(key, pdf):
        bi, bj, _ = key
        pdf = pdf.sort_values("__id", kind="mergesort")
        rows_r = pdf[pdf["__blk"] == bi]
        rows_c = rows_r if bi == bj else pdf[pdf["__blk"] == bj]
        if rows_r.empty or rows_c.empty:
            # a hash split can leave a block empty
            return pd.DataFrame()
        ids_r, Vr = side(rows_r)
        ids_c, Vc = (ids_r, Vr) if bi == bj else side(rows_c)
        out = []
        for c0 in range(0, len(ids_r), bs):
            S = Vr[c0:c0 + bs] @ Vc.T
            if bi == bj:
                r = np.arange(c0, c0 + len(S))
                S[r[:, None] >= np.arange(len(ids_c))[None, :]] = -np.inf
            out.append(reduce(S, ids_r[c0:c0 + bs], ids_c))
        return pd.concat(out, ignore_index=True)

    return tasks.groupBy("bi", "bj", "__g").applyInPandas(score, schema)
