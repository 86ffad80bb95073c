"""The blocked cosine kernel (operators/cosine_blocks.py) and the operators
built on it: every within-group pair is scored exactly once, a group split
into blocks gives the unsplit result, and bad arguments raise at the call,
before any Spark job."""

from collections import Counter
from itertools import combinations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from datapipelines_spark.operators import cosine_blocks as cb
from datapipelines_spark.operators.dedup import (
    embedding_cosine_pairs_blocked,
    semantic_dedup,
)
from datapipelines_spark.operators.similarity import knn_graph
from datapipelines_spark.queries.similarity import nonzero_embeddings


def test_every_pair_in_a_group_is_scored_once(spark):
    # defined here, not at module level, so workers get it by value
    def scored_pairs(S, ids_r, ids_c):
        ia, ic = np.nonzero(S > -np.inf)
        a, b = ids_r[ia], ids_c[ic]
        return pd.DataFrame(
            {"a": np.minimum(a, b), "b": np.maximum(a, b), "chunk_rows": len(ids_r)}
        )

    rng = np.random.default_rng(31)
    vecs = {i: [float(x) for x in rng.standard_normal(4)] for i in range(40)}
    # groups 0/1 split by parity; ids < 10 also sit in group 2 (a vector in
    # several groups, as under IVF multi-probe); ids 100-102 form group 3,
    # three blocks of one row each, at least one of them empty
    member = [(i, i % 2) for i in vecs] + [(i, 2) for i in range(10)]
    vecs.update({100 + j: [1.0, float(j), 0.0, 0.0] for j in range(3)})
    member += [(100 + j, 3) for j in range(3)]
    vectors = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "__id long, v array<double>"
    )
    rows = spark.createDataFrame(
        [(i, vecs[i], g) for i, g in member], "__id long, v array<double>, g int"
    )
    out = cb.score_blocks(
        vectors, rows, "g", 4, scored_pairs, "a long, b long, chunk_rows long"
    ).collect()
    groups = {}
    for i, g in member:
        groups.setdefault(g, []).append(i)
    expected = Counter(p for ids in groups.values() for p in combinations(sorted(ids), 2))
    assert Counter((r["a"], r["b"]) for r in out) == expected
    assert max(r["chunk_rows"] for r in out) <= 4
    blocks = spark.range(100, 103).select(F.pmod(F.xxhash64("id"), F.lit(3))).collect()
    assert len({r[0] for r in blocks}) < 3  # group 3 has an empty block


def test_semantic_dedup_split_cells_match_default(spark, sf_dir):
    e = nonzero_embeddings(spark, sf_dir)
    default = sorted(map(tuple, semantic_dedup(e, "embedding", "vec_id").collect()))
    split = sorted(
        map(tuple, semantic_dedup(e, "embedding", "vec_id", block_size=16).collect())
    )
    assert split == default
    assert any(not kept for _, _, kept in default)


_VEC = "vec_id long, embedding array<double>"


@pytest.mark.parametrize(
    "op, kwargs, name",
    [
        (embedding_cosine_pairs_blocked, {"block_size": 0}, "block_size"),
        (embedding_cosine_pairs_blocked, {"prefilter": "ivf", "block_size": -3}, "block_size"),
        (embedding_cosine_pairs_blocked, {"prefilter": "ivf", "n_cells": 0}, "n_cells"),
        (embedding_cosine_pairs_blocked, {"prefilter": "ivf", "probes": 0}, "probes"),
        (semantic_dedup, {"k": 0}, "k"),
        (semantic_dedup, {"block_size": 0}, "block_size"),
        (knn_graph, {"k": 0}, "k"),
        (knn_graph, {"n_cells": 0}, "n_cells"),
        (knn_graph, {"block_size": 0}, "block_size"),
    ],
    ids=[
        "pairs-block_size=0",
        "ivf-block_size=-3",
        "ivf-n_cells=0",
        "ivf-probes=0",
        "semantic_dedup-k=0",
        "semantic_dedup-block_size=0",
        "knn_graph-k=0",
        "knn_graph-n_cells=0",
        "knn_graph-block_size=0",
    ],
)
def test_invalid_arguments_raise_before_any_job(spark, op, kwargs, name):
    # enough vectors for the default k and n_cells: only the argument is bad
    df = spark.createDataFrame([(i, [1.0, float(i)]) for i in range(8)], _VEC)
    sc = spark.sparkContext
    group = f"cosine-blocks-validation-{op.__name__}-{sorted(kwargs.items())}"
    sc.setJobGroup(group, "argument validation")
    try:
        with pytest.raises(ValueError, match=f"^{name} must be >= 1"):
            op(df, "embedding", "vec_id", **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
