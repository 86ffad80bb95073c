"""Mutual kNN graph (operators/similarity.py:knn_graph): reciprocity
against a brute-force reference, the within-cell recall contract, and
partitioning determinism."""

import numpy as np
import pyspark.sql.functions as F

from datapipelines_spark.operators.similarity import knn_graph


def _vecs(rng, n, dim=8):
    return [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]


def _brute_mutual(rows, k, cells):
    """Reference: within-cell exact top-k by (cosine desc, id asc), then
    reciprocal reduction."""
    ids = [i for i, _ in rows]
    V = {i: np.asarray(v) for i, v in rows}
    topk = {}
    for i in ids:
        cands = [j for j in ids if j != i and cells[j] == cells[i]]
        scored = sorted(
            cands,
            key=lambda j: (
                -float(V[i] @ V[j] / (np.linalg.norm(V[i]) * np.linalg.norm(V[j]))),
                j,
            ),
        )
        topk[i] = set(scored[:k])
    return {
        (a, b)
        for a in ids
        for b in topk[a]
        if a < b and a in topk[b]
    }


def test_matches_bruteforce_within_cells(spark):
    rng = np.random.default_rng(909)
    rows = _vecs(rng, 40)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = knn_graph(df, "v", "id", k=3, n_cells=2)
    edges = {(r["src"], r["dst"]) for r in got.collect()}
    # recover the engine's cell assignment to drive the reference
    from datapipelines_spark.operators.clustering import kmeans_assign, kmeans_fit

    e = df.select(F.col("id").alias("__id"), F.col("v"))
    cents, _ = kmeans_fit(e, "v", "__id", k=2, max_iter=1, tol=0.0)
    cells = {
        r["__id"]: r["cluster"]
        for r in kmeans_assign(e, "v", "__id", cents).collect()
    }
    assert edges == _brute_mutual(rows, k=3, cells=cells)


def test_directed_mode_bounds_out_degree(spark):
    rng = np.random.default_rng(910)
    df = spark.createDataFrame(_vecs(rng, 30), "id long, v array<double>")
    knn = knn_graph(df, "v", "id", k=4, n_cells=1, mutual=False)
    deg = knn.groupBy("src").count().collect()
    assert all(r["count"] <= 4 for r in deg)
    # single cell + 30 vectors: every vector has a full top-4
    assert len(deg) == 30 and all(r["count"] == 4 for r in deg)


def test_mutual_edges_are_canonical_and_symmetric_free(spark):
    rng = np.random.default_rng(911)
    df = spark.createDataFrame(_vecs(rng, 25), "id long, v array<double>")
    got = knn_graph(df, "v", "id", k=3, n_cells=2).collect()
    pairs = [(r["src"], r["dst"]) for r in got]
    assert all(s < d for s, d in pairs)
    assert len(pairs) == len(set(pairs))


def test_partitioning_invariant(spark):
    rng = np.random.default_rng(912)
    rows = _vecs(rng, 32)
    a = spark.createDataFrame(rows, "id long, v array<double>").repartition(1)
    b = spark.createDataFrame(rows, "id long, v array<double>").repartition(7)
    ea = sorted(map(tuple, knn_graph(a, "v", "id", k=3, n_cells=2).collect()))
    eb = sorted(map(tuple, knn_graph(b, "v", "id", k=3, n_cells=2).collect()))
    assert ea == eb


def test_gemm_and_expr_paths_are_identical(spark):
    import numpy as np

    rng = np.random.default_rng(913)
    rows = _vecs(rng, 60, dim=16)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    for mutual in (True, False):
        g = sorted(
            map(tuple, knn_graph(df, "v", "id", k=4, n_cells=3,
                                 mutual=mutual, impl="gemm").collect())
        )
        x = sorted(
            map(tuple, knn_graph(df, "v", "id", k=4, n_cells=3,
                                 mutual=mutual, impl="expr").collect())
        )
        assert g == x, f"mutual={mutual}"


def test_skewed_cell_sub_blocking_produces_identical_edges(spark):
    """A cell bigger than ``block_size`` must split into block-pair tasks
    (bounded per-task memory) and still produce exactly the single-task
    edges — and the expr path's. n_cells=1 makes the
    whole corpus one maximally-skewed cell."""
    rng = np.random.default_rng(915)
    rows = _vecs(rng, 90, dim=12)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    blocked = sorted(
        map(tuple, knn_graph(df, "v", "id", k=4, n_cells=1, block_size=16).collect())
    )
    single = sorted(
        map(tuple, knn_graph(df, "v", "id", k=4, n_cells=1, block_size=10**6).collect())
    )
    exact = sorted(
        map(tuple, knn_graph(df, "v", "id", k=4, n_cells=1, impl="expr").collect())
    )
    assert blocked == single == exact
    assert len(blocked) > 0


def test_shortlist_boundary_ties_cannot_drop_a_true_neighbor(spark):
    """Adversarial boundary ties: far more than
    ``shortlist_margin`` candidates with IDENTICAL cosine to the k-th best
    — the eps-extended shortlist must keep them all in play so the exact
    re-rank still returns the same edges as the exact expr path."""
    # 40 copies of the same direction (cosine 1 with each other) plus a
    # few distinct vectors: every copy's k-th score ties with 39 others
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, [x * (1.0 + 0.0) for x in base]) for i in range(40)]
    rows += [(100 + j, [0.0, 1.0, float(j), 1.0]) for j in range(6)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    gemm = sorted(
        map(
            tuple,
            knn_graph(
                df, "v", "id", k=3, n_cells=1, impl="gemm", shortlist_margin=2
            ).collect(),
        )
    )
    exact = sorted(
        map(tuple, knn_graph(df, "v", "id", k=3, n_cells=1, impl="expr").collect())
    )
    assert gemm == exact
