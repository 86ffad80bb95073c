from datapipelines_spark.operators.components import connected_components, duplicate_clusters


def _comp(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter > 1 forces multiple iterations
    got = _comp(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components(spark):
    got = _comp(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cycle(spark):
    got = _comp(spark, [(5, 6), (6, 7), (7, 5)])
    assert got == {5: 5, 6: 5, 7: 5}


def test_clusters_canonical_flags(spark):
    df = spark.createDataFrame([(3, 7), (7, 9)], "doc_a long, doc_b long")
    rows = {r["node"]: r for r in duplicate_clusters(df).collect()}
    assert rows[3]["is_canonical"] and rows[3]["cluster_id"] == 3
    assert not rows[7]["is_canonical"] and rows[7]["cluster_id"] == 3
    assert not rows[9]["is_canonical"] and rows[9]["cluster_id"] == 3


def test_nonconvergence_raises_by_default(spark):
    import pytest

    from datapipelines_spark.operators.components import ConvergenceError

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 > 3 rounds
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(ConvergenceError, match="max_iterations=3"):
        connected_components(df, max_iterations=3)


def test_nonconvergence_warn_returns_partial_labels(spark):
    import pytest

    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        labels = connected_components(df, max_iterations=3, on_nonconverged="warn")
    assert labels.count() == 13  # every node still labeled, possibly split


def test_exact_budget_convergence_is_clean(spark):
    # a short chain within the round budget must neither raise nor warn
    import warnings

    df = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    # connected_components warns eagerly, during the call; collect outside
    # the block so the ResourceWarning pyspark raises when its result
    # socket is garbage-collected cannot surface as an unraisable error
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        labels = connected_components(df, max_iterations=20)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_long_chain_converges_in_log_rounds(spark):
    """A 200-link path graph has diameter 200: pure min-label propagation
    would blow the 20-round default budget, pointer jumping must not."""
    from datapipelines_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    labels = connected_components(pairs, max_iterations=12)
    rows = labels.collect()
    assert len(rows) == 201
    assert {r["component"] for r in rows} == {0}  # one component, min id 0


# --- triangle counting -------------------------------------------------------


def test_triangle_counts_k4_plus_pendant(spark):
    from datapipelines_spark.operators.components import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    # each K4 vertex sits in C(3,2)=3 triangles; the pendant in none
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_triangle_free_graphs(spark):
    from datapipelines_spark.operators.components import triangle_counts

    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    assert triangle_counts(path).count() == 0
    assert triangle_counts(star).count() == 0


def test_triangle_counts_matches_bruteforce_random(spark):
    import itertools
    import random

    from datapipelines_spark.operators.components import triangle_counts

    rng = random.Random(7)
    nodes = list(range(12))
    edges = sorted(
        {(u, v) for u, v in itertools.combinations(nodes, 2) if rng.random() < 0.4}
    )
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expect = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    # duplicate + reversed edges must not change counts
    noisy = edges + [(v, u) for u, v in edges[:5]] + edges[:3]
    df = spark.createDataFrame(noisy, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expect


def test_duplicate_clusters_survivor_policy(spark):
    from datapipelines_spark.operators.components import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (11, 1.0)], "node long, score double"
    )
    got = {
        r["node"]: (r["cluster_id"], r["is_canonical"])
        for r in duplicate_clusters(pairs, scores=scores).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 9.0 -> lowest id 2 survives
    assert got[1] == (1, False) and got[2] == (1, True) and got[3] == (1, False)
    # cluster {10,11}: 10 has NO score -> ranks below 11's 1.0
    assert got[10] == (10, False) and got[11] == (10, True)
    # default policy unchanged
    base = {
        r["node"]: r["is_canonical"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert base == {1: True, 2: False, 3: False, 10: True, 11: False}


def test_triangle_counts_materializes_oriented_edges_once(spark):
    """VERDICT r6 #1: the oriented edge list feeds three consumers (both
    wedge sides and the closing-edge set); it must be checkpointed so the
    degree-join subtree runs once. The returned plan therefore scans the
    checkpointed RDD and contains NO degree aggregation or degree joins."""
    from datapipelines_spark.operators.components import triangle_counts

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    result = triangle_counts(df)
    plan = result._jdf.queryExecution().executedPlan().toString()
    # the oriented subtree (degree groupBy + two joins on u/v) is gone:
    # its output is a materialized checkpoint, scanned as an existing RDD
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan ExistingRDD") == 3  # three consumers, one source
    assert "deg" not in plan
    assert {r["node"]: r["n_triangles"] for r in result.collect()} == {
        1: 1, 2: 1, 3: 1
    }
