"""Find-then-verify heavy hitters (operators/sketch.py): exactness against
a brute-force groupBy, candidate-superset behavior, edge cases."""

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.operators.sketch import heavy_hitters


def _tokens(spark, counts: dict[str, int]):
    rows = [(w,) for w, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "token string")


def test_matches_bruteforce_exactly(spark):
    counts = {"a": 500, "b": 120, "c": 11, "d": 9, "e": 360}
    df = _tokens(spark, counts)  # total 1000; support 1% -> threshold 10
    got = {
        r["item"]: (r["n"], r["share"])
        for r in heavy_hitters(df, "token", support=0.01).collect()
    }
    expect = {
        w: (n, round(n / 1000, 6)) for w, n in counts.items() if n > 10
    }
    assert got == expect  # 'c' (11) in, 'd' (9) out


def test_boundary_is_strictly_greater(spark):
    df = _tokens(spark, {"x": 10, "y": 990})  # x is exactly 1%
    got = {r["item"] for r in heavy_hitters(df, "token", support=0.01).collect()}
    assert got == {"y"}


def test_no_heavy_hitters_returns_empty(spark):
    df = spark.range(2000).select(
        F.concat(F.lit("t"), F.col("id")).alias("token")
    )  # all unique: nothing above 1%
    assert heavy_hitters(df, "token", support=0.01).count() == 0


def test_invalid_support_rejected(spark):
    df = _tokens(spark, {"a": 1})
    with pytest.raises(ValueError):
        heavy_hitters(df, "token", support=1e-6)


def test_nulls_ignored_as_candidates(spark):
    df = spark.createDataFrame(
        [("a",)] * 50 + [(None,)] * 50, "token string"
    )
    got = {r["item"]: r["n"] for r in heavy_hitters(df, "token", 0.2).collect()}
    assert got == {"a": 50}


def test_empty_branch_schema_matches_nonempty(spark):
    """The empty-candidate branch must carry the INPUT
    column's type for `item`, so both branches union/write cleanly."""
    longs = spark.range(3000).select(F.col("id").alias("user"))  # all unique
    empty = heavy_hitters(longs, "user", support=0.01)
    assert empty.count() == 0
    hot = spark.createDataFrame([(7,)] * 90 + [(i,) for i in range(10)], "user long")
    nonempty = heavy_hitters(hot, "user", support=0.5)
    assert [f.dataType for f in empty.schema.fields] == [
        f.dataType for f in nonempty.schema.fields
    ]
    assert empty.unionByName(nonempty).count() == nonempty.count()


# ---------------------------------------------------------------------------
# theta_sampled_distinct (fixed-θ KMV/theta-sketch family)


def _py_portable_hash(v) -> int:
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


def test_theta_sample_matches_literal_python_replay(spark):
    """n_sampled / est_distinct / rel_err are a pure function of the data
    and the portable hash — replay the whole sketch in literal Python."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    rows = [("g%d" % (i % 3), i % 700) for i in range(5000)]
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        r["grp"]: (
            r["n_sampled"],
            r["est_distinct"],
            r["rel_err_pct_x100"],
            r["exact_distinct"],
        )
        for r in theta_sampled_distinct(df, ["grp"], "v", 1, 8).collect()
    }
    cutoff = (1 << 32) // 8
    for g in ("g0", "g1", "g2"):
        values = {v for grp, v in rows if grp == g}
        sampled = {v for v in values if _py_portable_hash(v) < cutoff}
        est = len(sampled) * 8
        rel = abs(est - len(values)) * 10_000 // len(values)
        assert got[g] == (len(sampled), est, rel, len(values))


def test_theta_all_null_group_yields_zero_error_not_null(spark):
    """countDistinct ignores NULLs, so an all-NULL group has
    exact_distinct = 0 — the relative error must be a defined 0, not a
    Spark-NULL / DuckDB-divide-by-zero portability break."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    df = spark.createDataFrame(
        [("nulls", None), ("nulls", None), ("vals", 1), ("vals", 2)],
        "grp string, v long",
    )
    got = {
        r["grp"]: r for r in theta_sampled_distinct(df, ["grp"], "v", 1, 2).collect()
    }
    assert got["nulls"]["exact_distinct"] == 0
    assert got["nulls"]["est_distinct"] == 0
    assert got["nulls"]["rel_err_pct_x100"] == 0
    assert got["vals"]["exact_distinct"] == 2


def test_theta_estimate_within_5_sigma_on_large_uniform(spark):
    """Accuracy on a 20k-distinct uniform corpus: SE ≈ sqrt(D·θ(1-θ))/θ;
    the fixed fixture makes this deterministic, the 5σ budget makes it a
    real accuracy statement rather than a tautology."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    d = 20_000
    df = spark.range(d).selectExpr("'all' AS grp", "id AS v")
    row = theta_sampled_distinct(df, ["grp"], "v", 1, 8).collect()[0]
    theta = 1 / 8
    se = (d * theta * (1 - theta)) ** 0.5 / theta
    assert abs(row["est_distinct"] - d) <= 5 * se
    assert row["exact_distinct"] == d


def test_theta_sample_is_partitioning_invariant(spark):
    """Hash-sampled survivors are data-derived: any physical layout gives
    the identical sketch (SURVEY §7.6 risk 2 discipline)."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    df = spark.createDataFrame(
        [("g", i * 37 % 911) for i in range(4000)], "grp string, v long"
    )
    a = theta_sampled_distinct(df.repartition(1), ["grp"], "v").collect()
    b = theta_sampled_distinct(df.repartition(16, "v"), ["grp"], "v").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_theta_duplicates_do_not_inflate_sample(spark):
    """The sketch counts DISTINCT survivors: replicating every row 7×
    changes nothing."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    base = [("g", i) for i in range(1000)]
    df1 = spark.createDataFrame(base, "grp string, v long")
    df7 = spark.createDataFrame(base * 7, "grp string, v long")
    assert (
        theta_sampled_distinct(df1, ["grp"], "v").collect()
        == theta_sampled_distinct(df7, ["grp"], "v").collect()
    )


def test_theta_invalid_fraction_rejected(spark):
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    df = spark.createDataFrame([("g", 1)], "grp string, v long")
    with pytest.raises(ValueError):
        theta_sampled_distinct(df, ["grp"], "v", 8, 8)
    with pytest.raises(ValueError):
        theta_sampled_distinct(df, ["grp"], "v", 0, 8)


def test_theta_sketch_is_mergeable_across_slices(spark):
    """The documented mergeability claim, executed: sketching the UNION of
    two disjoint slices equals merging the slices' survivor sets (distinct
    union) — i.e. the per-group outputs of the whole equal the outputs
    computed from the union of the halves, however the corpus is split."""
    from datapipelines_spark.operators.sketch import theta_sampled_distinct

    rows = [("g%d" % (i % 2), (i * 131) % 2039) for i in range(6000)]
    df = spark.createDataFrame(rows, "grp string, v long")
    half_a = df.where(F.col("v") % 2 == 0)
    half_b = df.where(F.col("v") % 2 == 1)
    whole = theta_sampled_distinct(df, ["grp"], "v").collect()
    merged = theta_sampled_distinct(
        half_a.unionByName(half_b), ["grp"], "v"
    ).collect()
    assert sorted(map(tuple, whole)) == sorted(map(tuple, merged))
