"""Scalar quantization SQ8 (operators/sq.py): literal-reference parity for
fit/encode (left-fold norm replayed in pure Python), end-to-end search
behavior (recall contract, partitioning invariance, clamping), and guards."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from datapipelines_spark.operators.sq import (
    sq8_adc_rerank_topk,
    sq8_encode,
    sq8_fit,
)


def _vectors(n=120, d=8, seed=11):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, d)).round(3)


def _df(spark, mat):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _py_normalize(row):
    """Literal replica of the engine's fold-ordered norm: sequential
    left-to-right sum, then IEEE sqrt and divides — bitwise what the JVM
    (and the SQL oracle) computes."""
    import math

    acc = 0.0
    for x in row:
        acc = acc + x * x
    nrm = math.sqrt(acc)
    return [x / nrm for x in row]


def _py_codes(row, mins, maxs):
    import math

    out = []
    for x, mn, mx in zip(row, mins, maxs):
        if mx == mn:
            out.append(0)
        else:
            raw = math.floor((x - mn) * 255.0 / (mx - mn))
            out.append(int(min(255.0, max(0.0, raw))))
    return out


def test_fit_unnormalized_is_exact_per_dimension_minmax(spark):
    mat = _vectors()
    mins, maxs = sq8_fit(_df(spark, mat), "embedding", normalize=False)
    assert mins == [float(x) for x in mat.min(axis=0)]
    assert maxs == [float(x) for x in mat.max(axis=0)]


def test_fit_and_encode_match_literal_python_replay(spark):
    """fit + encode on NORMALIZED vectors replayed in pure Python with the
    identical primitive order — codes must be equal exactly, not approx:
    this is the property that lets the SQL oracle replay the search."""
    mat = _vectors()
    df = _df(spark, mat)
    mins, maxs = sq8_fit(df, "embedding")
    normed = [_py_normalize([float(x) for x in row]) for row in mat]
    assert mins == [min(r[d] for r in normed) for d in range(mat.shape[1])]
    assert maxs == [max(r[d] for r in normed) for d in range(mat.shape[1])]
    got = {
        r["vec_id"]: list(r["codes"])
        for r in sq8_encode(df, "embedding", "vec_id", mins, maxs).collect()
    }
    for i, row in enumerate(normed):
        assert got[i] == _py_codes(row, mins, maxs), f"row {i}"


def test_codes_span_byte_range_with_extremes_at_ends(spark):
    mat = _vectors()
    df = _df(spark, mat)
    mins, maxs = sq8_fit(df, "embedding")
    codes = np.array(
        [
            r["codes"]
            for r in sq8_encode(df, "embedding", "vec_id", mins, maxs)
            .orderBy("vec_id")
            .collect()
        ]
    )
    normed = np.array([_py_normalize([float(x) for x in r]) for r in mat])
    for d in range(mat.shape[1]):
        assert codes[normed[:, d].argmin(), d] == 0
        # (mx-mn)*255/(mx-mn) may round just under 255: 254 or 255 both legal
        assert codes[normed[:, d].argmax(), d] >= 254


def test_constant_dimension_codes_zero(spark):
    mat = _vectors(n=20)
    mat[:, 3] = 1.5  # zero span after normalization? no — keep raw space
    df = _df(spark, mat)
    mins, maxs = sq8_fit(df, "embedding", normalize=False)
    for r in sq8_encode(
        df, "embedding", "vec_id", mins, maxs, normalize=False
    ).collect():
        assert r["codes"][3] == 0


def test_out_of_range_values_clamp(spark):
    """Vectors outside the fit envelope must clamp to [0, 255] rather than
    wrap or overflow (queries are quantized with corpus min/max)."""
    mat = _vectors(n=30)
    mins, maxs = sq8_fit(_df(spark, mat), "embedding", normalize=False)
    wild = np.array([[1e6] * 8, [-1e6] * 8])
    got = {
        r["vec_id"]: list(r["codes"])
        for r in sq8_encode(
            _df(spark, wild), "embedding", "vec_id", mins, maxs, normalize=False
        ).collect()
    }
    assert got[0] == [255] * 8
    assert got[1] == [0] * 8


def _brute_topk(mat, qidx, k):
    norms = np.sqrt((mat**2).sum(axis=1))
    out = {}
    for qi in qidx:
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted(range(len(mat)), key=lambda i: (-cos[i], i))
        out[qi] = set(order[:k])
    return out


def test_rerank_recall_contract_and_exact_shortlist_order(spark):
    """With a shortlist 5x deeper than k, SQ8 recall@5 on a gaussian corpus
    must be >= 0.9 (the code-L2 surrogate on normalized vectors; the code
    DOT variant measured ~0.5 before the rewrite); within the shortlist the
    ranking is EXACT cosine."""
    mat = _vectors(n=200, d=16, seed=7)
    df = _df(spark, mat)
    queries = df.where(F.col("vec_id") % 20 == 0)
    got = sq8_adc_rerank_topk(
        df, queries, "embedding", "vec_id", shortlist=25, top_k=5
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    brute = _brute_topk(mat, sorted(by_q), 5)
    hits = total = 0
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
        got_ids = {r["neighbor_id"] for r in rows}
        hits += len(got_ids & brute[q])
        total += 5
    assert hits / total >= 0.9, f"recall {hits / total}"


def test_search_is_partitioning_invariant(spark):
    """Integer shortlist scores have no float fuzz: any corpus layout
    (and thus any per-batch partial top-C split) gives identical output."""
    mat = _vectors(n=150, d=8, seed=5)
    df = _df(spark, mat)
    queries = df.where(F.col("vec_id") % 30 == 0)
    a = sq8_adc_rerank_topk(
        df.repartition(1), queries, "embedding", "vec_id", 20, 5
    ).collect()
    b = sq8_adc_rerank_topk(
        df.repartition(13, "vec_id"), queries, "embedding", "vec_id", 20, 5
    ).collect()
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[3])
    )


def test_guards(spark):
    mat = _vectors(n=10)
    df = _df(spark, mat)
    with pytest.raises(ValueError, match="shortlist"):
        sq8_adc_rerank_topk(df, df, "embedding", "vec_id", shortlist=3, top_k=5)
    with pytest.raises(ValueError, match="max_queries"):
        sq8_adc_rerank_topk(
            df, df, "embedding", "vec_id", shortlist=5, top_k=5, max_queries=4
        )
    with pytest.raises(ValueError, match="no query rows"):
        sq8_adc_rerank_topk(
            df, df.where(F.lit(False)), "embedding", "vec_id", 5, 5
        )
    with pytest.raises(ValueError, match="empty"):
        sq8_fit(df.where(F.lit(False)), "embedding")
    with pytest.raises(ValueError, match="max_corpus"):
        sq8_adc_rerank_topk(
            df, df, "embedding", "vec_id", shortlist=5, top_k=5, max_corpus=9
        )


def test_max_corpus_guard_counts_each_corpus(spark):
    """Two corpora with one schema have the same plan string; the guard must
    still count the second one rather than reuse the first one's count."""
    small = _df(spark, _vectors(n=5))
    sq8_adc_rerank_topk(
        small, small, "embedding", "vec_id", shortlist=5, top_k=5, max_corpus=9
    )
    big = _df(spark, _vectors(n=120))
    with pytest.raises(ValueError, match="max_corpus"):
        sq8_adc_rerank_topk(
            big, big, "embedding", "vec_id", shortlist=5, top_k=5, max_corpus=9
        )


def test_normalized_vec_edge_values_match_transform_shape(spark):
    """_normalized_vec switched from transform-with-inlined-norm (an
    O(D²)-per-row CollapseProject trap) to zip_with/array_repeat —
    per-position division is value-identical; pin the edges where the two
    shapes could conceivably diverge: NULL vector, empty vector, NULL
    element, zero-norm vector."""
    from datapipelines_spark.operators.sq import _normalized_vec

    rows = [
        (0, [3.0, 4.0]),
        (1, None),
        (2, []),
        (3, [1.0, None]),
        (4, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["__v"]
        for r in _normalized_vec(df, "embedding", True).collect()
    }
    assert got[0] == [0.6, 0.8]
    assert got[1] is None
    assert got[2] == []
    # a NULL element nulls the norm FOLD, so every position divides by
    # NULL — the same in both shapes (the fold is shared, only its
    # evaluation count changed)
    assert got[3] == [None, None]
    # Spark's Divide yields NULL on a zero divisor (ANSI off) — the same
    # Divide expression in both shapes (callers filter zero-norm upstream)
    assert got[4] == [None, None]


def test_fit_rejects_ragged_vector_lengths(spark):
    # a vector SHORTER than the rest yields contiguous 0..D-1 positions,
    # so only the per-dimension count check can catch it
    rows = [(0, [0.1, 0.2, 0.3]), (1, [0.4, 0.5, 0.6]), (2, [0.7, 0.8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ragged"):
        sq8_fit(df, "embedding")
