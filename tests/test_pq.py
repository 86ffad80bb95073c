"""Product quantization (operators/pq.py): numpy-reference parity for the
full train/encode/search pipeline, plus shape/guard behavior."""

import numpy as np
import pytest

from datapipelines_spark.operators.pq import pq_adc_topk, pq_encode, pq_fit


def _vectors(n=60, d=8, seed=3):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, d)).round(3)  # round: clean cross-impl floats


def _df(spark, mat):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ref_fit(mat, m, k, iters):
    n, d = mat.shape
    sub = d // m
    books = []
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        c = x[:k].copy()  # lowest-id init
        for _ in range(iters):
            a = (((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)).argmin(1)
            for ci in range(k):
                if (a == ci).any():
                    c[ci] = x[a == ci].mean(axis=0)
        books.append(c)
    return np.stack(books)


def test_fit_matches_numpy_reference(spark):
    mat = _vectors()
    books = pq_fit(_df(spark, mat), "embedding", "vec_id", m=2, k=3, max_iter=2)
    expect = _ref_fit(mat, 2, 3, 2)
    assert np.allclose(books, expect, atol=1e-12)


def test_encode_matches_reference_argmin(spark):
    mat = _vectors()
    books = _ref_fit(mat, 2, 3, 1)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(_df(spark, mat), "embedding", "vec_id", books).collect()
    }
    sub = mat.shape[1] // 2
    for i, v in enumerate(mat):
        for j in range(2):
            x = v[j * sub : (j + 1) * sub]
            expect = (((x[None, :] - books[j]) ** 2).sum(axis=1)).argmin()
            assert got[i][j] == expect


def test_adc_topk_matches_reference(spark):
    mat = _vectors(n=80)
    df = _df(spark, mat)
    books = pq_fit(df, "embedding", "vec_id", m=2, k=4, max_iter=1)
    codes_df = pq_encode(df, "embedding", "vec_id", books)
    queries = df.where("vec_id % 20 = 0")
    got = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in pq_adc_topk(
            codes_df, books, queries, "embedding", "vec_id", top_k=3
        ).orderBy("query_id", "rank").collect()
    ]
    # numpy reference ADC
    sub = mat.shape[1] // 2
    codes = np.stack(
        [
            (((mat[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None]) ** 2).sum(2)).argmin(1)
            for j in range(2)
        ],
        axis=1,
    )
    expect = []
    for q in range(0, 80, 20):
        t = np.stack(
            [
                (((mat[q, j * sub : (j + 1) * sub][None, :] - books[j]) ** 2).sum(1))
                for j in range(2)
            ]
        )
        d = t[0][codes[:, 0]] + t[1][codes[:, 1]]
        order = sorted(range(80), key=lambda i: (d[i], i))[:3]
        expect += [(q, r + 1, i) for r, i in enumerate(order)]
    assert got == expect


def test_pq_guards(spark):
    mat = _vectors(n=10, d=6)
    df = _df(spark, mat)
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(df, "embedding", "vec_id", m=4, k=2)
    books = pq_fit(df, "embedding", "vec_id", m=2, k=2)
    codes = pq_encode(df, "embedding", "vec_id", books)
    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(codes, books, df, "embedding", "vec_id", max_queries=3)


def test_adc_shortlist_recall_contract(spark, sf_dir):
    """Quality contract, IVF-prefilter precedent:
    PQ's production role is the SHORTLIST stage — ADC proposes candidates,
    an exact pass re-ranks them. On the embeddings fixture (500 x 64-dim,
    labeled clusters), m=16/k=16 codebooks with a 100-deep ADC shortlist
    must recover >= 0.9 of the exact squared-L2 top-10, averaged over 20
    queries (measured: 0.94; fully deterministic — lowest-id init, stable
    argsort, fixed fixture)."""
    from datapipelines_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, "embedding", "vec_id", m=16, k=16, max_iter=2)
    codes_df = pq_encode(emb, "embedding", "vec_id", books)
    queries = emb.where("vec_id % 25 = 0")
    shortlist = pq_adc_topk(
        codes_df, books, queries, "embedding", "vec_id", top_k=100
    )
    cand = {}
    for r in shortlist.collect():
        cand.setdefault(r["query_id"], set()).add(r["vec_id"])

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pos = {int(v): i for i, v in enumerate(ids)}
    recalls = []
    for qid, short in cand.items():
        exact = ((mat - mat[pos[qid]]) ** 2).sum(axis=1)
        top10 = {int(ids[i]) for i in np.argsort(exact, kind="stable")[:10]}
        recalls.append(len(top10 & short) / 10)
    assert len(recalls) == 20
    assert float(np.mean(recalls)) >= 0.9
