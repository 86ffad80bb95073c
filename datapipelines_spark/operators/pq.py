"""Product quantization (PQ) — the ANN compression path for billion-vector
corpora.

Brute-force cosine and IVF probing (operators/similarity.py, clustering.py)
still read full vectors; at 10^9+ vectors the index itself no longer fits.
Product quantization (Jegou/Douze/Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public) compresses each D-dim vector to M
small codes: split the vector into M subvectors, train a k-centroid
codebook per subspace, store argmin codes (M bytes at k<=256 vs 4·D bytes
of floats — 32x for D=64, M=8). Search uses the ASYMMETRIC distance (ADC):
the query precomputes an M x k table of subspace distances, and every
candidate's approximate distance is M table lookups — no float vector is
ever touched at scan time.

Spark shape:
- TRAIN: all M subspace Lloyd runs FUSED into one pass per iteration (one
  seed collect + one mapInPandas partial-sum job computes every subspace's
  partials; the corpus never shuffles); codebooks are (M, k, D/M)
  driver-side floats. Arithmetic per subspace equals an independent
  kmeans_fit run (operators/clustering.py contract).
- ENCODE: ONE fused Arrow pass computes all M argmins per batch against the
  broadcast codebooks (same fused-stage discipline as the minhash
  signatures); output is (id, codes array<int>) — the compressed index.
- SEARCH: query distance tables are numpy (M x k per query, tiny),
  broadcast once; ONE Arrow pass scores every (query, candidate) as M
  lookups; per-query top-k is a partitioned window over the scored rows.

Determinism (what lets DuckDB oracle the whole pipeline): init = the k
lowest-id subvectors, argmin ties to the lowest code, fixed iteration
count, float64 everywhere — the same contract as clustering.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql import types as T

from datapipelines_spark.operators.clustering import _assign_batch


def pq_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 4,
    max_iter: int = 1,
) -> np.ndarray:
    """Train per-subspace codebooks; returns (m, k, dim//m) float64.

    The vector dimension must divide evenly by ``m`` (checked against the
    first row). Each subspace trains with the deterministic kmeans
    contract (lowest-id init, ``tol=0`` fixed iterations).

    Plan shape: all ``m`` subspaces train in ONE fused pass — one
    seed collect and one mapInPandas partial-aggregate job per Lloyd
    iteration, instead of ``m`` independent ``kmeans_fit`` runs (each with
    its own persist, seed collect, and per-iteration job: 4 subspaces cost
    ~12 serial driver jobs before, 3 after — the
    dominant cost of the PQ queries was the serial job ladder, not
    compute). Arithmetic per subspace is unchanged (same argmin, same
    np.add.at partial accumulation, same driver-side partial reduce in
    collect order); only the grouping of rows into tasks can shift the
    last-ulp float accumulation, which sits ~1e-13 relative — far inside
    the 9-significant-digit canonicalization both the driver and the
    DuckDB oracles compare at (testing.py `.9g`), re-verified per query."""
    from datapipelines_spark.functions.caching import managed_persist
    from datapipelines_spark.functions.partitioning import parallelize_small

    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not first:
        raise ValueError("pq_fit: empty input")
    dim = first[0]["d"]
    if dim % m:
        raise ValueError(f"vector dim {dim} not divisible by m={m}")
    sub = dim // m
    proj = managed_persist(
        parallelize_small(
            df.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
        )
    )
    seed_rows = proj.orderBy("__id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"pq_fit: need at least k={k} vectors, got {len(seed_rows)}")
    seeds = np.array([list(r["v"]) for r in seed_rows], dtype=np.float64)
    # (m, k, sub): subspace j's init = the k lowest-id vectors' j-th slice —
    # exactly kmeans_fit's lowest-id init applied per subspace
    books = np.stack([seeds[:, j * sub : (j + 1) * sub] for j in range(m)])
    spark = df.sparkSession
    fused_schema = T.StructType(
        [
            T.StructField("j", T.IntegerType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(books)

        def partials(batches, _bc=bc):
            cents = _bc.value  # (m, k, sub)
            mm, kk, ss = cents.shape
            counts = np.zeros((mm, kk), dtype=np.int64)
            sums = np.zeros((mm, kk, ss), dtype=np.float64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                mat = np.array(list(pdf["v"]), dtype=np.float64)
                for j in range(mm):
                    smat = mat[:, j * ss : (j + 1) * ss]
                    a = _assign_batch(smat, cents[j])
                    np.add.at(counts[j], a, 1)
                    np.add.at(sums[j], a, smat)
            if not seen:
                return
            out_j, out_c, out_n, out_s = [], [], [], []
            for j in range(mm):
                live = np.nonzero(counts[j])[0]
                out_j.append(np.full(len(live), j, dtype=np.int32))
                out_c.append(live.astype(np.int32))
                out_n.append(counts[j][live])
                out_s.extend(list(sums[j][live]))
            yield pd.DataFrame(
                {
                    "j": np.concatenate(out_j),
                    "cluster": np.concatenate(out_c),
                    "n": np.concatenate(out_n),
                    "s": out_s,
                }
            )

        parts = proj.mapInPandas(partials, fused_schema).collect()
        new_books = books.copy()
        for j in range(m):
            counts = np.zeros(k, dtype=np.int64)
            sums = np.zeros((k, sub), dtype=np.float64)
            for r in parts:  # collect order, same reduce as kmeans_fit
                if r["j"] != j:
                    continue
                counts[r["cluster"]] += r["n"]
                sums[r["cluster"]] += np.asarray(r["s"], dtype=np.float64)
            live = counts > 0
            new_books[j][live] = sums[live] / counts[live, None]
        books = new_books
    return books  # (m, k, sub)


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(id, codes array<int>): per-subspace argmin codes, one Arrow pass."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        books = bc.value
        m, _, sub = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = _assign_batch(
                    mat[:, j * sub : (j + 1) * sub], books[j]
                )
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    proj = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return proj.mapInPandas(encode, schema).withColumnRenamed("__id", id_col)


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    top_k: int = 5,
    max_queries: int = 10_000,
) -> DataFrame:
    """(query_id, vec_id, adist, rank): per-query top-k candidates by
    asymmetric PQ distance.

    Queries collect to the driver (bounded by ``max_queries`` — the same
    guard discipline as similarity.cosine_topk_vectorized); their M x k
    distance tables broadcast once; candidates are scored in one Arrow
    pass as M table lookups per row and ranked with a per-query window —
    the scan side never touches a float vector."""
    q_rows = queries_df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>")
    ).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(f"more than max_queries={max_queries} query rows")
    if not q_rows:
        raise ValueError("no query rows")
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    # (Q, m, k): squared distance from each query subvector to each centroid
    tables = np.empty((len(qids), m, k), dtype=np.float64)
    for j in range(m):
        qs = qmat[:, j * sub : (j + 1) * sub]
        tables[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(
            axis=2
        )
    spark = codes_df.sparkSession
    bc = spark.sparkContext.broadcast((qids, tables))
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("__id", T.LongType()),
            T.StructField("adist", T.DoubleType()),
        ]
    )

    def score(batches):
        ids, tabs = bc.value
        nq = len(ids)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            cand = pdf["__id"].to_numpy(dtype=np.int64)
            # (Q, n): sequential sum over the M subspaces keeps the
            # addition order identical to the SQL oracle's
            dists = np.zeros((nq, len(cand)), dtype=np.float64)
            for j in range(tabs.shape[1]):
                dists += tabs[:, j, :][:, codes[:, j]]
            # PARTIAL top-k per batch: only Q*k rows leave the stage (the
            # global top-k of a union of per-batch top-ks is exact), so the
            # shuffle carries O(Q * k * batches), never Q * corpus —
            # same discipline as similarity.cosine_topk_vectorized.
            # Tie-order parity: candidates within a batch are sorted by
            # (adist, id) before the cut, matching the final window's order.
            kk = min(top_k, len(cand))
            cand2d = np.broadcast_to(cand, dists.shape)
            order_in_batch = np.lexsort((cand2d, dists))  # dists primary
            rows, out_q, out_id, out_d = len(cand), [], [], []
            for qi in range(nq):
                sel = order_in_batch[qi, :kk] if rows > kk else order_in_batch[qi]
                out_q.append(np.full(len(sel), ids[qi]))
                out_id.append(cand[sel])
                out_d.append(dists[qi, sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "__id": np.concatenate(out_id),
                    "adist": np.concatenate(out_d),
                }
            )

    proj = codes_df.select(F.col(id_col).alias("__id"), "codes")
    scored = proj.mapInPandas(score, schema).withColumnRenamed("__id", id_col)
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", id_col, "adist", "rank")
    )


def pq_adc_rerank_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    queries_df: DataFrame,
    vectors_df: DataFrame,
    vec_col: str,
    id_col: str,
    shortlist: int = 50,
    top_k: int = 5,
    max_queries: int = 10_000,
) -> DataFrame:
    """(query_id, vec_id, dist, rank): ADC shortlist + EXACT re-rank — the
    production PQ search shape (Jegou'11 §V: quantization error makes raw
    ADC ranks approximate; re-scoring a C-deep shortlist against the true
    vectors restores near-exact top-k at C/N of the exact cost). The
    measured contract on the embeddings fixture: recall@10 >= 0.9 with a
    100-deep shortlist (tests/test_pq.py).

    Scale shape: the compressed scan proposes ``shortlist`` candidates per
    query (never touching a float vector); only the Q x C shortlist — tiny
    by construction — is broadcast against the vector table, so exact
    scoring reads the true vectors for candidates ONLY, as a broadcast
    semi-join with no shuffle of the corpus; the final window ranks Q x C
    rows."""
    short = pq_adc_topk(
        codes_df, codebooks, queries_df, vec_col, id_col,
        top_k=shortlist, max_queries=max_queries,
    )
    vecs = vectors_df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    qv = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    # exact squared L2, summed dim-ascending (left fold) — the same
    # accumulation order as the oracle's list_sum(list_transform(...))
    sq = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc(id_col))
    return (
        F.broadcast(short.select("query_id", id_col))
        .join(vecs, id_col)
        .join(F.broadcast(qv), "query_id")
        .withColumn("dist", sq)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", id_col, "dist", "rank")
    )
