"""Scalar quantization (SQ8) — the byte-per-dimension ANN compression path.

Product quantization (operators/pq.py) compresses hardest but needs trained
codebooks; scalar quantization (the SQ8 index family popularized by FAISS's
``IndexScalarQuantizer`` — public) is the zero-training middle ground: each
dimension is independently affine-mapped to one byte,

    code_d = clamp(floor((x_d - min_d) * 255 / (max_d - min_d)), 0, 255),

a 4x memory cut (float32 -> uint8) with no codebook state beyond 2·D floats.
Search scores candidates against the quantized corpus and re-ranks a
shortlist against the true vectors — the PQ discipline.

Design choices (and why):

- vectors are L2-NORMALIZED before quantization, and the surrogate score is
  the INTEGER code-space squared L2, ``Σ (qcode_d - ccode_d)²``. On unit
  vectors L2 order IS cosine order, and in code differences the per-dim
  affine offset cancels — ``(q̂-ĉ)_d ≈ scale_d·(q_d-c_d)`` — so the
  surrogate tracks the true metric. (A code DOT product does not: the
  offset contributes per-candidate corruption ``Σ offset_d·c_d`` that
  swamps the signal — measured recall@5 collapsed to ~0.5 on gaussian
  vectors before this rewrite.)
- integer scores (≤ 64·255² < 2^23, exact in int64/BIGINT/doubles) are
  associative: numpy GEMM order, per-batch partial top-C cuts, and the SQL
  oracle's ``list_sum`` agree with no float-summation-order discipline.
- quantization has ONE code path: the JVM array expression quantizes corpus
  AND queries (query codes are collected, not recomputed in numpy), and
  every primitive in the replay surface — fold-ordered norm, sqrt, divide,
  subtract, multiply, floor — is IEEE-correctly-rounded, so DuckDB
  recomputes bit-identical codes and the whole search is oracle-checkable.

Spark shape (what survives 10^9 vectors):
- FIT: one aggregate over the corpus (2·D scalar min/max) — no shuffle of
  vectors, output is a driver-side constant;
- ENCODE: per-row JVM array expressions (whole-stage codegen, no Python);
- SEARCH: query codes broadcast as one int matrix; ONE Arrow pass computes
  the integer distances per corpus batch and emits a PARTIAL top-C per
  batch, so the shuffle carries O(Q·C·batches) rows, never Q·corpus;
- RERANK: the Q·C shortlist broadcasts against the vector table — true
  vectors are read for shortlist members only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import types as T

from datapipelines_spark.operators.dedup import _dot, _norm


def _normalized_vec(df: DataFrame, vec_col: str, normalize: bool) -> DataFrame:
    """``__v``: the double vector, L2-normalized when asked. Fold order
    matches the SQL oracle's ``list_sum`` (sequential left-to-right) —
    sqrt and divide are correctly rounded, so normalized values are
    engine-portable bit-for-bit.

    Shape note (r14): the obvious ``transform(v, x -> x / nrm_col)`` is an
    O(D²)-per-row trap — Catalyst's CollapseProject inlines the single-use
    ``nrm`` alias INTO the lambda body, and higher-order functions never
    codegen, so the whole 64-step norm fold re-ran (interpreted) for every
    element; measured ~1 s per pass over a 2000-row fixture. ``zip_with``
    against ``array_repeat(nrm, size(v))`` keeps the fold in plain argument
    position — inlining leaves it evaluated ONCE per row — and the
    per-position division ``v[i] / nrm`` is value-identical to the
    transform it replaces (same operands, same IEEE ops)."""
    v = F.col(vec_col).cast("array<double>")
    if not normalize:
        return df.withColumn("__v", v)
    return df.withColumn("__nrm", _norm(v)).withColumn(
        "__v",
        F.zip_with(
            v,
            F.array_repeat(F.col("__nrm"), F.size(v)),
            lambda x, n: x / n,
        ),
    )


def sq8_fit(df: DataFrame, vec_col: str, normalize: bool = True) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs) over the (normalized) corpus, as
    driver-side floats.

    ONE posexplode + per-dimension aggregate: map-side partials mean only
    D (min, max) pairs per partition shuffle — the corpus never moves. (A
    flat 2·D-expression ``agg`` was 4x slower even at fixture scale:
    Catalyst does no common-subexpression elimination ACROSS aggregate
    children, so each of the 128 aggregates re-evaluated the interpreted
    normalize transform per row.)"""
    nd = _normalized_vec(df, vec_col, normalize)
    rows = (
        nd.select(F.posexplode(F.col("__v")).alias("__d", "__x"))
        .groupBy("__d")
        .agg(
            F.min("__x").alias("mn"),
            F.max("__x").alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("sq8_fit: empty input")
    byd = {r["__d"]: (r["mn"], r["mx"]) for r in rows}
    dim = len(byd)
    if sorted(byd) != list(range(dim)):
        raise ValueError("sq8_fit: ragged vector lengths")
    # Vectors SHORTER than the longest still produce contiguous 0..D-1
    # positions (the check above passes) but would later break the code
    # matrix stacking with an opaque numpy error (ADVICE r10 #4): a short
    # vector under-contributes to the tail dimensions, so per-dimension
    # row counts diverge exactly when lengths are ragged.
    if len({r["cnt"] for r in rows}) != 1:
        raise ValueError(
            "sq8_fit: ragged vector lengths (per-dimension counts differ — "
            "all vectors must share one fixed dimension)"
        )
    mins = [float(byd[i][0]) for i in range(dim)]
    maxs = [float(byd[i][1]) for i in range(dim)]
    return mins, maxs


def _quantize_expr(v: Column, mins: list[float], maxs: list[float]) -> Column:
    """codes array<int> for a double-array column — pure JVM expressions.
    The corpus max can quantize to 254 OR 255 (``(mx-mn)·255/(mx-mn)``
    may round just under 255); both engines agree because every primitive
    is correctly rounded."""
    mins_arr = F.array(*[F.lit(m) for m in mins])
    maxs_arr = F.array(*[F.lit(m) for m in maxs])

    def code(x: Column, i: Column) -> Column:
        mn = F.element_at(mins_arr, i + 1)
        mx = F.element_at(maxs_arr, i + 1)
        raw = F.floor((x - mn) * F.lit(255.0) / (mx - mn))
        return F.when(mx == mn, F.lit(0)).otherwise(
            F.least(F.lit(255.0), F.greatest(F.lit(0.0), raw))
        ).cast("int")

    return F.transform(v, code)


def sq8_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    mins: list[float],
    maxs: list[float],
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int>): the compressed index, one codegen'd map."""
    nd = _normalized_vec(df, vec_col, normalize)
    return nd.select(
        F.col(id_col),
        _quantize_expr(F.col("__v"), mins, maxs).alias("codes"),
    )


def sq8_adc_rerank_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    shortlist: int = 20,
    top_k: int = 5,
    max_queries: int = 10_000,
    max_corpus: int = 10_000_000,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): integer code-L2 shortlist
    over the SQ8 index + exact cosine re-rank against the true vectors.

    Query CODES collect to the driver (bounded by ``max_queries``, the
    guard discipline of similarity.cosine_topk_vectorized) and broadcast
    as one int64 matrix. Candidates including the query itself are scored
    — callers filter self-pairs when unwanted (the PQ family convention).
    Corpus vectors must be nonzero (cosine needs a direction); filter
    zero-norm rows upstream.

    SCALE GUARD: the shortlist stage scans the ENTIRE code table per
    query batch — linear in corpus size by design (FAISS
    ``IndexScalarQuantizer`` semantics; bench.py's 4x-scaled pass measured
    ``growth_class: linear``). That is the right shape for small corpora
    and re-rank stages, and the wrong one past ~10^7 rows — the composed
    IVF+SQ8 path (query ``sim_ivf_sq8_topk``, queries/vectors.py: IVF cell
    prefilter + SQ8 codes within probed cells) restricts the scan to
    probed cells and is the corpus-scale default. Raise ``max_corpus``
    explicitly to accept the flat scan anyway."""
    if shortlist < top_k:
        raise ValueError("shortlist must be >= top_k")
    # memoized bounded count (similarity._bounded_count): the guard probe
    # is one early-stopping job per distinct corpus plan per session, not
    # one per call — bench repeats and composed pipelines skip it (r13).
    # ASSUMPTION (r14, ADVICE): the memo key is (appId, plan fingerprint),
    # so a source that GROWS in-place within one session under an identical
    # plan (parquet dir appended between calls) would reuse a stale count
    # and could slip past this cap. Sources here are immutable snapshots
    # (the bench fixtures and any sane table layout); pass cache=False to
    # _bounded_count if that ever changes.
    from datapipelines_spark.operators.similarity import _bounded_count

    n_corpus = _bounded_count(corpus_df.select(F.lit(1)), max_corpus + 1)
    if n_corpus > max_corpus:
        raise ValueError(
            f"sq8_adc_rerank_topk: corpus exceeds max_corpus={max_corpus}; "
            "the flat SQ8 scan is linear in corpus size — use the IVF+SQ8 "
            "composition (sim_ivf_sq8_topk) at this scale, "
            "or raise max_corpus to accept the flat scan explicitly"
        )
    mins, maxs = sq8_fit(corpus_df, vec_col)
    codes = sq8_encode(corpus_df, vec_col, id_col, mins, maxs)

    q_rows = sq8_encode(queries_df, vec_col, id_col, mins, maxs).limit(
        max_queries + 1
    ).collect()
    if len(q_rows) > max_queries:
        raise ValueError(f"more than max_queries={max_queries} query rows")
    if not q_rows:
        raise ValueError("no query rows")
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qcodes = np.array([list(r[1]) for r in q_rows], dtype=np.int64)  # (Q, D)

    spark = corpus_df.sparkSession
    bc = spark.sparkContext.broadcast((qids, qcodes))
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("__id", T.LongType()),
            T.StructField("iscore", T.LongType()),
        ]
    )

    def score(batches):
        ids, qc = bc.value
        nq = len(ids)
        qsq = (qc * qc).sum(axis=1)  # (Q,)
        for pdf in batches:
            if not len(pdf):
                continue
            cc = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, D)
            cand = pdf["__id"].to_numpy(dtype=np.int64)
            # ||q-c||² = ||q||² - 2 q·c + ||c||² — exact int64 throughout
            csq = (cc * cc).sum(axis=1)  # (n,)
            scores = qsq[:, None] - 2 * (qc @ cc.T) + csq[None, :]
            # PARTIAL top-C per batch: the global top-C of a union of
            # per-batch top-Cs is exact, so only Q·C rows leave the stage.
            # Integer scores make the (score asc, id asc) cut fuzz-free.
            kk = min(shortlist, len(cand))
            cand2d = np.broadcast_to(cand, scores.shape)
            order = np.lexsort((cand2d, scores))
            out_q, out_id, out_s = [], [], []
            for qi in range(nq):
                sel = order[qi, :kk]
                out_q.append(np.full(len(sel), ids[qi]))
                out_id.append(cand[sel])
                out_s.append(scores[qi, sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "__id": np.concatenate(out_id),
                    "iscore": np.concatenate(out_s),
                }
            )

    proj = codes.select(F.col(id_col).alias("__id"), "codes")
    scored = proj.mapInPandas(score, schema)
    ws = Window.partitionBy("query_id").orderBy(
        F.asc("iscore"), F.asc("__id")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(ws))
        .where(F.col("__rn") <= shortlist)
        .select("query_id", F.col("__id").alias(id_col))
    )

    vecs = corpus_df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    qv = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc(id_col)
    )
    return (
        F.broadcast(short)
        .join(vecs, id_col)
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos_raw",
            _dot(F.col("__qv"), F.col("__v")) / (F.col("__qn") * F.col("__n")),
        )
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )
