"""In-plan linear text classifier — the fastText recipe (Joulin et al. 2017,
"Bag of Tricks for Efficient Text Classification": hashed bag-of-ngrams
features + a linear model) reduced to relational algebra, so a web-corpus
quality gate TRAINS and SCORES inside the engine with the corpus never
leaving the executors.

  features: token unigrams + bigrams, feature-hashed into ``buckets``
            integer slots (Weinberger et al. 2009 hashing trick) with the
            portable md5 hash — per-doc (bucket, count) rows plus one
            constant bias feature;
  train:    full-batch gradient descent on a squashed linear model. Each
            epoch is pure relational algebra: scores from one
            broadcast-join of the (buckets+1)-row weight table against the
            feature rows, the gradient from one per-bucket partial
            aggregate (map-side combine IS the per-partition gradient),
            the update from a broadcast scalar count. The corpus streams
            once per epoch and is never collected;
  score:    one more broadcast-join + per-doc sum; prediction = score > 0.

Numeric discipline for cross-engine replay (hardened after exp() broke a
digit-exact replay on another engine): the ENTIRE replay surface is
integers plus IEEE-754 correctly-rounded double primitives, so any two
conforming engines produce bit-identical training runs.

  - Weights are BIGINT micro-units (1e-6): integer sums are exact and
    order-independent, so partitioning cannot change a digit.
  - The squashing function is the division-only rational sigmoid
    s(z) = 0.5 + z / (2 * (1 + |z|))  — range (0,1), monotone, s(0)=0.5.
    abs / add / multiply-by-2 / divide are all correctly rounded under
    IEEE-754, unlike exp(), whose 1-ulp license across libm builds can
    break a digit-exact replay.
  - Quantization is floor-scaled (FLOOR(x * 1e6) -> BIGINT), never
    round(double, n): floor is exact and has no half-way rule for engines
    to disagree on.

Integer magnitudes stay far below 2^53 at any realistic bucket count, and
even past it the BIGINT->DOUBLE cast is itself a correctly-rounded IEEE
operation, so portability never degrades — only resolution would.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from datapipelines_spark.functions.hashing import portable_hash64

BIAS = "__bias__"  # the constant feature rides as bucket == n_buckets

MICRO = 1_000_000  # fixed-point scale: 1 weight micro-unit == 1e-6


def rational_sigmoid(z: Column) -> Column:
    """The "fast sigmoid" surrogate 0.5 + z / (2 * (1 + |z|)): monotone,
    (0,1)-ranged, 0.5 at z=0 — and built ONLY from correctly-rounded
    IEEE-754 primitives (abs, add, mul, div), so it evaluates
    bit-identically on every conforming engine, unlike exp()."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def hashed_ngram_features(
    df: DataFrame, text_col: str, id_col: str, buckets: int = 64
) -> DataFrame:
    """Per-document hashed bag-of-ngrams: ``(id, bucket, cnt)`` over token
    unigrams + bigrams (empty tokens dropped first, so runs of spaces
    cannot mint grams), plus one bias row ``bucket == buckets`` per
    document. NULL texts have no feature rows at all — callers declare the
    domain upstream."""
    df = df.where(F.col(text_col).isNotNull())
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("__toks"))
    uni = base.select(id_col, F.explode("__toks").alias("gram"))
    bi = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("__toks", i),
                        F.element_at("__toks", i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    hashed = uni.unionByName(bi).select(
        id_col, (portable_hash64("gram") % buckets).alias("bucket")
    )
    counted = hashed.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    bias = base.select(
        id_col,
        F.lit(buckets).cast("bigint").alias("bucket"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    return counted.unionByName(bias)


def logreg_train(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str,
    buckets: int = 64,
    epochs: int = 2,
    lr: float = 0.5,
) -> DataFrame:
    """Full-batch gradient descent over hashed features: returns the
    ``(bucket, weight_micro)`` table (BIGINT micro-units) after ``epochs``
    steps from zero init. ``labels`` is ``(id, y)`` with y in {0,1}.

    Epoch algebra (all in-plan; weights localCheckpoint'ed per epoch so the
    two consumers of each epoch's table — next scores and next update —
    share one materialization). Every step is either exact integer
    arithmetic or a correctly-rounded IEEE double primitive:

      zµ_d  = sum_j wµ_j x_dj                     (bigint, exact)
      z_d   = zµ_d / 1e6                          (one rounded division)
      s_d   = 0.5 + z_d / (2 (1 + |z_d|))         (rational sigmoid)
      rµ_d  = floor((y_d - s_d) * 1e6)            (floor-scaled, exact)
      gµ_j  = sum_d rµ_d x_dj                     (bigint, exact)
      wµ_j += floor(lr * gµ_j / n)                (rounded mul+div, floor)
    """
    spark = feats.sparkSession
    w = spark.range(buckets + 1).select(
        F.col("id").cast("bigint").alias("bucket"),
        F.lit(0).cast("bigint").alias("weight_micro"),
    )
    n_docs = labels.agg(F.count(F.lit(1)).alias("__n"))
    lab = labels.select(F.col(id_col), F.col("y").cast("int").alias("__y"))
    for _ in range(epochs):
        w = w.localCheckpoint(eager=True)
        z = (
            feats.join(F.broadcast(w), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("weight_micro") * F.col("cnt")).alias("__zmu"))
        )
        zd = F.col("__zmu").cast("double") / F.lit(float(MICRO))
        resid = lab.join(z, id_col).select(
            F.col(id_col),
            F.floor(
                (F.col("__y") - rational_sigmoid(zd)) * F.lit(float(MICRO))
            ).alias("__rmu"),
        )
        grad = (
            feats.join(resid, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("__rmu") * F.col("cnt")).alias("__gmu"))
        )
        w = (
            w.join(grad, "bucket", "left")
            .crossJoin(F.broadcast(n_docs))
            .select(
                "bucket",
                (
                    F.col("weight_micro")
                    + F.floor(
                        F.lit(float(lr))
                        * F.coalesce(F.col("__gmu"), F.lit(0)).cast("double")
                        / F.col("__n").cast("double")
                    )
                ).alias("weight_micro"),
            )
        )
    return w


def logreg_score(feats: DataFrame, weights: DataFrame, id_col: str) -> DataFrame:
    """(id, n_feats, score_micro, pred) per document with feature rows:
    exact bigint sum of micro-weight x count; prediction is the sign. One
    broadcast join — the corpus never shuffles."""
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.sum(F.col("weight_micro") * F.col("cnt"))
            .cast("bigint")
            .alias("score_micro"),
        )
        .withColumn("pred", F.col("score_micro") > 0)
    )
