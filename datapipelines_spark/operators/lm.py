"""In-plan n-gram language-model scoring — the classic perplexity filter.

Production corpus pipelines gate documents on perplexity under a language
model trained on a clean reference corpus (the CCNet recipe: docs whose
LM score is far from the reference distribution are boilerplate, spam, or
the wrong language). The heavyweight version needs an external LM runtime
(KenLM); the relational version here — an add-alpha-smoothed BIGRAM model —
is the classical baseline that trains and scores INSIDE the engine:

  train:  c(v,w) and c(v,.) from the reference slice — two grouped counts,
          the reference streams once;
  score:  avg log P(w|v) per document, P(w|v) = (c(v,w)+a)/(c(v,.)+a(V+1))
          — bigrams are built with array ops (zip of the shifted token
          array, no shuffle), then ONE join against the model table and a
          per-doc aggregate. The model is broadcast only under a bounded
          row-count probe; a web-scale reference falls back to a shuffle
          join.

Numeric discipline for cross-engine reproducibility (the DuckDB oracle):
per-bigram log-probabilities round to 6 decimals and cast to DECIMAL before
the per-doc sum — exact decimal aggregation, order-independent, immune to
1-ulp libm differences (same rule as operators/nbayes.py).

Bigram semantics: tokens are the raw space-split array (mirroring the SQL
oracle's ``string_split``); adjacent pairs (arr[i], arr[i+1]); documents
with fewer than two tokens produce no bigrams and drop out of the result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: Broadcast the model only while it stays under this many rows (bigram
#: tables grow with reference size, not corpus size — but a web-scale
#: reference must shuffle-join instead of dying at broadcast submit).
BROADCAST_MAX_MODEL_ROWS = 2_000_000


def _bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    arr = F.split(F.col(text_col), " ")
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, 1, n - 1).alias("v"), F.slice(arr, 2, n - 1).alias("t")
    )
    return (
        df.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.v").alias("v"), F.col("p.t").alias("t"))
    )


def bigram_lm_train(
    ref: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram counts (v, t, c), history counts (v, ch), vocab scalar (vsz)).

    The history count is the sum of bigram counts per history — consistent
    with the conditional estimate — and the vocabulary size counts distinct
    reference TOKENS (smoothing reserves one extra slot for OOV)."""
    big = _bigrams(ref, text_col, id_col).groupBy("v", "t").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = big.groupBy("v").agg(F.sum("c").alias("ch"))
    vocab = (
        ref.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )
    return big, hist, vocab


def bigram_lm_score(
    docs: DataFrame,
    ref: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """(id, n_bigrams, sum_logp, avg_logp) for every doc with >= 2 tokens.

    ``avg_logp`` is the per-bigram average log-likelihood under the
    reference model — the perplexity filter's gate value (perplexity =
    exp(-avg_logp); callers threshold either form). Unseen bigrams and
    unseen histories degrade smoothly through the add-``alpha`` smoothing.
    """
    big, hist, vocab = bigram_lm_train(ref, text_col, id_col)
    # The broadcast-size probe is an ACTION on the full bigram aggregate;
    # without a cache the same reference scan + aggregation would rerun for
    # the scoring joins (twice: big and hist). Persist both around the
    # probe-and-score lifetime — the caches are model-table-sized (bounded
    # by the reference slice, not the corpus) and live for the session,
    # the same accepted pattern as connected_components.
    big = big.persist()
    hist = hist.persist()
    probe = BROADCAST_MAX_MODEL_ROWS
    small = big.select("v").limit(probe + 1).count() <= probe
    maybe_broadcast = F.broadcast if small else (lambda d: d)

    logp = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + alpha)
            / (F.coalesce(F.col("ch"), F.lit(0)) + alpha * (F.col("vsz") + 1))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        _bigrams(docs, text_col, id_col)
        .join(maybe_broadcast(big), ["v", "t"], "left")
        .join(maybe_broadcast(hist), "v", "left")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), logp.alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp").cast("decimal(28,6)").alias("sum_dec"),
    ).select(
        id_col,
        "n_bigrams",
        F.col("sum_dec").cast("double").alias("sum_logp"),
        F.round(
            F.col("sum_dec").cast("double") / F.col("n_bigrams"), 6
        ).alias("avg_logp"),
    )
