"""Sketch-assisted EXACT heavy hitters — find-then-verify at corpus scale.

The naive "which tokens exceed p% of the corpus" plan shuffles EVERY
distinct token to count it — at 100 TB that is a full-vocabulary shuffle to
answer a question whose result has at most 1/p rows. The scale pattern is
two passes:

  1. CANDIDATES: Spark's ``DataFrame.stat.freqItems`` (the Karp/
     Papadimitriou/Shenker generalization of Misra-Gries boyer-moore
     counting, executed JVM-side as one scan with per-partition merge)
     returns a SUPERSET of every item with frequency > support — at most
     ~1/support candidates, no shuffle of the long tail;
  2. VERIFY: exact counts for the candidate set only — the corpus is
     filtered by a broadcast candidate list before the aggregate, so the
     only shuffle carries partial counts for <= 1/support keys.

The superset guarantee in step 1 plus exact verification in step 2 makes
the RESULT exact (false candidates fall out; true heavy hitters cannot be
missed), which is why the catalog query can be oracle-checked against the
brute-force SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.01,
) -> DataFrame:
    """(item, n, share): every value of ``col`` occurring in more than
    ``support`` fraction of rows — EXACT, via sketch candidates + verified
    counts. ``support`` must be at least 1e-4 (the candidate set and the
    verify shuffle are bounded by ~1/support)."""
    if not 0.0001 <= support < 1.0:
        raise ValueError("support must be in [1e-4, 1)")
    row = df.select(F.col(col).alias("item")).stat.freqItems(
        ["item"], support
    ).collect()[0]
    candidates = [c for c in row[0] if c is not None]
    if not candidates:
        # Derive the empty frame from the INPUT so `item` keeps the input
        # column's type — a hardcoded "item string" would diverge from the
        # non-empty branch for non-string columns and break schema-sensitive
        # consumers (unions, writes).
        return df.select(F.col(col).alias("item")).limit(0).select(
            "item",
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0.0).alias("share"),
        )
    total = df.count()
    counts = (
        df.select(F.col(col).alias("item"))
        .where(F.col("item").isin(candidates))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > support * total)
    )
    return counts.select(
        "item", "n", F.round(F.col("n") / F.lit(float(total)), 6).alias("share")
    )


#: Size of the portable hash space (functions/hashing.py yields uniform
#: unsigned 32-bit values).
_HASH_SPACE = 1 << 32


def theta_sampled_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    theta_num: int = 1,
    theta_den: int = 8,
) -> DataFrame:
    """Distinct-count sketch via a fixed-θ hash sample (the fixed-threshold
    form of the KMV/Theta-sketch family, Beyer et al. SIGMOD 2007): keep a
    value iff ``portable_hash64(value) < θ·2^32``, count the distinct
    survivors per group, estimate the true cardinality as survivors/θ.

    Why this shape at 100 TB (and not HyperLogLog):

    - the θ filter runs MAP-SIDE on the raw scan, so only ~θ of the
      distinct values ever shuffle — the aggregate's exchange is a fixed
      fraction of the exact COUNT(DISTINCT)'s, tunable independently of
      accuracy targets per group;
    - survivor sets are trivially MERGEABLE (union — Spark's partial
      distinct aggregation is exactly that merge), retry-stable, and
      engine-portable: the hash is data-derived md5 arithmetic, so DuckDB
      recomputes the identical sample and the sketch is oracle-checkable
      BIT-EXACT — unlike HLL registers, which are engine-private (the
      ``agg_approx_distinct_parts`` contract had to weaken to an accuracy
      flag for that reason);
    - standard error is ~1/sqrt(θ·D) for true cardinality D — choose θ per
      corpus size; survivors can also be kept (not just counted) as a
      distinct SAMPLE for downstream joins.

    Output per group: ``n_sampled`` (exact distinct survivors),
    ``est_distinct = n_sampled·den/num`` (integer arithmetic only — no
    float in the replay surface), and ``rel_err_pct_x100`` (estimate's
    relative error vs the exact count in basis points, floor-scaled
    integer) so accuracy is visible data, not a build-dependent assertion.
    The exact count costs a second aggregate here — it is emitted for the
    differential contract; production callers use the estimate alone.
    """
    if not (0 < theta_num < theta_den):
        raise ValueError("theta must be a proper fraction 0 < num/den < 1")
    from datapipelines_spark.functions.hashing import portable_hash64

    cutoff = (_HASH_SPACE * theta_num) // theta_den
    v = F.col(value_col)
    sampled = F.when(portable_hash64(v) < F.lit(cutoff), v)
    agg = df.groupBy(*keys).agg(
        F.countDistinct(sampled).alias("n_sampled"),
        F.countDistinct(v).alias("exact_distinct"),
    )
    # floor(exact-integer-product / small-int) is bit-portable: the double
    # quotient's distance from any integer is >= 1/den, far above 1 ulp, so
    # floor cannot straddle a boundary (unlike cast, whose tie rule differs
    # across engines).
    est = F.floor(F.col("n_sampled") * theta_den / theta_num).cast("bigint")
    # A group whose value_col is all NULL has exact_distinct = 0
    # (countDistinct ignores NULLs); guard the division so the error is a
    # defined 0 (estimate is also 0) instead of Spark-NULL-vs-DuckDB-error
    # divergence.
    rel_err = F.when(F.col("exact_distinct") == 0, F.lit(0)).otherwise(
        F.floor(
            F.abs(est - F.col("exact_distinct"))
            * 10_000
            / F.col("exact_distinct")
        )
    )
    return agg.select(
        *keys,
        "n_sampled",
        est.alias("est_distinct"),
        rel_err.cast("bigint").alias("rel_err_pct_x100"),
        "exact_distinct",
    )
