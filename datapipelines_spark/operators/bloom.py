"""Bloom-filter membership for corpus-scale decontamination.

``contamination_overlap`` (operators/text.py) broadcasts the DISTINCT eval
n-gram set — exact, and the right plan while that set fits executor memory.
When the held-out suite grows to billions of n-grams, the scale tool is a
Bloom filter: ~10 bits per element at 1% false positives instead of the
strings themselves (1 GB of filter covers ~800M n-grams), with one-sided
error that is SAFE for decontamination — a false positive over-removes a
training doc, never leaks an eval document into training.

Implementation notes (Spark has no public bloom_filter_agg SQL function —
it is internal to runtime join filters — so the filter is built explicitly):

- Hashing happens JVM-side: ``F.xxhash64(col)`` reduces every n-gram to an
  int64 before anything crosses to Python. The k probe positions derive from
  that one hash by double hashing (h1 + i*h2, Kirsch-Mitzenmacher), so build
  and probe agree by construction.
- The bit array is built with ``rdd.treeAggregate``: each partition ORs its
  hashes into a local numpy bitmap, partials merge tree-wise — the driver
  receives O(log P) bitmaps of m/8 bytes, never rows.
- The probe side broadcasts the packed bitmap once and tests membership in a
  vectorized Arrow batch UDF over the same ``xxhash64`` values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def optimal_bits(expected_items: int, fpp: float = 0.01) -> int:
    """Standard sizing: m = -n ln(p) / (ln 2)^2, rounded up to a word."""
    import math

    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    return max(64, (m + 63) // 64 * 64)


def optimal_hashes(num_bits: int, expected_items: int) -> int:
    import math

    return max(1, round(num_bits / max(1, expected_items) * math.log(2)))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Finalizer of the splitmix64 PRNG (public domain, Steele et al.) —
    a full-width 64-bit mix used to derive a second hash independent of the
    raw xxhash64 value. uint64 arithmetic wraps mod 2**64 (C semantics)."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _probe_positions(h: np.ndarray, num_bits: int, num_hashes: int) -> np.ndarray:
    """(n, k) bit positions from int64 hashes via double hashing.

    h1 and h2 are both full 64-bit values (h1 the raw xxhash64, h2 an
    independent splitmix64 remix, forced odd for full-period stepping).
    Deriving them from the two 32-bit halves instead would leave the i=0
    probe unable to address anything past bit 2**32 — degrading the
    false-positive rate for filters larger than ~512 MB, exactly the
    multi-GB sizes the module docstring advertises."""
    u = h.astype(np.uint64)
    h1 = u
    h2 = _splitmix64(u) | np.uint64(1)
    i = np.arange(num_hashes, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(num_bits)).astype(
        np.int64
    )


def build_bloom(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int,
    driver_or_budget_bytes: int = 256 << 20,
) -> np.ndarray:
    """Aggregate ``xxhash64(col)`` of every row into a packed uint64 bitmap.

    One Arrow pass: each task folds its partition into a local bitmap and
    emits ONE row of m/8 bytes; the driver ORs the partials — O(partitions)
    bitmaps, never rows. When ``partitions × bitmap`` exceeds
    ``driver_or_budget_bytes`` (multi-GB filters on wide clusters), a
    second executor-side OR level merges the partials tree-wise first, so
    the driver receives at most the budget regardless of partition count
    — the two-level reduce the module docstring promises."""
    hashes = df.select(F.xxhash64(F.col(col)).alias("h"))
    words = num_bits // 64

    def partials(batches):
        bits = np.zeros(words, dtype=np.uint64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            pos = _probe_positions(
                pdf["h"].to_numpy(dtype=np.int64), num_bits, num_hashes
            )
            np.bitwise_or.at(
                bits, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
            )
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    partial_df = hashes.mapInPandas(partials, "bits binary")

    bitmap_bytes = max(1, words * 8)
    n_parts = hashes.rdd.getNumPartitions()
    n_groups = min(n_parts, max(1, driver_or_budget_bytes // bitmap_bytes))
    if n_groups < n_parts:

        def combine(batches):
            bits = np.zeros(words, dtype=np.uint64)
            seen = False
            for pdf in batches:
                for buf in pdf["bits"]:
                    bits |= np.frombuffer(buf, dtype=np.uint64)
                    seen = True
            if seen:
                yield pd.DataFrame({"bits": [bits.tobytes()]})

        # round-robin the one-row-per-task partials into n_groups tasks;
        # each ORs its group, so the driver collect is <= the budget
        partial_df = partial_df.repartition(n_groups).mapInPandas(
            combine, "bits binary"
        )

    out = np.zeros(words, dtype=np.uint64)
    for row in partial_df.collect():
        out |= np.frombuffer(row["bits"], dtype=np.uint64)
    return out


def might_contain(
    bloom_bits: np.ndarray, hash_col: Column, num_bits: int, num_hashes: int, spark
) -> Column:
    """Vectorized membership test over a broadcast bitmap; apply to the
    ``F.xxhash64`` of the probed column."""
    bc = spark.sparkContext.broadcast(bloom_bits)

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        bits = bc.value
        pos = _probe_positions(h.to_numpy(dtype=np.int64), num_bits, num_hashes)
        word = bits[pos // 64]
        mask = np.uint64(1) << (pos % 64).astype(np.uint64)
        return pd.Series(((word & mask) != 0).all(axis=1))

    return probe(hash_col)


def count_contained(
    bloom_bits: np.ndarray, hashes_col: Column, num_bits: int, num_hashes: int, spark
) -> Column:
    """Per-row COUNT of ``array<long>`` hash entries present in the
    broadcast bitmap — the fused per-document probe. One Arrow batch
    carries a document's whole (already distinct) hash array, the count
    comes back as a scalar, and the flattened probe matrix is the same
    total volume the exploded per-row probe shipped — minus the explode
    and minus any downstream per-doc aggregation shuffle.

    Non-deterministic marking is an optimizer fence: callers
    filter on this count, and a pushed-down filter would otherwise clone
    the ArrowEvalPython node, probing every document twice."""
    bc = spark.sparkContext.broadcast(bloom_bits)

    @F.pandas_udf("long")
    def probe_count(harr: pd.Series) -> pd.Series:
        bits = bc.value
        lens = np.fromiter((len(a) for a in harr), dtype=np.int64, count=len(harr))
        out = np.zeros(len(lens), dtype=np.int64)
        if len(lens) == 0 or int(lens.sum()) == 0:
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in harr if len(a)]
        )
        pos = _probe_positions(flat, num_bits, num_hashes)
        word = bits[pos // 64]
        mask = np.uint64(1) << (pos % 64).astype(np.uint64)
        hit = ((word & mask) != 0).all(axis=1).astype(np.int64)
        nz = lens > 0
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        out[nz] = np.add.reduceat(hit, starts[nz])
        return pd.Series(out)

    return probe_count.asNondeterministic()(hashes_col)


def contamination_overlap_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_overlap: int = 3,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """Bloom-filtered variant of ``text.contamination_overlap``: same
    contract, one-sided error (returns a SUPERSET of the exact result —
    equality-tested at tight fpp in tests/test_bloom_decontaminate.py).

    Scale shape: the eval side reduces to a bitmap of ``optimal_bits``
    bits regardless of n-gram count; the training side is scan → xxhash64 →
    broadcast-bitmap probe → agg. Neither corpus shuffles; the only wide op
    is the final per-doc count, over already-filtered hits.
    """
    from datapipelines_spark.operators.dedup import word_shingles

    # NO .distinct() on the eval side: OR-ing a bit twice is idempotent, so
    # deduplicating the n-grams first would add a full shuffle purely to
    # shrink the sizing count. The raw count is an upper bound on distinct
    # items — it only oversizes the filter (lower fpp), never undersizes.
    ev = word_shingles(eval_df, text_col, id_col, n).select("s")
    if expected_items is None:
        # Sizing needs only an UPPER BOUND on the n-gram count, so compute
        # max(len(words)-n+1, 0) per doc in one narrow JVM scan instead of
        # counting the exploded Arrow shingle pass — the eval side is then
        # shingled exactly once (the bitmap build). greatest() skips the
        # NULL that a NULL text produces, so those rows bound to 0.
        words = F.split(F.col(text_col), " ")
        bound = eval_df.select(
            F.sum(
                F.greatest(F.size(words) - F.lit(n - 1), F.lit(0)).cast("long")
            ).alias("__n")
        ).collect()[0][0]
        expected_items = int(bound or 0)
    num_bits = optimal_bits(expected_items, fpp)
    num_hashes = optimal_hashes(num_bits, expected_items)
    bits = build_bloom(ev, "s", num_bits, num_hashes)

    # Fused per-document probe: a document's
    # (already per-doc-distinct) shingles are born together in one array,
    # so the overlap count never needs them apart — hash the array in
    # place JVM-side and count bitmap hits per doc in one Arrow crossing.
    # A row-wise shape would explode to one row per shingle, probe each,
    # and shuffle every hit into a per-doc count aggregate; here the
    # explode, the per-row probe column and the count exchange all
    # collapse — the training corpus never shuffles at all.
    from datapipelines_spark.operators.dedup import doc_shingles

    tr = doc_shingles(train, text_col, id_col, n)
    n_hits = count_contained(
        bits,
        F.transform(F.col("shingles"), lambda s: F.xxhash64(s)),
        num_bits,
        num_hashes,
        train.sparkSession,
    )
    return tr.select(F.col(id_col), n_hits.alias("n_overlap")).where(
        F.col("n_overlap") >= max(min_overlap, 1)
    )
