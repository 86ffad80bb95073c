"""Winnowing document fingerprints — local, position-robust dedup signals.

The winnowing algorithm (Schleimer/Wilkerson/Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS detector)
selects, from every sliding window of ``window`` consecutive k-gram
positions, the window's minimum shingle. The selected set is a tiny
per-document fingerprint with a GUARANTEE: any shared run of at least
``window + k - 1`` consecutive tokens between two documents yields at least
one shared fingerprint — unlike uniform shingle sampling, which can miss
arbitrarily long matches.

This implementation selects by LEXICOGRAPHIC minimum of the shingle string
("robust winnowing" works with any total order; lexicographic keeps the
whole computation relational and lets the DuckDB oracle replicate it
exactly — a hashed order would need the same hash on both engines). A
skewed-vocabulary corpus selects slightly less uniformly than a hashed
order would; the match guarantee is unaffected.

Spark shape: selection is ENTIRELY row-local — shingles AND the sliding
minimum are array expressions inside one codegen stage (the window minimum
is an array_min over slices of the per-document shingle array, deduplicated
with array_distinct before the explode), so selection moves no data at all
(a window function would shuffle and SORT every shingle row by doc id,
which the bench flagged as linear growth). Narrow sources get a
round-robin parallelism floor (parallelize_small, the minhash discipline);
the first data-keyed exchange in the pipeline is the overlap join's
aggregation, carrying ~1/window of the shingle volume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 7,
    window: int = 4,
) -> DataFrame:
    """(id, fp): the DISTINCT winnowing fingerprints of each document.

    Documents with fewer than ``window + k - 1`` tokens have no complete
    window and drop out (consistent with the guarantee's minimum match
    length).

    Row-local: the per-document shingle array is materialized once, the
    sliding minimum is ``array_min`` over its ``window``-wide slices, and
    per-document dedup is ``array_distinct`` — all inside one codegen
    stage, O(n_shingles * window) string compares per row; no window
    function, no sort, no per-doc hash shuffle (plan-asserted in
    tests/test_lm_fingerprint.py). Narrow sources are widened round-robin
    for parallelism only."""
    from datapipelines_spark.functions.partitioning import parallelize_small

    arr = F.split(F.col(text_col), " ")
    n = F.size(arr)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(arr, i, k)),
    )
    # the CPU-heavy stage is row-local, so its parallelism is the SCAN's
    # split count — widen a narrow source (the fixture is 1-2 files) before
    # it, exactly the minhash-signature discipline; a wide production scan
    # passes through untouched
    base = parallelize_small(df.where(n >= k + window - 1)).select(
        F.col(id_col), grams.alias("__g")
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__g") - (window - 1)),
            lambda i: F.array_min(F.slice(F.col("__g"), i, window)),
        )
    )
    return base.select(F.col(id_col), F.explode(fps).alias("fp"))


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 7,
    window: int = 4,
    min_shared: int = 2,
    max_fp_docs: int | None = 1000,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= ``min_shared``
    fingerprints — the MOSS-style local-plagiarism / shared-boilerplate
    detector, each shared fingerprint witnessing a run of >= window+k-1
    common tokens.

    Scale: inverted-index self-join on the fingerprint; fingerprints held
    by more than ``max_fp_docs`` documents are dropped first (corpus-wide
    boilerplate — a quadratic hot key that belongs to the chunk-dedup
    pipeline, not the pair detector; same cap discipline as
    operators/dedup.py). ``None`` disables the cap AND its machinery —
    the same ``is not None`` gate as ngram_jaccard_pairs' max_doc_freq
    (a per-posting window count would be paid even when the caller's cap
    could never engage)."""
    # Hot-key guard: a window shape would compute the
    # doc-frequency cap as a count over Window.partitionBy("fp") after one
    # repartition("fp") — minimal exchanges, but the window exec BUFFERS
    # each fp's whole posting list in one task before the cap can drop it,
    # so a corpus-boilerplate fingerprint (billions of postings at 100 TB)
    # recreates exactly the hot-key pattern the cap exists to kill (AQE
    # skew handling cannot split window partitions). Same single exchange
    # now, different consumers: the inverted index is persisted AFTER the
    # fp repartition, the over-cap keys come from a partial-aggregating
    # count that RIDES the cached partitioning (hot keys collapse map-side;
    # no second exchange, no buffering), and a broadcast anti-join against
    # that tiny hot set drops their postings while streaming the cache —
    # no task ever holds an uncapped key's postings in memory. Both
    # self-join sides still arrive co-partitioned on fp (the
    # ngram_jaccard_pairs discipline), and the winnow codegen stage (the
    # CPU of this operator) runs once into the cache.
    if max_fp_docs is None:
        # no cap → no count pass at all; one repartition positions the
        # inverted index so both self-join sides arrive co-partitioned
        fps = winnow_fingerprints(df, text_col, id_col, k, window).repartition("fp")
    else:
        from datapipelines_spark.functions.caching import managed_persist

        fps_all = managed_persist(
            winnow_fingerprints(df, text_col, id_col, k, window).repartition("fp")
        )
        hot = (
            fps_all.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .where(F.col("__nd") > max_fp_docs)
            .select("fp")
        )
        fps = fps_all.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = fps.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
