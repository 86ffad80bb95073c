"""Bigram LM scoring (operators/lm.py) and winnowing fingerprints
(operators/fingerprint.py): the perplexity-filter ordering properties and
the winnowing match guarantee."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelines_spark.operators.fingerprint import (
    fingerprint_overlap_pairs,
    winnow_fingerprints,
)
from datapipelines_spark.operators.lm import bigram_lm_score


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lm_reference_doc_scores_highest(spark):
    rows = [
        (1, "the cat sat on the mat and the cat sat on the mat again"),
        (2, "the cat sat on the mat and then walked away slowly today"),
        (3, "zq xw vv uu tt ss rr qq pp oo nn mm ll kk"),
    ]
    df = _df(spark, rows)
    got = {
        r["doc_id"]: r["avg_logp"]
        for r in bigram_lm_score(df, df.where("doc_id = 1"), "text", "doc_id").collect()
    }
    assert got[1] > got[2] > got[3]  # in-dist > partial overlap > pure OOV


def test_lm_short_docs_drop_and_counts_match(spark):
    df = _df(spark, [(1, "one two three"), (2, "single")])
    out = bigram_lm_score(df, df, "text", "doc_id").collect()
    assert {r["doc_id"] for r in out} == {1}  # <2 tokens -> no bigrams
    assert out[0]["n_bigrams"] == 2


def test_lm_deterministic_across_partitionings(spark):
    rows = [(i, f"w{i % 5} w{(i * 3) % 7} w{i % 5} w{(i + 1) % 4}") for i in range(40)]
    df = _df(spark, rows)
    a = sorted(bigram_lm_score(df, df.where("doc_id % 3 = 0"), "text", "doc_id").collect())
    b = sorted(
        bigram_lm_score(
            df.repartition(7), df.where("doc_id % 3 = 0"), "text", "doc_id"
        ).collect()
    )
    assert a == b  # decimal-exact sums: partitioning-independent


def test_winnow_copy_shares_all_fingerprints(spark):
    import pyspark.sql.functions as F

    text = "a b c d e f g h i j k l m n o p q r s t"
    df = _df(spark, [(1, text), (2, text)])
    fps = winnow_fingerprints(df, "text", "doc_id", k=3, window=2)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .collect()
    }
    assert by_doc[1] == by_doc[2]


def test_winnow_too_short_doc_has_no_fingerprints(spark):
    # window+k-1 = 2+3-1 = 4 tokens minimum for one complete window of
    # 2 shingle positions
    df = _df(spark, [(1, "a b c"), (2, "a b c d")])
    out = winnow_fingerprints(df, "text", "doc_id", k=3, window=2).collect()
    assert {r["doc_id"] for r in out} == {2}


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(0, 10_000), run_len=st.integers(10, 16))
def test_winnow_guarantee_shared_run_yields_shared_fingerprint(spark, seed, run_len):
    """Schleimer et al. Theorem: a common run of >= window+k-1 tokens
    (k=7, window=4 -> 10) between two documents guarantees at least one
    shared fingerprint."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(50)]
    run = " ".join(rng.choice(vocab, run_len))
    pre_a = " ".join(rng.choice(vocab, int(rng.integers(0, 20))))
    post_a = " ".join(rng.choice(vocab, int(rng.integers(0, 20))))
    pre_b = " ".join(rng.choice(vocab, int(rng.integers(0, 20))))
    post_b = " ".join(rng.choice(vocab, int(rng.integers(0, 20))))
    doc_a = " ".join(x for x in (pre_a, run, post_a) if x)
    doc_b = " ".join(x for x in (pre_b, run, post_b) if x)
    df = _df(spark, [(1, doc_a), (2, doc_b)])
    pairs = fingerprint_overlap_pairs(
        df, "text", "doc_id", k=7, window=4, min_shared=1
    ).collect()
    assert len(pairs) == 1 and pairs[0]["n_shared"] >= 1


def test_winnow_fingerprints_plan_is_row_local(spark):
    """Fingerprint SELECTION is row-local array math —
    no window function, no sort, no per-doc hash shuffle, no Python. (A
    ROUND-ROBIN widening exchange may appear on narrow sources via
    parallelize_small; that is a parallelism floor, not data movement
    keyed by the computation.)"""
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], "doc_id long, text string"
    )
    plan = (
        winnow_fingerprints(df, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "Sort" not in plan
    assert "hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_overlap_hot_fingerprint_dropped_before_join(spark):
    """Hot-key guard: a boilerplate fingerprint held by more than
    ``max_fp_docs`` documents is removed by a broadcast anti-join against a
    partially-aggregated hot-key set BEFORE the inverted index is
    positioned on fp — no task ever buffers an uncapped key's postings
    (a count inside a Window over the fp partition would ship every
    occurrence of the hot key to one task first)."""
    boiler = "x1 x2 x3 x4 x5 x6"  # identical in every doc -> hot bucket
    priv = "p1 p2 p3 p4 p5 p6"  # shared by exactly two docs -> kept
    rows = [(i, boiler) for i in range(1, 7)]
    rows += [(10, boiler + " " + priv), (11, priv + " " + boiler)]
    df = _df(spark, rows)
    out = fingerprint_overlap_pairs(
        df, "text", "doc_id", k=3, window=2, min_shared=1, max_fp_docs=3
    )
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    # boilerplate fps live in 6-8 docs (> cap) and are dropped, so the
    # identical docs 1-6 pair with nobody; the private run (>= window+k-1
    # tokens) guarantees docs 10/11 one shared surviving fingerprint
    assert got == {(10, 11)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(2, 4),
    window=st.integers(2, 4),
)
def test_winnow_matches_python_reference(spark, texts, k, window):
    """Full differential against a direct Python transcription of robust
    winnowing with lexicographic selection: per-window minimum over the
    k-gram strings, distinct per document, docs shorter than window+k-1
    tokens dropped. The tiny repeated vocabulary forces heavy gram ties —
    the case window-minimum off-by-ones hide in. ASCII-only so Python's
    code-point order equals Spark's binary string order."""
    from datapipelines_spark.operators.fingerprint import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    expected = set()
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        if len(toks) < window + k - 1:
            continue
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        for i in range(len(grams) - window + 1):
            expected.add((doc_id, min(grams[i : i + window])))
    got = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df, "text", "doc_id", k=k, window=window).collect()
    }
    assert got == expected
