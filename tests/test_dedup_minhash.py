"""Cross-corpus MinHash LSH join (operators/dedup.py:minhash_lsh_join)."""

import pytest


def test_minhash_lsh_join_cross_sides_only(spark):
    from datapipelines_spark.operators.dedup import MinHashConfig, minhash_lsh_join

    text = "the quick brown fox jumps over the lazy dog again and again today"
    rows_l = [(0, text), (2, "completely different words live here now ok fine")]
    rows_r = [(1, text), (3, "another unrelated set of tokens goes right here")]
    left = spark.createDataFrame(rows_l, "doc_id long, text string")
    right = spark.createDataFrame(rows_r, "doc_id long, text string")
    got = minhash_lsh_join(
        left, right, "text", "doc_id", MinHashConfig(num_hashes=16, bands=4, ngram=3)
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(0, 1, 1.0)]


# --- LSH banding differential fuzz -------------------------------------------
# minhash_lsh_pairs = signatures -> band buckets -> in-bucket pair
# combinations -> exact-Jaccard verification. The signature/shingle
# primitives are checked bit for bit against DuckDB by the oracle sweep
# (dedup_ngram_jaccard, dedup_minhash_lsh, stream_minhash_bands_replay),
# so the fuzz takes the Spark-computed (shingles, h0..hk) per doc as ground truth
# and brute-forces the REST in Python: candidates = pairs agreeing on at
# least one full band slice; survivors = candidates whose shingle-set
# Jaccard clears the threshold. Any banding off-by-one (wrong slice bounds,
# a lost bucket, a pair emitted twice) diverges.

from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelines_spark.operators.dedup import MinHashConfig, minhash_lsh_pairs

_VOCAB = ["red", "blue", "green", "gold"]
_text = st.lists(st.sampled_from(_VOCAB), min_size=2, max_size=7).map(" ".join)
_CFG = MinHashConfig(num_hashes=8, bands=4, ngram=2)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(_text, min_size=2, max_size=8),
    threshold=st.sampled_from([0.0, 0.3, 0.5, 0.8]),
)
def test_lsh_pairs_match_bruteforce_banding(spark, texts, threshold):
    from datapipelines_spark.operators.dedup import _docs_with_signatures

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    docs = {
        r["doc_id"]: (list(r["shingles"]), [r[f"h{i}"] for i in range(8)])
        for r in _docs_with_signatures(df, "text", "doc_id", _CFG).collect()
    }
    rows_per_band = _CFG.num_hashes // _CFG.bands
    expected = {}
    ids = sorted(docs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            sig_a, sig_b = docs[a][1], docs[b][1]
            shares_band = any(
                sig_a[k * rows_per_band : (k + 1) * rows_per_band]
                == sig_b[k * rows_per_band : (k + 1) * rows_per_band]
                for k in range(_CFG.bands)
            )
            if not shares_band:
                continue
            sa, sb = set(docs[a][0]), set(docs[b][0])
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                expected[(a, b)] = j

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", _CFG, threshold=threshold, max_bucket_size=None
        ).collect()
    }
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert abs(got[pair] - j) < 1e-6, pair


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_text, min_size=2, max_size=8))
def test_simhash_near_pairs_exact_under_pigeonhole(spark, texts):
    """With max_hamming <= bands-1 the banding is EXACT, not a candidate
    filter (pigeonhole): the returned pairs must be every pair whose
    Spark-computed simhash signatures differ in <= max_hamming bits."""
    from datapipelines_spark.operators.dedup import simhash, simhash_near_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "text", "doc_id", bits=32).collect()
    }
    ids = sorted(sigs)
    expected = {
        (a, b): (sigs[a] ^ sigs[b]).bit_count()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(
            df, "text", "doc_id", bits=32, max_hamming=3, bands=4
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup verdicts


def test_incremental_verdicts_precedence_and_match_ids(spark):
    """Hand-built corpus/batch hitting every verdict class and the
    precedence rules (exact > near, corpus > batch, min partner id)."""
    from datapipelines_spark.operators.dedup import (
        MinHashConfig,
        incremental_dedup_verdicts,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content with no overlap whatsoever here"
    third = "a third unique document about entirely unrelated matters now"
    corpus = spark.createDataFrame(
        [(1, base), (3, base), (5, other)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, base),                      # exact copy of corpus 1 AND 3
            (12, base),                      # also exact batch copy of 10
            (14, other + " tail tail"),      # near copy of corpus 5
            (16, third),                     # first of a batch pair -> keep
            (18, third + " x y"),            # near copy of batch 16
            (20, "nothing like anything else at all in this corpus thing"),
        ],
        "doc_id long, text string",
    )
    cfg = MinHashConfig(num_hashes=16, bands=8, ngram=2)
    got = {
        r["doc_id"]: (r["verdict"], r["match_id"])
        for r in incremental_dedup_verdicts(
            corpus, batch, "text", "doc_id", cfg, threshold=0.4
        ).collect()
    }
    assert got[10] == ("exact_corpus", 1)      # min corpus partner (1 < 3)
    assert got[12] == ("exact_corpus", 1)      # corpus beats batch partner 10
    assert got[14] == ("near_corpus", 5)
    assert got[16] == ("keep", None)           # earlier doc of the pair stays
    assert got[18] == ("near_batch", 16)
    assert got[20] == ("keep", None)
    assert len(got) == 6


def test_band_struct_expression_memoized_per_config(spark):
    """Plan-build memo: the banding expression tree is a pure function
    of (num_hashes, bands) over fixed column names, so repeated builds in
    one application return the SAME Column object (thousands of py4j
    round trips per verdict build collapse to a dict hit), while a
    different config builds its own tree — and the memoized expression
    still yields correct, config-distinct band keys."""
    from datapipelines_spark.operators.dedup import (
        MinHashConfig,
        _band_struct,
        lsh_band_keys,
        minhash_signatures,
    )

    a = MinHashConfig(num_hashes=16, bands=4, ngram=3)
    b = MinHashConfig(num_hashes=16, bands=8, ngram=3)
    assert _band_struct(a) is _band_struct(a)
    assert _band_struct(a) is not _band_struct(b)

    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "text", "doc_id", a)
    keys = lsh_band_keys(sigs, "doc_id", a).collect()
    assert len(keys) == 2 * a.bands
    # identical docs -> identical band keys per band, under the memo too
    by_band = {}
    for r in keys:
        by_band.setdefault(r["band_id"], set()).add(r["band_key"])
    assert all(len(v) == 1 for v in by_band.values())


@pytest.mark.parametrize("op", ["doc_shingles", "minhash_signatures", "simhash"])
def test_arrow_stage_is_vectorized_not_row_at_a_time(spark, sf_dir, op):
    from datapipelines_spark.operators import dedup
    from datapipelines_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        getattr(dedup, op)(docs, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
