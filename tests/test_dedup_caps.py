"""Hot-key safety valves for the near-dup operators: one boilerplate shingle
(or degenerate LSH band) shared by k docs must NOT produce k²/2 candidates
when the caps are on (the classic dedup scale-killer)."""

import pyspark.sql.functions as F

from datapipelines_spark.operators import dedup as ops

N_DOCS = 60
ALL_PAIRS = N_DOCS * (N_DOCS - 1) // 2


def _boilerplate_docs(spark):
    # 60 identical documents: every word-trigram is a maximal hot shingle
    # and every MinHash signature (hence every band bucket) collides.
    rows = [(i, "all rights reserved by the example corporation") for i in range(N_DOCS)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_doc_freq_cap_bounds_candidates(spark):
    d = _boilerplate_docs(spark)
    uncapped = ops.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=None)
    assert uncapped.count() == ALL_PAIRS  # the quadratic blowup the cap prevents
    capped = ops.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=16)
    assert capped.count() == 0  # hot shingles dropped before the self-join


def test_lsh_bucket_cap_bounds_candidates(spark):
    d = _boilerplate_docs(spark)
    cfg = ops.MinHashConfig(num_hashes=16, bands=4, ngram=3)
    uncapped = ops.minhash_lsh_pairs(
        d, "text", "doc_id", cfg, threshold=0.5, max_bucket_size=None
    )
    assert uncapped.count() == ALL_PAIRS
    capped = ops.minhash_lsh_pairs(d, "text", "doc_id", cfg, threshold=0.5, max_bucket_size=16)
    assert capped.count() == 0


def test_caps_do_not_engage_at_fixture_density(spark, sf_dir):
    """Defaults must be invisible on the fixture: capped == uncapped there."""
    from datapipelines_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    base = ops.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=None)
    defaulted = ops.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    assert base.exceptAll(defaulted).count() == 0
    assert defaulted.exceptAll(base).count() == 0


def test_lsh_window_filter_adds_no_extra_exchange(spark):
    """The bucket-size window must reuse the groupBy's hash partitioning —
    capping may not add a shuffle to the candidate stage."""
    d = _boilerplate_docs(spark)
    cfg = ops.MinHashConfig(num_hashes=16, bands=4, ngram=3)
    capped = ops.minhash_lsh_pairs(d, "text", "doc_id", cfg, 0.5, max_bucket_size=16)
    uncapped = ops.minhash_lsh_pairs(d, "text", "doc_id", cfg, 0.5, max_bucket_size=None)
    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange hashpartitioning")
    assert n_exchanges(capped) == n_exchanges(uncapped)
