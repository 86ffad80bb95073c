"""IVF pre-blocking for embedding near-dup:
``embedding_cosine_pairs_blocked(prefilter='ivf')`` must be a strict subset
of the exact path (precision 1.0, identical cosines) with measured recall."""

import os

import pytest

from datapipelines_spark.operators.dedup import embedding_cosine_pairs_blocked
from datapipelines_spark.sources.parquet import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
THRESHOLD = 0.45  # the catalog query's bar — barely above random, hardest case


@pytest.fixture(scope="module")
def pair_sets(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_cosine_pairs_blocked(
            emb, "embedding", "vec_id", threshold=THRESHOLD
        ).collect()
    }
    ivf = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_cosine_pairs_blocked(
            emb, "embedding", "vec_id", threshold=THRESHOLD,
            prefilter="ivf", n_cells=16, probes=4,
        ).collect()
    }
    return exact, ivf


def test_ivf_pairs_are_a_subset_with_identical_cosines(pair_sets):
    exact, ivf = pair_sets
    assert set(ivf) <= set(exact)  # precision 1.0: no false positives, ever
    for pair, cos in ivf.items():
        assert cos == exact[pair], pair


def test_ivf_recall_at_least_90pct(pair_sets):
    exact, ivf = pair_sets
    assert len(exact) > 0, "fixture has no near-dup pairs; recall undefined"
    recall = len(set(ivf) & set(exact)) / len(exact)
    # measured 1.0 at sf0.01 and 0.97 at sf0.1 with (n_cells=16, probes=4);
    # the bound is slack so fixture regeneration can't flake the suite
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_ivf_unknown_prefilter_rejected(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="unknown prefilter"):
        embedding_cosine_pairs_blocked(
            emb, "embedding", "vec_id", prefilter="lsh"
        )


def test_ivf_empty_input(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(0)
    out = embedding_cosine_pairs_blocked(
        emb, "embedding", "vec_id", prefilter="ivf"
    )
    assert out.count() == 0
    assert out.columns == ["vec_a", "vec_b", "cosine"]


def test_ivf_split_cells_match_default(spark, pair_sets):
    """A block size far below the cell sizes splits every cell into block
    pairs; the pairs and their cosines stay those of the default."""
    _, ivf = pair_sets
    emb = load_table(spark, SF_DIR, "embeddings")
    split = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_cosine_pairs_blocked(
            emb, "embedding", "vec_id", threshold=THRESHOLD,
            prefilter="ivf", n_cells=16, probes=4, block_size=16,
        ).collect()
    }
    assert split == ivf
