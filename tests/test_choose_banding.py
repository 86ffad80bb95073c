"""Analytic contract of the closed-form LSH banding tuner
(operators/dedup.py:choose_banding): the chosen
(rows, bands) must meet the detection-probability target at the threshold,
fit the hash budget, and be maximal in rows (most selective banding that
still meets the target) with bands minimal for those rows. The measured
counterpart runs in queries/recall.py:dedup_recall_harness (tuned arm)."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelines_spark.operators.dedup import (
    MinHashConfig,
    choose_banding,
    detection_probability,
)


@settings(max_examples=200, deadline=None)
@given(
    threshold=st.floats(min_value=0.05, max_value=0.95),
    target=st.floats(min_value=0.5, max_value=0.99),
    max_hashes=st.integers(min_value=4, max_value=256),
)
def test_choose_banding_meets_analytic_bound(threshold, target, max_hashes):
    try:
        cfg = choose_banding(threshold, target, max_hashes)
    except ValueError:
        # infeasible budget: even 1 row per band cannot reach the target
        b1 = math.ceil(math.log1p(-target) / math.log1p(-threshold))
        assert max(b1, 1) > max_hashes
        return
    rows = cfg.num_hashes // cfg.bands
    assert rows * cfg.bands == cfg.num_hashes <= max_hashes
    # the bound itself
    assert detection_probability(threshold, rows, cfg.bands) >= target
    # bands minimal for the chosen rows
    if cfg.bands > 1:
        assert detection_probability(threshold, rows, cfg.bands - 1) < target
    # rows maximal: rows+1 cannot fit the budget with its minimal bands
    b_next = max(
        math.ceil(
            math.log1p(-target) / math.log1p(-(threshold ** (rows + 1)))
        ),
        1,
    )
    assert (rows + 1) * b_next > max_hashes


def test_choose_banding_harness_instance():
    """The instance the dedup accuracy harness runs: threshold 0.5,
    target 0.9, 32-hash budget -> 2 rows x 9 bands, detection 0.9249."""
    cfg = choose_banding(0.5, target_recall=0.9, max_hashes=32)
    assert cfg == MinHashConfig(num_hashes=18, bands=9, ngram=3)
    assert detection_probability(0.5, 2, 9) == pytest.approx(0.92492, abs=1e-4)


def test_choose_banding_monotone_in_jaccard():
    """The guarantee at the threshold extends upward: detection is
    monotone increasing in j, so every true pair above threshold is at
    least as likely to be banded together."""
    cfg = choose_banding(0.5, 0.9, 32)
    rows = cfg.num_hashes // cfg.bands
    probs = [
        detection_probability(j / 100, rows, cfg.bands) for j in range(50, 101, 5)
    ]
    assert probs == sorted(probs)
    assert all(p >= 0.9 for p in probs)


def test_choose_banding_rejects_bad_domain():
    with pytest.raises(ValueError):
        choose_banding(0.0, 0.9)
    with pytest.raises(ValueError):
        choose_banding(0.5, 1.0)
    with pytest.raises(ValueError):
        choose_banding(0.05, 0.99, max_hashes=4)
