"""Shape contracts of the two accuracy harnesses (queries/recall.py):
the ANN harness's IVF arms must show recall monotone non-decreasing in
probe count (more probes is strictly more scoring work, so it must
never buy LESS recall on the same fixture), and the
dedup harness's tuned banding arm must clear its choose_banding target
where the default banding measurably misses."""

import pyspark.sql.functions as F

from datapipelines_spark.catalog import all_queries


def test_ivf_recall_monotone_in_probes(spark, sf_dir):
    rows = (
        all_queries()["sim_recall_harness"]
        .builder(spark, sf_dir)
        .where(F.col("family").startswith("ivf_p"))
        .collect()
    )
    by_probe = {
        int(r["family"].removeprefix("ivf_p")): r["recall_bp"] for r in rows
    }
    assert sorted(by_probe) == [1, 2, 4, 8]
    assert by_probe[1] <= by_probe[2] <= by_probe[4] <= by_probe[8]
    # the 0.9 operating point is measured, not extrapolated: probes=8
    # probes every cell of the 8-cell index, so its
    # candidates are the full corpus and recall must be exhaustive
    assert by_probe[8] >= 9000
    assert by_probe[8] == 10000


def test_choose_probes_reads_the_measured_curve():
    import pytest

    from datapipelines_spark.queries.vectors import (
        MEASURED_IVF_RECALL_BP,
        choose_probes,
    )

    # defaults: the fixture-measured curve 40/56/80/100%
    assert choose_probes(0.9) == 8
    assert choose_probes(0.8) == 4
    assert choose_probes(0.5) == 2
    assert choose_probes(1.0) == 8
    # a caller-measured curve wins over the default
    assert choose_probes(0.9, {1: 9500, 4: 9900}) == 1
    # unreachable targets fail loudly instead of extrapolating
    with pytest.raises(ValueError):
        choose_probes(0.99, {1: 4000, 2: 5600})
    with pytest.raises(ValueError):
        choose_probes(0.0)
    # the default table must itself be monotone (it feeds min(feasible))
    pts = sorted(MEASURED_IVF_RECALL_BP.items())
    assert all(a[1] <= b[1] for a, b in zip(pts, pts[1:]))


def test_tuned_banding_clears_target_where_default_misses(spark, sf_dir):
    rows = {
        r["stage"]: r
        for r in all_queries()["dedup_recall_harness"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {
        "exact_jaccard",
        "lsh_bands",
        "lsh_bands_tuned",
        "lsh_verified",
        "lsh_verified_tuned",
    }
    # the tuner's measured promise: >= 90% band recall at j >= 0.5
    assert rows["lsh_bands_tuned"]["recall_bp"] >= 9000
    # and it must actually dominate the default banding on this fixture
    assert rows["lsh_bands_tuned"]["recall_bp"] > rows["lsh_bands"]["recall_bp"]
    # verification restores exact precision in both arms
    assert rows["lsh_verified"]["precision_bp"] == 10000
    assert rows["lsh_verified_tuned"]["precision_bp"] == 10000
    # verified recall equals band recall: verification never drops a TRUE pair
    assert rows["lsh_verified"]["recall_bp"] == rows["lsh_bands"]["recall_bp"]
    assert (
        rows["lsh_verified_tuned"]["recall_bp"]
        == rows["lsh_bands_tuned"]["recall_bp"]
    )
