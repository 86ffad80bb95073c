"""Differential correctness: every catalog query must match its DuckDB
oracle on the same parquet (the driver's t2 gate, run here at sf0.001 for
speed; the driver runs sf0.01). Each compare builds and collects the
query's whole result, so it also proves every builder runs."""

import pytest

from datapipelines_spark.catalog import all_queries
from datapipelines_spark.testing import compare_query


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_matches_oracle(spark, sf_dir, name):
    ok, detail = compare_query(spark, sf_dir, name)
    assert ok, f"{name}: {detail}"


def test_every_query_has_an_oracle():
    """A query without oracle SQL would pass the sweep above on a
    rows-only check, so every catalog query must declare one."""
    missing = [n for n, spec in all_queries().items() if spec.oracle is None]
    assert not missing, f"queries without oracle SQL: {missing}"


def test_list_valued_query_fails_gate_loudly(spark):
    """A query emitting an array column must be rejected by the local gate
    BEFORE any value compare — the driver canonicalizer dies on list cells
    (r3: map_type_status_counts / einops / kmeans), so local green must
    imply driver green."""
    import pyspark.sql.functions as F

    from datapipelines_spark.testing import check_scalar_columns

    df = spark.range(3).select("id", F.array("id").alias("arr"))
    err = check_scalar_columns(df)
    assert err is not None and "arr" in err
