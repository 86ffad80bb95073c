"""Bounded persist registry: eviction order, explicit release, and the
correctness property that eviction only ever costs recompute."""

import pyspark.sql.functions as F
from pyspark.storagelevel import StorageLevel

from datapipelines_spark.functions import caching
from datapipelines_spark.functions.caching import managed_persist, release_persists


def _live_count():
    return len(caching._LIVE)


def test_registry_bounds_live_persists(spark):
    release_persists()
    dfs = [managed_persist(spark.range(100 + i)) for i in range(caching._MAX_LIVE + 3)]
    assert _live_count() == caching._MAX_LIVE
    # oldest were evicted (storage level NONE), newest still cached
    assert dfs[0].storageLevel == StorageLevel.NONE
    assert dfs[-1].storageLevel != StorageLevel.NONE
    release_persists()


def test_release_unpersists_everything(spark):
    release_persists()
    a = managed_persist(spark.range(10))
    b = managed_persist(spark.range(20))
    assert _live_count() == 2
    release_persists()
    assert _live_count() == 0
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE


def test_rebuilt_plan_takes_one_slot(spark):
    release_persists()
    a = managed_persist(spark.range(10).selectExpr("id * 2 AS x"))
    b = managed_persist(spark.range(10).selectExpr("id * 2 AS x"))
    assert _live_count() == 1
    assert a.storageLevel != StorageLevel.NONE
    release_persists()
    assert b.storageLevel == StorageLevel.NONE


def test_same_schema_datasets_register_separately(spark, tmp_path):
    """Two parquet dirs with one schema have the same plan string; each
    persist is its own cache entry and release must drop both."""
    dir_a, dir_b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(10).write.parquet(dir_a)
    spark.range(1000).write.parquet(dir_b)
    release_persists()
    a = managed_persist(spark.read.parquet(dir_a).selectExpr("1 AS one"))
    b = managed_persist(spark.read.parquet(dir_b).selectExpr("1 AS one"))
    assert (a.count(), b.count()) == (10, 1000)
    assert _live_count() == 2
    release_persists()
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE


def test_concurrent_registration_keeps_registry_paired(spark):
    """Builders register persists from concurrent driver threads
    (queries/recall.py builds its family arms from a thread pool): racing
    registrations — including idempotent re-registrations of the same plan
    — must leave the registry bounded and every returned DataFrame
    usable."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    release_persists()

    def register(i):
        # half the threads re-register the SAME plan (the LRU-refresh
        # path), half register distinct plans (the append/evict path)
        df = managed_persist(spark.range(1000 if i % 2 else 1000 + i))
        return df.count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        counts = list(
            pool.map(inheritable_thread_target(spark)(register), range(32))
        )
    assert all(
        c == 1000 or c > 1000 for c in counts
    )
    assert len(caching._LIVE) <= caching._MAX_LIVE
    release_persists()
    assert len(caching._LIVE) == 0


def test_eviction_only_costs_recompute(spark):
    """A consumer holding an evicted DataFrame still computes correct
    results — eviction falls back to recompute, never to wrong answers."""
    release_persists()
    first = managed_persist(spark.range(50).withColumn("x", F.col("id") * 2))
    for i in range(caching._MAX_LIVE + 1):
        managed_persist(spark.range(i + 1))
    assert first.storageLevel == StorageLevel.NONE  # evicted
    assert first.agg(F.sum("x")).collect()[0][0] == sum(2 * i for i in range(50))
    release_persists()
