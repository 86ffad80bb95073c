"""Merge-on-read upsert sink (sinks/upsert.py): latest-wins semantics,
tombstones, compaction equivalence, and writer discipline."""

import os

import pytest

from datapipelines_spark.sinks.upsert import (
    compact,
    read_merged,
    upsert_write,
    _versions,
)


def _snapshot(spark, path):
    return {
        (r["k"],): (r["val"],)
        for r in read_merged(spark, path, ["k"]).collect()
    }


def test_upsert_latest_wins_and_tombstones(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, val string")
    assert upsert_write(base, path) == 0
    up = spark.createDataFrame([(2, "B2"), (4, "d")], "k long, val string")
    assert upsert_write(up, path) == 1
    dels = spark.createDataFrame([(3, None)], "k long, val string")
    assert upsert_write(dels, path, delete=True) == 2
    got = _snapshot(spark, path)
    assert got == {(1,): ("a",), (2,): ("B2",), (4,): ("d",)}


def test_delete_then_reinsert_resurrects(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_write(spark.createDataFrame([(1, "a")], "k long, val string"), path)
    upsert_write(
        spark.createDataFrame([(1, None)], "k long, val string"), path, delete=True
    )
    upsert_write(spark.createDataFrame([(1, "a3")], "k long, val string"), path)
    assert _snapshot(spark, path) == {(1,): ("a3",)}


def test_compact_preserves_snapshot_and_drops_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_write(
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, val string"),
        path,
    )
    upsert_write(
        spark.createDataFrame([(5, "V5"), (7, "V7")], "k long, val string"), path
    )
    upsert_write(
        spark.createDataFrame([(9, None)], "k long, val string"), path, delete=True
    )
    before = _snapshot(spark, path)
    v = compact(spark, path, ["k"])
    assert _versions(path) == [v]
    assert _snapshot(spark, path) == before
    # table stays writable after compaction
    upsert_write(spark.createDataFrame([(5, "V5b")], "k long, val string"), path)
    assert _snapshot(spark, path)[(5,)] == ("V5b",)


def test_writes_are_immutable_versions(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    v0 = upsert_write(df, path)
    v1 = upsert_write(df, path)
    assert (v0, v1) == (0, 1)
    assert _versions(path) == [0, 1]
    assert os.path.isdir(os.path.join(path, "v=0"))


def test_streaming_upsert_sink(spark, tmp_path):
    """Micro-batches land as epoch-named deltas; a replayed epoch is
    skipped (exactly-once), and the merged snapshot reflects the stream's
    keyed updates and tombstones."""
    from datapipelines_spark.sinks.upsert import streaming_upsert_sink

    path = str(tmp_path / "tbl")
    sink = streaming_upsert_sink(path, delete_col="is_delete")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, val string, is_delete boolean"
        )

    sink(batch([(1, "a", False), (2, "b", False)]), 0)
    sink(batch([(2, "B2", False), (3, "c", False)]), 1)
    sink(batch([(1, None, True)]), 2)
    sink(batch([(2, "should-not-land", False)]), 1)  # epoch 1 replayed
    got = {
        r["k"]: r["val"] for r in read_merged(spark, path, ["k"]).collect()
    }
    assert got == {2: "B2", 3: "c"}
    assert _versions(path) == [0, 1, 2]


def test_streaming_sink_fresh_checkpoint_restart_not_dropped(spark, tmp_path):
    """A restart with a FRESH checkpoint restarts epochs at 0; the new
    run's batches must land (an epoch-named version scheme would drop
    them silently as 'replays' of the previous run)."""
    from datapipelines_spark.sinks.upsert import streaming_upsert_sink

    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, val string")

    first_run = streaming_upsert_sink(path)
    first_run(batch([(1, "a")]), 0)
    first_run(batch([(2, "b")]), 1)
    # new sink instance == restarted query with a new checkpoint dir
    second_run = streaming_upsert_sink(path)
    second_run(batch([(1, "A-new-run")]), 0)
    got = {r["k"]: r["val"] for r in read_merged(spark, path, ["k"]).collect()}
    assert got == {1: "A-new-run", 2: "b"}
    assert _versions(path) == [0, 1, 2]


def test_streaming_sink_cross_run_duplicate_is_row_idempotent(spark, tmp_path):
    """A new run replaying its predecessor's final epoch (marker missing)
    re-lands the same content as a NEW version; latest-wins merging
    absorbs the duplicate, so the snapshot stays exactly-once."""
    from datapipelines_spark.sinks.upsert import streaming_upsert_sink

    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, val string")

    streaming_upsert_sink(path)(batch([(1, "a"), (2, "b")]), 7)
    # crash-and-restart: same epoch, same content, different sink instance
    streaming_upsert_sink(path)(batch([(1, "a"), (2, "b")]), 7)
    got = {r["k"]: r["val"] for r in read_merged(spark, path, ["k"]).collect()}
    assert got == {1: "a", 2: "b"}
    assert _versions(path) == [0, 1]  # duplicate landed, snapshot unchanged


def test_streaming_upsert_end_to_end(spark, tmp_path):
    """Drive the sink through a real bounded stream (rate source -> keyed
    updates): the merged table holds exactly one latest row per key."""
    import time

    from datapipelines_spark.sinks.upsert import streaming_upsert_sink
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select(
            (F.col("value") % 5).alias("k"),
            F.col("value").alias("val"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(streaming_upsert_sink(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # let the rate source produce a little data before the bounded drain
    q.awaitTermination(30)
    q.stop()
    if _versions(path):
        merged = read_merged(spark, path, ["k"]).collect()
        ks = [r["k"] for r in merged]
        assert len(ks) == len(set(ks))  # exactly one surviving row per key


def test_time_travel_reads_historical_snapshots(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string"), path)
    upsert_write(spark.createDataFrame([(2, "B2")], "k long, val string"), path)
    upsert_write(
        spark.createDataFrame([(1, None)], "k long, val string"), path, delete=True
    )
    def snap(v):
        return {
            r["k"]: r["val"]
            for r in read_merged(spark, path, ["k"], as_of_version=v).collect()
        }
    assert snap(0) == {1: "a", 2: "b"}
    assert snap(1) == {1: "a", 2: "B2"}
    assert snap(2) == {2: "B2"}
    # version pruning happens at the partition level: the as-of-0 plan
    # reads only the v=0 directory
    plan = (
        read_merged(spark, path, ["k"], as_of_version=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "v=1" not in plan and "v=2" not in plan


def test_table_diff_classifies_changes(spark, tmp_path):
    from datapipelines_spark.sinks.upsert import table_diff

    path = str(tmp_path / "tbl")
    upsert_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, val string"
        ),
        path,
    )
    upsert_write(spark.createDataFrame([(2, "B2"), (4, "d")], "k long, val string"), path)
    upsert_write(
        spark.createDataFrame([(3, None)], "k long, val string"), path, delete=True
    )
    got = {
        r["k"]: (r["change"], r["before"], r["after"])
        for r in table_diff(spark, path, ["k"], 0, 2).collect()
    }
    assert set(got) == {2, 3, 4}  # key 1 unchanged -> absent
    assert got[2][0] == "changed" and got[2][1]["val"] == "b" and got[2][2]["val"] == "B2"
    assert got[3][0] == "removed" and got[3][2] is None
    assert got[4][0] == "added" and got[4][1] is None and got[4][2]["val"] == "d"


def test_table_diff_null_value_semantics(spark, tmp_path):
    """Value columns compare null-safely: null->x and x->null are
    'changed'; null->null is unchanged and drops out."""
    from datapipelines_spark.sinks.upsert import table_diff

    path = str(tmp_path / "tbl")
    upsert_write(
        spark.createDataFrame(
            [(1, None), (2, "b"), (3, None)], "k long, val string"
        ),
        path,
    )
    upsert_write(
        spark.createDataFrame(
            [(1, "now-set"), (2, None), (3, None)], "k long, val string"
        ),
        path,
    )
    got = {
        r["k"]: r["change"] for r in table_diff(spark, path, ["k"], 0, 1).collect()
    }
    assert got == {1: "changed", 2: "changed"}  # 3: null->null, unchanged


def test_table_diff_compare_cols_prunes_scan_and_restricts_diff(spark, tmp_path):
    """compare_cols must (a) restrict the change detection to the named
    fields and (b) prune the other value columns out of the parquet scan
    (ReadSchema), so a wide table diffs only what it reads."""
    import pytest

    from datapipelines_spark.sinks.upsert import table_diff

    path = str(tmp_path / "tbl")
    upsert_write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, val string, extra long"
        ),
        path,
    )
    upsert_write(
        spark.createDataFrame(
            [(1, "a", 99), (2, "B2", 20)], "k long, val string, extra long"
        ),
        path,
    )
    out = table_diff(spark, path, ["k"], 0, 1, compare_cols=["val"])
    got = {r["k"]: (r["change"], r["after"]) for r in out.collect()}
    # key 1 changed only in the ignored column -> absent; structs carry
    # only the compared field
    assert set(got) == {2}
    assert got[2][0] == "changed" and got[2][1].asDict() == {"val": "B2"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "extra" not in plan  # pruning reached the scan
    full_plan = (
        table_diff(spark, path, ["k"], 0, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "extra" in full_plan  # default still reads every value column

    with pytest.raises(ValueError, match="compare_cols"):
        table_diff(spark, path, ["k"], 0, 1, compare_cols=["nope"])
