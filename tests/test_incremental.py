"""Incremental aggregate maintenance (operators/incremental.py): the merge
must be order-independent, retractions must subtract exactly, and fully
retracted groups must vanish."""

import pyspark.sql.functions as F

from datapipelines_spark.operators.incremental import (
    aggregate_state,
    merge_states,
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k string, x double")


def _view(df):
    return {
        r["k"]: (r["__cnt"], float(r["sum_x"]))
        for r in df.collect()
    }


def test_slice_merge_equals_full_recompute_any_order(spark):
    rows = [(chr(97 + i % 3), float(i) + 0.25) for i in range(30)]
    full = _view(aggregate_state(_rows(spark, rows), ["k"], ["x"]))
    # three arbitrary slices, merged in two different orders
    s0 = aggregate_state(_rows(spark, rows[:7]), ["k"], ["x"])
    s1 = aggregate_state(_rows(spark, rows[7:19]), ["k"], ["x"])
    s2 = aggregate_state(_rows(spark, rows[19:]), ["k"], ["x"])
    m_fwd = merge_states(merge_states(s0, s1, ["k"]), s2, ["k"])
    m_rev = merge_states(merge_states(s2, s0, ["k"]), s1, ["k"])
    assert _view(m_fwd) == full
    assert _view(m_rev) == full


def test_retraction_subtracts_exactly(spark):
    base = [("a", 1.5), ("a", 2.5), ("b", 4.0)]
    state = aggregate_state(_rows(spark, base), ["k"], ["x"])
    delta = spark.createDataFrame(
        [("a", 2.5, True), ("b", 6.0, False)], "k string, x double, r boolean"
    )
    merged = merge_states(
        state, aggregate_state(delta, ["k"], ["x"], retract_col="r"), ["k"]
    )
    assert _view(merged) == {"a": (1, 1.5), "b": (2, 10.0)}


def test_fully_retracted_group_vanishes(spark):
    state = aggregate_state(_rows(spark, [("a", 3.0), ("b", 1.0)]), ["k"], ["x"])
    delta = spark.createDataFrame([("a", 3.0, True)], "k string, x double, r boolean")
    merged = merge_states(
        state, aggregate_state(delta, ["k"], ["x"], retract_col="r"), ["k"]
    )
    assert _view(merged) == {"b": (1, 1.0)}
    assert merged.where(F.col("k") == "a").count() == 0


def test_incremental_state_sink_multi_batch_with_retraction(spark, tmp_path):
    """Drive the foreachBatch callback directly: three batches (the third
    carrying a retraction) must leave the state equal to the net
    aggregate, and a fully retracted group must vanish from the view."""
    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k"], ["x"], retract_col="r")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, x double, r boolean")

    sink(batch([("a", 1.0, False), ("b", 2.0, False)]), 0)
    sink(batch([("a", 3.0, False), ("c", 5.0, False)]), 1)
    sink(batch([("b", 2.0, True)]), 2)  # retract b entirely
    got = {
        r["k"]: (r["__cnt"], float(r["sum_x"]))
        for r in spark.read.parquet(state).collect()
    }
    assert got == {"a": (2, 4.0), "c": (1, 5.0)}


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, x double")


def _state_view(spark, state):
    return {
        r["k"]: (r["__cnt"], float(r["sum_x"]))
        for r in spark.read.parquet(state).collect()
    }


def test_crash_between_swap_renames_recovers_without_state_loss(
    spark, tmp_path, monkeypatch
):
    """Kill the sink BETWEEN the two swap renames (old state moved aside,
    new state not yet visible — the window in which a delete-then-rename
    order would silently reset the view), then restart: the re-delivered epoch must
    leave the view equal to the exactly-once aggregate, with no leftover
    dirs and no double-count."""
    import glob
    import os

    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k"], ["x"])
    sink(_batch(spark, [("a", 1.0), ("b", 2.0)]), 0)
    sink(_batch(spark, [("a", 3.0)]), 1)

    real_rename = os.rename

    def crash_on_rename_in(src, dst):
        if dst == state:
            raise RuntimeError("simulated crash between swap renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_rename_in)
    try:
        sink(_batch(spark, [("b", 4.0), ("c", 5.0)]), 2)
    except RuntimeError:
        pass
    monkeypatch.undo()
    # the crash window: state dir absent, old + complete staging left behind
    assert not os.path.isdir(state)
    assert glob.glob(state + ".old-*") and glob.glob(state + ".staging-*")

    # restart = a fresh sink instance; the stream re-delivers epoch 2
    sink2 = incremental_state_sink(state, ["k"], ["x"])
    sink2(_batch(spark, [("b", 4.0), ("c", 5.0)]), 2)
    assert _state_view(spark, state) == {"a": (2, 4.0), "b": (2, 6.0), "c": (1, 5.0)}
    assert not glob.glob(state + ".old-*") and not glob.glob(state + ".staging-*")


def test_crash_mid_staging_write_restores_and_remerges(spark, tmp_path):
    """A torn staging (no _SUCCESS) must be discarded; if the crash also
    left the state moved aside, the old state is restored and the
    re-delivered epoch merges normally."""
    import glob
    import os
    import shutil

    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k"], ["x"])
    sink(_batch(spark, [("a", 1.0)]), 0)
    # fabricate the crash: state renamed aside, staging torn (no _SUCCESS)
    os.rename(state, state + ".old-1")
    os.makedirs(state + ".staging-1")
    open(state + ".staging-1/part-00000.parquet", "wb").close()

    sink2 = incremental_state_sink(state, ["k"], ["x"])
    sink2(_batch(spark, [("a", 9.0)]), 1)  # re-delivery merges, not re-seeds
    assert _state_view(spark, state) == {"a": (2, 10.0)}
    assert not glob.glob(state + ".old-*") and not glob.glob(state + ".staging-*")


def test_epoch0_crash_between_parquet_and_marker_no_double_count(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER the staging parquet write (_SUCCESS
    present) but BEFORE the _applied marker is created, on the FIRST epoch
    (no prior state dir), must not double-count — recovery must treat the
    complete-looking but markerless staging as torn and discard it, so the
    re-delivered epoch 0 re-seeds the view exactly once."""
    import builtins
    import glob
    import os

    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k"], ["x"])
    real_open = builtins.open

    def crash_on_marker(path, *a, **kw):
        if isinstance(path, str) and "_applied-" in path:
            raise RuntimeError("simulated crash before marker creation")
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", crash_on_marker)
    try:
        sink(_batch(spark, [("a", 1.0), ("b", 2.0)]), 0)
    except RuntimeError:
        pass
    monkeypatch.undo()
    # the exposed window: no state dir, a _SUCCESS-complete markerless staging
    assert not os.path.isdir(state)
    staging = glob.glob(state + ".staging-*")
    assert staging and os.path.exists(os.path.join(staging[0], "_SUCCESS"))

    sink2 = incremental_state_sink(state, ["k"], ["x"])
    sink2(_batch(spark, [("a", 1.0), ("b", 2.0)]), 0)  # re-delivery
    assert _state_view(spark, state) == {"a": (1, 1.0), "b": (1, 2.0)}
    assert not glob.glob(state + ".staging-*") and not glob.glob(state + ".old-*")


def test_epoch_redelivery_after_commit_is_idempotent(spark, tmp_path):
    """The _applied marker travels inside the renamed state dir, so a
    retry of an epoch that already committed is a no-op."""
    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k"], ["x"])
    sink(_batch(spark, [("a", 1.0)]), 0)
    sink(_batch(spark, [("a", 2.0)]), 1)
    sink(_batch(spark, [("a", 2.0)]), 1)  # re-delivery of a committed epoch
    assert _state_view(spark, state) == {"a": (2, 3.0)}


def test_crash_at_every_swap_step_recovers_exactly_once(spark, tmp_path, monkeypatch):
    """Exhaustive crash-point sweep: kill the sink at EVERY filesystem
    mutation of the swap protocol (staging rmtree, marker write, rename
    aside, rename in, old-dir delete), restart with a fresh instance, and
    re-deliver the epoch. Every crash point must yield the same
    exactly-once final state — no loss, no double-count."""
    import builtins
    import os
    import shutil

    from datapipelines_spark.operators.incremental import incremental_state_sink

    batches = [
        [("a", 1.0), ("b", 2.0)],
        [("a", 3.0), ("c", 5.0)],
        [("b", 4.0)],
    ]
    expected = {"a": (2, 4.0), "b": (2, 6.0), "c": (1, 5.0)}

    real_rename, real_rmtree, real_open = os.rename, shutil.rmtree, builtins.open

    for crash_at in range(1, 8):
        state = str(tmp_path / f"state-{crash_at}")
        sink = incremental_state_sink(state, ["k"], ["x"])
        sink(_batch(spark, batches[0]), 0)
        sink(_batch(spark, batches[1]), 1)

        calls = {"n": 0}

        def counting(fn, *a, **kw):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise RuntimeError(f"simulated crash at fs-op {crash_at}")
            return fn(*a, **kw)

        def counted_open(path, *a, **kw):
            # count only the sink's marker write, not Spark's own files
            if isinstance(path, str) and "_applied-" in path:
                return counting(real_open, path, *a, **kw)
            return real_open(path, *a, **kw)

        monkeypatch.setattr(os, "rename", lambda *a: counting(real_rename, *a))
        monkeypatch.setattr(
            shutil, "rmtree", lambda *a, **kw: counting(real_rmtree, *a, **kw)
        )
        monkeypatch.setattr(builtins, "open", counted_open)
        crashed = False
        try:
            sink(_batch(spark, batches[2]), 2)
        except RuntimeError:
            crashed = True
        monkeypatch.undo()

        sink2 = incremental_state_sink(state, ["k"], ["x"])
        sink2(_batch(spark, batches[2]), 2)  # re-delivery after restart
        assert _state_view(spark, state) == expected, (
            f"crash point {crash_at} (crashed={crashed}) broke exactly-once"
        )
        if not crashed:
            break  # fewer fs-ops than crash points: protocol fully swept


def test_metrics_sidecar_tracks_state_growth_and_redelivery(spark, tmp_path):
    """Every APPLIED epoch logs (epoch, delta_groups, state_groups,
    epochs_behind) to <state>.metrics.jsonl; a skipped re-delivery logs
    nothing, and the callback sees the same dicts."""
    import json

    from datapipelines_spark.operators.incremental import incremental_state_sink

    state = str(tmp_path / "state")
    seen = []
    sink = incremental_state_sink(state, ["k"], ["x"], on_metrics=seen.append)
    sink(_batch(spark, [("a", 1.0), ("b", 2.0)]), 0)
    sink(_batch(spark, [("a", 3.0), ("c", 5.0)]), 1)
    sink(_batch(spark, [("a", 3.0), ("c", 5.0)]), 1)  # re-delivery: no line
    sink(_batch(spark, [("d", 7.0)]), 3)  # epoch 2 skipped upstream
    with open(state + ".metrics.jsonl") as fh:
        lines = [json.loads(ln) for ln in fh]
    assert lines == seen
    assert [m["epoch"] for m in lines] == [0, 1, 3]
    assert [m["delta_groups"] for m in lines] == [2, 2, 1]
    assert [m["state_groups"] for m in lines] == [2, 3, 4]
    assert [m["epochs_behind"] for m in lines] == [0, 0, 1]


def test_distinct_state_partial_vs_full_retraction(spark):
    """A value retracted below its multiplicity must survive the distinct
    view; a fully retracted value must vanish; a new value must appear."""
    from datapipelines_spark.operators.incremental import (
        distinct_state,
        distinct_view,
        merge_states,
    )

    base = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "c")], "k string, v string"
    )
    state = distinct_state(base, ["k"], "v")
    delta = spark.createDataFrame(
        [("g1", "a", True), ("g1", "b", True), ("g2", "d", False)],
        "k string, v string, r boolean",
    )
    merged = merge_states(
        state, distinct_state(delta, ["k"], "v", retract_col="r"), ["k", "v"]
    )
    got = {
        r["k"]: r["n_distinct"] for r in distinct_view(merged, ["k"]).collect()
    }
    # g1: 'a' had multiplicity 2, one retraction leaves it; 'b' fully
    # retracted and gone -> 1 distinct. g2: 'c' plus new 'd' -> 2.
    assert got == {"g1": 1, "g2": 2}


def test_distinct_merge_is_slice_order_independent(spark):
    from datapipelines_spark.operators.incremental import (
        distinct_state,
        distinct_view,
        merge_states,
    )

    rows = [(f"g{i % 2}", f"v{i % 5}") for i in range(40)]
    df = spark.createDataFrame(rows, "k string, v string")
    full = {
        r["k"]: r["n_distinct"]
        for r in distinct_view(distinct_state(df, ["k"], "v"), ["k"]).collect()
    }
    s0 = distinct_state(spark.createDataFrame(rows[:11], "k string, v string"), ["k"], "v")
    s1 = distinct_state(spark.createDataFrame(rows[11:], "k string, v string"), ["k"], "v")
    for a, b in ((s0, s1), (s1, s0)):
        m = merge_states(a, b, ["k", "v"])
        got = {r["k"]: r["n_distinct"] for r in distinct_view(m, ["k"]).collect()}
        assert got == full


def test_streaming_sink_composes_into_exact_distinct_view(spark, tmp_path):
    """Streaming COUNT(DISTINCT) maintenance is a composition, not a new
    sink: keying the state on (group, value) makes the crash-safe sink
    maintain the distinct auxiliary state, and distinct_view reads the
    exact per-group count — retractions included."""
    from datapipelines_spark.operators.incremental import (
        distinct_view,
        incremental_state_sink,
    )

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k", "v"], [], retract_col="r")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v string, r boolean")

    sink(batch([("g1", "a", False), ("g1", "a", False), ("g1", "b", False)]), 0)
    sink(batch([("g2", "c", False), ("g1", "a", True)]), 1)  # partial retract
    sink(batch([("g1", "b", True)]), 2)  # full retract
    view = {
        r["k"]: r["n_distinct"]
        for r in distinct_view(spark.read.parquet(state), ["k"]).collect()
    }
    assert view == {"g1": 1, "g2": 1}


def test_distinct_view_ignores_zero_multiplicity_rows(spark):
    """distinct_view must be correct on ANY state table, not only
    merge_states output (which drops zeros): a raw delta containing an
    insert AND a retraction of the same (keys, value) in one batch nets to
    multiplicity 0 and must not count as present."""
    from datapipelines_spark.operators.incremental import (
        distinct_state,
        distinct_view,
    )

    delta = spark.createDataFrame(
        [
            ("g1", "a", False),
            ("g1", "a", True),  # same value inserted and retracted: net 0
            ("g1", "b", False),
            ("g2", "c", True),  # pure retraction: net -1, still "present"
        ],
        "k string, v string, r boolean",
    )
    state = distinct_state(delta, ["k"], "v", retract_col="r")
    got = {r["k"]: r["n_distinct"] for r in distinct_view(state, ["k"]).collect()}
    assert got == {"g1": 1, "g2": 1}


def test_extreme_view_falls_back_to_runner_up_after_retraction(spark):
    """Exact MIN/MAX under deletion: retracting a group's maximum must
    surface the runner-up (the scalar-accumulator impossibility the
    multiplicity state exists to solve); a value retracted below its
    multiplicity must survive; zero-multiplicity rows in a raw delta
    must be ignored."""
    from datapipelines_spark.operators.incremental import (
        distinct_state,
        extreme_view,
        merge_states,
    )

    base = spark.createDataFrame(
        [("g", 10), ("g", 10), ("g", 50), ("g", 99)], "k string, v int"
    )
    state = distinct_state(base, ["k"], "v")
    delta = spark.createDataFrame(
        [
            ("g", 99, True),  # the max: fully retracted
            ("g", 10, True),  # multiplicity 2 -> 1: must survive as min
            ("g", 70, False),
            ("g", 70, True),  # net-zero insert+retract in one delta
        ],
        "k string, v int, r boolean",
    )
    merged = merge_states(
        state, distinct_state(delta, ["k"], "v", retract_col="r"), ["k", "v"]
    )
    row = extreme_view(merged, ["k"], "v").collect()[0]
    assert (row["min_v"], row["max_v"]) == (10, 50)


def test_streaming_sink_composes_into_exact_extreme_view(spark, tmp_path):
    """The crash-safe sink keyed on (group, value) also serves MIN/MAX:
    after a batch retracts a group's maximum, extreme_view over the sink
    state must surface the runner-up."""
    from datapipelines_spark.operators.incremental import (
        extreme_view,
        incremental_state_sink,
    )

    state = str(tmp_path / "state")
    sink = incremental_state_sink(state, ["k", "v"], [], retract_col="r")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v int, r boolean")

    sink(batch([("g", 5, False), ("g", 9, False), ("g", 2, False)]), 0)
    sink(batch([("g", 9, True)]), 1)  # retract the max
    row = extreme_view(spark.read.parquet(state), ["k"], "v").collect()[0]
    assert (row["min_v"], row["max_v"]) == (2, 5)
