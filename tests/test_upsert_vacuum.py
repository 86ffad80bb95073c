"""MOR table evolution (sinks/upsert.py): schema evolution across versions
(old snapshots keep their old schema), vacuum(retain_n) history cleanup
with compact's crash-ordering discipline, and the tombstone-resurrection
guard the folded base's kept tombstones exist for."""

import os

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.sinks.upsert import (
    _versions,
    read_merged,
    table_diff,
    upsert_write,
    vacuum,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _snap(spark, path, as_of=None):
    df = read_merged(spark, path, ["k"], as_of_version=as_of)
    df = df.select(*sorted(df.columns))
    return sorted(tuple(r) for r in df.collect()), sorted(df.columns)


# ---------------------------------------------------------------------------
# schema evolution


def test_added_column_reads_null_on_old_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    upsert_write(_df(spark, [(1, "a"), (2, "b")], "k long, val string"), t)
    upsert_write(
        _df(spark, [(2, "b2", 9.5)], "k long, val string, score double"), t
    )
    rows, cols = _snap(spark, t)
    assert cols == ["k", "score", "val"]
    assert rows == [(1, None, "a"), (2, 9.5, "b2")]


def test_time_travel_keeps_schema_as_of_version(spark, tmp_path):
    t = str(tmp_path / "t")
    upsert_write(_df(spark, [(1, "a")], "k long, val string"), t)
    upsert_write(_df(spark, [(1, "a", 1.0)], "k long, val string, score double"), t)
    rows, cols = _snap(spark, t, as_of=0)
    assert cols == ["k", "val"], "column added later must not exist at v0"
    assert rows == [(1, "a")]


def test_omitted_column_reads_null_on_new_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    upsert_write(_df(spark, [(1, "a", 1.0)], "k long, val string, score double"), t)
    upsert_write(_df(spark, [(1, "a2")], "k long, val string"), t)
    rows, cols = _snap(spark, t)
    assert cols == ["k", "score", "val"]
    assert rows == [(1, None, "a2")]


def test_table_diff_spans_schema_change(spark, tmp_path):
    t = str(tmp_path / "t")
    upsert_write(_df(spark, [(1, "a"), (2, "b")], "k long, val string"), t)
    upsert_write(_df(spark, [(2, "b", 9.5)], "k long, val string, score double"), t)
    d = {r["k"]: r for r in table_diff(spark, t, ["k"], 0, 1).collect()}
    assert set(d) == {2}, "key 1 untouched; key 2 gained a score"
    assert d[2]["change"] == "changed"
    assert d[2]["before"]["score"] is None and d[2]["after"]["score"] == 9.5


# ---------------------------------------------------------------------------
# vacuum


def _build_history(spark, t):
    """v0 base, v1 restates k=2, v2 tombstones k=1, v3 adds k=4."""
    upsert_write(_df(spark, [(1, 10), (2, 20), (3, 30)], "k long, x long"), t)
    upsert_write(_df(spark, [(2, 21)], "k long, x long"), t)
    upsert_write(_df(spark, [(1, 0)], "k long, x long"), t, delete=True)
    upsert_write(_df(spark, [(4, 40)], "k long, x long"), t)


def test_vacuum_preserves_snapshot_and_retained_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    _build_history(spark, t)
    want_full = _snap(spark, t)
    want_v2 = _snap(spark, t, as_of=2)
    cut = vacuum(spark, t, ["k"], retain_n=2)
    assert cut == 2 and _versions(t) == [2, 3]
    assert _snap(spark, t) == want_full
    assert _snap(spark, t, as_of=2) == want_v2
    # tombstoned key stays deleted through the fold
    assert all(r[0] != 1 for r in _snap(spark, t)[0])


def test_vacuum_below_horizon_raises_and_noop_cases(spark, tmp_path):
    t = str(tmp_path / "t")
    _build_history(spark, t)
    assert vacuum(spark, t, ["k"], retain_n=4) is None  # nothing to fold
    assert vacuum(spark, t, ["k"], retain_n=2) == 2
    with pytest.raises(ValueError, match="vacuum horizon|no version"):
        read_merged(spark, t, ["k"], as_of_version=1)
    with pytest.raises(ValueError, match="retain_n"):
        vacuum(spark, t, ["k"], retain_n=0)


def test_vacuum_folded_base_keeps_tombstones(spark, tmp_path):
    """The resurrection guard: the folded cutoff dir must still carry the
    tombstone row, so leftover pre-cutoff history (a crash mid-delete)
    can never win latest-wins for a deleted key."""
    t = str(tmp_path / "t")
    _build_history(spark, t)
    vacuum(spark, t, ["k"], retain_n=2)
    folded = spark.read.parquet(os.path.join(t, "v=2"))
    tomb = [r for r in folded.collect() if r["__deleted"]]
    assert len(tomb) == 1 and tomb[0]["k"] == 1


def test_vacuum_crash_at_every_fs_step_never_loses_or_resurrects(
    spark, tmp_path, monkeypatch
):
    """Kill vacuum at EVERY filesystem mutation (staging cleanup, rename
    aside, rename in, each delete), then read WITHOUT any explicit
    recovery call — the read path's recovery must yield the exact
    pre-vacuum snapshot — then re-run vacuum and check again."""
    import builtins
    import shutil

    real_rename, real_rmtree, real_open = os.rename, shutil.rmtree, builtins.open

    for crash_at in range(1, 10):
        t = str(tmp_path / f"t{crash_at}")
        _build_history(spark, t)
        want_full = _snap(spark, t)
        want_v2 = _snap(spark, t, as_of=2)

        calls = {"n": 0}

        def counting(fn, *a, **kw):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise RuntimeError(f"crash at fs-op {crash_at}")
            return fn(*a, **kw)

        def counted_open(p, *a, **kw):
            if isinstance(p, str) and "_vacuumed-" in p:
                return counting(real_open, p, *a, **kw)
            return real_open(p, *a, **kw)

        monkeypatch.setattr(os, "rename", lambda *a: counting(real_rename, *a))
        monkeypatch.setattr(
            shutil, "rmtree", lambda *a, **kw: counting(real_rmtree, *a, **kw)
        )
        monkeypatch.setattr(builtins, "open", counted_open)
        crashed = False
        try:
            vacuum(spark, t, ["k"], retain_n=2)
        except RuntimeError:
            crashed = True
        monkeypatch.undo()

        assert _snap(spark, t) == want_full, f"crash {crash_at}: snapshot broke"
        assert _snap(spark, t, as_of=2) == want_v2, f"crash {crash_at}: as-of broke"
        vacuum(spark, t, ["k"], retain_n=2)  # re-run completes the cleanup
        assert _snap(spark, t) == want_full, f"crash {crash_at}: re-vacuum broke"
        assert _versions(t) == [2, 3]
        if not crashed:
            break  # fewer fs-ops than crash points: fully swept
    else:
        pytest.fail("no crash-free run")


def test_reading_a_missing_table_raises_clearly(spark, tmp_path):
    with pytest.raises(ValueError, match="not an upsert table"):
        read_merged(spark, str(tmp_path / "nope"), ["k"])
