"""Shard expansion + tar ingestion (SURVEY §2.1 S1-S6 parity)."""

import io
import os
import tarfile

import pytest

from datapipelines_spark.sources.shards import list_shards, read_tar_samples, shard_expand


class TestShardExpand:
    def test_simple_range(self):
        assert shard_expand("ds-{00..05}.tar") == [f"ds-{i:02d}.tar" for i in range(6)]

    def test_no_brace_passthrough(self):
        assert shard_expand("plain.tar") == ["plain.tar"]

    def test_unpadded_range(self):
        assert shard_expand("x{1..12}.tar")[:3] == ["x1.tar", "x2.tar", "x3.tar"]
        assert shard_expand("x{1..12}.tar")[-1] == "x12.tar"

    def test_multiple_ranges(self):
        # leftmost range is the outer loop (reference example,
        # custom_datapipes.py:87-96 shows per-spec expansion order)
        out = shard_expand("a{0..1}b{0..1}.tar")
        assert out == ["a0b0.tar", "a0b1.tar", "a1b0.tar", "a1b1.tar"]

    def test_zero_pad_mismatch_raises(self):
        with pytest.raises(ValueError):
            shard_expand("x{01..100}.tar")

    def test_inverted_range_raises(self):
        with pytest.raises(ValueError):
            shard_expand("x{5..5}.tar")
        with pytest.raises(ValueError):
            shard_expand("x{6..5}.tar")

    def test_low_wider_than_high_raises(self):
        with pytest.raises(ValueError):
            shard_expand("x{100..12}.tar")


def _make_tar(path: str, samples: dict[str, dict[str, bytes]]) -> None:
    with tarfile.open(path, "w") as tf:
        for key, members in samples.items():
            for ext, payload in members.items():
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))


@pytest.fixture()
def tar_dir(tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    _make_tar(
        str(d / "shard-000.tar"),
        {
            "a001": {"jpg": b"\xff\xd8fakejpegbytes", "txt": b"hello", "json": b'{"h": 4}'},
            "a002": {"jpg": b"\x89PNGfake", "txt": b"world"},
        },
    )
    _make_tar(str(d / "shard-001.tar"), {"b001": {"jpg": b"zzz", "json": b'{"h": 9}'}})
    (d / "notatar.txt").write_text("ignore me")
    return str(d)


class TestListShards:
    def test_dir_listing_filters_tar(self, tar_dir):
        got = list_shards(tar_dir)
        assert [os.path.basename(p) for p in got] == ["shard-000.tar", "shard-001.tar"]

    def test_brace_spec(self, tar_dir):
        got = list_shards(os.path.join(tar_dir, "shard-{000..001}.tar"))
        assert len(got) == 2

    def test_sampler_subsets(self, tar_dir):
        got = list_shards(tar_dir, sampler=lambda paths: paths[:1])
        assert len(got) == 1

    def test_mixed_spec_raises(self, tar_dir):
        with pytest.raises(ValueError):
            list_shards([os.path.join(tar_dir, "shard-{000..001}.tar"), tar_dir])


class TestReadTarSamples:
    def test_samples_assembled_by_basename(self, spark, tar_dir):
        df = read_tar_samples(spark, tar_dir)
        rows = {r["__key__"]: r for r in df.collect()}
        assert set(rows) == {"a001", "a002", "b001"}
        assert rows["a001"]["data"]["txt"] == b"hello"
        assert set(rows["a001"]["data"]) == {"jpg", "txt", "json"}
        assert rows["b001"]["__url__"].endswith("shard-001.tar")

    def test_corrupt_tar_skip_vs_fail(self, spark, tmp_path):
        d = tmp_path / "bad"
        d.mkdir()
        _make_tar(str(d / "good-000.tar"), {"k1": {"txt": b"ok"}})
        (d / "bad-001.tar").write_bytes(b"this is not a tar archive")
        # permissive (E1 warn_and_continue parity): corrupt shard skipped
        df = read_tar_samples(spark, str(d), on_error="skip")
        assert [r["__key__"] for r in df.collect()] == ["k1"]
        # strict (E2 reraise parity): corrupt shard raises
        with pytest.raises(Exception):
            read_tar_samples(spark, str(d), on_error="fail").collect()

    @pytest.mark.parametrize("on_error", ["quarantine", "skp", None])
    def test_unknown_on_error_raises(self, spark, tar_dir, on_error):
        # a tar shard has no per-sample row to quarantine; a typo must not
        # silently behave as "fail"
        with pytest.raises(ValueError, match="on_error"):
            read_tar_samples(spark, tar_dir, on_error=on_error)

    @pytest.mark.parametrize("num_partitions", [0, -2])
    def test_num_partitions_below_one_raises(self, spark, tar_dir, num_partitions):
        # 0 used to mean "default" and a negative value reached parallelize
        with pytest.raises(ValueError, match="num_partitions"):
            read_tar_samples(spark, tar_dir, num_partitions=num_partitions)

    def test_config_on_error_typo_raises(self, spark, tar_dir):
        from datapipelines_spark.plans.pipeline import create_dataset

        cfg = {"dataset": {"urls": tar_dir, "format": "tar", "on_error": "quarantine"}}
        with pytest.raises(ValueError, match="on_error"):
            create_dataset(spark, cfg)

    def test_empty_dir(self, spark, tmp_path):
        df = read_tar_samples(spark, str(tmp_path))
        assert df.count() == 0
        assert set(df.columns) == {"__key__", "__url__", "data"}


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(f"{i:06d}", {"txt": bytearray(f"doc {i}".encode())}) for i in range(lo, hi)],
        "`__key__` string, data map<string, binary>",
    )


def _samples(spark, path):
    return sorted(
        (r["__key__"], sorted((k, bytes(v)) for k, v in r["data"].items()))
        for r in read_tar_samples(spark, path).collect()
    )


def _shard_bytes(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


class TestWriteTarShards:
    def test_round_trip_through_reference_format(self, spark, tmp_path):
        """write_tar_shards ∘ read_tar_samples == identity: the engine can
        re-emit the reference's native WebDataset layout."""
        from datapipelines_spark.sinks.writer import write_tar_shards
        from datapipelines_spark.sources.shards import read_tar_samples

        rows = [
            (f"{i:06d}", {"txt": bytearray(f"doc {i}".encode()), "json": bytearray(b'{"a":1}')})
            for i in range(57)
        ]
        df = spark.createDataFrame(rows, "`__key__` string, data map<string, binary>")
        out_dir = str(tmp_path / "shards")
        summary = write_tar_shards(df, out_dir, shard_rows=20, mode="error")
        assert sum(n for _, n in summary) == 57
        assert len(summary) >= 3  # 57 rows / 20 per shard
        assert all(name.endswith(".tar") for name, _ in summary)

        back = read_tar_samples(spark, out_dir)
        got = {r["__key__"]: {k: bytes(v) for k, v in r["data"].items()} for r in back.collect()}
        want = {k: {ext: bytes(b) for ext, b in d.items()} for k, d in rows}
        assert got == want

    def test_mode_error_and_overwrite(self, spark, tmp_path):
        from datapipelines_spark.sinks.writer import write_tar_shards

        df = spark.createDataFrame(
            [("k1", {"txt": bytearray(b"x")})], "`__key__` string, data map<string, binary>"
        )
        out_dir = str(tmp_path / "tars")
        write_tar_shards(df, out_dir, mode="error")
        import pytest as _pytest

        with _pytest.raises(FileExistsError):
            write_tar_shards(df, out_dir, mode="error")
        summary = write_tar_shards(df, out_dir, mode="overwrite")
        assert sum(n for _, n in summary) == 1

    def test_append_keeps_earlier_shards(self, spark, tmp_path):
        from datapipelines_spark.sinks.writer import write_tar_shards
        from datapipelines_spark.sources.shards import read_tar_samples

        def keys(lo, hi):
            return spark.createDataFrame(
                [(f"{i:06d}", {"txt": bytearray(f"doc {i}".encode())}) for i in range(lo, hi)],
                "`__key__` string, data map<string, binary>",
            )

        out_dir = str(tmp_path / "tars")
        first = write_tar_shards(keys(0, 10), out_dir, shard_rows=4, mode="error")
        second = write_tar_shards(keys(10, 20), out_dir, shard_rows=4, mode="append")
        assert not {name for name, _ in first} & {name for name, _ in second}
        back = read_tar_samples(spark, out_dir)
        assert sorted(r["__key__"] for r in back.collect()) == [f"{i:06d}" for i in range(20)]

    def test_overwrite_with_its_own_samples_keeps_them(self, spark, tmp_path):
        from datapipelines_spark.sinks.writer import write_tar_shards

        out_dir = str(tmp_path / "tars")
        write_tar_shards(_docs(spark, 0, 30), out_dir, shard_rows=8, mode="error")
        want = _samples(spark, out_dir)
        assert len(want) == 30
        write_tar_shards(read_tar_samples(spark, out_dir), out_dir, shard_rows=8, mode="overwrite")
        assert _samples(spark, out_dir) == want
        assert os.listdir(tmp_path) == ["tars"]

    def test_failed_job_leaves_previous_shards_byte_identical(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from datapipelines_spark.sinks.writer import write_tar_shards

        out_dir = str(tmp_path / "tars")
        write_tar_shards(_docs(spark, 0, 30), out_dir, shard_rows=8, mode="error")
        before = _shard_bytes(out_dir)
        bad = _docs(spark, 30, 60).withColumn(
            "data",
            F.when(F.col("__key__") == "000045", F.raise_error(F.lit("boom"))).otherwise(
                F.col("data")
            ),
        )
        with pytest.raises(Exception, match="boom"):
            write_tar_shards(bad, out_dir, shard_rows=8, mode="overwrite")
        assert _shard_bytes(out_dir) == before
        assert os.listdir(tmp_path) == ["tars"]

    def test_crash_at_every_publish_step_leaves_one_whole_shard_set(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill an overwrite just before, and just after, each rename and
        rmtree of its driver-side publish. The next call (mode="error")
        must find the directory holding the old or the new shards whole,
        with no staging or aside left beside it."""
        import shutil

        from datapipelines_spark.sinks.writer import write_tar_shards

        old_df, new_df = _docs(spark, 0, 20), _docs(spark, 100, 125)
        write_tar_shards(old_df, str(tmp_path / "old"), shard_rows=8)
        write_tar_shards(new_df, str(tmp_path / "new"), shard_rows=8)
        whole = [_shard_bytes(str(tmp_path / "old")), _shard_bytes(str(tmp_path / "new"))]
        real_rename, real_rmtree = os.rename, shutil.rmtree

        for when in ("before", "after"):
            for crash_at in range(1, 10):
                parent = tmp_path / f"{when}-{crash_at}"
                out_dir = str(parent / "tars")
                write_tar_shards(old_df, out_dir, shard_rows=8)
                calls = {"n": 0}

                def counting(fn, *a, **kw):
                    calls["n"] += 1
                    if calls["n"] == crash_at and when == "before":
                        raise RuntimeError(f"simulated crash before fs-op {crash_at}")
                    out = fn(*a, **kw)
                    if calls["n"] == crash_at:
                        raise RuntimeError(f"simulated crash after fs-op {crash_at}")
                    return out

                monkeypatch.setattr(os, "rename", lambda *a: counting(real_rename, *a))
                monkeypatch.setattr(
                    shutil, "rmtree", lambda *a, **kw: counting(real_rmtree, *a, **kw)
                )
                crashed = False
                try:
                    write_tar_shards(new_df, out_dir, shard_rows=8, mode="overwrite")
                except RuntimeError:
                    crashed = True
                monkeypatch.undo()

                with pytest.raises(FileExistsError):
                    write_tar_shards(new_df, out_dir, shard_rows=8, mode="error")
                assert _shard_bytes(out_dir) in whole, f"crash {when} fs-op {crash_at}"
                assert os.listdir(parent) == ["tars"], f"crash {when} fs-op {crash_at}"
                if not crashed:
                    break
            else:
                pytest.fail("no crash-free run")

    @pytest.mark.parametrize(
        "kwargs, match",
        [
            ({"shard_rows": 0}, "shard_rows"),
            ({"shard_rows": -5}, "shard_rows"),
            ({"mode": "overwirte"}, "mode"),
            ({"mode": "ignore"}, "mode"),
        ],
        ids=["shard_rows=0", "shard_rows=-5", "mode=overwirte", "mode=ignore"],
    )
    def test_invalid_arguments_raise_before_any_job_or_write(self, spark, tmp_path, kwargs, match):
        from datapipelines_spark.sinks.writer import write_tar_shards

        df = spark.createDataFrame(
            [("k1", {"txt": bytearray(b"x")})], "`__key__` string, data map<string, binary>"
        )
        out_dir = tmp_path / "tars"
        sc = spark.sparkContext
        group = f"write-tar-shards-validation-{match}-{kwargs[match]}"
        sc.setJobGroup(group, "argument validation")
        try:
            with pytest.raises(ValueError, match=match):
                write_tar_shards(df, str(out_dir), **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not out_dir.exists()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
