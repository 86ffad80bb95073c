"""Config→DataFrame builder (G1-G5), transforms (M/F), decode (C), loader
sink (B1-B3) — reference-parity semantics on synthetic fixtures."""

import threading
import time
import uuid

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

from datapipelines_spark.plans.pipeline import create_dataset, instantiate
from datapipelines_spark.sinks.loader import create_loader, dict_collate


@pytest.fixture()
def samples_df(spark):
    rows = [
        ("k1", "/data/setA/shard-000", b"\xff\xd8aa", "hello world", '{"h": 4, "w": 6}'),
        ("k2", "/data/setA/shard-000", b"\xff\xd8bb", None, '{"h": 9, "w": 9}'),
        ("k3", "/data/setB/shard-001", b"\x89PNGcc", "third text", None),
        ("k4", "/data/setB/shard-001", b"\x89PNGdd", "fourth", '{"h": 2, "w": 3}'),
    ]
    return spark.createDataFrame(
        rows, "`__key__` string, `__url__` string, jpg binary, txt string, json string"
    )


@pytest.fixture()
def job_group(spark):
    """A fresh job group on this thread, cleared afterwards."""
    sc = spark.sparkContext
    group = f"loader-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "create_loader test")
    yield group
    sc._jsc.clearJobGroup()


def _loader_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("create_loader")]


def _assert_group_jobs_end(sc, group: str, seconds: float = 5.0) -> None:
    """No job of ``group`` is still active within ``seconds``."""
    mine = set(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + seconds
    while set(sc.statusTracker().getActiveJobsIds()) & mine and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not set(sc.statusTracker().getActiveJobsIds()) & mine


def _run_bounded(fn, seconds: float = 120.0) -> BaseException | None:
    """Run ``fn`` on another thread and return what it raised, or None;
    fail the test if it has not returned within ``seconds``."""
    err: list[BaseException] = []

    def run():
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - handed back to the test
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds} s"
    return err[0] if err else None


class TestInstantiate:
    def test_target_params(self):
        obj = instantiate(
            {
                "target": "datapipelines_spark.operators.transforms.KeyFilter",
                "params": {"keys": ["txt"]},
            }
        )
        from datapipelines_spark.operators.transforms import KeyFilter

        assert isinstance(obj, KeyFilter)
        assert obj.keys == ["txt"]

    def test_passthrough(self):
        assert instantiate(42) == 42


class TestTransforms:
    def test_key_filter(self, samples_df):
        from datapipelines_spark.operators.transforms import KeyFilter

        out = KeyFilter(keys=["txt", "json"]).apply(samples_df)
        assert sorted(r["__key__"] for r in out.collect()) == ["k1", "k4"]

    def test_exclude_keys_guard_on_filter(self, samples_df):
        from datapipelines_spark.operators.transforms import KeyFilter

        # rows from setB bypass the filter (reference skip_this_sample,
        # mappers/base.py:29-32) — k3 survives despite null json
        out = KeyFilter(keys=["txt", "json"], exclude_keys=["setB"]).apply(samples_df)
        assert sorted(r["__key__"] for r in out.collect()) == ["k1", "k3", "k4"]

    def test_column_map_guard(self, samples_df):
        from datapipelines_spark.operators.transforms import ColumnMap

        out = ColumnMap(keys=["txt"], fn=lambda c: F.upper(c), exclude_keys=["setB"]).apply(
            samples_df
        )
        rows = {r["__key__"]: r["txt"] for r in out.collect()}
        assert rows["k1"] == "HELLO WORLD"
        assert rows["k3"] == "third text"  # guarded, untouched

    def test_rescaler_float_mode(self, spark):
        from datapipelines_spark.operators.transforms import Rescaler

        df = spark.createDataFrame([(1, [0.0, 0.5, 1.0])], "id int, jpg array<double>")
        out = Rescaler(key="jpg", isfloat=True).apply(df).collect()[0]["jpg"]
        assert out == [-1.0, 0.0, 1.0]

    def test_size_filter_strict_nulls(self, spark):
        from datapipelines_spark.operators.transforms import SizeFilter

        df = spark.createDataFrame([(1, 100), (2, None), (3, 900)], "id int, n int")
        strict = SizeFilter(size_col="n", min_size=200, strict=True).apply(df)
        assert [r["id"] for r in strict.collect()] == [3]
        lenient = SizeFilter(size_col="n", min_size=200, strict=False).apply(df)
        assert sorted(r["id"] for r in lenient.collect()) == [2, 3]


class TestDecode:
    def test_partial_decodes_only_binary(self, samples_df):
        from datapipelines_spark.operators.decode import apply_decoder

        out = apply_decoder(samples_df, "utf8")
        schema = dict(out.dtypes)
        assert schema["jpg"] == "string"  # was binary -> decoded
        assert schema["txt"] == "string"  # untouched (partial semantics)

    def test_json_decoder_with_schema(self, samples_df):
        from datapipelines_spark.operators.decode import apply_decoder

        out = apply_decoder(samples_df, {"key": "json", "decoder": "json", "schema": "h int, w int"})
        rows = {r["__key__"]: r["json"] for r in out.collect()}
        assert rows["k1"]["h"] == 4 and rows["k1"]["w"] == 6
        assert rows["k3"] is None  # null stays null (permissive)

    def test_unknown_decoder_raises(self, samples_df):
        from datapipelines_spark.operators.decode import apply_decoder

        with pytest.raises(KeyError):
            apply_decoder(samples_df, {"key": "jpg", "decoder": "nope"})


class TestCreateDataset:
    def test_config_pipeline_end_to_end(self, spark, tmp_path, samples_df):
        path = str(tmp_path / "samples.parquet")
        samples_df.write.parquet(path)
        config = {
            "dataset": {
                "urls": path,
                "format": "parquet",
                "preprocessors": [
                    {
                        "target": "datapipelines_spark.operators.transforms.KeyFilter",
                        "params": {"keys": ["txt"]},
                    }
                ],
                "decoders": [{"key": "json", "decoder": "json", "schema": "h int, w int"}],
                "postprocessors": [
                    {
                        "target": "datapipelines_spark.operators.transforms.ColumnMap",
                        "params": {"keys": ["txt"], "fn": None},
                    }
                ],
            }
        }
        # a callable param can't live in YAML for ColumnMap; drop it for this
        # test and use a Selector instead
        config["dataset"]["postprocessors"] = [
            {
                "target": "datapipelines_spark.operators.transforms.Selector",
                "params": {"keys": ["__key__", "json"]},
            }
        ]
        out = create_dataset(spark, config)
        rows = {r["__key__"]: r for r in out.collect()}
        assert set(rows) == {"k1", "k3", "k4"}
        assert out.columns == ["__key__", "json"]
        assert rows["k1"]["json"]["h"] == 4

    def test_tar_source_config(self, spark, tmp_path):
        import io
        import tarfile

        d = tmp_path / "shards"
        d.mkdir()
        with tarfile.open(str(d / "s-000.tar"), "w") as tf:
            for name, payload in [("x.txt", b"abc"), ("y.txt", b"def")]:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
        out = create_dataset(spark, {"dataset": {"urls": str(d), "format": "tar"}})
        assert sorted(r["__key__"] for r in out.collect()) == ["x", "y"]


class TestLoader:
    def test_dict_collate_reference_semantics(self):
        batch = dict_collate(
            [
                {"a": 1, "b": [1.0, 2.0], "c": "x", "only_first": 9},
                {"a": 2, "b": [3.0, 4.0], "c": "y"},
            ]
        )
        # key intersection (dataset.py:26): only_first dropped
        assert set(batch) == {"a", "b", "c"}
        assert isinstance(batch["a"], np.ndarray) and batch["a"].tolist() == [1, 2]
        assert batch["b"].shape == (2, 2)
        assert batch["c"] == ["x", "y"]

    def test_collate_ragged_arrays_stay_lists(self):
        batch = dict_collate([{"b": [1.0]}, {"b": [1.0, 2.0]}])
        assert isinstance(batch["b"], list)

    def test_loader_batching_partial(self, spark):
        df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
        batches = list(create_loader(df.orderBy("id"), batch_size=4, partial=True))
        assert [len(b["id"]) for b in batches] == [4, 4, 2]
        assert batches[0]["v"].tolist() == [0, 2, 4, 6]

    def test_loader_drops_partial_when_disabled(self, spark):
        df = spark.range(10)
        batches = list(create_loader(df.orderBy("id"), batch_size=4, partial=False))
        assert [len(b["id"]) for b in batches] == [4, 4]

    @pytest.mark.parametrize("batch_size", [0, -3])
    def test_loader_rejects_batch_size_below_one(self, spark, batch_size):
        # would otherwise buffer the whole dataset into one driver-side batch
        with pytest.raises(ValueError, match="batch_size"):
            create_loader(spark.range(10), batch_size=batch_size)

    @pytest.mark.parametrize("partial", [True, False])
    def test_loader_order_matches_collect_across_partitions(self, spark, partial):
        # 37 range partitions: 64-row batches span partition boundaries and
        # the loader's window (defaultParallelism) is smaller than 37
        conf = {
            "spark.sql.shuffle.partitions": "37",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        before = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            df = spark.range(0, 2000, 1, 5).select(
                "id", ((F.col("id") * 7919) % 2000).alias("k")
            ).orderBy("k")
            assert df.rdd.getNumPartitions() == 37
            assert spark.sparkContext.defaultParallelism < 37
            want = [(r["id"], r["k"]) for r in df.collect()]
            batches = list(create_loader(df, batch_size=64, partial=partial))
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)
        if not partial:
            want = want[: len(want) // 64 * 64]
        assert [len(b["id"]) for b in batches[:-1]] == [64] * (len(batches) - 1)
        got = list(zip(
            np.concatenate([b["id"] for b in batches]).tolist(),
            np.concatenate([b["k"] for b in batches]).tolist(),
        ))
        assert got == want

    def test_loader_zero_partitions_yields_nothing(self, spark):
        df = spark.createDataFrame(spark.sparkContext.emptyRDD(), "id long")
        assert df.rdd.getNumPartitions() == 0
        assert list(create_loader(df, batch_size=4)) == []

    def test_loader_skips_empty_partitions_without_gaps(self, spark):
        # partitions 2-5 of 10 are empty
        df = spark.range(0, 100, 1, 10).where((F.col("id") < 20) | (F.col("id") >= 60))
        batches = list(create_loader(df, batch_size=7))
        assert [len(b["id"]) for b in batches] == [7] * 8 + [4]
        assert np.concatenate([b["id"] for b in batches]).tolist() == (
            list(range(20)) + list(range(60, 100))
        )

    def test_loader_close_cancels_in_flight_jobs(self, spark, job_group):
        sc = spark.sparkContext

        def slow_after_first_partition(it):
            from pyspark import TaskContext

            if TaskContext.get().partitionId() > 0:
                time.sleep(30)
            yield from it

        df = spark.range(0, 80, 1, 8).mapInPandas(slow_after_first_partition, "id long")
        loader = create_loader(df, batch_size=10)
        assert next(loader)["id"].tolist() == list(range(10))
        # returns well before the 30 s tasks would finish on their own
        assert _run_bounded(loader.close, seconds=10) is None
        assert not _loader_threads()
        assert len(sc.statusTracker().getJobIdsForGroup(job_group)) > 1  # others in flight
        _assert_group_jobs_end(sc, job_group)

    def test_loader_failed_partition_raises_after_earlier_batches(self, spark, job_group):
        sc = spark.sparkContext

        def fail_in_partition_5(it):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            if pid in (3, 4):
                time.sleep(3)  # still running when partition 5 fails
            for pdf in it:
                if pid == 5:
                    raise RuntimeError("boom in partition 5")
                yield pdf

        df = spark.range(0, 160, 1, 16).mapInPandas(fail_in_partition_5, "id long")
        got: list[dict] = []
        err = _run_bounded(lambda: got.extend(create_loader(df, batch_size=10)))
        assert isinstance(err, PythonException)
        assert "boom in partition 5" in str(err)
        assert [b["id"].tolist() for b in got] == [list(range(i, i + 10)) for i in range(0, 50, 10)]
        assert not _loader_threads()
        _assert_group_jobs_end(sc, job_group)

    def test_loader_jobs_keep_callers_job_group_and_session_tag(self, spark, job_group):
        sc = spark.sparkContext
        tag = f"loader-tag-{uuid.uuid4().hex}"
        spark.addTag(tag)
        try:
            list(create_loader(spark.range(0, 160, 1, 16), batch_size=10))
            # the JVM name the session gives this thread's tag on its jobs
            jvm_tag = spark._jsparkSession.managedJobTags().get().apply(tag)
        finally:
            spark.removeTag(tag)
        # one job per partition, each under the caller's group and tag
        jobs = sc.statusTracker().getJobIdsForGroup(job_group)
        assert len(jobs) == 16
        store = sc._jsc.sc().statusStore()
        for j in jobs:
            assert jvm_tag in store.job(j).jobTags().mkString(",").split(",")


class TestMixing:
    def test_weighted_mix_proportions(self, spark):
        from datapipelines_spark.operators.mixing import weighted_mix

        a = spark.range(20000).select(F.col("id"))
        b = spark.range(20000, 40000).select(F.col("id"))
        out = weighted_mix({"a": a, "b": b}, {"a": 1.0, "b": 0.25}, key_col="id")
        counts = {r["__source"]: r["cnt"] for r in
                  out.groupBy("__source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert counts["a"] == 20000  # heaviest source taken whole
        assert abs(counts["b"] - 5000) < 300  # ~25% deterministic sample

    def test_weighted_mix_deterministic(self, spark):
        from datapipelines_spark.operators.mixing import weighted_mix

        a = spark.range(1000)
        out1 = weighted_mix({"a": a}, {"a": 0.5}, key_col="id")
        out2 = weighted_mix({"a": a}, {"a": 0.5}, key_col="id")
        assert sorted(r["id"] for r in out1.collect()) == sorted(
            r["id"] for r in out2.collect()
        )

    def test_split_proportions_partition(self, spark):
        from datapipelines_spark.operators.mixing import split_proportions

        df = spark.range(10000)
        parts = split_proportions(df, "id", [0.8, 0.1, 0.1])
        sizes = [p.count() for p in parts]
        assert sum(sizes) == 10000
        assert abs(sizes[0] - 8000) < 300
        # disjoint
        assert parts[0].join(parts[1], "id").count() == 0

    def test_epoch_repeat(self, spark):
        from datapipelines_spark.operators.mixing import epoch_repeat

        out = epoch_repeat(spark.range(5), 3)
        assert out.count() == 15
        assert out.select("epoch").distinct().count() == 3


class TestMultimodal:
    def test_decode_images_quarantine(self, spark):
        from datapipelines_spark.operators.multimodal import decode_images

        df = spark.createDataFrame(
            [("k1", b"realbytes"), ("k2", None), ("k3", b"")],
            "`__key__` string, jpg binary",
        )
        out = {r["__key__"]: r for r in decode_images(df).collect()}
        assert out["k1"]["decode_error"] is None and out["k1"]["width"] >= 16
        assert out["k2"]["decode_error"] is not None
        assert out["k3"]["decode_error"] is not None

    def test_decode_images_skip_mode(self, spark):
        from datapipelines_spark.operators.multimodal import decode_images

        df = spark.createDataFrame(
            [("k1", b"realbytes"), ("k2", None)], "`__key__` string, jpg binary"
        )
        out = decode_images(df, on_error="skip").collect()
        assert [r["__key__"] for r in out] == ["k1"]

    def test_decode_images_fail_mode(self, spark):
        from datapipelines_spark.operators.multimodal import decode_images

        df = spark.createDataFrame([("k2", None)], "`__key__` string, jpg binary")
        with pytest.raises(Exception):
            decode_images(df, on_error="fail").collect()


class TestJoins:
    def test_metadata_join_collision_rename(self, spark):
        from datapipelines_spark.operators.joins import metadata_join

        main = spark.createDataFrame([(1, "m")], "k int, v string")
        meta = spark.createDataFrame([(1, "x", 9)], "k int, v string, extra int")
        out = metadata_join(main, meta, on="k")
        assert set(out.columns) == {"k", "v", "v_meta", "extra"}
        row = out.collect()[0]
        assert row["v"] == "m" and row["v_meta"] == "x"

    def test_semi_and_anti_filter(self, spark):
        from datapipelines_spark.operators.joins import anti_filter, semi_filter

        main = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        meta = spark.createDataFrame([(2,), (3,)], "k int")
        assert sorted(r["k"] for r in semi_filter(main, meta, "k").collect()) == [2, 3]
        assert [r["k"] for r in anti_filter(main, meta, "k").collect()] == [1]
