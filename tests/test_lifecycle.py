"""End-to-end sample lifecycle (SURVEY §3.3 parity): tar shards → sample
assembly → metadata join → key/size filters → per-column decode → geometry
mapper → multimodal decode stub → batching/collation sink.

This is the reference's `examples/image_simple.py` flow re-expressed on the
engine, driven through the public API only.
"""

import io
import json
import tarfile

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.operators.crop import add_size_and_square_crop
from datapipelines_spark.operators.decode import apply_decoder
from datapipelines_spark.operators.joins import metadata_join, semi_filter
from datapipelines_spark.operators.multimodal import decode_images
from datapipelines_spark.operators.transforms import KeyFilter, SizeFilter
from datapipelines_spark.sinks.loader import create_loader
from datapipelines_spark.sources.shards import read_tar_samples
from tests.codec_stand_ins import fake_decode


@pytest.fixture()
def image_shards(tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    rng_sizes = [(32, 48), (64, 64), (16, 24), (100, 80), (8, 8), (40, 30)]
    for shard in range(2):
        with tarfile.open(str(d / f"img-{shard:03d}.tar"), "w") as tf:
            for i in range(3):
                key = f"s{shard}{i:03d}"
                h, w = rng_sizes[shard * 3 + i]
                members = {
                    f"{key}.jpg": b"\xff\xd8" + key.encode() * 7,
                    f"{key}.json": json.dumps({"height": h, "width": w}).encode(),
                }
                if not (shard == 1 and i == 2):  # one sample lacks txt
                    members[f"{key}.txt"] = f"caption {key}".encode()
                for name, payload in members.items():
                    info = tarfile.TarInfo(name=name)
                    info.size = len(payload)
                    tf.addfile(info, io.BytesIO(payload))
    return str(d)


def test_full_image_pipeline(spark, image_shards):
    # 1. source: tar shards -> one row per sample with __key__/__url__
    samples = read_tar_samples(spark, image_shards + "/img-{000..001}.tar")
    assert samples.count() == 6

    # 2. map-typed members to columns (decode stage C1: bytes -> typed)
    df = samples.select(
        "__key__",
        "__url__",
        F.col("data").getItem("jpg").alias("jpg"),
        F.col("data").getItem("txt").alias("txt"),
        F.col("data").getItem("json").alias("json"),
    )
    df = apply_decoder(df, {"key": "txt", "decoder": "utf8"})
    df = apply_decoder(df, {"key": "json", "decoder": "json", "schema": "height int, width int"})

    # 3. metadata join (J2/J4): sidecar table with quality scores; one key
    #    missing -> semi-filter drops it (J3)
    meta = spark.createDataFrame(
        [(k, float(i)) for i, k in enumerate(["s0000", "s0001", "s0002", "s1000", "s1001"])],
        "`__key__` string, score double",
    )
    df = semi_filter(df, meta, "__key__")
    df = metadata_join(df, meta, on="__key__")
    assert df.count() == 5

    # 4. filters: txt must exist (F3), min image size (F4 via json struct)
    df = KeyFilter(keys=["txt"]).apply(df)
    df = df.withColumn("height", F.col("json.height")).withColumn("width", F.col("json.width"))
    df = SizeFilter(size_col="height", min_size=20).apply(df)
    df = SizeFilter(size_col="width", min_size=20).apply(df)
    kept = sorted(r["__key__"] for r in df.select("__key__").collect())
    assert kept == ["s0000", "s0001", "s1000"]

    # 5. geometry mapper (M5): deterministic square crop
    df = add_size_and_square_crop(df, "height", "width")
    geo = {r["__key__"]: r for r in df.collect()}
    for r in geo.values():
        assert r["crop_size"] == min(r["original_height"], r["original_width"])
        assert 0 <= r["crop_top"] <= r["original_height"] - r["crop_size"]
        assert 0 <= r["crop_left"] <= r["original_width"] - r["crop_size"]
    # deterministic across re-evaluation
    again = {r["__key__"]: r for r in add_size_and_square_crop(
        df.drop("original_height", "original_width", "crop_size", "crop_top", "crop_left"),
        "height", "width").collect()}
    assert all(geo[k]["crop_top"] == again[k]["crop_top"] for k in geo)

    # 6. multimodal decode stub (M4): bytes -> feature columns, no errors
    feats = decode_images(df, payload_col="jpg", key_col="__key__", decode_fn=fake_decode)
    assert feats.where(F.col("decode_error").isNotNull()).count() == 0

    # 7. sink (B1-B3): batched dict-of-columns
    batches = list(create_loader(df.select("__key__", "txt", "score", "crop_size"), batch_size=2))
    assert [len(b["__key__"]) for b in batches] == [2, 1]
    assert set(batches[0]) == {"__key__", "txt", "score", "crop_size"}
