"""Real pixel crop/resize stages (operators/imageops.py)."""

import numpy as np
import pytest

from datapipelines_spark.operators.imageops import (
    _hash_offset,
    crop_resize_images,
    encode_ppm,
    resize_bilinear,
    resize_nearest,
    square_crop,
)


def test_resize_identity_is_exact():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (16, 16, 3), np.uint8)
    assert np.array_equal(resize_nearest(img, 16, 16), img)
    assert np.array_equal(resize_bilinear(img, 16, 16), img)


def test_nearest_upscale_2x_repeats_pixels():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8)
    assert np.array_equal(up[::2, ::2], img)
    assert np.array_equal(up[1::2, 1::2], img)


def test_bilinear_preserves_constant_and_bounds():
    img = np.full((10, 14, 3), 117, np.uint8)
    out = resize_bilinear(img, 33, 7)
    assert out.shape == (33, 7, 3)
    assert np.all(out == 117)
    grad = np.tile(np.arange(0, 256, 16, dtype=np.uint8), (16, 1))
    out = resize_bilinear(grad, 8, 8)
    assert out.min() >= 0 and out.max() <= 255
    assert np.all(np.diff(out[0].astype(int)) >= 0)  # monotone along gradient


def test_square_crop_matches_relational_geometry(spark):
    """The pixel crop must pick the SAME window as the crop-geometry
    operator (operators/crop.py) — one deterministic rule, two surfaces."""
    import pandas as pd
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.crop import add_size_and_square_crop

    pdf = pd.DataFrame({"k": [str(i) for i in range(20)],
                        "h": [30 + i for i in range(20)],
                        "w": [45 - i for i in range(20)]})
    out = add_size_and_square_crop(
        spark.createDataFrame(pdf), height_col="h", width_col="w", key_col="k", seed=42
    ).collect()
    for r in out:
        size = min(r["h"], r["w"])
        assert r["crop_top"] == _hash_offset(r["k"], 42, "top", r["h"] - size + 1)
        assert r["crop_left"] == _hash_offset(r["k"], 42, "left", r["w"] - size + 1)
    # the pixel stage reports the window it cut: same rule, same numbers
    images = spark.createDataFrame(
        [(k, bytearray(encode_ppm(np.zeros((h, w, 3), np.uint8))))
         for k, h, w in pdf.itertuples(index=False)],
        "k string, img binary",
    )
    staged = crop_resize_images(images, "img", "k", target=4, seed=42, on_error="fail")
    assert sorted(
        (r["k"], r["crop_top"], r["crop_left"]) for r in staged.collect()
    ) == sorted((r["k"], r["crop_top"], r["crop_left"]) for r in out)


def test_square_crop_array_shape():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (20, 31, 3), np.uint8)
    out = square_crop(img, key="abc")
    assert out.shape == (20, 20, 3)


def test_crop_resize_stage_end_to_end(spark):
    import pandas as pd

    from datapipelines_spark.operators.imageops import crop_resize_images
    from datapipelines_spark.operators.jpegcodec import encode_jpeg
    from datapipelines_spark.operators.multimodal import decode_ppm

    rows = []
    for i in range(10):
        h, w = 24 + (i % 3) * 8, 24 + (i % 4) * 8
        img = np.full((h, w, 3), (i * 23) % 200 + 20, np.uint8)
        rows.append((str(i), encode_jpeg(img, quality=90), (i * 23) % 200 + 20))
    df = spark.createDataFrame(
        pd.DataFrame([(k, p) for k, p, _ in rows], columns=["__key__", "jpg"])
    )
    out = {
        r["__key__"]: r
        for r in crop_resize_images(df, target=16, on_error="fail").collect()
    }
    assert len(out) == 10
    for k, _, c in rows:
        r = out[k]
        assert (r["width"], r["height"]) == (16, 16)
        assert r["crop_size"] == min(r["orig_width"], r["orig_height"])
        # re-decode the lossless P6 payload and check the solid color survived
        arr = decode_ppm(bytes(r["ppm"]))
        assert arr.shape == (16, 16, 3)
        assert abs(float(arr.mean()) - c) < 2.0


def test_ppm_reencode_roundtrip():
    from datapipelines_spark.operators.multimodal import decode_ppm

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (9, 11, 3), np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"interpolation": "bilnear"}, "interpolation"),
        ({"interpolation": "bicubic"}, "interpolation"),
        ({"target": 0}, "target"),
        ({"target": -4}, "target"),
    ],
    ids=["interpolation=bilnear", "interpolation=bicubic", "target=0", "target=-4"],
)
def test_crop_resize_rejects_bad_arguments_at_the_call(spark, kwargs, match):
    from datapipelines_spark.operators.imageops import ImageTransforms

    df = spark.createDataFrame([("k", bytearray(b"x"))], "`__key__` string, jpg binary")
    sc = spark.sparkContext
    group = f"crop-resize-validation-{match}-{next(iter(kwargs.values()))}"
    sc.setJobGroup(group, "argument validation")
    try:
        with pytest.raises(ValueError, match=match):
            crop_resize_images(df, **kwargs)
        # the config mapper passes its values through
        mapper_kwargs = {"size" if k == "target" else k: v for k, v in kwargs.items()}
        with pytest.raises(ValueError, match=match):
            ImageTransforms(**mapper_kwargs).apply(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
