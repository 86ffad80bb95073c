"""M4 real-codec path: decode ACTUAL image bytes (PPM/PGM/BMP, pure numpy)
through the Arrow-batched decode stage — not a digest fake.
Includes the reference-parity decode→transform chain
(/root/reference/sdata/mappers/sample_mappers.py:88-123) on real pixels."""

import struct

import numpy as np
import pytest

from datapipelines_spark.operators.audio import encode_wav, real_audio_decode
from datapipelines_spark.operators.imageops import crop_resize_images, dhash_images
from datapipelines_spark.operators.jpegcodec import encode_jpeg
from datapipelines_spark.operators.multimodal import (
    decode_array,
    decode_audio,
    decode_bmp,
    decode_images,
    decode_ppm,
    frame_sample_mjpeg,
    real_decode,
    spectral_audio,
)


def _ppm_bytes(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _pgm_bytes(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    return f"P5\n{w} {h}\n255\n".encode() + arr.tobytes()


def _bmp_bytes(arr: np.ndarray) -> bytes:
    """Uncompressed 24-bit bottom-up BMP with 4-byte row padding."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    raster = b"".join(
        row[:, [2, 1, 0]].tobytes() + b"\x00" * (stride - w * 3) for row in arr[::-1]
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return b"BM" + struct.pack("<IHHI", 14 + 40 + len(raster), 0, 0, 54) + info + raster


@pytest.fixture(scope="module")
def images():
    rng = np.random.default_rng(42)
    return {
        "ppm": rng.integers(0, 256, (7, 11, 3), dtype=np.uint8),
        "pgm": rng.integers(0, 256, (5, 8), dtype=np.uint8),
        "bmp": rng.integers(0, 256, (6, 5, 3), dtype=np.uint8),
    }


def test_codec_roundtrips(images):
    assert np.array_equal(decode_ppm(_ppm_bytes(images["ppm"])), images["ppm"])
    assert np.array_equal(decode_ppm(_pgm_bytes(images["pgm"])), images["pgm"])
    assert np.array_equal(decode_bmp(_bmp_bytes(images["bmp"])), images["bmp"])
    # magic-byte routing picks the right decoder
    assert decode_array(_bmp_bytes(images["bmp"])).shape == (6, 5, 3)


def test_decode_images_on_real_bytes(spark, images):
    rows = [
        ("ppm", bytearray(_ppm_bytes(images["ppm"]))),
        ("pgm", bytearray(_pgm_bytes(images["pgm"]))),
        ("bmp", bytearray(_bmp_bytes(images["bmp"]))),
    ]
    df = spark.createDataFrame(rows, "`__key__` string, jpg binary")
    out = {
        r["__key__"]: r
        for r in decode_images(df, decode_fn=real_decode, timeout_s=10.0).collect()
    }
    assert (out["ppm"]["width"], out["ppm"]["height"], out["ppm"]["n_channels"]) == (11, 7, 3)
    assert (out["pgm"]["width"], out["pgm"]["height"], out["pgm"]["n_channels"]) == (8, 5, 1)
    assert (out["bmp"]["width"], out["bmp"]["height"], out["bmp"]["n_channels"]) == (5, 6, 3)
    for name, arr in images.items():
        assert out[name]["decode_error"] is None
        assert abs(out[name]["mean_pixel"] - arr.mean() / 255.0) < 1e-12


def test_decode_images_quarantines_corrupt_real_bytes(spark, images):
    good = _ppm_bytes(images["ppm"])
    rows = [
        ("good", bytearray(good)),
        ("truncated", bytearray(good[: len(good) // 2])),
        ("not_an_image", bytearray(b"\x89PNG not really")),
    ]
    df = spark.createDataFrame(rows, "`__key__` string, jpg binary")
    out = {r["__key__"]: r for r in decode_images(df, decode_fn=real_decode).collect()}
    assert out["good"]["decode_error"] is None
    assert "truncated" in out["truncated"]["decode_error"]
    assert out["not_an_image"]["decode_error"] is not None
    assert out["truncated"]["width"] is None


def test_decode_then_transform_chain(images):
    """Reference decode→crop chain (sample_mappers.py:88-123) on real
    pixels: decode PPM, deterministic center square crop, downscale 2x by
    striding — all numpy, matching the M5 crop semantics."""
    arr = decode_array(_ppm_bytes(images["ppm"]))  # (7, 11, 3)
    side = min(arr.shape[:2])
    top = (arr.shape[0] - side) // 2
    left = (arr.shape[1] - side) // 2
    crop = arr[top : top + side, left : left + side]
    assert crop.shape == (7, 7, 3)
    small = crop[::2, ::2]
    assert small.shape == (4, 4, 3)
    assert np.array_equal(small, images["ppm"][0:7, 2:9][::2, ::2])


def test_binary_file_source_feeds_real_decode(spark, tmp_path, images):
    """Loose-file ingestion (sources/binary.py) -> decode_images with the
    real codec: the non-tar corpus shape, end-to-end on actual bytes."""
    from datapipelines_spark.sources.binary import read_binary_files

    (tmp_path / "a.ppm").write_bytes(_ppm_bytes(images["ppm"]))
    (tmp_path / "b.pgm").write_bytes(_pgm_bytes(images["pgm"]))
    (tmp_path / "skip.txt").write_bytes(b"not an image")

    files = read_binary_files(spark, str(tmp_path), glob="*.p?m")
    assert {r["__key__"] for r in files.select("__key__").collect()} == {"a", "b"}

    out = {
        r["__key__"]: r
        for r in decode_images(
            files, payload_col="payload", decode_fn=real_decode
        ).collect()
    }
    assert (out["a"]["width"], out["a"]["height"]) == (11, 7)
    assert (out["b"]["width"], out["b"]["height"], out["b"]["n_channels"]) == (8, 5, 1)
    assert all(r["decode_error"] is None for r in out.values())


# --- the shared on_error contract of every per-payload media stage ---------


#: SOI + EOI: splits out of an MJPEG stream as a frame, but has no scan
_BAD_FRAME = b"\xff\xd8\xff\xd9"
_PPM = _ppm_bytes(np.full((6, 9, 3), 90, np.uint8))
_WAV = encode_wav(np.full(400, 1000, np.int16), 8000)
_MJPEG = encode_jpeg(np.full((16, 16, 3), 90, np.uint8), quality=90)

#: stage -> (call(df, on_error), good payload, corrupt payload, output key
#: column) over a ``k string, meta string, p binary`` frame
MEDIA_STAGES = {
    "decode_images": (
        lambda df, e: decode_images(df, "p", "k", real_decode, e),
        _PPM, b"P6 junk", "__key__",
    ),
    "decode_audio": (
        lambda df, e: decode_audio(df, "p", "k", real_audio_decode, e),
        _WAV, b"RIFFjunk", "__key__",
    ),
    "spectral_audio": (
        lambda df, e: spectral_audio(df, "p", "k", e), _WAV, b"RIFFjunk", "__key__",
    ),
    "frame_sample_mjpeg": (
        lambda df, e: frame_sample_mjpeg(df, "p", "k", on_error=e),
        _MJPEG, _BAD_FRAME, "__key__",
    ),
    "crop_resize_images": (
        lambda df, e: crop_resize_images(df, "p", "k", target=4, on_error=e, passthrough=True),
        _PPM, b"junk", "k",
    ),
    "dhash_images": (
        lambda df, e: dhash_images(df, "p", "k", on_error=e), _PPM, b"junk", "k",
    ),
}


@pytest.mark.parametrize("stage", sorted(MEDIA_STAGES))
def test_media_stage_error_contract(spark, stage):
    run, good, bad, key = MEDIA_STAGES[stage]
    df = spark.createDataFrame(
        [("good", "m1", bytearray(good)), ("bad", "m2", bytearray(bad))],
        "k string, meta string, p binary",
    )
    assert [r[key] for r in run(df, "skip").collect()] == ["good"]
    with pytest.raises(Exception):
        run(df, "fail").collect()
    with pytest.raises(ValueError, match="on_error"):
        run(df, "quarantene")
    if "decode_error" not in run(df, "skip").columns:
        with pytest.raises(ValueError, match="decode_error"):
            run(df, "quarantine")
        return
    out = run(df, "quarantine")
    rows = {r[key]: r.asDict() for r in out.collect()}
    assert set(rows) == {"good", "bad"}
    assert rows["good"].pop("decode_error") is None
    assert None not in rows["good"].values()
    failed = rows["bad"]
    assert failed.pop("decode_error").split(": ")[0].endswith("Error")
    assert failed.pop(key) == "bad"
    if "meta" in out.columns:  # passthrough stages carry every other column
        assert failed.pop("meta") == "m2"
    assert set(failed.values()) == {None}


def test_frame_sample_keeps_frames_before_corrupt_trailing_frame(spark):
    df = spark.createDataFrame(
        [("v", bytearray(_MJPEG * 2 + _BAD_FRAME))], "`__key__` string, mjpeg binary"
    )
    quarantined = frame_sample_mjpeg(df).collect()
    assert [(r["frame_idx"], r["width"]) for r in quarantined[:2]] == [(0, 16), (1, 16)]
    assert len(quarantined) == 3 and quarantined[2]["frame_idx"] is None
    assert quarantined[2]["decode_error"].startswith("ValueError: ")
    skipped = frame_sample_mjpeg(df, on_error="skip").collect()
    assert [r["frame_idx"] for r in skipped] == [0, 1]
