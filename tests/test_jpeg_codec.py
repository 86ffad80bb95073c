"""Pure-numpy baseline JPEG codec (operators/jpegcodec.py): encoder fixtures
verify the decoder without any third-party codec in the container."""

import numpy as np
import pytest

from datapipelines_spark.operators.jpegcodec import decode_jpeg, encode_jpeg


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _smooth_rgb(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)
    return (img // 2 + 60).astype(np.uint8)


def test_roundtrip_444_high_quality():
    img = _smooth_rgb(64, 80)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (64, 80, 3)
    assert _psnr(img, dec) > 45


def test_roundtrip_420_subsampled():
    img = _smooth_rgb(48, 64)
    enc444 = encode_jpeg(img, quality=85, subsample=False)
    enc420 = encode_jpeg(img, quality=85, subsample=True)
    dec = decode_jpeg(enc420)
    assert dec.shape == (48, 64, 3)
    assert _psnr(img, dec) > 40
    assert len(enc420) < len(enc444)  # chroma decimation must actually shrink


def test_roundtrip_grayscale():
    yy = np.mgrid[0:40, 0:56][0]
    g = (yy * 4 % 200 + 20).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=90))
    assert dec.shape == (40, 56, 1)
    assert _psnr(g[..., None], dec) > 45


def test_odd_dimensions_not_multiple_of_mcu():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsample=True))
    assert dec.shape == (17, 23, 3)
    dec2 = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec2.shape == (17, 23, 3)


def test_decode_deterministic():
    img = _smooth_rgb(32, 32)
    enc = encode_jpeg(img, quality=75)
    assert np.array_equal(decode_jpeg(enc), decode_jpeg(enc))


def test_noise_survives_lossily():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (40, 40, 3)
    assert _psnr(img, dec) > 25  # noise is the worst case for JPEG


def test_malformed_progressive_scan_rejected():
    """A baseline stream relabeled SOF2 has a full-band scan (Ss=0, Se=63),
    which a progressive frame may not contain — clean rejection, not a
    crash."""
    img = _smooth_rgb(16, 16)
    enc = bytearray(encode_jpeg(img, quality=85))
    idx = enc.find(b"\xff\xc0")
    enc[idx + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="progressive scan mixes"):
        decode_jpeg(bytes(enc))


def test_progressive_decodes_pixel_identical_to_baseline():
    """Progressive (SOF2, spectral selection + successive approximation)
    carries the SAME quantized coefficients as the baseline sibling, so the
    decoded pixels must be EXACTLY equal — a strong cross-check because the
    baseline entropy layer is independently validated."""
    from datapipelines_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(5)
    cases = [
        (_smooth_rgb(48, 56), False),
        (_smooth_rgb(48, 56), True),
        (rng.integers(0, 256, (33, 41, 3), np.uint8), False),
        (rng.integers(0, 256, (33, 41, 3), np.uint8), True),
    ]
    for img, sub in cases:
        base = decode_jpeg(encode_jpeg(img, quality=85, subsample=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=85, subsample=sub))
        assert np.array_equal(base, prog)


def test_progressive_grayscale_identical_to_baseline():
    from datapipelines_spark.operators.jpegcodec import encode_jpeg_progressive

    yy = np.mgrid[0:40, 0:56][0]
    g = (yy * 4 % 200 + 20).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=90)),
        decode_jpeg(encode_jpeg_progressive(g, quality=90)),
    )


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"P6 1 1 255 \x00\x00\x00")


def test_multimodal_router_uses_numpy_jpeg():
    from datapipelines_spark.operators.multimodal import real_decode

    img = _smooth_rgb(24, 24)
    feats = real_decode(encode_jpeg(img, quality=85))
    assert feats["width"] == 24 and feats["height"] == 24
    assert feats["n_channels"] == 3
    assert abs(feats["mean_pixel"] - img.mean() / 255.0) < 0.02


def test_spark_decode_stage_on_jpeg_payloads(spark):
    """End-to-end through the Arrow mapInPandas decode stage: encode per-row
    JPEGs, decode distributed, check dims + mean within lossy tolerance."""
    import pandas as pd
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    rows = []
    for i in range(12):
        h, w = 8 + (i % 3) * 8, 8 + (i % 4) * 8
        img = np.full((h, w, 3), (i * 19) % 200 + 20, dtype=np.uint8)
        rows.append((str(i), encode_jpeg(img, quality=90), h, w, float(img.mean())))
    pdf = pd.DataFrame(rows, columns=["__key__", "jpg", "h", "w", "true_mean"])
    df = spark.createDataFrame(pdf)
    out = decode_images(
        df, payload_col="jpg", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    ).select("__key__", "width", "height", "mean_pixel")
    got = {r["__key__"]: r for r in out.collect()}
    for key, _, h, w, true_mean in rows:
        r = got[key]
        assert (r["height"], r["width"]) == (h, w)
        assert abs(r["mean_pixel"] * 255.0 - true_mean) < 3.0


# --- property tests --------------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 33),
    w=st.integers(1, 33),
    quality=st.integers(30, 95),
    sub=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_roundtrip_never_crashes_and_preserves_shape(h, w, quality, sub, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=quality, subsample=sub))
    assert dec.shape == (h, w, 3)
    assert dec.dtype == np.uint8


@settings(max_examples=20, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_garbage_bytes_raise_valueerror_not_hang(data):
    with pytest.raises(ValueError):
        decode_jpeg(data)


@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(1, 25),
    w=st.integers(1, 25),
    quality=st.integers(40, 95),
    sub=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_progressive_equals_baseline_property(h, w, quality, sub, seed):
    from datapipelines_spark.operators.jpegcodec import encode_jpeg_progressive

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=quality, subsample=sub))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality, subsample=sub))
    assert np.array_equal(base, prog)


@settings(max_examples=10, deadline=None)
@given(frac=st.floats(0.1, 0.95), seed=st.integers(0, 1000))
def test_truncated_jpeg_raises_cleanly(frac, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quality=80)
    cut = enc[: max(2, int(len(enc) * frac))]
    try:
        decode_jpeg(cut)
    except ValueError:
        pass  # clean rejection is the contract; a short cut may still decode


# --- restart intervals (DRI / RSTn) -------------------------------------------


def _rng_img(h, w, seed=7):
    rng = np.random.default_rng(seed)
    base = np.linspace(0, 255, h * w * 3).reshape(h, w, 3)
    return (base + rng.integers(0, 30, (h, w, 3))).astype(np.uint8) 


@pytest.mark.parametrize("ri", [1, 2, 5])
@pytest.mark.parametrize("subsample", [False, True])
def test_restart_interval_baseline_roundtrip(ri, subsample):
    """A DRI stream must decode identically to its restart-free sibling:
    the decoder consumes RSTn at the interval and resets DC predictors."""
    img = _rng_img(40, 56)
    ref = decode_jpeg(encode_jpeg(img, 85, subsample=subsample))
    got = decode_jpeg(encode_jpeg(img, 85, subsample=subsample, restart_interval=ri))
    assert np.array_equal(got, ref)


@pytest.mark.parametrize("ri", [1, 3])
@pytest.mark.parametrize("subsample", [False, True])
def test_restart_interval_progressive_roundtrip(ri, subsample):
    """Progressive with restarts in EVERY scan — crucially the DC refinement
    scan, where each unit reads one raw bit: without proactive interval
    counting the pad 1-bits before each RSTn are consumed as refinement bits
    for later blocks."""
    from datapipelines_spark.operators.jpegcodec import encode_jpeg_progressive

    img = _rng_img(40, 56, seed=11)
    ref = decode_jpeg(encode_jpeg(img, 85, subsample=subsample))
    got = decode_jpeg(
        encode_jpeg_progressive(img, 85, subsample=subsample, restart_interval=ri)
    )
    assert np.array_equal(got, ref)


def test_restart_interval_grayscale_roundtrip():
    from datapipelines_spark.operators.jpegcodec import encode_jpeg_progressive

    img = _rng_img(24, 40)[:, :, 0]
    ref = decode_jpeg(encode_jpeg(img, 85))
    assert np.array_equal(decode_jpeg(encode_jpeg(img, 85, restart_interval=2)), ref)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(img, 85, restart_interval=2)), ref
    )


def test_restart_markers_decoded_in_band_without_dri():
    """Strip the DRI segment from a restart stream: the decoder then meets
    RSTn in-band (via the bit reader) instead of via the interval counter,
    and must RETRY the interrupted MCU after resync rather than skipping
    it."""
    img = _rng_img(24, 32, seed=3)
    data = encode_jpeg(img, 90, restart_interval=2)
    i = data.find(b"\xff\xdd")
    assert i > 0
    stripped = data[:i] + data[i + 6 :]  # drop the 6-byte DRI segment
    assert np.array_equal(decode_jpeg(stripped), decode_jpeg(data))


def test_fill_bytes_before_restart_markers_accepted():
    """0xFF fill bytes before a marker are legal (T.81 B.1.1.2); the bit
    reader must skip the run and classify the first non-0xFF byte instead of
    failing on 0xFF 0xFF."""
    img = _rng_img(24, 32, seed=5)
    data = encode_jpeg(img, 90, restart_interval=2)
    sos = data.find(b"\xff\xda")
    buf = bytearray(data[:sos])
    rest = data[sos:]
    j = 0
    while j < len(rest) - 1:
        if rest[j] == 0xFF and 0xD0 <= rest[j + 1] <= 0xD7:
            buf += b"\xff\xff\xff"  # fill bytes ahead of the marker's own FF
        buf.append(rest[j])
        j += 1
    buf.append(rest[-1])
    assert np.array_equal(decode_jpeg(bytes(buf)), decode_jpeg(data))


def test_multi_scan_baseline_rejected_loudly():
    """A baseline SOS covering only some frame components must raise — not
    silently return a Y-only image."""
    img = _rng_img(16, 16, seed=9)
    data = bytearray(encode_jpeg(img, 90))
    sos = data.find(b"\xff\xda")
    # original SOS payload: len(2) ns=3 [1,00 2,11 3,11] ss se ahal = 12 bytes
    assert data[sos + 2 : sos + 5] == bytes([0x00, 0x0C, 0x03])
    single = bytes([0xFF, 0xDA, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3F, 0x00])
    patched = bytes(data[:sos]) + single + bytes(data[sos + 14 :])
    with pytest.raises(ValueError, match="multi-scan baseline"):
        decode_jpeg(patched)
