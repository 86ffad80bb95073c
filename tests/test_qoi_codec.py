"""QOI codec (operators/qoicodec.py): hand-assembled golden byte streams
for every op type straight from the public spec, lossless roundtrip
properties, magic routing, and loud error paths."""

import struct

import numpy as np
import pytest

from datapipelines_spark.operators.qoicodec import decode_qoi, encode_qoi


def _header(w, h, ch=3, cs=0):
    return b"qoif" + struct.pack(">II", w, h) + bytes((ch, cs))


_END = b"\x00" * 7 + b"\x01"


# ---------------------------------------------------------------------------
# golden streams, one per op (decoder-first: the bytes are written from the
# spec by hand, never produced by our own encoder)


def test_golden_rgb_and_run():
    """QOI_OP_RGB (0xFE r g b) then QOI_OP_RUN (0b11, run-1): a 4x1 row of
    one color = 1 literal + a run of 3."""
    payload = _header(4, 1) + bytes((0xFE, 10, 20, 30)) + bytes((0xC0 | 2,)) + _END
    img = decode_qoi(payload)
    assert img.shape == (1, 4, 3)
    assert (img == [10, 20, 30]).all()


def test_golden_diff():
    """QOI_OP_DIFF 0b01drdgdb, each 2 bits with bias 2: from (10,20,30),
    dr=+1, dg=-2, db=0 -> (11,18,30)."""
    diff = 0x40 | ((1 + 2) << 4) | ((-2 + 2) << 2) | (0 + 2)
    payload = _header(2, 1) + bytes((0xFE, 10, 20, 30, diff)) + _END
    img = decode_qoi(payload)
    assert img[0, 0].tolist() == [10, 20, 30]
    assert img[0, 1].tolist() == [11, 18, 30]


def test_golden_luma():
    """QOI_OP_LUMA 0b10gggggg (dg bias 32) + (dr-dg bias 8)<<4 | (db-dg
    bias 8): from (100,100,100), dg=+10, dr=dg+3, db=dg-4 ->
    (113,110,106)."""
    payload = (
        _header(2, 1)
        + bytes((0xFE, 100, 100, 100))
        + bytes((0x80 | (10 + 32), ((3 + 8) << 4) | (-4 + 8)))
        + _END
    )
    img = decode_qoi(payload)
    assert img[0, 1].tolist() == [113, 110, 106]


def test_golden_index():
    """QOI_OP_INDEX replays the seen-pixel slot hash(r,g,b,a) =
    (3r+5g+7b+11a) % 64."""
    r, g, b = 10, 20, 30
    k = (3 * r + 5 * g + 7 * b + 11 * 255) % 64
    payload = (
        _header(3, 1)
        + bytes((0xFE, r, g, b))        # px0: literal, lands in slot k
        + bytes((0xFE, 200, 200, 200))  # px1: something else
        + bytes((k,))                   # px2: INDEX back to px0
        + _END
    )
    img = decode_qoi(payload)
    assert img[0, 2].tolist() == [r, g, b]


def test_golden_rgba_and_alpha_carry():
    """QOI_OP_RGBA sets alpha; later RGB literals carry it unchanged."""
    payload = (
        _header(2, 1, ch=4)
        + bytes((0xFF, 1, 2, 3, 77))
        + bytes((0xFE, 4, 5, 6))
        + _END
    )
    img = decode_qoi(payload)
    assert img.shape == (1, 2, 4)
    assert img[0, 0].tolist() == [1, 2, 3, 77]
    assert img[0, 1].tolist() == [4, 5, 6, 77]


def test_golden_diff_wraps_mod_256():
    """Deltas are wrapping: (0,0,0) + dr=-2 -> 254."""
    diff = 0x40 | ((-2 + 2) << 4) | ((0 + 2) << 2) | (0 + 2)
    payload = _header(2, 1) + bytes((0xFE, 0, 0, 0, diff)) + _END
    img = decode_qoi(payload)
    assert img[0, 1].tolist() == [254, 0, 0]


def test_golden_first_pixel_run_uses_initial_state():
    """The implicit previous pixel is (0,0,0,255): a stream that OPENS
    with a run emits black."""
    payload = _header(3, 1) + bytes((0xC0 | 2,)) + _END
    img = decode_qoi(payload)
    assert (img == 0).all()


# ---------------------------------------------------------------------------
# roundtrip + encoder behavior


def test_roundtrip_random_rgb_and_rgba():
    rng = np.random.default_rng(5)
    for ch in (3, 4):
        img = rng.integers(0, 256, size=(13, 17, ch), dtype=np.uint8)
        back = decode_qoi(encode_qoi(img))
        assert back.shape == img.shape
        assert (back == img).all()


def test_roundtrip_adversarial_images():
    """Solid (pure run), gradient (pure DIFF/LUMA), striped (INDEX-heavy),
    and a 62+ run crossing the run-length cap."""
    solid = np.full((9, 31, 3), 200, dtype=np.uint8)  # 279 px: 4 run ops
    grad = np.zeros((4, 64, 3), dtype=np.uint8)
    for x in range(64):
        grad[:, x] = (x, (x * 2) % 256, (x * 3) % 256)
    stripes = np.zeros((6, 40, 3), dtype=np.uint8)
    stripes[:, 1::2] = (9, 8, 7)
    for img in (solid, grad, stripes):
        assert (decode_qoi(encode_qoi(img)) == img).all()


def test_encoder_emits_every_op_type_on_mixed_image():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    img[0:2] = 50  # runs
    img[4, 1] = img[4, 0] + np.array([1, 255, 0], dtype=np.uint8)  # DIFF-able
    img[5, 1] = img[5, 0] + np.array([5, 6, 3], dtype=np.uint8)  # LUMA-able
    img[6, 3] = img[0, 0]  # INDEX hit
    enc = encode_qoi(img)
    body = enc[14:-8]
    tags = set()
    pos = 0
    while pos < len(body):
        t = body[pos]
        if t == 0xFE:
            tags.add("rgb"); pos += 4
        elif t == 0xFF:
            tags.add("rgba"); pos += 5
        else:
            tags.add(("index", "diff", "luma", "run")[t >> 6])
            pos += 2 if (t >> 6) == 2 else 1
    assert {"rgb", "run", "diff", "luma", "index"} <= tags
    assert (decode_qoi(enc) == img).all()


def test_decode_array_routes_qoi_magic(spark):
    from datapipelines_spark.operators.multimodal import real_decode

    img = np.full((3, 5, 3), 128, dtype=np.uint8)
    feats = real_decode(encode_qoi(img))
    assert feats["width"] == 5 and feats["height"] == 3
    assert feats["n_channels"] == 3
    assert feats["mean_pixel"] == pytest.approx(128 / 255)


def test_error_paths_are_loud():
    img = np.full((2, 2, 3), 7, dtype=np.uint8)
    good = encode_qoi(img)
    with pytest.raises(ValueError, match="not a QOI"):
        decode_qoi(b"nope" + good[4:])
    with pytest.raises(ValueError, match="truncated|end marker"):
        decode_qoi(good[:14])  # header only
    with pytest.raises(ValueError, match="end marker"):
        decode_qoi(good[:-8] + b"\x00" * 7 + b"\x02")
    with pytest.raises(ValueError, match="overflow"):
        # 1x1 image, but the stream runs 3 pixels
        decode_qoi(_header(1, 1) + bytes((0xC0 | 2,)) + _END)
    with pytest.raises(ValueError, match="channels"):
        decode_qoi(_header(2, 2, ch=2) + _END)
    with pytest.raises(ValueError, match="expects uint8"):
        encode_qoi(np.zeros((2, 2, 3), dtype=np.int32))
    with pytest.raises(ValueError, match="expects an"):
        encode_qoi(np.zeros((2, 2), dtype=np.uint8))
    # hostile header: w=h=2^32-1 must be rejected BEFORE the ~64 GB
    # allocation (qoi.h caps pixels the same way)
    with pytest.raises(ValueError, match="implausible"):
        decode_qoi(_header(2**32 - 1, 2**32 - 1) + _END)
    # dimensions the stream length cannot possibly encode (max 62 px/byte)
    with pytest.raises(ValueError, match="truncated"):
        decode_qoi(_header(1000, 1000) + bytes((0xC0 | 61,)) + _END)
