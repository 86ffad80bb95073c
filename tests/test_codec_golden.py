"""Independent golden payloads for the in-repo media codecs.

Codec round-trip tests alone are self-referential: encoder and decoder
share authorship, so a shared
misreading of a spec would pass. Every payload here is therefore
hand-assembled IN THE TEST, byte by byte, straight from the public specs
(ITU-T T.81, RFC 2083 + stdlib zlib, RIFF/WAVE, ITU-T G.711, ISO 14496-12)
— none of them touch the repo's encoders — and decoded values are asserted
against independently-derived expectations (closed-form DCT/filter math,
the published G.711 reference values).
"""

import struct
import zlib

import numpy as np
import pytest

from datapipelines_spark.operators.audio import decode_wav
from datapipelines_spark.operators.jpegcodec import decode_jpeg
from datapipelines_spark.operators.pngcodec import decode_png
from datapipelines_spark.operators.video import probe_mp4


# --- JPEG: hand-assembled baseline streams (T.81) ----------------------------


def _jpeg_segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _minimal_gray_jpeg(entropy: bytes, quant_value: int = 16) -> bytes:
    """8x8 single-component baseline JPEG with one-entry Huffman tables:
    DC table = {symbol 0x03: code '0'}, AC table = {symbol 0x00 (EOB): '0'}.
    Everything below is written from the T.81 segment layouts, not via
    encode_jpeg."""
    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: pq=0 (8-bit), tq=0, 64 entries (zigzag order irrelevant: uniform)
    out += _jpeg_segment(0xDB, bytes([0x00]) + bytes([quant_value] * 64))
    # SOF0: precision 8, 8x8, 1 component (id 1, h=v=1, tq=0)
    out += _jpeg_segment(
        0xC0, bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    # DHT class 0 id 0: one code of length 1 -> symbol 0x03 (category 3)
    out += _jpeg_segment(
        0xC4, bytes([0x00]) + bytes([1] + [0] * 15) + bytes([0x03])
    )
    # DHT class 1 id 0: one code of length 1 -> symbol 0x00 (EOB)
    out += _jpeg_segment(
        0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00])
    )
    # SOS: 1 component, td=0 ta=0, ss=0 se=63 ah/al=0
    out += _jpeg_segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def test_jpeg_golden_dc_only_block():
    """DC code '0' + 3 raw bits '100' (=+4, category 3) + EOB '0', padded
    with 1s -> one byte 0b01000111 = 0x47. Dequantized DC = 4*16 = 64; a
    DC-only 8x8 IDCT is flat at DC/8, level-shifted: 64/8 + 128 = 136."""
    img = decode_jpeg(_minimal_gray_jpeg(bytes([0b01000111])))
    assert img.shape == (8, 8, 1)
    assert np.all(img == 136)


def test_jpeg_golden_negative_dc():
    """Raw bits '011' decode category-3 value 3 -> EXTEND -> 3-7 = -4:
    byte 0b00110111 = 0x37. Pixels: -4*16/8 + 128 = 120."""
    img = decode_jpeg(_minimal_gray_jpeg(bytes([0b00110111])))
    assert np.all(img == 120)


def test_jpeg_golden_quant_scaling():
    """Same entropy bits, quant 8 instead of 16: 4*8/8 + 128 = 132."""
    img = decode_jpeg(_minimal_gray_jpeg(bytes([0b01000111]), quant_value=8))
    assert np.all(img == 132)


# --- PNG: hand-assembled chunks (RFC 2083 + stdlib zlib) ---------------------


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload))
    )


def _png(width, height, depth, color_type, raw_scanlines: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw_scanlines))
        + _png_chunk(b"IEND", b"")
    )


def test_png_golden_rgb8_filter_none():
    """2x2 RGB8, filter 0 on both rows: pixels come back verbatim."""
    rows = (
        b"\x00" + bytes([255, 0, 0, 0, 255, 0])
        + b"\x00" + bytes([0, 0, 255, 10, 20, 30])
    )
    img = decode_png(_png(2, 2, 8, 2, rows))
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    assert np.array_equal(img, expect)


def test_png_golden_sub_and_up_filters():
    """Row 1 uses Sub (each byte adds the byte bpp to the left), row 2 uses
    Up (adds the byte above) — expected values derived by hand from RFC 2083
    §6.3/6.4."""
    # grayscale 8-bit, 3x2; bpp=1
    row1 = b"\x01" + bytes([10, 5, 250])   # Sub:  10, 15, 9 (mod 256)
    row2 = b"\x02" + bytes([1, 2, 3])      # Up:   11, 17, 12
    img = decode_png(_png(3, 2, 8, 0, row1 + row2))
    expect = np.array([[10, 15, 9], [11, 17, 12]], dtype=np.uint8)[..., None]
    assert np.array_equal(img, expect)


def test_png_golden_gray16_high_byte():
    """1x2 16-bit grayscale: decoder scales to 8-bit via the high byte."""
    rows = b"\x00" + struct.pack(">HH", 0xAB12, 0x0034)
    img = decode_png(_png(2, 1, 16, 0, rows))
    assert np.array_equal(img, np.array([[[0xAB], [0x00]]], dtype=np.uint8))


# --- WAV / G.711 (RIFF-WAVE layout + published reference values) -------------


def _wav(audio_format, ch, sr, bits, data: bytes) -> bytes:
    fmt = struct.pack(
        "<HHIIHH", audio_format, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_golden_pcm16():
    data = struct.pack("<4h", 0, 1000, -1000, 32767)
    samples, sr = decode_wav(_wav(1, 1, 8000, 16, data))
    assert sr == 8000
    assert samples.shape == (4, 1)
    np.testing.assert_allclose(
        samples[:, 0], np.array([0, 1000, -1000, 32767]) / 32768.0
    )


def test_wav_golden_mulaw_reference_values():
    """ITU-T G.711 mu-law: the published reference decode (Sun ulaw2linear)
    maps 0x00 -> -32124, 0x7F -> 0, 0xFF -> 0, 0x80 -> +32124."""
    samples, sr = decode_wav(_wav(7, 1, 8000, 8, bytes([0x00, 0x7F, 0xFF, 0x80])))
    got = (samples[:, 0] * 32768.0).round().astype(int)
    assert list(got) == [-32124, 0, 0, 32124]


def test_wav_golden_alaw_reference_values():
    """ITU-T G.711 A-law reference decode (Sun alaw2linear): 0x55 -> -8,
    0xD5 -> +8, 0x2A -> -32256, 0xAA -> +32256."""
    samples, sr = decode_wav(_wav(6, 1, 8000, 8, bytes([0x55, 0xD5, 0x2A, 0xAA])))
    got = (samples[:, 0] * 32768.0).round().astype(int)
    assert list(got) == [-8, 8, -32256, 32256]


# --- MP4 / ISO-BMFF (hand-assembled box tree, ISO 14496-12) ------------------


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _golden_mp4() -> bytes:
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    # mvhd v0: flags + creation + modification + timescale=1000 + duration=2500
    mvhd = _mp4_box(
        b"mvhd",
        struct.pack(">I", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, 2500)
        + struct.pack(">hH", 0x0001, 0)      # rate 1.0 (hi), volume... trimmed
        + b"\x00" * 70,
    )
    # tkhd v0 (84-byte body): fullbox + times/id/reserved/duration (20) +
    # reserved(8) + layer/group/volume/reserved (8) + matrix (36) + w/h 16.16
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(">I", 7) + struct.pack(">IIII I", 0, 0, 1, 0, 2500)
        + b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36
        + struct.pack(">II", 320 << 16, 240 << 16),
    )
    mdhd = _mp4_box(
        b"mdhd",
        struct.pack(">I", 0) + struct.pack(">II", 0, 0)
        + struct.pack(">II", 90000, 225000) + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _mp4_box(
        b"hdlr", struct.pack(">I", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12
    )
    avc1 = _mp4_box(b"avc1", b"\x00" * 78)
    stsd = _mp4_box(b"stsd", struct.pack(">I", 0) + struct.pack(">I", 1) + avc1)
    stbl = _mp4_box(b"stbl", stsd)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 16)


def test_mp4_golden_probe_fields():
    info = probe_mp4(_golden_mp4())
    assert info["timescale"] == 1000
    assert info["duration_s"] == pytest.approx(2.5)
    assert info["n_tracks"] == 1
    t = info["tracks"][0]
    assert t["handler"] == "vide"
    assert t["codec"] == "avc1"
    assert t["width"] == pytest.approx(320.0)
    assert t["height"] == pytest.approx(240.0)
    assert t["duration_s"] == pytest.approx(225000 / 90000)


def test_mp4_golden_mvhd_v1():
    """Version-1 mvhd carries 64-bit times: timescale at +20, duration at
    +24 (8 bytes)."""
    mvhd = _mp4_box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 600) + struct.pack(">Q", 1800) + b"\x00" * 80,
    )
    moov = _mp4_box(b"moov", mvhd)
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom")
    info = probe_mp4(ftyp + moov)
    assert info["timescale"] == 600
    assert info["duration_s"] == pytest.approx(3.0)
    assert info["n_tracks"] == 0
