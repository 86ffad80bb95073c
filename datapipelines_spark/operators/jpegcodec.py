"""Pure-numpy JPEG codec (ITU-T T.81): baseline sequential AND progressive.

Closes the M4 container gap: the reference decodes ``jpg`` members with
PIL-backed webdataset handlers (/root/reference/sdata/datapipeline.py:525-527,
/root/reference/sdata/mappers/sample_mappers.py:88-123), but this container
ships no compiled image codecs. This module implements both common JPEG
processes from the public spec — baseline sequential (SOF0/SOF1: 8-bit,
Huffman, 4:4:4 / 4:2:2 / 4:2:0, restart markers) and progressive (SOF2:
spectral selection + successive approximation, EOB-runs, AC refinement) —
plus encoders for both, so the decoder is verified without any third-party
codec: a progressive stream carries the same quantized coefficients as its
baseline sibling and must decode pixel-for-pixel identical (tested).
Remaining unsupported: arithmetic coding, 12-bit, hierarchical.

Everything here derives from the published standard: Annex K example
quantization/Huffman tables, the zigzag scan, the level-shift/DCT/quantize
pipeline, and JFIF's BT.601 YCbCr. The arithmetic is vectorized numpy
(matrix DCT/IDCT, array upsampling); only the entropy coder walks bits in
Python — measured on this container at ~14 ms (baseline) / ~73 ms
(progressive) per smooth 128x128 image and ~68/~222 ms on dense-noise
worst cases, single core. Acceptable where this runs — inside Arrow-batched
``mapInPandas`` tasks with the per-call timeout (E4) armed; swap a native
codec in production via ``decode_fn`` for order-of-magnitude headroom.
"""

from __future__ import annotations

import numpy as np

# --- Annex K tables (public spec) -------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)

# (bits-per-length[1..16], symbol values) — Annex K "typical" tables.
DC_LUMA_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_LUMA_VALS = tuple(range(12))
DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROMA_VALS = tuple(range(12))

AC_LUMA_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_LUMA_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROMA_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

# Orthonormal 8-point DCT-II matrix: DCT = C @ block @ C.T, IDCT = C.T @ F @ C.
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-compatible quality scaling of a base table (public formula)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.floor((base * scale + 50) / 100)
    return np.clip(t, 1, 255)


def _canonical_codes(bits, vals):
    """(symbol -> (code, length)) for a canonical Huffman table."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits, vals):
    """((length, code) -> symbol) for the decoder."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


# --- bit I/O -----------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn — raw marker bytes, never stuffed."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    """Reads the entropy-coded segment: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                # 0xFF fill bytes before a marker are legal (T.81 B.1.1.2):
                # skip the run, then classify the first non-0xFF byte.
                while nxt == 0xFF:
                    self.pos += 1
                    nxt = d[self.pos + 1]
                if nxt == 0x00:  # fill bytes then a stuffed 0xFF data byte
                    self.pos += 2
                else:  # RSTn and friends handled by caller via sync_restart()
                    raise _AtMarker(nxt)
        else:
            self.pos += 1
        # mask consumed high bits BEFORE shifting: without this, acc grows
        # by 8 bits per fill forever and every shift becomes O(stream size)
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def sync_restart(self) -> None:
        """Consume an RSTn marker and reset bit state."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        # skip any fill bytes then the 2-byte marker
        while d[self.pos] != 0xFF:
            self.pos += 1
        while d[self.pos + 1] == 0xFF:
            self.pos += 1
        self.pos += 2


class _AtMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map s received bits to the signed coefficient value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# --- encoder -----------------------------------------------------------------


def _prepare_coeffs(img: np.ndarray, quality: int, subsample: bool):
    """Color transform + DCT + quantization shared by the baseline and
    progressive encoders: returns (h, w, gray, coeffs, quants, samp) where
    ``coeffs[ci]`` is the (blocks_y, blocks_x, 8, 8) int32 quantized grid."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cb = _decimate2(cb)
            cr = _decimate2(cr)
        comps = [y, cb, cr]

    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    quants = [qy] + [qc] * (len(comps) - 1)
    samp = [(2, 2), (1, 1), (1, 1)] if (subsample and not gray) else [(1, 1)] * len(comps)

    coeffs = []
    for ci, plane in enumerate(comps):
        ph, pw = plane.shape
        bh, bw = -(-ph // 8) * 8, -(-pw // 8) * 8
        padded = np.pad(plane, ((0, bh - ph), (0, bw - pw)), mode="edge") - 128.0
        blocks = padded.reshape(bh // 8, 8, bw // 8, 8).transpose(0, 2, 1, 3)
        f = np.einsum("ux,ijxy,vy->ijuv", _C, blocks, _C)
        coeffs.append(np.round(f / quants[ci]).astype(np.int32))
    return h, w, gray, coeffs, quants, samp


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (H, W, 3) or (H, W) uint8 array as baseline JFIF JPEG.

    ``subsample=True`` writes 4:2:0 (2x2 chroma decimation) — exercises the
    decoder's general MCU path; ``False`` writes 4:4:4.
    ``restart_interval=N`` emits a DRI segment and an RSTn marker every N
    MCUs (predictors reset per T.81 E.1.4) — independent decode segments,
    the property parallel/robust decoders key off.
    """
    h, w, gray, coeffs, quants, samp = _prepare_coeffs(img, quality, subsample)
    qy, qc = quants[0], quants[-1]

    dc_tabs = [_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
               _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_tabs = [_canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS),
               _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    bw_ = _BitWriter()
    pred = [0] * len(coeffs)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count == restart_interval:
                bw_.restart(rst)
                rst = (rst + 1) & 7
                pred = [0] * len(coeffs)
                mcu_count = 0
            for ci, (sh, sv) in enumerate(samp):
                tab = 0 if ci == 0 else 1
                grid = coeffs[ci]
                for by in range(sv):
                    for bx in range(sh):
                        row = min(my * sv + by, grid.shape[0] - 1)
                        col = min(mx * sh + bx, grid.shape[1] - 1)
                        _encode_block(
                            bw_, grid[row, col], pred, ci, dc_tabs[tab], ac_tabs[tab]
                        )
            mcu_count += 1
    bw_.flush()

    return _assemble_stream(
        h, w, gray, subsample, qy, qc, bytes(bw_.out), restart_interval
    )


def _decimate2(plane: np.ndarray) -> np.ndarray:
    ph, pw = plane.shape
    p = np.pad(plane, ((0, ph % 2), (0, pw % 2)), mode="edge")
    return 0.25 * (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2])


def _encode_block(bw, block, pred, ci, dc_tab, ac_tab) -> None:
    zz = block.reshape(64)[ZIGZAG]
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    s = _category(diff)
    code, length = dc_tab[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                code, length = ac_tab[0x00]  # EOB
                bw.write(code, length)
                return
            run += 1
            if run == 16:
                code, length = ac_tab[0xF0]  # ZRL
                bw.write(code, length)
                run = 0
            continue
        s = _category(v)
        code, length = ac_tab[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0


def _assemble_stream(
    h, w, gray, subsample, qy, qc, entropy: bytes, restart_interval: int = 0
) -> bytes:
    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qy.reshape(64)[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes(qc.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    y_samp = 0x22 if (subsample and not gray) else 0x11
    sof += bytes([1, y_samp, 0])
    if not gray:
        sof += bytes([2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xC0, bytes(sof))

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytearray([ncomp, 1, 0x00])
    if not gray:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder -----------------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode JPEG bytes to an (H, W, C) uint8 array.

    Supports both common processes: baseline sequential (SOF0/SOF1) and
    progressive (SOF2, spectral selection + successive approximation);
    8-bit, 1 or 3 components, sampling factors in {1, 2}, multiple DQT/DHT
    segments, restart intervals, byte stuffing. Raises ValueError on
    arithmetic-coded/12-bit/hierarchical streams and on truncated/garbage
    input (never an unbounded read or raw IndexError — the permissive
    pipeline modes key off ValueError).
    """
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, ZeroDivisionError) as e:
        raise ValueError(f"corrupt or truncated JPEG stream: {type(e).__name__}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    prog_state = None
    restart_interval = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        length = int.from_bytes(data[pos:pos + 2], "big")
        payload = data[pos + 2:pos + length]
        if marker == 0xDB:  # DQT (may hold several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(payload[p:p + 64], dtype=np.uint8).astype(np.float64)
                    p += 64
                else:
                    tbl = np.frombuffer(payload[p:p + 128], dtype=">u2").astype(np.float64)
                    p += 128
                q = np.zeros(64)
                q[ZIGZAG] = tbl
                quant[tq] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1:p + 17])
                n = sum(bits)
                vals = tuple(payload[p + 17:p + 17 + n])
                huff[(tc, th)] = _decode_table(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            precision = payload[0]
            if precision != 8:
                raise ValueError(f"unsupported precision {precision}")
            fh = int.from_bytes(payload[1:3], "big")
            fw = int.from_bytes(payload[3:5], "big")
            ncomp = payload[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps, "progressive": marker == 0xC2}
            if frame["progressive"]:
                prog_state = _init_progressive_state(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG process (marker 0xFF{marker:02X}); only "
                "baseline sequential (SOF0/SOF1) and progressive (SOF2) "
                "Huffman are implemented"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(payload[:2], "big")
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scan = []
            for i in range(ns):
                cs, tdta = payload[1 + 2 * i:3 + 2 * i]
                ci, comp = next(
                    (j, c) for j, c in enumerate(frame["comps"]) if c["id"] == cs
                )
                scan.append({**comp, "ci": ci, "td": tdta >> 4, "ta": tdta & 0x0F})
            if frame["progressive"]:
                ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
                ahal = payload[3 + 2 * ns]
                try:
                    pos = _decode_prog_sos(
                        data, pos + length, frame, scan, huff,
                        ss, se, ahal >> 4, ahal & 0x0F, prog_state, restart_interval,
                    )
                except IndexError as e:
                    raise ValueError("truncated JPEG entropy stream") from e
                continue
            if len(scan) != len(frame["comps"]):
                # A conforming sequential JPEG may carry one scan per
                # component; decoding only the first would silently yield a
                # Y-only image (and scan-local geometry would mis-size
                # non-interleaved subsampled scans). Refuse loudly instead.
                raise ValueError(
                    "multi-scan baseline JPEG not supported: SOS covers "
                    f"{len(scan)} of {len(frame['comps'])} frame components"
                )
            try:
                return _decode_scan(
                    data, pos + length, frame, scan, quant, huff, restart_interval
                )
            except IndexError as e:
                raise ValueError("truncated JPEG entropy stream") from e
        pos += length
    if frame is not None and frame.get("progressive") and prog_state["any_scan"]:
        return _reconstruct_progressive(frame, prog_state, quant)
    raise ValueError("no SOS segment found")


def _decode_scan(data, pos, frame, scan, quant, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    planes = []
    for c in scan:
        bh = mcus_y * c["v"]
        bw_ = mcus_x * c["h"]
        planes.append(np.zeros((bh * 8, bw_ * 8)))

    reader = _BitReader(data, pos)
    pred = [0] * len(scan)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count == restart_interval:
                reader.sync_restart()
                pred = [0] * len(scan)
                mcu_count = 0
            while True:
                try:
                    for ci, c in enumerate(scan):
                        dc_tab = huff[(0, c["td"])]
                        ac_tab = huff[(1, c["ta"])]
                        q = quant[c["tq"]]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                block = _decode_block(reader, dc_tab, ac_tab, pred, ci)
                                pix = _C.T @ (block * q) @ _C + 128.0
                                r0 = (my * c["v"] + by) * 8
                                c0 = (mx * c["h"] + bx) * 8
                                planes[ci][r0:r0 + 8, c0:c0 + 8] = pix
                    break
                except _AtMarker as m:
                    if 0xD0 <= m.marker <= 0xD7:
                        # restart sits BETWEEN MCUs: consume it, reset
                        # predictors, and RETRY the interrupted MCU (the
                        # post-marker data belongs to it)
                        reader.sync_restart()
                        pred = [0] * len(scan)
                        mcu_count = 0
                        continue
                    raise ValueError(
                        f"unexpected marker 0xFF{m.marker:02X} in scan"
                    ) from m
            mcu_count += 1

    # upsample to full resolution and crop
    full = []
    for ci, c in enumerate(scan):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])

    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_huff(reader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _decode_block(reader, dc_tab, ac_tab, pred, ci) -> np.ndarray:
    zz = np.zeros(64)
    s = _decode_huff(reader, dc_tab)
    diff = _extend(reader.receive(s), s) if s else 0
    pred[ci] += diff
    zz[0] = pred[ci]
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(reader.receive(size), size)
        k += 1
    block = np.zeros(64)
    block[ZIGZAG] = zz
    return block.reshape(8, 8)


# --- progressive (SOF2) ------------------------------------------------------
#
# Spectral selection + successive approximation per T.81 Annexes G.1/G.2:
# coefficients accumulate across scans in per-component buffers (zigzag
# order); reconstruction (dequant + IDCT + upsample) happens once at EOI.
# The scan-level algorithms mirror the spec's flowcharts: DC first/refine,
# AC first with EOB-runs, AC refine with buffered correction bits.


def _frame_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _comp_block_dims(frame, c):
    """Non-interleaved block dims: ceil over the component's own samples
    (T.81 A.1.1: x_i = ceil(X * H_i / Hmax), then ceil(x_i / 8))."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    cw = _ceil_div(_ceil_div(frame["w"] * c["h"], hmax), 8)
    ch = _ceil_div(_ceil_div(frame["h"] * c["v"], vmax), 8)
    return ch, cw


def _init_progressive_state(frame):
    _, _, mcus_x, mcus_y = _frame_geometry(frame)
    coeffs = [
        np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)
        for c in frame["comps"]
    ]
    return {"coeffs": coeffs, "any_scan": False}


def _decode_prog_sos(
    data, pos, frame, scan, huff, ss, se, ah, al, state, restart_interval
):
    """Decode one progressive scan into the coefficient buffers; returns the
    stream position after the scan's entropy data."""
    state["any_scan"] = True
    reader = _BitReader(data, pos)
    _, _, mcus_x, mcus_y = _frame_geometry(frame)

    if ss == 0:
        if se != 0:
            raise ValueError("progressive scan mixes DC and AC bands")
        _decode_dc_scan(reader, frame, scan, huff, ah, al, state,
                        mcus_x, mcus_y, restart_interval)
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scan must be single-component")
        _decode_ac_scan(reader, frame, scan[0], huff, ss, se, ah, al, state,
                        restart_interval)
    return reader.pos


def _reset_on_restart(reader, pred):
    reader.sync_restart()
    for i in range(len(pred)):
        pred[i] = 0


def _decode_dc_scan(reader, frame, scan, huff, ah, al, state,
                    mcus_x, mcus_y, restart_interval):
    pred = [0] * len(scan)
    # Group data units per MCU: the restart interval counts MCUs (T.81
    # E.1.4) — one block for a single-component scan, sum(h*v) blocks for an
    # interleaved one.
    if len(scan) == 1:
        c = scan[0]
        ch, cw = _comp_block_dims(frame, c)
        mcus = [[(c, by, bx, 0)] for by in range(ch) for bx in range(cw)]
    else:
        mcus = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                mcu = []
                for si, c in enumerate(scan):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            mcu.append((c, my * c["v"] + by, mx * c["h"] + bx, si))
                mcus.append(mcu)
    # Count decoded MCUs and consume RSTn proactively at the interval (as
    # _decode_ac_scan does): in DC refinement scans (ah != 0) each unit reads
    # one raw bit, so the up-to-7 pad 1-bits before a marker would otherwise
    # be consumed as refinement bits for subsequent units. The in-band
    # _AtMarker handler stays as a fallback for DC-first scans, whose Huffman
    # codes can't be formed from all-ones padding.
    count = 0
    for mcu in mcus:
        if restart_interval and count == restart_interval:
            _reset_on_restart(reader, pred)
            count = 0
        while True:
            try:
                for c, by, bx, si in mcu:
                    buf = state["coeffs"][c["ci"]]
                    if ah == 0:
                        s = _decode_huff(reader, huff[(0, c["td"])])
                        diff = _extend(reader.receive(s), s) if s else 0
                        pred[si] += diff
                        buf[by, bx, 0] = pred[si] << al
                    else:
                        if reader.bit():
                            buf[by, bx, 0] = int(buf[by, bx, 0]) | (1 << al)
                break
            except _AtMarker as m:
                if 0xD0 <= m.marker <= 0xD7:
                    # restart sits BETWEEN MCUs: consume it, reset, RETRY
                    _reset_on_restart(reader, pred)
                    count = 0
                    continue
                raise ValueError(
                    f"unexpected marker 0xFF{m.marker:02X} in DC scan"
                ) from m
        count += 1


def _decode_ac_scan(reader, frame, c, huff, ss, se, ah, al, state,
                    restart_interval):
    buf = state["coeffs"][c["ci"]]
    ch, cw = _comp_block_dims(frame, c)
    eobrun = 0
    count = 0
    for by in range(ch):
        for bx in range(cw):
            if restart_interval and count == restart_interval:
                reader.sync_restart()
                eobrun = 0
                count = 0
            zz = buf[by, bx]
            while True:
                try:
                    if ah == 0:
                        eobrun = _ac_first_block(reader, huff[(1, c["ta"])], zz,
                                                 ss, se, al, eobrun)
                    else:
                        eobrun = _ac_refine_block(reader, huff[(1, c["ta"])], zz,
                                                  ss, se, al, eobrun)
                    break
                except _AtMarker as m:
                    if 0xD0 <= m.marker <= 0xD7:
                        # restart sits BETWEEN blocks: consume, reset, RETRY
                        reader.sync_restart()
                        eobrun = 0
                        count = 0
                        continue
                    raise ValueError(
                        f"unexpected marker 0xFF{m.marker:02X} in AC scan"
                    ) from m
            count += 1


def _ac_first_block(reader, table, zz, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(reader, table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("AC run past end of band")
        zz[k] = _extend(reader.receive(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, table, zz, ss, se, al, eobrun):
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(reader, table)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    # refinement EOB-run INCLUDES the current block (the
                    # tail below reads its remaining correction bits, then
                    # decrements) — unlike the first-scan convention
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                val = 0  # ZRL: advance 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("AC refinement symbol with size > 1")
                val = p1 if reader.bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if reader.bit() and (int(zz[k]) & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.bit() and (int(zz[k]) & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_progressive(frame, state, quant):
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    planes = []
    for ci, c in enumerate(frame["comps"]):
        buf = state["coeffs"][ci].astype(np.float64)
        bh, bw_ = buf.shape[:2]
        natural = np.zeros_like(buf)
        natural[..., ZIGZAG] = buf
        q = quant[c["tq"]].reshape(64)
        blocks = (natural * q).reshape(bh, bw_, 8, 8)
        pix = np.einsum("ux,ijuv,vy->ijxy", _C, blocks, _C) + 128.0
        planes.append(pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8))
    full = []
    for ci, c in enumerate(frame["comps"]):
        p = np.repeat(np.repeat(planes[ci], vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- progressive encoder -----------------------------------------------------

#: AC Huffman table for progressive scans: the Annex K baseline tables lack
#: the EOBn symbols (0x10..0xE0) progressive EOB-runs need, so we use a
#: complete canonical table covering ALL 256 run/size symbols — 255 at 9
#: bits, 0xFF at 11 (Kraft sum < 1, so no all-ones code of any length, as
#: the spec's table-building procedure requires). Larger than an optimized
#: table, but valid for any conforming decoder.
PROG_AC_BITS = (0, 0, 0, 0, 0, 0, 0, 0, 255, 0, 1, 0, 0, 0, 0, 0)
PROG_AC_VALS = tuple(range(255)) + (255,)


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode as progressive JFIF JPEG (SOF2) with a 4-phase scan script
    that exercises every progressive path: interleaved DC first at Al=1,
    per-component AC first (spectral band 1-63, Al=1, EOB-runs), DC
    refinement (1 bit/block), per-component AC refinement (correction
    bits). Quantized coefficients are IDENTICAL to ``encode_jpeg``'s, so a
    progressive stream must decode pixel-for-pixel equal to its baseline
    sibling — the cross-check the tests enforce.

    ``restart_interval=N`` emits a DRI segment and RSTn markers every N MCUs
    in EVERY scan — including DC refinement scans, where the decoder must
    count units proactively (pad bits before a marker are raw refinement
    bits otherwise)."""
    h, w, gray, coeffs, quants, samp = _prepare_coeffs(img, quality, subsample)
    qy, qc = quants[0], quants[-1]
    dc_tabs = [_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
               _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    prog_ac = _canonical_codes(PROG_AC_BITS, PROG_AC_VALS)
    ncomp = len(coeffs)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qy.reshape(64)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes(qc.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    y_samp = 0x22 if (subsample and not gray) else 0x11
    sof += bytes([1, y_samp, 0])
    if not gray:
        sof += bytes([2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xC2, bytes(sof))

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, PROG_AC_BITS, PROG_AC_VALS)  # shared by every AC scan
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)

    def sos_header(comp_specs, ss, se, ah, al):
        body = bytearray([len(comp_specs)])
        for cid, td, ta in comp_specs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, bytes(body))

    # MCU geometry shared with the baseline encoder (clamped edge blocks)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = _ceil_div(w, 8 * hmax)
    mcus_y = _ceil_div(h, 8 * vmax)

    def dc_mcus():
        """Data units grouped per MCU — the unit the restart interval counts."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                mcu = []
                for ci, (sh, sv) in enumerate(samp):
                    grid = coeffs[ci]
                    for by in range(sv):
                        for bx in range(sh):
                            row = min(my * sv + by, grid.shape[0] - 1)
                            col = min(mx * sh + bx, grid.shape[1] - 1)
                            mcu.append((ci, int(grid[row, col, 0, 0])))
                yield mcu

    al = 1  # successive-approximation split: Al=1 first, refinement to Al=0

    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))

    # scan 1: DC first, interleaved, Al=1 (arithmetic shift per G.1.2.1)
    bw_ = _BitWriter()
    pred = [0] * ncomp
    count, rst = 0, 0
    for mcu in dc_mcus():
        if restart_interval and count == restart_interval:
            bw_.restart(rst)
            rst = (rst + 1) & 7
            pred = [0] * ncomp
            count = 0
        for ci, dc in mcu:
            t = dc >> al
            diff = t - pred[ci]
            pred[ci] = t
            tab = dc_tabs[0 if ci == 0 else 1]
            s = _category(diff)
            code, length = tab[s]
            bw_.write(code, length)
            if s:
                bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        count += 1
    bw_.flush()
    out += sos_header([(1, 0, 0)] + ([(2, 1, 0), (3, 1, 0)] if not gray else []),
                      0, 0, 0, al)
    out += bw_.out

    # scans 2..: AC first per component, band 1-63, Al=1
    for ci in range(ncomp):
        out += sos_header([(ci + 1, 0, 0)], 1, 63, 0, al)
        out += _encode_ac_first_scan(coeffs[ci], prog_ac, al, restart_interval)

    # DC refinement: one raw bit per block, Ah=1 -> Al=0
    bw_ = _BitWriter()
    count, rst = 0, 0
    for mcu in dc_mcus():
        if restart_interval and count == restart_interval:
            bw_.restart(rst)
            rst = (rst + 1) & 7
            count = 0
        for ci, dc in mcu:
            bw_.write(dc & 1, 1)
        count += 1
    bw_.flush()
    out += sos_header([(1, 0, 0)] + ([(2, 0, 0), (3, 0, 0)] if not gray else []),
                      0, 0, al, 0)
    out += bw_.out

    # AC refinement per component, Ah=1 -> Al=0. The refinement encoder
    # works at the SCAN's Al (0): abs(coef)>>0 == 1 is exactly the
    # newly-significant test, >1 means already significant at Ah.
    for ci in range(ncomp):
        out += sos_header([(ci + 1, 0, 0)], 1, 63, al, 0)
        out += _encode_ac_refine_scan(coeffs[ci], prog_ac, 0, restart_interval)

    out += b"\xff\xd9"
    return bytes(out)


def _pt(v: int, al: int) -> int:
    """AC point transform (G.1.2.2): magnitude shift, truncation toward 0."""
    return v >> al if v >= 0 else -((-v) >> al)


def _emit_eobrun(bw, tab, eobrun: int, pending_bits=None) -> int:
    """Emit an accumulated EOB-run (and any buffered correction bits)."""
    if eobrun > 0:
        nbits = eobrun.bit_length() - 1
        code, length = tab[nbits << 4]
        bw.write(code, length)
        if nbits:
            bw.write(eobrun - (1 << nbits), nbits)
        if pending_bits:
            for b in pending_bits:
                bw.write(b, 1)
            pending_bits.clear()
    return 0


def _encode_ac_first_scan(grid, tab, al, restart_interval=0) -> bytes:
    bw = _BitWriter()
    eobrun = 0
    count, rst = 0, 0
    bh, bwid = grid.shape[:2]
    for by in range(bh):
        for bx in range(bwid):
            if restart_interval and count == restart_interval:
                # EOB-runs must not cross a restart boundary (T.81 E.1.4)
                eobrun = _emit_eobrun(bw, tab, eobrun)
                bw.restart(rst)
                rst = (rst + 1) & 7
                count = 0
            count += 1
            zz = grid[by, bx].reshape(64)[ZIGZAG]
            band = [_pt(int(zz[k]), al) for k in range(1, 64)]
            r = 0
            wrote = False
            for v in band:
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    eobrun = _emit_eobrun(bw, tab, eobrun)
                    code, length = tab[0xF0]  # ZRL
                    bw.write(code, length)
                    r -= 16
                eobrun = _emit_eobrun(bw, tab, eobrun)
                s = _category(v)
                code, length = tab[(r << 4) | s]
                bw.write(code, length)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                r = 0
                wrote = True
            if r > 0 or not wrote:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _emit_eobrun(bw, tab, eobrun)
    _emit_eobrun(bw, tab, eobrun)
    bw.flush()
    return bytes(bw.out)


def _encode_ac_refine_scan(grid, tab, al, restart_interval=0) -> bytes:
    """jcphuff-style AC refinement: newly-significant coefficients emit
    run/1 symbols with a sign bit; already-nonzero coefficients contribute
    buffered correction bits that ride behind the next emitted symbol."""
    bw = _BitWriter()
    eobrun = 0
    count, rst = 0, 0
    eob_bits: list[int] = []  # correction bits deferred to the EOB-run flush
    bh, bwid = grid.shape[:2]
    for by in range(bh):
        for bx in range(bwid):
            if restart_interval and count == restart_interval:
                # flush the pending EOB-run AND its buffered correction bits
                # before byte-aligning — neither may cross the boundary
                eobrun = _emit_eobrun(bw, tab, eobrun, eob_bits)
                bw.restart(rst)
                rst = (rst + 1) & 7
                count = 0
            count += 1
            zz = grid[by, bx].reshape(64)[ZIGZAG]
            absvals = [abs(int(zz[k])) >> al for k in range(1, 64)]
            coefs = [int(zz[k]) for k in range(1, 64)]
            eob = 0  # index AFTER the last newly-significant coefficient
            for i, t in enumerate(absvals):
                if t == 1:
                    eob = i + 1
            r = 0
            pending: list[int] = []
            for i in range(len(absvals)):
                t = absvals[i]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i < eob:
                    eobrun = _emit_eobrun(bw, tab, eobrun, eob_bits)
                    code, length = tab[0xF0]
                    bw.write(code, length)
                    r -= 16
                    for b in pending:
                        bw.write(b, 1)
                    pending.clear()
                if t > 1:
                    pending.append(t & 1)
                    continue
                eobrun = _emit_eobrun(bw, tab, eobrun, eob_bits)
                code, length = tab[(r << 4) | 1]
                bw.write(code, length)
                bw.write(1 if coefs[i] >= 0 else 0, 1)
                for b in pending:
                    bw.write(b, 1)
                pending.clear()
                r = 0
            if r > 0 or pending:
                eobrun += 1
                eob_bits.extend(pending)
                if eobrun == 0x7FFF or len(eob_bits) > 900:
                    eobrun = _emit_eobrun(bw, tab, eobrun, eob_bits)
    _emit_eobrun(bw, tab, eobrun, eob_bits)
    bw.flush()
    return bytes(bw.out)
