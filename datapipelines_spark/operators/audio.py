"""Pure-numpy WAV (RIFF PCM) codec + real audio feature extraction.

The audio analogue of the image codecs: the reference's decode stage hands
audio members to codec libraries this container doesn't ship; WAV/PCM needs
none — the RIFF container and PCM frames are simple enough to parse with
numpy directly (public Microsoft/IBM RIFF spec). ``real_audio_decode``,
the default decoder of the engine's ``decode_audio`` stage, reads the
most common uncompressed interchange format, IMA/DVI ADPCM (WAV format
0x11, the common 4:1 compressed speech interchange — public IMA spec) and
FLAC (operators/flaccodec.py); perceptual codecs (mp3/ogg) remain gated on
external decoders, stated plainly.

``encode_wav`` exists so tests and oracle queries can synthesize payloads
in-process — same pattern as the JPEG codec (operators/jpegcodec.py).
"""

from __future__ import annotations

import numpy as np


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode int16 PCM samples — shape (n,) mono or (n, ch) — as a WAV file."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.reshape(-1).tobytes()  # interleaved frames
    byte_rate = sample_rate * ch * 2
    block_align = ch * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")           # bits per sample
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode WAV bytes -> (float64 samples in [-1, 1] of shape (n, ch),
    sample_rate). Supports PCM 8/16/32-bit and IEEE float32; walks unknown
    RIFF chunks (LIST/INFO/fact/...) by their declared length."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: missing RIFF/WAVE header")
    pos = 12
    fmt = None
    data = None
    fact_samples = None
    block_align = None
    samples_per_block = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_format = int.from_bytes(body[0:2], "little")
            ch = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
            samples_per_block = (
                int.from_bytes(body[18:20], "little") if len(body) >= 20 else None
            )
            fmt = (audio_format, ch, sr, bits)
        elif cid == b"fact":
            fact_samples = int.from_bytes(body[0:4], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, ch, sr, bits = fmt
    if ch < 1:
        raise ValueError("WAV with zero channels")
    if audio_format == 1:  # integer PCM
        if bits == 16:
            arr = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 8:  # 8-bit WAV is unsigned
            arr = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 32:
            arr = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_format == 3 and bits == 32:  # IEEE float
        arr = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif audio_format == 6 and bits == 8:  # A-law (G.711)
        arr = _alaw_expand(np.frombuffer(data, dtype=np.uint8)) / 32768.0
    elif audio_format == 7 and bits == 8:  # mu-law (G.711)
        arr = _mulaw_expand(np.frombuffer(data, dtype=np.uint8)) / 32768.0
    elif audio_format == 0x11 and bits == 4:  # IMA/DVI ADPCM
        if not samples_per_block:
            raise ValueError("IMA ADPCM fmt chunk missing samplesPerBlock")
        return (
            _ima_adpcm_decode(
                data, ch, block_align, samples_per_block,
                fact_samples,
            ),
            sr,
        )
    else:
        raise ValueError(
            f"unsupported WAV format {audio_format}/{bits}-bit; PCM, float32, "
            "G.711 A-law/mu-law and IMA ADPCM are implemented (perceptual "
            "codecs need external decoders)"
        )
    n = len(arr) // ch
    return arr[: n * ch].reshape(n, ch), sr


def _mulaw_expand(u: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> linear PCM16 (public spec formula)."""
    u = (~u.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = ((mantissa << 3) + 0x84) << exponent
    magnitude -= 0x84
    return np.where(sign, -magnitude, magnitude).astype(np.float64)


def _alaw_expand(a: np.ndarray) -> np.ndarray:
    """G.711 A-law byte -> linear PCM16 (public spec formula)."""
    a = a.astype(np.int64) ^ 0x55
    sign = a & 0x80
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    # A-law sign convention is inverted vs mu-law: bit SET means positive
    return np.where(sign, magnitude, -magnitude).astype(np.float64)


def decode_audio_payload(payload: bytes) -> tuple[np.ndarray, int]:
    """Route audio bytes by magic: RIFF/WAV (PCM, float, G.711, IMA ADPCM)
    or FLAC (operators/flaccodec.py) -> (float64 samples (n, ch), rate)."""
    if payload[:4] == b"fLaC":
        from datapipelines_spark.operators.flaccodec import decode_flac

        arr, sr = decode_flac(payload)
        return arr.astype(np.float64) / 32768.0, sr
    return decode_wav(payload)


def real_audio_decode(payload: bytes, envelope_bins: int = 8) -> dict:
    """REAL feature extraction for ``decode_audio``: parse the WAV or FLAC
    payload, return rate/channels/duration plus a per-bin RMS loudness
    envelope in ``AUDIO_FEATURES_SCHEMA`` (the default ``decode_fn``)."""
    samples, sr = decode_audio_payload(payload)
    n = samples.shape[0]
    mono = samples.mean(axis=1)
    bins = np.array_split(mono, envelope_bins) if n else []
    env = [float(np.sqrt(np.mean(b * b))) if len(b) else 0.0 for b in bins]
    return {
        "sample_rate": int(sr),
        "n_channels": int(samples.shape[1]),
        "duration_s": float(n / sr) if sr else 0.0,
        "envelope": env,
    }


# --- MJPEG (concatenated-JPEG) video frame handling --------------------------


def split_mjpeg(payload: bytes) -> list[bytes]:
    """Split a concatenated-JPEG (MJPEG-style) stream into per-frame JPEGs.

    Walks real JPEG structure rather than byte-scanning: marker segments are
    skipped by their length fields (their payloads may contain FF D9 bytes),
    and the entropy-coded scan is walked respecting byte stuffing and RSTn
    until the true EOI."""
    frames = []
    pos = 0
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] != 0xFF or payload[pos + 1] != 0xD8:
            pos += 1
            continue
        start = pos
        pos += 2
        in_scan = False
        while pos + 1 < n:
            if not in_scan:
                if payload[pos] != 0xFF:
                    pos += 1
                    continue
                marker = payload[pos + 1]
                pos += 2
                if marker == 0xD9:
                    break
                if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
                    continue
                seg_len = int.from_bytes(payload[pos:pos + 2], "big")
                if marker == 0xDA:
                    in_scan = True
                pos += seg_len
            else:
                if payload[pos] != 0xFF:
                    pos += 1
                    continue
                nxt = payload[pos + 1]
                if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:  # stuffing / restart
                    pos += 2
                    continue
                if nxt == 0xD9:
                    pos += 2
                    break
                in_scan = False  # next scan header segment
        frames.append(payload[start:pos])
    return frames


def sample_mjpeg_frames(payload: bytes, every_n: int = 1) -> list[tuple[int, bytes]]:
    """(frame_idx, jpeg_bytes) for every ``every_n``-th frame."""
    return [
        (i, f) for i, f in enumerate(split_mjpeg(payload)) if i % max(every_n, 1) == 0
    ]


def spectral_features(samples: np.ndarray, sample_rate: int) -> dict:
    """Spectral summary of a mono float signal via the numpy real FFT:
    centroid (power-weighted mean frequency), bandwidth (power-weighted
    stddev around the centroid), 85% rolloff, and flatness (geometric /
    arithmetic mean of the power spectrum — 1.0 is white noise, → 0 pure
    tones). The per-clip feature vector audio corpus curation filters on
    (speech/music/noise triage) without any external DSP library."""
    x = np.asarray(samples, dtype=np.float64).reshape(-1)
    if len(x) == 0:
        raise ValueError("empty signal")
    spec = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(len(x), d=1.0 / sample_rate)
    total = spec.sum()
    if total <= 0:
        return {
            "centroid_hz": 0.0, "bandwidth_hz": 0.0,
            "rolloff_hz": 0.0, "flatness": 1.0,
        }
    p = spec / total
    centroid = float((freqs * p).sum())
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * p).sum()))
    cum = np.cumsum(p)
    rolloff = float(freqs[int(np.searchsorted(cum, 0.85))])
    eps = 1e-12
    flatness = float(
        np.exp(np.mean(np.log(spec + eps))) / (np.mean(spec) + eps)
    )
    return {
        "centroid_hz": centroid, "bandwidth_hz": bandwidth,
        "rolloff_hz": rolloff, "flatness": flatness,
    }


def spectral_decode(payload: bytes) -> dict:
    """WAV/FLAC bytes -> spectral feature dict (first channel); composes
    with the multimodal decode stages the same way real_audio_decode does."""
    samples, sr = decode_audio_payload(payload)
    return spectral_features(samples[:, 0], sr)


# --- IMA/DVI ADPCM (WAV format 0x0011) ---------------------------------------
# Public IMA Digital Audio Pack spec (also Microsoft WAV format 17): 4-bit
# differential coding, 4:1 over PCM16 — the common compressed interchange
# for speech corpora. Per-block per-channel header carries (predictor,
# step index); nibbles then code clamped deltas against an adaptive step.

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step_nibble(nibble: int, predictor: int, index: int) -> tuple[int, int]:
    """One decoder update (shared verbatim by the encoder's feedback loop)."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    predictor = predictor - diff if nibble & 8 else predictor + diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nibble & 7]))
    return predictor, index


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int = 16000, samples_per_block: int = 505
) -> bytes:
    """Encode int16 samples — (n,) mono or (n, ch) — as an IMA ADPCM WAV.

    Block layout per channel: 4-byte header (predictor int16 = the block's
    first output sample, step index uint8, reserved), then nibble data
    interleaved across channels in 4-byte words. The final short block is
    zero-padded in the sample domain (decoders emit the declared total via
    the fact chunk). Sequential by construction — used for fixtures and
    round-trip tests, not the hot path."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + a multiple of 8")
    block_align = 4 * ch + (samples_per_block - 1) // 2 * ch
    out = bytearray()
    index = [0] * ch
    for start in range(0, n, samples_per_block):
        blk = s[start : start + samples_per_block]
        if len(blk) < samples_per_block:  # zero-pad the tail block
            blk = np.vstack(
                [blk, np.zeros((samples_per_block - len(blk), ch), dtype=np.int64)]
            )
        preds = []
        for c in range(ch):
            p = int(blk[0, c])
            out += int(p & 0xFFFF).to_bytes(2, "little")
            out += bytes([index[c], 0])
            preds.append(p)
        nibbles: list[list[int]] = [[] for _ in range(ch)]
        for c in range(ch):
            p, ix = preds[c], index[c]
            for v in blk[1:, c]:
                step = _IMA_STEPS[ix]
                diff = int(v) - p
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                nibbles[c].append(nib)
                p, ix = _ima_step_nibble(nib, p, ix)
            index[c] = ix
        # interleave: 4-byte (8-nibble) word per channel, round-robin
        for w in range(0, len(nibbles[0]), 8):
            for c in range(ch):
                grp = nibbles[c][w : w + 8]
                for k in range(0, 8, 2):
                    out += bytes([grp[k] | (grp[k + 1] << 4)])
    data = bytes(out)
    byte_rate = (sample_rate * block_align + samples_per_block - 1) // samples_per_block
    fmt = (
        b"fmt " + (20).to_bytes(4, "little")
        + (0x11).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (4).to_bytes(2, "little")
        + (2).to_bytes(2, "little")            # cbSize
        + samples_per_block.to_bytes(2, "little")
    )
    fact = b"fact" + (4).to_bytes(4, "little") + n.to_bytes(4, "little")
    chunks = fmt + fact + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def _ima_adpcm_decode(
    data: bytes, ch: int, block_align: int, samples_per_block: int,
    total_samples: int | None,
) -> np.ndarray:
    out: list[np.ndarray] = []
    words_per_chan = (samples_per_block - 1) // 8
    for bstart in range(0, len(data) - block_align + 1, block_align):
        block = data[bstart : bstart + block_align]
        preds, idxs = [], []
        for c in range(ch):
            h = block[c * 4 : c * 4 + 4]
            p = int.from_bytes(h[0:2], "little", signed=True)
            ix = h[2]
            if ix > 88:
                raise ValueError("IMA ADPCM step index out of range")
            preds.append(p)
            idxs.append(ix)
        chan_samples = [[p] for p in preds]
        body = block[4 * ch :]
        for w in range(words_per_chan):
            for c in range(ch):
                word = body[(w * ch + c) * 4 : (w * ch + c) * 4 + 4]
                for byte in word:
                    for nib in (byte & 0x0F, byte >> 4):
                        p, ix = _ima_step_nibble(nib, chan_samples[c][-1], idxs[c])
                        chan_samples[c].append(p)
                        idxs[c] = ix
        out.append(np.stack([np.array(cs) for cs in chan_samples], axis=1))
    arr = np.concatenate(out) if out else np.zeros((0, ch), dtype=np.int64)
    if total_samples is not None:
        arr = arr[:total_samples]
    return arr.astype(np.float64) / 32768.0


def audio_fingerprint(df, envelope_col: str = "envelope", out_col: str = "afp"):
    """64-bit delta-sign audio fingerprint over a 65-bin loudness envelope
    — the audio twin of the image dHash (operators/imageops.py): bit i is
    ``envelope[i] > envelope[i+1]``, packed row-major into a signed
    BIGINT. Copies that survive re-sampling or re-encoding keep the same
    loudness CONTOUR, so they land within a small Hamming distance;
    near-duplicate clips are then found with the generic Hamming-banded
    pairing (imageops.dhash_near_pairs works on any int64 signature).

    Entirely JVM-side expressions over the already-decoded envelope — no
    Python stage, no shuffle; bit packing uses bitwiseOR (never addition),
    so bit 63 cannot overflow under ANSI arithmetic."""
    import pyspark.sql.functions as F

    packed = F.expr(
        f"""
        aggregate(sequence(0, 63), CAST(0 AS BIGINT),
          (acc, i) -> acc | IF(element_at({envelope_col}, i + 1)
                               > element_at({envelope_col}, i + 2),
                               shiftleft(CAST(1 AS BIGINT), i),
                               CAST(0 AS BIGINT)))
        """
    )
    return df.withColumn(out_col, packed)
