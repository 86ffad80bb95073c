"""Deterministic codec stand-ins for tests that exercise the media stages'
plumbing (batching, on_error routing) on arbitrary bytes rather than real
images or audio. The stages default to the real decoders; pass these as
``decode_fn``. Import as ``tests.codec_stand_ins`` so Python workers, whose
path holds the repo root, can unpickle them by reference."""

import hashlib


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image codec: derives stable
    width/height/mean from the payload digest, for any non-empty bytes."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    digest = hashlib.md5(payload).digest()
    return {
        "width": 16 + digest[0] % 64,
        "height": 16 + digest[1] % 64,
        "n_channels": 3,
        "mean_pixel": digest[2] / 255.0,
    }


def fake_audio_decode(payload: bytes, envelope_bins: int = 8) -> dict:
    """Deterministic stand-in for an audio codec: derives stable metadata +
    a loudness envelope from any non-empty payload bytes."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    digest = hashlib.md5(payload).digest()
    step = max(len(payload) // envelope_bins, 1)
    env = [
        sum(payload[i : i + step]) / (255.0 * max(len(payload[i : i + step]), 1))
        for i in range(0, step * envelope_bins, step)
    ]
    return {
        "sample_rate": 8000 * (1 + digest[0] % 6),
        "n_channels": 1 + digest[1] % 2,
        "duration_s": len(payload) / 16000.0,
        "envelope": env,
    }
