"""Compression-ratio text signal and audio spectral features — two
non-relational quality operators (stdlib zlib / numpy FFT in Arrow stages)."""

import numpy as np
import pytest

from datapipelines_spark.operators.audio import (
    encode_wav,
    spectral_decode,
    spectral_features,
)
from datapipelines_spark.operators.text import compression_ratio_signal


def test_compression_ratio_orders_text_kinds(spark):
    rows = [
        (1, "spam " * 400),                                  # templated
        (2, " ".join(f"w{i} x{i*7%13} tok{i%29}" for i in range(400))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           compression_ratio_signal(df, "text", "doc_id").collect()}
    assert got[1]["compressed_ratio"] < 0.05          # pure repetition
    assert got[1]["compressed_ratio"] < got[2]["compressed_ratio"]
    assert got[2]["compressed_ratio"] < 1.0
    assert got[3]["compressed_ratio"] is None
    assert got[1]["n_chars"] == 2000


def test_compression_ratio_deterministic(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i} " * (i + 1)) for i in range(50)], "doc_id long, text string"
    )
    a = {r["doc_id"]: r["compressed_ratio"]
         for r in compression_ratio_signal(df, "text", "doc_id").collect()}
    b = {r["doc_id"]: r["compressed_ratio"]
         for r in compression_ratio_signal(df.repartition(7), "text", "doc_id").collect()}
    assert a == b


def test_spectral_features_pure_tone():
    sr = 8000
    t = np.arange(sr) / sr
    tone = np.sin(2 * np.pi * 440.0 * t)
    f = spectral_features(tone, sr)
    # a 1-second window puts all power in the exact 440 Hz bin
    assert f["centroid_hz"] == pytest.approx(440.0, abs=1.0)
    assert f["bandwidth_hz"] < 5.0
    assert f["rolloff_hz"] == pytest.approx(440.0, abs=1.0)
    assert f["flatness"] < 0.01


def test_spectral_features_white_noise_is_flat():
    rng = np.random.default_rng(0)
    f = spectral_features(rng.standard_normal(8000), 8000)
    assert f["flatness"] > 0.5
    assert f["centroid_hz"] == pytest.approx(8000 / 4, rel=0.1)  # ~mid-band


def test_spectral_decode_composes_with_wav():
    sr = 8000
    t = np.arange(sr) / sr
    tone = (np.sin(2 * np.pi * 1000.0 * t) * 20000).astype(np.int16)
    f = spectral_decode(encode_wav(tone, sr))
    assert f["centroid_hz"] == pytest.approx(1000.0, abs=2.0)


def test_spectral_features_silence_and_empty():
    f = spectral_features(np.zeros(100), 8000)
    assert f["centroid_hz"] == 0.0 and f["flatness"] == 1.0
    with pytest.raises(ValueError):
        spectral_features(np.array([]), 8000)
