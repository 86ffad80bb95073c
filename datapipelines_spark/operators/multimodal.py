"""Multimodal (image/audio/video) column operators.

Representation (SURVEY §1.4): media payloads are opaque ``BinaryType``
columns next to a typed metadata struct — schema-stable, splittable, and
shuffle-friendly (parquet stores them as byte arrays; column pruning keeps
them out of queries that don't touch them).

Decode / feature-extract / crop-resize / frame-sample run as Arrow-batched
Pandas UDFs over ``mapInPandas``, all through one runner
(``_payload_stage``) that owns batch iteration, the per-call deadline and
the ``on_error`` contract; each stage supplies only its per-payload function
and output schema. The codec is pluggable; the defaults are the real
decoders: ``real_decode`` decodes PPM/PGM, uncompressed BMP, GIF, TIFF,
JPEG (baseline + progressive, jpegcodec.py), QOI and PNG (pngcodec.py)
payloads in pure Python, and ``real_audio_decode`` (audio.py) decodes WAV
and FLAC.

Scale notes: media rows are wide (MBs), so these stages cap Arrow batch
sizes (``spark.sql.execution.arrow.maxRecordsPerBatch``) and should follow a
``repartition`` that brings partitions to ~128 MB of payload; never collect.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from datapipelines_spark.operators.audio import real_audio_decode

#: Output schema of decode_images: per-row metadata + a small feature vector.
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("__key__", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_ppm(payload: bytes):
    """Pure-numpy PPM/PGM decoder (binary P6/P5) — a REAL codec with no
    third-party dependency, so the reference's decode→transform chain
    (sdata/mappers/sample_mappers.py:88-123, wds image handlers at
    sdata/datapipeline.py:525-527) runs end-to-end on actual image bytes in
    this container. Returns an ndarray (h, w, 3) for P6 or (h, w) for P5.
    """
    import numpy as np

    if len(payload) < 2 or payload[:1] != b"P" or payload[1:2] not in b"56":
        raise ValueError("not a binary PPM/PGM payload")
    channels = 3 if payload[1:2] == b"6" else 1
    # Header: magic, width, height, maxval as whitespace-separated tokens
    # (with '#' comments), then ONE whitespace byte, then raster data.
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    need = width * height * channels
    raster = payload[pos : pos + need]
    if len(raster) < need:
        raise ValueError("truncated PPM raster")
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(
        (height, width, channels) if channels == 3 else (height, width)
    )
    return arr


def decode_bmp(payload: bytes):
    """Pure-numpy decoder for uncompressed 24/32-bit BMP (BITMAPINFOHEADER).
    Returns an ndarray (h, w, 3|4), rows flipped to top-down, BGR→RGB."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    ch = bpp // 8
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * ch + 3) & ~3  # rows padded to 4 bytes
    need = row_stride * height
    raster = payload[data_offset : data_offset + need]
    if len(raster) < need:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(height, row_stride)
    arr = rows[:, : width * ch].reshape(height, width, ch)
    if bottom_up:
        arr = arr[::-1]
    return arr[:, :, [2, 1, 0] + ([3] if ch == 4 else [])]  # BGR(A) -> RGB(A)


def decode_array(payload: bytes):
    """Route a payload to a real decoder by magic bytes: PPM/PGM, BMP, GIF,
    PNG, and JPEG (baseline + progressive, operators/jpegcodec.py) are
    decoded pure-Python in-container; anything else goes to PIL when
    installed, else raises."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    if payload[:2] in (b"P6", b"P5"):
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from datapipelines_spark.operators.gifcodec import decode_gif

        return decode_gif(payload)  # LZW, interlace, palettes, transparency
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from datapipelines_spark.operators.tiffcodec import decode_tiff

        try:
            return decode_tiff(payload)  # baseline: none/PackBits strips
        except ValueError:
            pass  # LZW/JPEG-in-TIFF fall through to PIL if present
    if payload[:2] == b"\xff\xd8":
        from datapipelines_spark.operators.jpegcodec import decode_jpeg

        try:
            return decode_jpeg(payload)  # baseline AND progressive
        except ValueError:
            # arithmetic-coded/12-bit streams fall through to PIL if present
            pass
    if payload[:4] == b"qoif":
        from datapipelines_spark.operators.qoicodec import decode_qoi

        return decode_qoi(payload)  # lossless; all six ops in-repo
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from datapipelines_spark.operators.pngcodec import decode_png

        try:
            return decode_png(payload)  # incl. Adam7 interlace and 16-bit
        except ValueError:
            pass  # exotic variants fall through to PIL if present
    try:
        from PIL import Image  # type: ignore
    except ImportError as e:  # pragma: no cover - env lacks codecs
        raise NotImplementedError(
            "payload is not PPM/BMP/JPEG/PNG (in-repo codecs) and Pillow is "
            "not installed; pass a decode_fn for this format or install "
            "Pillow"
        ) from e
    import io  # pragma: no cover

    import numpy as np  # pragma: no cover

    return np.asarray(Image.open(io.BytesIO(payload)))  # pragma: no cover


def real_decode(payload: bytes) -> dict:
    """Decode actual image bytes (PPM/BMP pure-numpy; PIL for the rest) into
    the IMAGE_FEATURES_SCHEMA feature dict."""
    arr = decode_array(payload)
    return {
        "width": int(arr.shape[1]),
        "height": int(arr.shape[0]),
        "n_channels": int(arr.shape[2]) if arr.ndim == 3 else 1,
        "mean_pixel": float(arr.mean()) / 255.0,
    }


class CallTimeout(Exception):
    """Raised when a per-record decode exceeds its time budget (E4 parity)."""


def _with_timeout(fn: Callable, seconds: float) -> Callable:
    """Per-call watchdog for Python stages (E4,
    /root/reference/sdata/datapipeline.py:31-83 uses a watchdog thread; here
    SIGALRM, which is valid because Python UDF workers execute user code on
    the main thread). Only wrap *Python* stages — JVM expressions have no
    per-row timeout, which remains a documented limitation (SURVEY §7.6)."""
    import signal

    def wrapped(*args):
        def handler(signum, frame):
            raise CallTimeout(f"decode exceeded {seconds}s")

        old = signal.signal(signal.SIGALRM, handler)
        signal.setitimer(signal.ITIMER_REAL, seconds)
        try:
            return fn(*args)
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
            signal.signal(signal.SIGALRM, old)

    return wrapped


_ON_ERROR_MODES = ("quarantine", "skip", "fail")


def _payload_stage(
    df: DataFrame,
    payload_col: str,
    key_col: str,
    carry: Sequence[tuple[str, str]],
    schema: T.StructType,
    row_fn: Callable[[object, bytes], Iterable[dict]],
    on_error: str,
    timeout_s: float | None = None,
) -> DataFrame:
    """The per-payload error contract every media stage runs on (E1-E4): one
    Arrow ``mapInPandas`` over the ``carry`` input columns plus
    ``payload_col``. ``row_fn(key, payload)`` yields one feature dict per
    output row (a null payload reads as ``b""``); each output row copies the
    carried columns of its input row, ``carry`` being (output name, input
    column) pairs, and takes every other schema column from the dict (absent
    keys are null). A payload whose ``row_fn`` raises, or outlives
    ``timeout_s``, keeps the rows it already yielded and is then routed by
    ``on_error``: 'quarantine' adds one row of carried columns, null
    features and ``"<Type>: <message>"`` in ``decode_error``; 'skip' adds
    nothing; 'fail' re-raises. Feature columns travel as Python objects, so
    64-bit integers reach Arrow exactly even next to nulls."""
    if on_error not in _ON_ERROR_MODES:
        raise ValueError(f"on_error must be one of {_ON_ERROR_MODES}, got {on_error!r}")
    names = schema.fieldNames()
    if on_error == "quarantine" and "decode_error" not in names:
        raise ValueError("on_error='quarantine' needs a decode_error output column")
    out_carried = [out for out, _ in carry]
    feat_names = [n for n in names if n not in out_carried]

    def collect(rows: list, key, payload: bytes) -> None:
        for feats in row_fn(key, payload):
            rows.append(feats)

    guarded = collect if timeout_s is None else _with_timeout(collect, timeout_s)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, src = [], []
            for i, (key, payload) in enumerate(zip(pdf[key_col], pdf[payload_col])):
                rows: list = []
                try:
                    guarded(rows, key, b"" if payload is None else bytes(payload))
                except Exception as e:  # noqa: BLE001 - permissive mode is the point
                    if on_error == "fail":
                        raise
                    if on_error == "quarantine":
                        rows.append({"decode_error": f"{type(e).__name__}: {e}"})
                feats += rows
                src += [i] * len(rows)
            carried = pdf.iloc[src, : len(carry)].reset_index(drop=True)
            carried.columns = out_carried
            cols = {n: [r.get(n) for r in feats] for n in feat_names}
            yield pd.concat([carried, pd.DataFrame(cols, dtype=object)], axis=1)[names]

    return df.select(*[c for _, c in carry], payload_col).mapInPandas(batches, schema)


def decode_images(
    df: DataFrame,
    payload_col: str = "jpg",
    key_col: str = "__key__",
    decode_fn: Callable[[bytes], dict] = real_decode,
    on_error: str = "quarantine",
    timeout_s: float | None = None,
) -> DataFrame:
    """Decode a binary image column into typed features via mapInPandas.

    ``on_error``: 'quarantine' (E1 warn_and_continue parity — emit the row
    with ``decode_error`` set and null features), 'skip' (drop failed rows),
    or 'fail' (raise, E2 reraise parity). ``timeout_s`` bounds each decode
    call (E4 parity); a timeout is handled like any other decode error.
    """
    return _payload_stage(
        df, payload_col, key_col, [("__key__", key_col)], IMAGE_FEATURES_SCHEMA,
        lambda _key, payload: [decode_fn(payload)], on_error, timeout_s,
    )


#: Output schema of decode_audio: duration/channels/sample-rate metadata +
#: a fixed-length loudness envelope feature.
AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("__key__", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("envelope", T.ArrayType(T.DoubleType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def decode_audio(
    df: DataFrame,
    payload_col: str = "wav",
    key_col: str = "__key__",
    decode_fn: Callable[[bytes], dict] = real_audio_decode,
    on_error: str = "quarantine",
) -> DataFrame:
    """Audio analogue of decode_images: binary column -> typed features via
    Arrow-batched mapInPandas; same on_error contract."""
    return _payload_stage(
        df, payload_col, key_col, [("__key__", key_col)], AUDIO_FEATURES_SCHEMA,
        lambda _key, payload: [decode_fn(payload)], on_error,
    )


SPECTRAL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("__key__", T.StringType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("bandwidth_hz", T.DoubleType()),
        T.StructField("rolloff_hz", T.DoubleType()),
        T.StructField("flatness", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def spectral_audio(
    df: DataFrame,
    payload_col: str = "wav",
    key_col: str = "__key__",
    on_error: str = "quarantine",
    timeout_s: float | None = None,
) -> DataFrame:
    """WAV binary column -> spectral features (centroid/bandwidth/rolloff/
    flatness, operators/audio.py:spectral_features) via Arrow mapInPandas —
    the audio-curation analogue of decode_images, same on_error contract.
    One Python stage over the payloads; everything downstream is JVM-side."""
    from datapipelines_spark.operators.audio import spectral_decode

    return _payload_stage(
        df, payload_col, key_col, [("__key__", key_col)], SPECTRAL_FEATURES_SCHEMA,
        lambda _key, payload: [spectral_decode(payload)], on_error, timeout_s,
    )


#: Output schema of frame_sample_mjpeg: one row per sampled, DECODED frame.
FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("__key__", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def frame_sample_mjpeg(
    df: DataFrame,
    payload_col: str = "mjpeg",
    key_col: str = "__key__",
    every_n: int = 1,
    on_error: str = "quarantine",
) -> DataFrame:
    """REAL video frame sampling for MJPEG-style streams (concatenated
    JPEGs): split frames by walking actual JPEG structure, decode every
    ``every_n``-th with the pure-numpy baseline codec, emit one row per
    sampled frame (explode shape). Container formats (mp4/mkv) still need
    external demuxers — this covers the codec-free interchange case and
    exercises the exact plumbing (schema, batch shape, explode) a real
    demuxer stage would use. Frames decoded before a corrupt one are kept."""
    from datapipelines_spark.operators.audio import sample_mjpeg_frames
    from datapipelines_spark.operators.jpegcodec import decode_jpeg

    def frames(_key, payload: bytes) -> Iterator[dict]:
        for idx, frame in sample_mjpeg_frames(payload, every_n):
            arr = decode_jpeg(frame)
            yield {
                "frame_idx": idx,
                "width": int(arr.shape[1]),
                "height": int(arr.shape[0]),
                "mean_pixel": float(arr.mean()) / 255.0,
            }

    return _payload_stage(
        df, payload_col, key_col, [("__key__", key_col)], FRAME_FEATURES_SCHEMA,
        frames, on_error,
    )
