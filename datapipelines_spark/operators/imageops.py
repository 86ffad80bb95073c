"""Real pixel-space image transforms: crop and resize, pure numpy.

Completes the reference's image mapper chain (M4 decode -> M5 crop -> resize
-> batch, /root/reference/sdata/mappers/sample_mappers.py:88-177) with actual
pixel math instead of stubs: the decode step uses the in-repo codecs
(jpegcodec/ppm/bmp), the square-crop slice uses the SAME deterministic
hash-seeded coordinates as the relational geometry operator
(operators/crop.py — parity tested), and resize is vectorized numpy
(nearest / bilinear). Both stages here ride the shared per-payload runner
(operators/multimodal.py:_payload_stage), so the Spark-side plumbing and
error contract are identical to a torchvision-backed production variant —
only the per-array function differs.
"""

from __future__ import annotations

import hashlib

import numpy as np


def _hash_offset(key: str, seed: int | str, salt: str, mod: int) -> int:
    """Python twin of functions/hashing.portable_hash_seeded: first 8 md5 hex
    chars of '{seed}-{salt}-{key}' as uint32, mod ``mod`` — bit-identical to
    the Spark/DuckDB expression, so a pixel crop and the relational
    crop-geometry query choose the SAME window."""
    digest = hashlib.md5(f"{seed}-{salt}-{key}".encode()).hexdigest()
    return int(digest[:8], 16) % max(mod, 1)


def _square_crop_at(
    arr: np.ndarray, key: str, seed: int | str
) -> tuple[np.ndarray, int, int]:
    """``square_crop`` plus the window's ``(top, left)`` offsets."""
    h, w = arr.shape[:2]
    size = min(h, w)
    top = _hash_offset(key, seed, "top", h - size + 1)
    left = _hash_offset(key, seed, "left", w - size + 1)
    return arr[top:top + size, left:left + size], top, left


def square_crop(arr: np.ndarray, key: str, seed: int | str = 42) -> np.ndarray:
    """Deterministic square crop: size = min(h, w); offsets from the sample
    key (retry-stable, engine-portable — SURVEY §7.6 risk 2)."""
    return _square_crop_at(arr, key, seed)[0]


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w = arr.shape[:2]
    rows = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    cols = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[rows[:, None], cols[None, :]]


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Vectorized bilinear resample with edge-aligned centers (the standard
    half-pixel convention)."""
    h, w = arr.shape[:2]
    a = arr.astype(np.float64)
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    if a.ndim == 3:
        wy = wy[..., None]
        wx = wx[..., None]
    top = a[y0[:, None], x0[None, :]] * (1 - wx) + a[y0[:, None], x1[None, :]] * wx
    bot = a[y1[:, None], x0[None, :]] * (1 - wx) + a[y1[:, None], x1[None, :]] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Serialize an (H, W, 3) uint8 array as binary P6 — the lossless
    interchange payload between pipeline stages (decodable by the in-repo
    PPM codec and any image tool)."""
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)
    h, w = arr.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + arr.astype(np.uint8).tobytes()


def crop_resize_images(
    df,
    payload_col: str = "jpg",
    key_col: str = "__key__",
    target: int = 64,
    interpolation: str = "bilinear",
    seed: int | str = 42,
    on_error: str = "quarantine",
    passthrough: bool = False,
):
    """Full image mapper chain as one Arrow stage: decode (magic-byte routed
    codecs) -> deterministic square crop -> resize to (target, target) ->
    re-emit as lossless P6 plus geometry/feature columns. One output row per
    input row; quarantine/fail error contract like every decode stage.

    ``passthrough=True`` carries every other input column through the same
    stage (the payload column is replaced by the transformed ``ppm``), so a
    config pipeline keeps the rest of the sample without a join-back."""
    from pyspark.sql import types as T

    from datapipelines_spark.operators.multimodal import _payload_stage, decode_array

    resize = {"bilinear": resize_bilinear, "nearest": resize_nearest}.get(interpolation)
    if resize is None:
        raise ValueError(f"interpolation must be 'bilinear' or 'nearest', got {interpolation!r}")
    if target < 1:
        raise ValueError(f"target must be >= 1, got {target}")
    out_fields = [
        T.StructField("ppm", T.BinaryType()),
        T.StructField("orig_width", T.IntegerType()),
        T.StructField("orig_height", T.IntegerType()),
        T.StructField("crop_size", T.IntegerType()),
        T.StructField("crop_top", T.IntegerType()),
        T.StructField("crop_left", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
    carried = [
        f for f in df.schema.fields
        if (f.name != payload_col if passthrough else f.name == key_col)
    ]

    def crop_resize(key, payload: bytes) -> list[dict]:
        arr = decode_array(payload)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w = arr.shape[:2]
        cropped, top, left = _square_crop_at(arr, str(key), seed)
        resized = resize(cropped, target, target)
        return [{
            "ppm": encode_ppm(resized),
            "orig_width": w,
            "orig_height": h,
            "crop_size": cropped.shape[0],
            "crop_top": top,
            "crop_left": left,
            "width": target,
            "height": target,
            "mean_pixel": float(resized.mean()) / 255.0,
        }]

    return _payload_stage(
        df, payload_col, key_col, [(f.name, f.name) for f in carried],
        T.StructType(carried + out_fields), crop_resize, on_error,
    )


class ImageTransforms:
    """Config-targetable image mapper chain — the engine's analogue of the
    reference YAML's ``TorchVisionImageTransforms`` + ``Rescaler`` +
    ``AddOriginalImageSizeAsTupleAndCropToSquare`` stack
    (/root/reference/examples/configs/example.yaml): decode the binary
    image column with the in-repo codecs, deterministic square crop, resize
    to ``size``, and attach the original-size/crop-coords columns. Other
    sample columns pass through the same Arrow stage untouched."""

    def __init__(
        self,
        key: str = "jpg",
        size: int = 64,
        interpolation: str = "bilinear",
        seed: int | str = 42,
        on_error: str = "quarantine",
        key_col: str = "__key__",
    ) -> None:
        self.key = key
        self.size = int(size)
        self.interpolation = interpolation
        self.seed = seed
        self.on_error = on_error
        self.key_col = key_col

    def apply(self, df):
        return crop_resize_images(
            df,
            payload_col=self.key,
            key_col=self.key_col,
            target=self.size,
            interpolation=self.interpolation,
            seed=self.seed,
            on_error=self.on_error,
            passthrough=True,
        )


def dhash_images(
    df,
    payload_col: str = "ppm",
    key_col: str = "__key__",
    on_error: str = "fail",
):
    """Perceptual difference-hash (dHash) per image: decode (magic-byte
    routed codecs), integer grayscale ``(299R + 587G + 114B) div 1000``,
    nearest-neighbor resample to an 8x9 grid, then 64 row-major gradient
    bits ``gray[y][x] > gray[y][x+1]`` packed into a signed BIGINT — the
    standard cheap image near-dup signature (the public dHash recipe of
    Krawetz's "Kind of Like That"; resized/re-encoded copies keep small
    Hamming distance, exact copies hash equal).

    Every step is INTEGER arithmetic (grayscale div, ``(i*src) div out``
    resample indices, strict > bits), so the hash is bit-exact replayable
    in SQL — no float resize to diverge on.

    One Arrow mapInPandas stage; output ``(key, width, height, dhash)``.
    ``on_error='skip'`` drops undecodable rows, ``'fail'`` raises; the
    output has no ``decode_error`` column to quarantine into.
    """
    from pyspark.sql import types as T

    from datapipelines_spark.operators.multimodal import _payload_stage, decode_array

    schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def dhash(_key, payload: bytes) -> list[dict]:
        arr = decode_array(payload)
        if arr.ndim == 2:
            arr = np.stack([arr, arr, arr], axis=-1)
        a = arr.astype(np.int64)
        gray = (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
        grid = resize_nearest(gray, 8, 9)
        bits = (grid[:, :-1] > grid[:, 1:]).flatten()  # y*8 + x
        v = 0
        for i in np.nonzero(bits)[0]:
            v |= 1 << int(i)
        if v >= 1 << 63:
            v -= 1 << 64  # two's-complement into signed int64
        return [{"width": arr.shape[1], "height": arr.shape[0], "dhash": v}]

    return _payload_stage(
        df, payload_col, key_col, [(key_col, key_col)], schema, dhash, on_error
    )


def dhash_near_pairs(
    hashes,
    id_col: str = "__key__",
    hash_col: str = "dhash",
    max_hamming: int = 7,
    bands: int = 8,
):
    """Near-duplicate image pairs beyond exact hash equality (VERDICT r7
    #6): resized or re-encoded copies differ from their original by a few
    dHash bits, so grouping on hash equality misses them. Candidate pairs
    come from Hamming banding — the 64-bit hash splits into ``bands``
    equal bit-slices and images join on any equal slice — then every
    candidate is verified by exact ``bit_count(xor) <= max_hamming`` (the
    simhash_near_pairs discipline, operators/dedup.py).

    Recall contract (pigeonhole): a pair within ``max_hamming <= bands-1``
    differing bits cannot touch every band, so at least one band matches
    and the pair is GUARANTEED to surface — the banded join is then an
    exact algorithm, not an approximation. Above that bound banding is
    candidate-recall only; callers wanting a larger radius should raise
    ``bands``.

    Scale shape: 8-byte hash + band keys shuffle (images never move); the
    band join fans out per bucket, so bucket sizes stay near-duplicate-
    density-sized, not corpus-sized. Output ``(id_a, id_b, hamming)`` with
    ``id_a < id_b``, deduped across bands.
    """
    import pyspark.sql.functions as F

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming for exact "
            f"recall (pigeonhole); got bands={bands}"
        )
    if 64 % bands:
        raise ValueError(f"bands={bands} must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(hash_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = hashes.select(
        F.col(id_col), F.col(hash_col), F.explode(band_arr).alias("b")
    ).select(
        id_col,
        hash_col,
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )
    x = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("hash_a"),
        "band_id",
        "band_key",
    )
    y = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("hash_b"),
        "band_id",
        "band_key",
    )
    hamming = F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
    return (
        x.join(y, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        # verify BEFORE the cross-band dedup so the distinct's shuffle
        # carries only the near set, not every banded candidate (ADVICE r8
        # #4); results identical — hamming is a function of the pair.
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
