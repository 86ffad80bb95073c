"""Reference-parity sample-pipeline operators bound to fixture tables:
key/size filters (F3/F4), rescale mapper (M3), metadata join with
rename-on-collision (J4), and binary-column (multimodal) plumbing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.sources.parquet import load_table


@query(
    "filter_required_keys",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
    ORDER BY doc_id
    """,
)
def filter_required_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleKeyFilter parity (F3,
    /root/reference/sdata/filters/metadata_filters.py:9-28): keep rows where
    every required key is present — under a fixed schema, presence ≡ non-null.
    """
    from datapipelines_spark.operators.transforms import KeyFilter

    d = load_table(spark, sf_dir, "documents")
    return (
        KeyFilter(keys=["text", "lang", "source"])
        .apply(d)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "filter_size_range",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    WHERE n_chars >= 200 AND n_chars <= 1500
    GROUP BY lang ORDER BY lang
    """,
)
def filter_size_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleSizeFilter parity (F4,
    /root/reference/sdata/filters/metadata_filters.py:31-104): min/max bound
    predicate on a size attribute; strict-mode missing-key handling is the
    null-filter above composed with this."""
    from datapipelines_spark.operators.transforms import SizeFilter

    d = load_table(spark, sf_dir, "documents")
    return (
        SizeFilter(size_col="n_chars", min_size=200, max_size=1500)
        .apply(d)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "mapper_rescale_embeddings",
    oracle="""
    SELECT vec_id,
           round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * 2 - 1), 'sum'), 5)
               AS rescaled_sum,
           round(list_transform(embedding::DOUBLE[], x -> x * 2 - 1)[1], 6) AS rescaled_first
    FROM embeddings
    ORDER BY vec_id
    """,
)
def mapper_rescale_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaler parity (M3, /root/reference/sdata/mappers/sample_mappers.py:14-85):
    float-mode x*2-1 normalization over a tensor column, as a codegen'd
    higher-order array transform instead of a per-sample Python call."""
    from datapipelines_spark.operators.transforms import Rescaler

    e = load_table(spark, sf_dir, "embeddings")
    rescaled = Rescaler(key="embedding", isfloat=True).apply(
        e.withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    v = F.col("embedding")
    return rescaled.select(
        "vec_id",
        F.round(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x), 5).alias("rescaled_sum"),
        F.round(F.element_at(v, 1), 6).alias("rescaled_first"),
    ).orderBy("vec_id")


@query(
    "join_metadata_rename_collision",
    oracle="""
    SELECT d.doc_id, d.lang, m.lang AS lang_meta, m.label
    FROM documents d
    JOIN (SELECT vec_id, label,
                 CASE WHEN label % 2 = 0 THEN 'even' ELSE 'odd' END AS lang
          FROM embeddings) m
      ON d.doc_id = m.vec_id
    ORDER BY d.doc_id
    """,
)
def join_metadata_rename_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata sample join parity (J4 merge_samples,
    /root/reference/sdata/datapipeline.py:225-245): equi-join on the sample
    key; colliding metadata columns are renamed with a suffix instead of
    clobbering the main column."""
    from datapipelines_spark.operators.joins import metadata_join

    d = load_table(spark, sf_dir, "documents")
    meta = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.when(F.col("label") % 2 == 0, "even").otherwise("odd").alias("lang"),
    )
    joined = metadata_join(d, meta, on="doc_id", collision_suffix="_meta")
    return joined.select("doc_id", "lang", "lang_meta", "label").orderBy("doc_id")


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS payload_bytes,
           md5(text) AS payload_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload size + digest over a
    BinaryType column (the engine's representation for image/audio/video
    members, SURVEY §1.4). Decode/resize UDF stages live in
    operators/multimodal.py (pytest-covered; the libs are stubbed)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("payload_bytes"),
        F.md5(payload).alias("payload_md5"),
    ).orderBy("doc_id")


@query(
    "multimodal_ppm_decode",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               3 + doc_id % 4 AS h,
               substr(repeat(md5(text), 5), 1,
                      CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INT)) AS px
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, w AS width, h AS height, 3 AS n_channels,
           round(list_aggregate(list_transform(range(1, len(px) + 1),
                 i -> ascii(substr(px, i, 1))), 'avg') / 255.0, 6) AS mean_pixel
    FROM b ORDER BY doc_id
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (M4, /root/reference/sdata/mappers/
    sample_mappers.py:88-123 decode→transform chain; wds handlers at
    /root/reference/sdata/datapipeline.py:525-527): each document is framed
    as a binary P6 PPM payload (header + md5-derived ASCII raster, built with
    native expressions), then ``decode_images`` runs the pure-numpy PPM codec
    (operators/multimodal.py:decode_ppm) — not the digest fake — inside the
    Arrow-batched mapInPandas stage, with the per-call E4 timeout armed. The
    oracle recomputes width/height and the exact mean pixel value of the
    same raster."""
    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = (F.lit(4) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 4).cast("int")
    n_px = (w * h * 3).cast("int")
    raster = F.substring(F.repeat(F.md5(F.encode(F.col("text"), "utf-8")), 5), 1, 160)
    header = F.concat_ws("", F.lit("P6\n"), w.cast("string"), F.lit(" "),
                         h.cast("string"), F.lit("\n255\n"))
    payload = F.concat(
        F.encode(header, "utf-8"), F.encode(F.expr("substring(raster, 1, n_px)"), "utf-8")
    )
    framed = (
        d.withColumn("raster", raster)
        .withColumn("n_px", n_px)
        .withColumn("__key__", F.col("doc_id").cast("string"))
        .withColumn("ppm", payload)
    )
    decoded = decode_images(
        framed, payload_col="ppm", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    ).orderBy("doc_id")


@query(
    "mapper_einops_reduce_groups",
    oracle="""
    SELECT vec_id,
           g - 1 AS group_idx,
           round(list_aggregate(
               (embedding::DOUBLE[])[(g - 1) * 8 + 1 : g * 8], 'sum'), 6)
               AS group_sum
    FROM embeddings, range(1, 9) t(g)
    ORDER BY vec_id, group_idx
    """,
)
def mapper_einops_reduce_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Einops reduce-pattern parity (M6, /root/reference/sdata/mappers/
    batched_mappers.py:9-34): '(g d) -> g' sum-reduce over the 64-dim
    embedding viewed as 8 groups of 8 — compiled to native index-arithmetic
    array expressions (no Python in the plan), the Spark translation of an
    einops call over a contiguous tensor."""
    from datapipelines_spark.operators.einops import einops_expr

    e = load_table(spark, sf_dir, "embeddings")
    reduced = einops_expr(
        F.col("embedding"), "(g d) -> g", mode="reduce",
        sizes={"g": 8, "d": 8}, reduction="sum",
    )
    # exploded to scalar (vec_id, group_idx, group_sum) rows: the driver
    # canonicalizer cannot hash array-typed cells
    return (
        e.select("vec_id", F.posexplode(reduced).alias("group_idx", "group_sum"))
        .select(
            "vec_id",
            F.col("group_idx").cast("bigint").alias("group_idx"),
            F.round("group_sum", 6).alias("group_sum"),
        )
        .orderBy("vec_id", "group_idx")
    )


@query(
    "mapper_square_crop",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               32 + doc_id % 97 AS original_height,
               32 + (doc_id * 7) % 89 AS original_width
        FROM documents
    )
    SELECT doc_id, original_height, original_width,
           least(original_height, original_width) AS crop_size,
           CAST('0x' || substr(md5('42-top-' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT)
               % (original_height - least(original_height, original_width) + 1)
               AS crop_top,
           CAST('0x' || substr(md5('42-left-' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT)
               % (original_width - least(original_height, original_width) + 1)
               AS crop_left
    FROM dims
    ORDER BY doc_id
    """,
)
def mapper_square_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-crop geometry mapper parity (M5,
    AddOriginalImageSizeAsTupleAndCropToSquare at
    /root/reference/sdata/mappers/sample_mappers.py:127-177): record original
    (h, w), pick the square crop's top/left offsets. The reference uses
    np.random.randint; here offsets are a pure function of the sample key
    (portable seeded md5 hash) so the same crop is chosen on task retry and
    in the oracle (SURVEY §7.6 risk 2). Dims are synthesized per-doc since
    the fixture corpus has no real image metadata — the geometry algebra is
    what's under test."""
    from datapipelines_spark.operators.crop import add_size_and_square_crop

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(32) + F.col("doc_id") % 97).alias("h"),
        (F.lit(32) + (F.col("doc_id") * 7) % 89).alias("w"),
    )
    return (
        add_size_and_square_crop(
            d, height_col="h", width_col="w", key_col="doc_id", seed=42
        )
        .select(
            "doc_id", "original_height", "original_width",
            "crop_size", "crop_top", "crop_left",
        )
        .orderBy("doc_id")
    )


@query(
    "multimodal_jpeg_decode",
    oracle="""
    SELECT doc_id,
           CAST(16 + (doc_id % 3) * 8 AS BIGINT) AS width,
           CAST(16 + (doc_id % 2) * 8 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           TRUE AS mean_within_tol
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end (M4 closure): per-doc solid
    gray JPEGs — BASELINE for even doc_ids, PROGRESSIVE (SOF2) for odd —
    are encoded by the pure-numpy T.81 encoders (operators/jpegcodec.py) in
    an Arrow pandas UDF, then decoded by the pure-numpy decoder inside the
    mapInPandas stage, so the driver gate exercises both JPEG processes
    with zero third-party image libraries. Dimensions are checked exactly;
    the mean pixel is checked to a ±2/255 tolerance (JPEG is lossy;
    solid-color blocks round-trip to within DC quantization error),
    asserted Spark-side and emitted as a boolean the oracle states must be
    TRUE — a decoder drift flips rows to FALSE and fails the hash."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    # no type hints: `from __future__ import annotations` stringifies them and
    # the UDF inferrer can't resolve module-local 'pd.Series'; default SCALAR
    @F.pandas_udf("binary")
    def make_jpeg(doc_id):
        import numpy as np

        from datapipelines_spark.operators.jpegcodec import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        out = []
        for i in doc_id:
            i = int(i)
            w = 16 + (i % 3) * 8
            h = 16 + (i % 2) * 8
            c = (i * 37) % 256
            img = np.full((h, w, 3), c, dtype=np.uint8)
            enc = encode_jpeg if i % 2 == 0 else encode_jpeg_progressive
            out.append(enc(img, quality=90))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_jpeg("doc_id").alias("jpg"),
    )
    decoded = decode_images(
        framed, payload_col="jpg", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    did = F.col("__key__").cast("bigint")
    expected_c = (did * 37) % 256
    return decoded.select(
        did.alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        (F.abs(F.col("mean_pixel") * 255.0 - expected_c) < 2.0).alias("mean_within_tol"),
    ).orderBy("doc_id")


@query(
    "multimodal_wav_decode",
    oracle="""
    SELECT doc_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
           round((800 + (doc_id % 5) * 160) / 16000.0, 6) AS duration_s,
           round((500 + (doc_id * 13) % 2000) / 32768.0, 6) AS rms_bin0
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per-doc WAV payloads (RIFF PCM16,
    constant amplitude, mono/stereo alternating by doc_id) are synthesized by
    the pure-numpy encoder in an Arrow pandas UDF, then parsed by the REAL
    WAV decoder (operators/audio.py) inside the decode_audio mapInPandas
    stage. Constant-amplitude signals make the loudness envelope exactly
    amp/32768, so rate/channels/duration AND the extracted feature are all
    formula-checkable by the oracle — no codec on the oracle side needed."""
    import pandas as pd

    from datapipelines_spark.operators.audio import real_audio_decode
    from datapipelines_spark.operators.multimodal import decode_audio

    @F.pandas_udf("binary")
    def make_wav(doc_id):
        import numpy as np

        from datapipelines_spark.operators.audio import encode_wav

        out = []
        for i in doc_id:
            i = int(i)
            ch = 1 + i % 2
            n = 800 + (i % 5) * 160
            amp = 500 + (i * 13) % 2000
            s = np.full((n, ch), amp, dtype=np.int16)
            out.append(encode_wav(s, 16000))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_wav("doc_id").alias("wav"),
    )
    decoded = decode_audio(
        framed, payload_col="wav", decode_fn=real_audio_decode, on_error="fail"
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("duration_s", 6).alias("duration_s"),
        F.round(F.element_at("envelope", 1), 6).alias("rms_bin0"),
    ).orderBy("doc_id")


@query(
    "multimodal_mjpeg_frames",
    oracle="""
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(16 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           TRUE AS mean_within_tol
    FROM documents CROSS JOIN range(0, 4) t(j)
    WHERE j < 2 + doc_id % 3 AND j % 2 = 0
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end: per-doc MJPEG streams (2-4
    concatenated solid-color baseline JPEGs, encoded by the pure-numpy T.81
    encoder) are split by walking true JPEG structure, every 2nd frame is
    decoded by the pure-numpy decoder, and each sampled frame becomes a row
    (explode shape) — the exact plumbing a production demuxer stage uses.
    Frame indices and dimensions are oracle-exact; per-frame mean pixel is
    asserted within lossy tolerance Spark-side as a boolean the oracle
    requires to be TRUE."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import frame_sample_mjpeg

    @F.pandas_udf("binary")
    def make_mjpeg(doc_id):
        import numpy as np

        from datapipelines_spark.operators.jpegcodec import encode_jpeg

        out = []
        for i in doc_id:
            i = int(i)
            n_frames = 2 + i % 3
            stream = b"".join(
                encode_jpeg(
                    np.full((16, 16, 3), (i * 29 + j * 61) % 256, dtype=np.uint8),
                    quality=90,
                )
                for j in range(n_frames)
            )
            out.append(stream)
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_mjpeg("doc_id").alias("mjpeg"),
    )
    frames = frame_sample_mjpeg(
        framed, payload_col="mjpeg", every_n=2, on_error="fail"
    )
    did = F.col("__key__").cast("bigint")
    expected_c = (did * 29 + F.col("frame_idx") * 61) % 256
    return frames.select(
        did.alias("doc_id"),
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        (F.abs(F.col("mean_pixel") * 255.0 - expected_c) < 2.0).alias("mean_within_tol"),
    ).orderBy("doc_id", "frame_idx")


@query(
    "tar_roundtrip_shards",
    oracle="""
    SELECT doc_id,
           CAST(2 AS BIGINT) AS n_members,
           md5(text) AS txt_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           lang
    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ORDER BY doc_id
    """,
)
def tar_roundtrip_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar round-trip as a driver-checked query (S1-S6 + the tar
    writer, previously pytest-only): fixture documents are written to real
    .tar shards via the executor-side tar sink (sinks/writer.py:
    write_tar_shards — member files ``<key>.txt`` / ``<key>.lang``), then
    re-read by the distributed tar source (sources/shards.py:
    read_tar_samples — basename grouping, __key__/__url__ injection), and
    the reassembled samples are checked byte-for-byte (member count, md5 and
    size of the txt payload, decoded lang) against straight SQL over the
    original table. Shard files live under a per-sf tmp dir, overwritten on
    each call for idempotence."""
    import hashlib
    import os

    from datapipelines_spark.sinks.writer import write_tar_shards
    from datapipelines_spark.sources.shards import read_tar_samples

    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    samples = d.select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("__key__"),
        F.create_map(
            F.lit("txt"), F.encode(F.col("text"), "utf-8"),
            F.lit("lang"), F.encode(F.col("lang"), "utf-8"),
        ).alias("data"),
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out_dir = os.path.join("/tmp", f"spark_graft_tar_rt_{sf_tag}")
    write_tar_shards(samples, out_dir, shard_rows=200, mode="overwrite")
    back = read_tar_samples(spark, out_dir)
    return back.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.size("data").cast("bigint").alias("n_members"),
        F.md5(F.element_at("data", "txt")).alias("txt_md5"),
        F.length(F.element_at("data", "txt")).cast("bigint").alias("txt_bytes"),
        F.element_at("data", "lang").cast("string").alias("lang"),
    ).orderBy("doc_id")


@query(
    "config_pipeline_quality_filter",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE n_chars >= 200 AND n_chars <= 1500
      AND text IS NOT NULL AND lang IS NOT NULL
    GROUP BY lang ORDER BY lang
    """,
)
def config_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config/reflection entry point (G1-G5,
    /root/reference/sdata/datapipeline.py instantiate_from_config +
    dataset.py:create_dataset): the pipeline is declared as a plain dict —
    source + dotted-path preprocessor stages with params — compiled by
    plans/pipeline.py into a lazy DataFrame, and verified against the same
    filters written directly in SQL. Driver-checks the whole reflection
    builder, not just its unit tests."""
    from datapipelines_spark.plans.pipeline import create_dataset

    cfg = {
        "dataset": {
            "urls": sf_dir,
            "format": "parquet",
            "table": "documents",
            "preprocessors": [
                {
                    "target": "datapipelines_spark.operators.transforms.SizeFilter",
                    "params": {"size_col": "n_chars", "min_size": 200, "max_size": 1500},
                },
                {
                    "target": "datapipelines_spark.operators.transforms.KeyFilter",
                    "params": {"keys": ["text", "lang"]},
                },
            ],
        }
    }
    df = create_dataset(spark, cfg)
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "multimodal_quarantine_decode",
    oracle="""
    SELECT doc_id,
           doc_id % 10 <> 0 AS decode_ok,
           CASE WHEN doc_id % 10 <> 0
                THEN CAST(4 + doc_id % 5 AS BIGINT) END AS width
    FROM documents WHERE text IS NOT NULL ORDER BY doc_id
    """,
)
def multimodal_quarantine_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive error handling ON the driver gate (E1 warn_and_continue,
    /root/reference/sdata/datapipeline.py warn_and_continue handler): every
    10th document's PPM payload is deliberately truncated mid-raster; the
    decode stage runs with on_error='quarantine', so corrupt rows survive
    with decode_error set and null features while good rows decode — the
    oracle states exactly which doc_ids must land on each side."""
    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = (F.lit(4) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 4).cast("int")
    n_px = (w * h * 3).cast("int")
    raster = F.substring(F.repeat(F.md5(F.encode(F.col("text"), "utf-8")), 5), 1, 160)
    header = F.concat_ws("", F.lit("P6\n"), w.cast("string"), F.lit(" "),
                         h.cast("string"), F.lit("\n255\n"))
    # corrupt every 10th: keep the header but cut the raster short
    take = F.when(F.col("doc_id") % 10 == 0, (n_px / 2).cast("int")).otherwise(n_px)
    framed = (
        d.withColumn("raster", raster)
        .withColumn("n_take", take)
        .withColumn("__key__", F.col("doc_id").cast("string"))
        .withColumn(
            "ppm",
            F.concat(
                F.encode(header, "utf-8"),
                F.encode(F.expr("substring(raster, 1, n_take)"), "utf-8"),
            ),
        )
    )
    decoded = decode_images(
        framed, payload_col="ppm", key_col="__key__",
        decode_fn=real_decode, on_error="quarantine", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("decode_error").isNull().alias("decode_ok"),
        F.col("width").cast("bigint").alias("width"),
    ).orderBy("doc_id")


@query(
    "multimodal_png_decode",
    oracle="""
    SELECT doc_id,
           CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS width,
           CAST(8 + (doc_id % 3) * 4 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           round(((doc_id * 41) % 256) / 255.0, 6) AS mean_pixel
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end: per-doc solid-color PNGs are encoded by
    the pure-Python codec (operators/pngcodec.py — stdlib zlib DEFLATE,
    Paeth filter) in an Arrow pandas UDF and decoded inside the mapInPandas
    stage. PNG is lossless, so unlike the JPEG query the mean pixel is
    checked EXACTLY against the formula, not to a tolerance."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    @F.pandas_udf("binary")
    def make_png(doc_id):
        import numpy as np

        from datapipelines_spark.operators.pngcodec import encode_png

        out = []
        for i in doc_id:
            i = int(i)
            w = 8 + (i % 4) * 4
            h = 8 + (i % 3) * 4
            c = (i * 41) % 256
            out.append(encode_png(np.full((h, w, 3), c, dtype=np.uint8), filter_type=4))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_png("doc_id").alias("png"),
    )
    decoded = decode_images(
        framed, payload_col="png", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    ).orderBy("doc_id")


@query(
    "multimodal_mp4_probe",
    oracle="""
    SELECT doc_id,
           round(1.0 + (doc_id % 20) * 0.5, 6) AS duration_s,
           CAST(160 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(240 AS BIGINT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS codec,
           CAST(1 AS BIGINT) AS n_tracks
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-decode video metadata pass ON the driver gate: per-doc MP4
    containers (built box-by-box to the ISO 14496-12 layout, no media data)
    are probed in an Arrow stage for duration / resolution / codec — the
    filter step a video corpus runs before paying any decode cost; every
    extracted field is formula-exact against the oracle."""
    import pandas as pd

    from datapipelines_spark.operators.video import probe_mp4

    @F.pandas_udf("binary")
    def make_mp4(doc_id):
        from datapipelines_spark.operators.video import build_test_mp4

        out = []
        for i in doc_id:
            i = int(i)
            out.append(
                build_test_mp4(
                    duration_s=1.0 + (i % 20) * 0.5,
                    timescale=1000,
                    width=160 * (1 + i % 3),
                    height=240,
                    codec=b"avc1" if i % 2 == 0 else b"hvc1",
                )
            )
        return pd.Series(out)

    @F.pandas_udf("duration_s double, width double, height double, codec string, n_tracks int")
    def probe(payloads):
        out = []
        for p in payloads:
            m = probe_mp4(bytes(p))
            tr = m["tracks"][0]
            out.append(
                {
                    "duration_s": m["duration_s"],
                    "width": tr["width"],
                    "height": tr["height"],
                    "codec": tr["codec"],
                    "n_tracks": m["n_tracks"],
                }
            )
        return pd.DataFrame(out)

    d = load_table(spark, sf_dir, "documents")
    probed = d.select(
        "doc_id", probe(make_mp4("doc_id")).alias("m")
    ).select("doc_id", "m.*")
    return probed.select(
        "doc_id",
        F.round("duration_s", 6).alias("duration_s"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "codec",
        F.col("n_tracks").cast("bigint").alias("n_tracks"),
    ).orderBy("doc_id")


@query(
    "multimodal_gif_decode",
    oracle="""
    SELECT doc_id,
           CAST(8 + (doc_id % 5) * 4 AS BIGINT) AS width,
           CAST(8 + (doc_id % 2) * 8 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           round(((doc_id * 37) % 256) / 255.0, 6) AS mean_pixel
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end: per-doc palette GIFs are LZW-encoded by
    the pure-Python codec (operators/gifcodec.py) in an Arrow pandas UDF —
    odd doc_ids interlaced, exercising the 4-pass row order — and decoded
    inside the mapInPandas stage. GIF is lossless palette indexing, so the
    mean pixel is checked EXACTLY against the formula."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    @F.pandas_udf("binary")
    def make_gif(doc_id):
        import numpy as np

        from datapipelines_spark.operators.gifcodec import encode_gif

        out = []
        for i in doc_id:
            i = int(i)
            w = 8 + (i % 5) * 4
            h = 8 + (i % 2) * 8
            c = (i * 37) % 256
            pal = np.array([[c, c, c], [255 - c, c, 255 - c]], dtype=np.uint8)
            img = np.zeros((h, w), dtype=np.uint8)  # all palette index 0
            out.append(encode_gif(img, pal, interlace=bool(i % 2)))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_gif("doc_id").alias("gif"),
    )
    decoded = decode_images(
        framed, payload_col="gif", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    ).orderBy("doc_id")


@query(
    "multimodal_tiff_decode",
    oracle="""
    SELECT doc_id,
           CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS width,
           CAST(8 + (doc_id % 3) * 4 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           round(((doc_id * 41) % 256) / 255.0, 6) AS mean_pixel
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode end-to-end: per-doc solid RGB TIFFs are assembled by
    the pure-Python encoder (operators/tiffcodec.py) in an Arrow pandas UDF
    — rotating through uncompressed/PackBits/LZW+predictor strips and both
    byte orders by doc_id — then decoded inside the mapInPandas stage via
    the magic-byte router. TIFF is lossless, so the mean pixel is checked
    EXACTLY against the formula."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    @F.pandas_udf("binary")
    def make_tiff(doc_id):
        import numpy as np

        from datapipelines_spark.operators.tiffcodec import encode_tiff

        out = []
        for i in doc_id:
            i = int(i)
            w = 8 + (i % 4) * 4
            h = 8 + (i % 3) * 4
            c = (i * 41) % 256
            img = np.full((h, w, 3), c, dtype=np.uint8)
            mode = i % 3
            out.append(
                encode_tiff(
                    img,
                    packbits=(mode == 1),
                    lzw=(mode == 2),
                    predictor=(mode == 2),
                    big_endian=bool(i % 2),
                )
            )
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_tiff("doc_id").alias("tif"),
    )
    decoded = decode_images(
        framed, payload_col="tif", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    ).orderBy("doc_id")


@query(
    "multimodal_spectral_features",
    oracle="""
    SELECT doc_id,
           round((32 + doc_id % 64) * 15.625, 3) AS rolloff_hz,
           TRUE AS centroid_within_tol,
           TRUE AS bandwidth_small,
           TRUE AS flatness_small
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio spectral analysis end-to-end: per-doc WAVs carry a pure
    sine at an EXACT FFT-bin frequency (bin k = 32 + doc_id % 64 of a
    1024-sample clip at 16 kHz → f = k·15.625 Hz), synthesized by the
    pure-numpy WAV encoder in an Arrow pandas UDF and analyzed by the REAL
    rFFT feature stage (operators/multimodal.py:spectral_audio →
    operators/audio.py:spectral_features). A bin-exact tone concentrates
    all power in one bin, so the 85% rolloff lands on the bin frequency
    EXACTLY; centroid (±0.01 Hz), bandwidth (<2 Hz, int16 quantization
    noise floor) and flatness (≈0 for a pure tone) are asserted Spark-side
    as booleans the oracle requires TRUE."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import spectral_audio

    @F.pandas_udf("binary")
    def make_tone(doc_id):
        import numpy as np

        from datapipelines_spark.operators.audio import encode_wav

        out = []
        n, sr = 1024, 16000
        t = np.arange(n)
        for i in doc_id:
            k = 32 + int(i) % 64
            s = np.round(12000.0 * np.sin(2 * np.pi * k * t / n)).astype(
                np.int16
            )
            out.append(encode_wav(s.reshape(-1, 1), sr))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_tone("doc_id").alias("wav"),
    )
    feats = spectral_audio(framed, payload_col="wav", on_error="fail")
    did = F.col("__key__").cast("bigint")
    f_expect = (F.lit(32) + did % 64).cast("double") * 15.625
    return feats.select(
        did.alias("doc_id"),
        F.round("rolloff_hz", 3).alias("rolloff_hz"),
        (F.abs(F.col("centroid_hz") - f_expect) < 0.01).alias(
            "centroid_within_tol"
        ),
        (F.col("bandwidth_hz") < 2.0).alias("bandwidth_small"),
        (F.col("flatness") < 1e-3).alias("flatness_small"),
    ).orderBy("doc_id")


@query(
    "multimodal_adpcm_decode",
    oracle="""
    SELECT doc_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
           round((800 + (doc_id % 5) * 160) / 16000.0, 6) AS duration_s,
           round((500 + (doc_id * 13) % 2000) / 32768.0, 6) AS rms_bin0
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode end-to-end: per-doc IMA/DVI ADPCM WAVs
    (format 0x11, 4:1 over PCM16 — the common compressed speech
    interchange) are encoded by the pure-Python encoder in an Arrow pandas
    UDF, then decoded by the REAL ADPCM decoder inside the decode_audio
    stage. Constant-amplitude signals round-trip ADPCM BIT-EXACTLY (every
    nibble is 0 and step 7>>3 == 0 — tested), so rate/channels/duration
    AND the loudness envelope are all formula-exact for the oracle, the
    same contract as multimodal_wav_decode."""
    import pandas as pd

    from datapipelines_spark.operators.audio import real_audio_decode
    from datapipelines_spark.operators.multimodal import decode_audio

    @F.pandas_udf("binary")
    def make_adpcm(doc_id):
        import numpy as np

        from datapipelines_spark.operators.audio import encode_wav_ima_adpcm

        out = []
        for i in doc_id:
            i = int(i)
            ch = 1 + i % 2
            n = 800 + (i % 5) * 160
            amp = 500 + (i * 13) % 2000
            s = np.full((n, ch), amp, dtype=np.int16)
            out.append(encode_wav_ima_adpcm(s, 16000))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_adpcm("doc_id").alias("wav"),
    )
    decoded = decode_audio(
        framed, payload_col="wav", decode_fn=real_audio_decode, on_error="fail"
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("duration_s", 6).alias("duration_s"),
        F.round(F.element_at("envelope", 1), 6).alias("rms_bin0"),
    ).orderBy("doc_id")


@query(
    "multimodal_flac_decode",
    oracle="""
    SELECT doc_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
           round((960 + (doc_id % 4) * 320) / 16000.0, 6) AS duration_s,
           round((700 + (doc_id * 31) % 3000) / 32768.0, 6) AS rms_bin0
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-compressed-audio decode end-to-end: per-doc FLAC
    streams (FIXED-predictor frames, Rice residuals — the pure-Python
    subset codec in operators/flaccodec.py, CRC-verified) are encoded in
    an Arrow pandas UDF and decoded by the magic-byte audio router inside
    decode_audio. FLAC is lossless, so constant-amplitude clips make
    rate/channels/duration AND the loudness envelope formula-exact for
    the oracle — the same contract as the WAV and ADPCM queries."""
    import pandas as pd

    from datapipelines_spark.operators.audio import real_audio_decode
    from datapipelines_spark.operators.multimodal import decode_audio

    @F.pandas_udf("binary")
    def make_flac(doc_id):
        import numpy as np

        from datapipelines_spark.operators.flaccodec import encode_flac

        out = []
        for i in doc_id:
            i = int(i)
            ch = 1 + i % 2
            n = 960 + (i % 4) * 320
            amp = 700 + (i * 31) % 3000
            s = np.full((n, ch), amp, dtype=np.int16)
            out.append(encode_flac(s, 16000, block_size=512))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_flac("doc_id").alias("wav"),
    )
    decoded = decode_audio(
        framed, payload_col="wav", decode_fn=real_audio_decode, on_error="fail"
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("duration_s", 6).alias("duration_s"),
        F.round(F.element_at("envelope", 1), 6).alias("rms_bin0"),
    ).orderBy("doc_id")


@query(
    "multimodal_avi_frames",
    oracle="""
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(16 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           TRUE AS mean_within_tol
    FROM documents CROSS JOIN range(0, 4) t(j)
    WHERE j < 2 + doc_id % 3
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-video demux end-to-end: per-doc MJPEG AVIs (2-4
    solid-color JPEG frames in a spec-conforming RIFF/AVI container,
    operators/video.py:build_test_avi) are demuxed by walking the RIFF
    chunk tree and every frame is decoded by the pure-numpy T.81 decoder
    — one output row per frame (explode shape). Frame indices and
    dimensions are oracle-exact; the per-frame mean pixel is asserted
    within lossy tolerance Spark-side as a boolean the oracle requires
    TRUE. Inter-frame codecs (H.26x/VPx/AV1) remain external, stated
    plainly in operators/video.py."""
    import pandas as pd
    import pyspark.sql.types as T

    @F.pandas_udf("binary")
    def make_avi(doc_id):
        import numpy as np

        from datapipelines_spark.operators.jpegcodec import encode_jpeg
        from datapipelines_spark.operators.video import build_test_avi

        out = []
        for i in doc_id:
            i = int(i)
            n = 2 + i % 3
            frames = [
                encode_jpeg(
                    np.full((16, 16, 3), (i * 29 + 40 * j) % 256, dtype=np.uint8),
                    quality=90,
                )
                for j in range(n)
            ]
            out.append(build_test_avi(frames, 16, 16, fps=10))
        return pd.Series(out)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("mean_within_tol", T.BooleanType()),
        ]
    )

    def demux(batches):
        import numpy as np

        from datapipelines_spark.operators.jpegcodec import decode_jpeg
        from datapipelines_spark.operators.video import avi_mjpeg_frames

        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["avi"]):
                did = int(did)
                for j, frame in enumerate(avi_mjpeg_frames(bytes(payload))):
                    arr = decode_jpeg(frame)
                    expect = (did * 29 + 40 * j) % 256
                    rows.append(
                        {
                            "doc_id": did,
                            "frame_idx": j,
                            "width": arr.shape[1],
                            "height": arr.shape[0],
                            "mean_within_tol": bool(
                                abs(float(arr.mean()) - expect) < 2.0
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    d = load_table(spark, sf_dir, "documents")
    framed = d.select("doc_id", make_avi("doc_id").alias("avi"))
    return framed.mapInPandas(demux, schema).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_y4m_frames",
    oracle="""
    SELECT doc_id,
           CAST(j AS BIGINT) AS frame_idx,
           CAST(24 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           CAST((doc_id * 19 + 32 * j) % 256 AS BIGINT) AS mean_luma
    FROM documents CROSS JOIN range(0, 3) t(j)
    WHERE j < 1 + doc_id % 3
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-video decode end-to-end: per-doc YUV4MPEG2 streams (1-3
    constant-luma Cmono frames) are encoded and parsed by
    operators/video.py:{encode,decode}_y4m inside one Arrow stage — one
    row per frame. Y4M is uncompressed, so the per-frame mean luma is
    EXACT for the oracle."""
    import pandas as pd
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("mean_luma", T.LongType()),
        ]
    )

    def roundtrip(batches):
        import numpy as np

        from datapipelines_spark.operators.video import decode_y4m, encode_y4m

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1 + did % 3
                frames = [
                    np.full((16, 24), (did * 19 + 32 * j) % 256, dtype=np.uint8)
                    for j in range(n)
                ]
                dec, hdr = decode_y4m(encode_y4m(frames, fps=25))
                for j, f in enumerate(dec):
                    rows.append(
                        {
                            "doc_id": did,
                            "frame_idx": j,
                            "width": hdr["width"],
                            "height": hdr["height"],
                            "mean_luma": int(f.mean()),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(roundtrip, schema).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_dhash_neardup",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               4 + length(source) % 5 AS w,
               3 + length(lang) % 4 AS h,
               substr(repeat(md5(lang || ':' || source), 5), 1,
                      CAST((4 + length(source) % 5)
                           * (3 + length(lang) % 4) * 3 AS INT)) AS px
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
    ),
    g AS (
        SELECT doc_id, w, h, y2.range AS y, x2.range AS x,
               (LEAST((y2.range * h) // 8, h - 1) * w
                + LEAST((x2.range * w) // 9, w - 1)) * 3 AS base, px
        FROM b, range(0, 8) AS y2, range(0, 9) AS x2
    ),
    gg AS (
        SELECT doc_id, w, h, y, x,
               (299 * ascii(substr(px, base + 1, 1))
                + 587 * ascii(substr(px, base + 2, 1))
                + 114 * ascii(substr(px, base + 3, 1))) // 1000 AS gray
        FROM g
    ),
    bits AS (
        SELECT a.doc_id, a.w, a.h, a.y, a.x,
               CASE WHEN a.gray > c.gray THEN 1 ELSE 0 END AS bit
        FROM gg a
        JOIN gg c ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
        WHERE a.x < 8
    ),
    hb AS (
        SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
               SUM(CASE WHEN bit = 1 THEN (1::HUGEINT << (y * 8 + x))
                        ELSE 0::HUGEINT END) AS s
        FROM bits GROUP BY doc_id
    ),
    hh AS (
        SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM hb
    ),
    grp AS (
        SELECT dhash, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
        FROM hh GROUP BY dhash
    )
    SELECT hh.doc_id, hh.width, hh.height, hh.dhash,
           grp.n_copies, grp.canonical_doc_id
    FROM hh JOIN grp USING (dhash)
    ORDER BY hh.doc_id
    """,
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (operators/imageops.py:dhash_images): each
    document's P6 PPM frame (the multimodal_ppm_decode fixture) is decoded
    by the real codec, dHashed — integer grayscale, 8x9 nearest-neighbor
    grid, 64 gradient bits — and grouped by hash into duplicate-image
    clusters with a min-id canonical. Every arithmetic step is integer, so
    the oracle replays the hash bit-for-bit from the raster formula; docs
    with identical text produce identical images and MUST land in one
    cluster."""
    from datapipelines_spark.operators.imageops import dhash_images

    d = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # one synthetic image per (lang, source) slice: the fixture contrivance
    # that yields REAL duplicate multiplicities for the hash-grouping to
    # find (the corpus has no exact-duplicate texts at sf0.01); production
    # images arrive as opaque binary columns and hash per row
    img_key = F.concat_ws(":", F.col("lang"), F.col("source"))
    w = (F.lit(4) + F.length("source") % 5).cast("int")
    h = (F.lit(3) + F.length("lang") % 4).cast("int")
    n_px = (w * h * 3).cast("int")
    raster = F.substring(
        F.repeat(F.md5(F.encode(img_key, "utf-8")), 5), 1, 160
    )
    header = F.concat_ws(
        "", F.lit("P6\n"), w.cast("string"), F.lit(" "),
        h.cast("string"), F.lit("\n255\n"),
    )
    payload = F.concat(
        F.encode(header, "utf-8"),
        F.encode(F.expr("substring(raster, 1, n_px)"), "utf-8"),
    )
    framed = (
        d.withColumn("raster", raster)
        .withColumn("n_px", n_px)
        .withColumn("__key__", F.col("doc_id").cast("string"))
        .withColumn("ppm", payload)
    )
    hd = dhash_images(framed, payload_col="ppm", key_col="__key__").select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "dhash",
    )
    grp = hd.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )
    return (
        hd.join(grp, "dhash")
        .select("doc_id", "width", "height", "dhash", "n_copies", "canonical_doc_id")
        .orderBy("doc_id")
    )


# Shared by multimodal_dhash_near_pairs and multimodal_image_dedup_pipeline:
# the synthetic image set (one per distinct (lang, source), plus a planted
# 2x-upscaled one-pixel-repainted near-dup for half of them) replayed as
# oracle CTEs ending at hh(img, dh) — the per-image 64-bit dHash.
_DHASH_SET_SQL = """
    imgs AS (SELECT DISTINCT lang, source FROM documents
             WHERE lang IS NOT NULL AND source IS NOT NULL),
    b AS (
        SELECT lang || ':' || source AS img,
               4 + length(source) % 5 AS w,
               3 + length(lang) % 4 AS h,
               substr(repeat(md5(lang || ':' || source), 5), 1, 160) AS px,
               (length(source) % 2 = 0) AS has_v
        FROM imgs
    ),
    g AS (
        SELECT img, w, h, has_v, y2.range AS y, x2.range AS x,
               (LEAST((y2.range * h) // 8, h - 1) * w
                + LEAST((x2.range * w) // 9, w - 1)) * 3 AS base, px
        FROM b, range(0, 8) AS y2, range(0, 9) AS x2
    ),
    gg AS (
        SELECT img, w, h, has_v, y, x,
               (299 * ascii(substr(px, base + 1, 1))
                + 587 * ascii(substr(px, base + 2, 1))
                + 114 * ascii(substr(px, base + 3, 1))) // 1000 AS gray
        FROM g
    ),
    -- variant = 2x nearest upscale + upscaled pixel (0,0) repainted 'zzz'.
    -- Nearest-index composition: grid cell (y,x) of the 2h x 2w image reads
    -- upscaled pixel ((y*2h)//8, (x*2w)//9), which copies base pixel
    -- (((y*2h)//8)//2, ((x*2w)//9)//2) = ((y*h)//8, (x*w)//9) -- the base
    -- grid cell -- so only cells sampling upscaled (0,0) change (gray 122).
    vg AS (
        SELECT img || '~v' AS img, y, x,
               CASE WHEN (y * 2 * h) // 8 = 0 AND (x * 2 * w) // 9 = 0
                    THEN 122 ELSE gray END AS gray
        FROM gg WHERE has_v
    ),
    allg AS (
        SELECT img, y, x, gray FROM gg
        UNION ALL SELECT img, y, x, gray FROM vg
    ),
    bits AS (
        SELECT a.img, a.y, a.x,
               CASE WHEN a.gray > c.gray THEN 1 ELSE 0 END AS bit
        FROM allg a
        JOIN allg c ON a.img = c.img AND a.y = c.y AND c.x = a.x + 1
        WHERE a.x < 8
    ),
    hb AS (
        SELECT img, SUM(CASE WHEN bit = 1 THEN (1::HUGEINT << (y * 8 + x))
                             ELSE 0::HUGEINT END) AS s
        FROM bits GROUP BY img
    ),
    hh AS (
        SELECT img, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                              THEN s - 18446744073709551616::HUGEINT
                              ELSE s END AS BIGINT) AS dh
        FROM hb
    )
"""


def _synthetic_image_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(img_key, ppm) — the engine-side twin of _DHASH_SET_SQL: real P6
    payloads, one per distinct (lang, source) plus the planted upscaled
    repainted variants."""
    d = load_table(spark, sf_dir, "documents")
    img_key = F.concat_ws(":", F.col("lang"), F.col("source"))
    base = (
        # Declared domain: rows with NULL lang/source carry no image key
        # (concat_ws skips NULLs while the oracle's || yields NULL), and a
        # NULL-derived ppm would crash the fail-mode decoder — filter both
        # sides identically (matching multimodal_audio_fp_pairs).
        d.where(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .select("lang", "source")
        .distinct()
        .withColumn("w", (F.lit(4) + F.length("source") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.length("lang") % 4).cast("int"))
        .withColumn(
            "raster",
            F.substring(F.repeat(F.md5(F.encode(img_key, "utf-8")), 5), 1, 160),
        )
        .withColumn("n_px", (F.col("w") * F.col("h") * 3).cast("int"))
        .withColumn("img_key", img_key)
    )
    header = F.concat_ws(
        "", F.lit("P6\n"), F.col("w").cast("string"), F.lit(" "),
        F.col("h").cast("string"), F.lit("\n255\n"),
    )
    base_rows = base.select(
        "img_key",
        F.concat(
            F.encode(header, "utf-8"),
            F.encode(F.expr("substring(raster, 1, n_px)"), "utf-8"),
        ).alias("ppm"),
    )
    # planted near-dup: 2x nearest upscale of the raster (each upscaled
    # pixel copies base pixel (r div 2, c div 2)), first pixel repainted
    up_raster = F.expr(
        """
        concat_ws('', transform(sequence(0, 4 * h * w - 1),
          p -> substring(raster,
                         (((p div (2 * w)) div 2) * w
                          + ((p % (2 * w)) div 2)) * 3 + 1, 3)))
        """
    )
    vheader = F.concat_ws(
        "", F.lit("P6\n"), (F.col("w") * 2).cast("string"), F.lit(" "),
        (F.col("h") * 2).cast("string"), F.lit("\n255\n"),
    )
    variant_rows = (
        base.where(F.length("source") % 2 == 0)
        .withColumn("up", up_raster)
        .select(
            F.concat(F.col("img_key"), F.lit("~v")).alias("img_key"),
            F.concat(
                F.encode(vheader, "utf-8"),
                F.encode(
                    F.concat(
                        F.lit("zzz"), F.expr("substring(up, 4, 4 * w * h * 3 - 3)")
                    ),
                    "utf-8",
                ),
            ).alias("ppm"),
        )
    )
    return base_rows.unionByName(variant_rows)


@query(
    "multimodal_dhash_near_pairs",
    oracle=f"""
    WITH {_DHASH_SET_SQL}
    SELECT a.img AS id_a, b2.img AS id_b,
           CAST(bit_count(xor(a.dh, b2.dh)) AS BIGINT) AS hamming
    FROM hh a JOIN hh b2 ON a.img < b2.img
    WHERE bit_count(xor(a.dh, b2.dh)) <= 7
    ORDER BY id_a, id_b
    """,
)
def multimodal_dhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup BEYOND exact hash equality
    (operators/imageops.py:dhash_near_pairs): one synthetic image per
    distinct (lang, source), plus — for half of them — a planted 2x
    nearest-upscaled copy with one repainted pixel (a resized, lightly
    re-encoded near-duplicate: byte-distinct payload, small dHash Hamming
    distance). Both payloads are REAL P6 bytes decoded by the in-repo
    codec and dHashed; pairing is Hamming-banded (8 bands x 8 bits —
    pigeonhole-exact for the <= 7 radius) with bit_count(xor)
    verification. The oracle replays both rasters' integer hash math and
    brute-forces the pairs: banding must find exactly what brute force
    finds."""
    from datapipelines_spark.operators.imageops import dhash_images, dhash_near_pairs

    hd = dhash_images(
        _synthetic_image_set(spark, sf_dir), payload_col="ppm", key_col="img_key"
    )
    pairs = dhash_near_pairs(hd, id_col="img_key", max_hamming=7, bands=8)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("id_a", "id_b")


@query(
    "multimodal_image_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE {_DHASH_SET_SQL},
    pairs AS (
        SELECT a.img AS u, b2.img AS v
        FROM hh a JOIN hh b2 ON a.img < b2.img
        WHERE bit_count(xor(a.dh, b2.dh)) <= 7
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
    SELECT hh.img,
           COALESCE(cl.cluster_id, hh.img) AS cluster_id,
           COALESCE(cl.cluster_id, hh.img) = hh.img AS is_canonical
    FROM hh LEFT JOIN clusters cl ON cl.node = hh.img
    ORDER BY hh.img
    """,
)
def multimodal_image_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed image-dedup decision, end to end: decode real payloads
    → dHash (one Arrow stage) → Hamming-banded near-pairs (pigeonhole-
    exact at radius 7) → connected components (iterative min-label
    propagation, operators/components.py) → min-id canonical per cluster;
    singleton images are their own canonical. This is the per-image
    keep/drop verdict a multimodal curation pipeline applies before
    training — the image twin of corpus_clean_pipeline's near-dup stage.
    The oracle replays the hashes, brute-forces the pair graph, and
    closes it with a recursive transitive-closure CTE (fine at fixture
    scale, quadratic in general — exactly why the engine uses label
    propagation)."""
    from datapipelines_spark.operators.components import duplicate_clusters
    from datapipelines_spark.operators.imageops import dhash_images, dhash_near_pairs

    hd = dhash_images(
        _synthetic_image_set(spark, sf_dir), payload_col="ppm", key_col="img_key"
    ).localCheckpoint()  # hashed once; pairs + the CC loop both consume it
    pairs = dhash_near_pairs(hd, id_col="img_key", max_hamming=7, bands=8)
    clusters = duplicate_clusters(pairs, src="id_a", dst="id_b")
    return (
        hd.select(F.col("img_key").alias("img"))
        .join(clusters, F.col("img") == F.col("node"), "left")
        .select(
            "img",
            F.coalesce("cluster_id", "img").alias("cluster_id"),
            F.coalesce(F.col("img") == F.col("cluster_id"), F.lit(True)).alias(
                "is_canonical"
            ),
        )
        .orderBy("img")
    )


@query(
    "multimodal_audio_fp_pairs",
    oracle="""
    WITH clips AS (SELECT DISTINCT lang, source FROM documents
                   WHERE lang IS NOT NULL AND source IS NOT NULL),
    b AS (
        SELECT lang || ':' || source AS clip,
               md5(lang || ':' || source) AS hx,
               (length(source) % 2 = 0) AS has_v
        FROM clips
    ),
    -- 65 per-frame amplitudes from the md5 hex chars (period 32); the
    -- variant re-masters frame 0 to amplitude 2000 (its 2x resample
    -- leaves the RMS contour — hence the fingerprint — untouched)
    amps AS (
        SELECT clip, has_v, j.range AS j,
               300 + 13 * ascii(substr(hx, (j.range % 32) + 1, 1)) AS amp
        FROM b, range(0, 65) AS j
    ),
    allamps AS (
        SELECT clip, j, amp FROM amps
        UNION ALL
        SELECT clip || '~v' AS clip, j,
               CASE WHEN j = 0 THEN 2000 ELSE amp END AS amp
        FROM amps WHERE has_v
    ),
    bits AS (
        SELECT a.clip, a.j,
               CASE WHEN a.amp > c.amp THEN 1 ELSE 0 END AS bit
        FROM allamps a
        JOIN allamps c ON a.clip = c.clip AND c.j = a.j + 1
        WHERE a.j < 64
    ),
    fp AS (
        SELECT clip, SUM(CASE WHEN bit = 1 THEN (1::HUGEINT << j)
                              ELSE 0::HUGEINT END) AS s
        FROM bits GROUP BY clip
    ),
    hh AS (
        SELECT clip, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                               THEN s - 18446744073709551616::HUGEINT
                               ELSE s END AS BIGINT) AS afp
        FROM fp
    )
    SELECT a.clip AS id_a, b2.clip AS id_b,
           CAST(bit_count(xor(a.afp, b2.afp)) AS BIGINT) AS hamming
    FROM hh a JOIN hh b2 ON a.clip < b2.clip
    WHERE bit_count(xor(a.afp, b2.afp)) <= 3
    ORDER BY id_a, id_b
    """,
)
def multimodal_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup end-to-end (operators/audio.py:audio_fingerprint +
    the generic Hamming banding of imageops.dhash_near_pairs): one
    synthetic 65-frame step-amplitude WAV clip per distinct (lang,
    source), plus — for half — a planted near-duplicate that is 2x
    resampled AND re-mastered in its first frame (byte-distinct payload,
    same loudness contour). The REAL WAV decoder extracts a 65-bin RMS
    envelope (constant frames make each bin exactly amp/32768 — IEEE
    sqrt of a perfect square is exact), a pure-JVM aggregate packs the 64
    delta-sign bits, and banded pairing finds clips within Hamming 3.
    The oracle replays the amplitude formula and brute-forces the pairs:
    banding must find exactly what brute force finds."""
    import functools

    from datapipelines_spark.operators.audio import (
        audio_fingerprint,
        real_audio_decode,
    )
    from datapipelines_spark.operators.imageops import dhash_near_pairs
    from datapipelines_spark.operators.multimodal import decode_audio

    @F.pandas_udf("binary")
    def make_clip(clip, is_variant):
        import hashlib

        import numpy as np
        import pandas as pd

        from datapipelines_spark.operators.audio import encode_wav

        out = []
        for key, variant in zip(clip, is_variant):
            base_key = key[:-2] if variant else key
            hx = hashlib.md5(base_key.encode()).hexdigest()
            amps = np.array(
                [300 + 13 * ord(hx[j % 32]) for j in range(65)], dtype=np.int16
            )
            if variant:
                amps[0] = 2000
            frames = np.repeat(amps, 20 if variant else 10)  # 2x resample
            out.append(encode_wav(frames[:, None], 16000))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    clip_key = F.concat_ws(":", F.col("lang"), F.col("source"))
    base = d.select("lang", "source").distinct().withColumn("clip", clip_key)
    framed = base.select(F.col("clip").alias("__key__"), F.lit(False).alias("v")).unionByName(
        base.where(F.length("source") % 2 == 0).select(
            F.concat(F.col("clip"), F.lit("~v")).alias("__key__"),
            F.lit(True).alias("v"),
        )
    ).withColumn("wav", make_clip("__key__", "v"))
    decoded = decode_audio(
        framed,
        payload_col="wav",
        decode_fn=functools.partial(real_audio_decode, envelope_bins=65),
        on_error="fail",
    )
    fp = audio_fingerprint(decoded, envelope_col="envelope", out_col="afp")
    pairs = dhash_near_pairs(
        fp, id_col="__key__", hash_col="afp", max_hamming=3, bands=8
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("id_a", "id_b")


@query(
    "fluent_pipeline_customers",
    oracle="""
    SELECT custkey, name, acct_cents, segment FROM (
        SELECT c_custkey AS custkey, UPPER(c_name) AS name,
               CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acct_cents,
               c_mktsegment AS segment
        FROM customer
        WHERE CAST('0x' || substr(md5('7-' || CAST(c_custkey AS VARCHAR)), 1, 8)
                   AS BIGINT) % 1000000 < 300000
    )
    ORDER BY custkey LIMIT 50 OFFSET 10
    """,
)
def fluent_pipeline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fluent-verb surface (§2.9, operators/fluent.py) composed end to
    end and VALUE-checked: to_tuple -> rename (webdataset keyword
    convention) -> rsample (data-keyed deterministic Bernoulli, seed 7) ->
    map_dict (per-key transforms in place) -> slice_rows (LIMIT/OFFSET
    with mandatory order). The oracle replays the portable sample hash,
    both transforms, and the ordered slice — the wds-style chain is not
    just API sugar, it is the same relational plan."""
    from datapipelines_spark.operators import fluent as fl

    c = load_table(spark, sf_dir, "customer")
    out = fl.to_tuple(c, "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    out = fl.rename(
        out,
        custkey="c_custkey",
        name="c_name",
        acctbal="c_acctbal",
        segment="c_mktsegment",
    )
    out = fl.rsample(out, 0.30, "custkey", seed=7)
    out = fl.map_dict(
        out,
        name=lambda col: F.upper(col),
        acctbal=lambda col: F.floor(col * 100).cast("bigint"),
    )
    out = fl.rename(out, acct_cents="acctbal")
    out = fl.to_tuple(out, "custkey", "name", "acct_cents", "segment")
    return fl.slice_rows(out, limit=50, offset=10, order_by=["custkey"])


@query(
    "profile_observed_orders",
    oracle="""
    SELECT COUNT(*) AS rows_seen,
           COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END)
               AS null_o_orderstatus,
           COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END)
               AS null_o_orderpriority
    FROM orders
    """,
)
def profile_observed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 profiling driver-gated: ``observed`` (operators/errors.py)
    attaches row/null counters to a scan via ``df.observe`` — metrics ride
    the SAME pass as the real work, costing zero extra jobs — and this
    query surfaces the observation as a one-row DataFrame the SQL oracle
    recounts. The counters are collected from the Observation handle after
    one action (O(1) driver data, the intended API shape)."""
    from datapipelines_spark.operators.errors import observed

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    watched, obs = observed(
        o, "orders_profile", required=["o_orderstatus", "o_orderpriority"]
    )
    watched.agg(F.count(F.lit(1))).collect()  # one action populates metrics
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_seen"], m["null_o_orderstatus"], m["null_o_orderpriority"])],
        "rows_seen bigint, null_o_orderstatus bigint, null_o_orderpriority bigint",
    )


@query(
    "multimodal_qoi_decode",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               3 + doc_id % 4 AS h,
               substr(repeat(md5(text), 5), 1,
                      CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 - 24 AS INT))
                   || repeat('A', 24) AS px
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, w AS width, h AS height, 3 AS n_channels,
           round(list_aggregate(list_transform(range(1, len(px) + 1),
                 i -> ascii(substr(px, i, 1))), 'avg') / 255.0, 6) AS mean_pixel
    FROM b ORDER BY doc_id
    """,
)
def multimodal_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode, QOI edition (operators/qoicodec.py —
    the public qoiformat.org spec): each document's md5-derived raster,
    tailed with 8 solid pixels so the encoder must emit RUN ops on every
    image (hex-char pixels already force RGB/DIFF/LUMA/INDEX), is encoded
    to QOI bytes in an Arrow pandas UDF and decoded back by the pure-
    Python decoder inside the mapInPandas stage (routed by the ``qoif``
    magic, per-call E4 timeout armed). QOI is LOSSLESS, so unlike the
    JPEG query's tolerance contract the oracle predicts the decoded mean
    pixel exactly from the raster formula — the roundtrip must be
    bit-perfect or the hash fails."""
    import pandas as pd

    from datapipelines_spark.operators.multimodal import decode_images, real_decode

    @F.pandas_udf("binary")
    def make_qoi(w, h, raster):
        import numpy as np

        from datapipelines_spark.operators.qoicodec import encode_qoi

        out = []
        for wi, hi, rs in zip(w, h, raster):
            px = np.frombuffer(rs.encode("utf-8"), dtype=np.uint8)
            out.append(encode_qoi(px.reshape(int(hi), int(wi), 3)))
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = (F.lit(4) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 4).cast("int")
    n_px = (w * h * 3).cast("int")
    raster = F.concat(
        F.expr(
            "substring(repeat(md5(text), 5), 1, "
            "int((4 + doc_id % 5) * (3 + doc_id % 4) * 3 - 24))"
        ),
        F.repeat(F.lit("A"), 24),
    )
    framed = d.select(
        F.col("doc_id").cast("string").alias("__key__"),
        make_qoi(w, h, raster).alias("qoi"),
    )
    decoded = decode_images(
        framed, payload_col="qoi", key_col="__key__",
        decode_fn=real_decode, on_error="fail", timeout_s=10.0,
    )
    return decoded.select(
        F.col("__key__").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.round("mean_pixel", 6).alias("mean_pixel"),
    ).orderBy("doc_id")
