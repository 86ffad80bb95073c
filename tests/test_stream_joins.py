"""Streaming joins: stream-static enrichment (the dimension-join pattern)
and audio multimodal stub."""

import pyspark.sql.functions as F
import pytest


def test_stream_static_dimension_join(spark, sf_dir):
    """Enrich a stream with a broadcastable static dimension — the standard
    streaming-ETL lookup; static side re-resolves per micro-batch."""
    from datapipelines_spark.streaming.windows import read_events_stream, run_bounded_to_memory

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    enriched = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
        )
    )
    result = run_bounded_to_memory(enriched, "stream_static_join", "complete")

    from datapipelines_spark.sources.parquet import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
        )
    )
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_decode_audio_stub(spark):
    from datapipelines_spark.operators.multimodal import decode_audio
    from tests.codec_stand_ins import fake_audio_decode

    df = spark.createDataFrame(
        [("a1", b"fakewavbytes" * 100), ("a2", None)], "`__key__` string, wav binary"
    )
    out = {r["__key__"]: r for r in decode_audio(df, decode_fn=fake_audio_decode).collect()}
    assert out["a1"]["decode_error"] is None
    assert len(out["a1"]["envelope"]) == 8
    assert out["a1"]["duration_s"] == pytest.approx(1200 / 16000.0)
    assert out["a2"]["decode_error"] is not None
    # determinism: same payload -> same features
    out2 = {r["__key__"]: r for r in decode_audio(df, decode_fn=fake_audio_decode).collect()}
    assert out["a1"]["envelope"] == out2["a1"]["envelope"]
