"""foreachBatch bridge: batch operators inside a streaming query."""

import pyspark.sql.functions as F


def test_foreach_batch_runs_batch_operators(spark, sf_dir, tmp_path):
    from datapipelines_spark.streaming.sinks import foreach_batch_pipeline
    from datapipelines_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    out_path = str(tmp_path / "out")

    def quality_stage(df):
        return df.where(F.col("value") > 100).withColumn(
            "value_bucket", F.floor(F.col("value") / 100).cast("long")
        )

    def sink(df, epoch_id):
        df.write.mode("append").parquet(out_path)

    q = foreach_batch_pipeline(
        stream,
        stages=[quality_stage],
        sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    written = spark.read.parquet(out_path)
    from datapipelines_spark.sources.parquet import load_table

    expected = load_table(spark, sf_dir, "events").where(F.col("value") > 100).count()
    assert written.count() == expected
    assert written.where(F.col("value") <= 100).count() == 0
    assert "value_bucket" in written.columns


def test_rate_source_smoke(spark):
    """Unbounded built-in source wiring (production entry for soak tests)."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        .withColumn("bucket", F.col("value") % 10)
        .groupBy("bucket")
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        # bounded poll, not a fixed sleep: under load the first micro-batch
        # can take >4 s to land; deadline generous, exit early
        deadline = time.monotonic() + 60
        rows = 0
        while time.monotonic() < deadline:
            rows = spark.table("rate_smoke").count()
            if rows > 0:
                break
            time.sleep(0.5)
        assert rows > 0, f"no micro-batch landed within 60s; lastProgress={q.lastProgress}"
    finally:
        q.stop()
