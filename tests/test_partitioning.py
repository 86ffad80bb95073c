"""parallelize_small (functions/partitioning.py): a partition-count floor
that never coalesces and passes streaming frames through."""

from datapipelines_spark.functions.partitioning import parallelize_small


def test_parallelize_small_is_floor_not_coalesce(spark):
    narrow = spark.range(100).coalesce(1)
    widened = parallelize_small(narrow, min_partitions=4)
    assert widened.rdd.getNumPartitions() >= 4
    wide = spark.range(100).repartition(8)
    assert parallelize_small(wide, min_partitions=4) is wide


def test_parallelize_small_probes_each_input(spark, tmp_path):
    """A narrow and a wide parquet dir with one schema have the same plan
    string; the wide one must be probed itself and returned unchanged."""
    narrow_dir, wide_dir = str(tmp_path / "narrow"), str(tmp_path / "wide")
    spark.range(10).coalesce(1).write.parquet(narrow_dir)
    spark.range(80).repartition(8).write.parquet(wide_dir)
    narrow = spark.read.parquet(narrow_dir)
    assert narrow.rdd.getNumPartitions() == 1
    assert parallelize_small(narrow, min_partitions=4) is not narrow
    wide = spark.read.parquet(wide_dir)
    assert wide.rdd.getNumPartitions() >= 4
    assert parallelize_small(wide, min_partitions=4) is wide


def test_parallelize_small_passes_streaming_frames_through(spark):
    stream = spark.readStream.format("rate").load()
    assert parallelize_small(stream, min_partitions=64) is stream
