"""Source-format coverage: CSV / JSON-lines / ORC round-trips, schema
inference, and reader-level permissive corrupt-record handling (E1 at the
source, SURVEY §7.6 risk 1)."""

import pyspark.sql.functions as F
import pytest


def test_csv_roundtrip_with_header(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 1.5).alias("v"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    p = str(tmp_path / "csv")
    df.write.option("header", True).csv(p)
    back = spark.read.option("header", True).option("inferSchema", True).csv(p)
    assert back.count() == 100
    assert dict(back.dtypes)["id"] == "int"
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_json_lines_roundtrip_nested(spark, tmp_path):
    df = spark.range(50).select(
        F.col("id"), F.struct(F.col("id").alias("a"), (F.col("id") * 2).alias("b")).alias("nested")
    )
    p = str(tmp_path / "json")
    df.write.json(p)
    back = spark.read.json(p)
    assert back.count() == 50
    assert back.select("nested.b").agg(F.sum("b")).first()[0] == sum(2 * i for i in range(50))


def test_json_permissive_corrupt_records(spark, tmp_path):
    p = tmp_path / "dirty.jsonl"
    p.write_text('{"a": 1}\nNOT JSON AT ALL\n{"a": 3}\n')
    back = (
        spark.read.schema("a long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = back.collect()
    assert len(rows) == 3
    good = [r["a"] for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert sorted(good) == [1, 3]
    assert len(bad) == 1 and "NOT JSON" in bad[0]["_corrupt_record"]
    # strict mode (E2): FAILFAST raises on the same input
    import pytest

    with pytest.raises(Exception):
        spark.read.schema("a long").option("mode", "FAILFAST").json(str(p)).collect()


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(200).select(F.col("id"), (F.col("id") % 5).alias("g"))
    p = str(tmp_path / "orc")
    df.write.orc(p)
    back = spark.read.orc(p)
    assert back.groupBy("g").count().count() == 5


def test_batched_transform_m6(spark):
    import pandas as pd

    from datapipelines_spark.operators.batched import batched_transform

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("g"))

    def per_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        out["id_sq"] = out["id"] * out["id"]
        return out[["id", "id_sq"]]

    out = batched_transform(df, per_batch, "id long, id_sq long")
    assert out.count() == 1000
    assert out.where(F.col("id_sq") != F.col("id") * F.col("id")).count() == 0


def test_batched_transform_rejects_unknown_on_error(spark):
    from datapipelines_spark.operators.batched import batched_transform

    df = spark.range(10)
    sc = spark.sparkContext
    group = "batched-transform-validation"
    sc.setJobGroup(group, "argument validation")
    try:
        with pytest.raises(ValueError, match="on_error"):
            batched_transform(df, lambda pdf: pdf, "id long", on_error="skpi")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_decode_timeout_e4(spark):
    import time

    from datapipelines_spark.operators.multimodal import decode_images

    def slow_decode(payload: bytes) -> dict:
        time.sleep(5)
        return {"width": 1, "height": 1, "n_channels": 1, "mean_pixel": 0.0}

    df = spark.createDataFrame([("k1", b"x")], "`__key__` string, jpg binary").coalesce(1)
    out = decode_images(df, decode_fn=slow_decode, on_error="quarantine", timeout_s=0.5).collect()
    assert out[0]["decode_error"] is not None and "CallTimeout" in out[0]["decode_error"]
