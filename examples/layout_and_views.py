"""Warehouse layout + live views on plain parquet as one workflow.

z-order the fact table (file skipping on two dimensions) -> build a
materialized monthly rollup as mergeable state -> apply a correction delta
with retractions (no base rescan) -> audit what the commits changed with a
version diff -> tokenize the documents with an in-engine BPE model and
report the subword budget.

Run:  python examples/layout_and_views.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_spark.operators.bpe import bpe_encode, bpe_train
from datapipelines_spark.operators.incremental import (
    CNT_COL,
    aggregate_state,
    merge_states,
)
from datapipelines_spark.operators.zorder import (
    write_equal_code_layout,
    zorder_layout,
)
from datapipelines_spark.session import get_spark
from datapipelines_spark.sinks.upsert import table_diff, upsert_write
from datapipelines_spark.sources.parquet import load_table


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="layout_and_views")
    work = tempfile.mkdtemp(prefix="layout_views_")

    # --- 1. Z-order the fact table: files become (custkey, price) rectangles
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        "o_orderdate",
        "o_totalprice",
    )
    z_dir = os.path.join(work, "orders_zorder")
    write_equal_code_layout(
        zorder_layout(orders, "o_custkey", "cents", num_files=16), z_dir, "zorder"
    )
    print(f"z-ordered {spark.read.parquet(z_dir).count()} orders into {z_dir}")

    # --- 2. Materialized monthly revenue as mergeable state
    monthly = orders.select(
        F.trunc("o_orderdate", "month").alias("month"),
        F.col("o_totalprice").alias("price"),
    )
    state = aggregate_state(monthly, ["month"], ["price"])
    print(f"view state: {state.count()} months")

    # --- 3. A correction delta: retract one month's biggest orders, insert fixes
    big = monthly.where(F.col("price") > 400_000)
    delta = (
        big.withColumn("__r", F.lit(True))  # retract originals
        .unionByName(
            big.withColumn("price", F.col("price") * 0.9).withColumn(
                "__r", F.lit(False)
            )
        )
    )
    state2 = merge_states(
        state, aggregate_state(delta, ["month"], ["price"], retract_col="__r"), ["month"]
    )
    moved = (
        state.select("month", F.col("sum_price").alias("before"))
        .join(state2.select("month", F.col("sum_price").alias("after")), "month")
        .where(F.col("before") != F.col("after"))
        .count()
    )
    print(f"correction touched {moved} months without rescanning the base")

    # --- 4. Version diff on an upsert table: what did the commits do?
    tbl = os.path.join(work, "orders_tbl")
    upsert_write(orders.select("o_orderkey", "o_totalprice"), tbl)
    upsert_write(
        orders.where(F.col("o_orderkey") % 100 == 0).select(
            "o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice")
        ),
        tbl,
    )
    changes = table_diff(spark, tbl, ["o_orderkey"], 0, 1)
    print("commit audit:", {r["change"]: r["n"] for r in changes.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()})

    # --- 5. BPE budget report
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    merges = bpe_train(docs, "text", num_merges=50, max_words=20_000)
    toks = bpe_encode(docs, "text", "doc_id", merges)
    stats = toks.agg(
        F.sum(F.size("tokens")).alias("subword_tokens"),
        F.count(F.lit(1)).alias("docs"),
    ).collect()[0]
    print(
        f"BPE budget: {stats['subword_tokens']} subword tokens over "
        f"{stats['docs']} docs ({len(merges)} merges)"
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
