"""Bounded-replay Structured Streaming queries — the driver-checkable face of
datapipelines_spark/streaming/.

Each builder runs a REAL streaming query (readStream file source → stateful
operator → memory sink, ``trigger(availableNow=True)``) to completion and
returns the sink table, so the DuckDB oracle can verify the stream's
semantics — including what watermarking emits — not just a batch rewrite.

Emission rule encoded in the oracles (verified empirically on Spark 4.1):
with ``withWatermark(delay)`` and append output mode, the final watermark of
a bounded replay is ``max(event_ts) - delay``, and a no-data batch after the
last file flushes every window whose ``end <= watermark``. A window whose
end lands exactly on ``max_ts`` IS emitted; the window containing ``max_ts``
is not (its state would still be open on an unbounded stream).

Timestamps are exported as epoch-microsecond BIGINTs (``F.unix_micros``):
streaming needs TimestampType (not NTZ) for watermarks, and instants survive
any session timezone the driver happens to run under.

Reference parity: the reference library is purely epoch-iterating
(SURVEY.md §2.10 — no event-time semantics); these queries define the
engine's unbounded counterparts per sdata's gap surface.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.streaming.windows import read_events_stream, run_bounded_to_memory

# Memory-sink table names must be unique per started query within a session
# (bench re-runs each builder several times).
_SINK_SEQ = itertools.count()


def _sink_name(prefix: str) -> str:
    return f"{prefix}_{next(_SINK_SEQ)}"


@query(
    "stream_tumbling_1h_replay",
    oracle="""
    WITH e AS (
        SELECT epoch_us(ts) AS us, event_type, value FROM events
    ),
    m AS (SELECT MAX(us) AS max_us FROM e)
    SELECT (us - us % 3600000000) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           SUM(value) AS sum_value
    FROM e, m
    WHERE (us - us % 3600000000) + 3600000000 <= max_us
    GROUP BY 1, 2
    ORDER BY window_start_us, event_type
    """,
)
def stream_tumbling_1h_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type, run as a real append-mode
    stream with a zero-delay watermark over a bounded file replay.

    The oracle keeps only windows with ``end <= max(ts)`` — exactly the set
    the final watermark flushes; the trailing open window stays in state.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    out = run_bounded_to_memory(agg, _sink_name("stream_tumbling"), output_mode="append")
    return out.orderBy("window_start_us", "event_type")


@query(
    "stream_dedup_exact_replay",
    oracle="""
    SELECT DISTINCT md5(text) AS content_hash FROM documents ORDER BY content_hash
    """,
)
def stream_dedup_exact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on a content hash over a
    bounded document replay (append mode, state = one 32-byte key per
    distinct document, exactly the batch operator's shuffle footprint).

    Only the hash column is emitted, so the result is the distinct-hash SET —
    independent of which duplicate arrives first — and DuckDB can oracle it
    with a plain DISTINCT.
    """
    import os

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    from datapipelines_spark.streaming.windows import stage_file_as_dir

    path = stage_file_as_dir(os.path.join(sf_dir, "documents.parquet"))
    raw = spark.readStream.schema(schema).parquet(path)
    deduped = (
        raw.select(F.md5(F.encode(F.col("text"), "utf-8")).alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )
    out = run_bounded_to_memory(deduped, _sink_name("stream_dedup"), output_mode="append")
    return out.orderBy("content_hash")


@query(
    "stream_session_6h_replay",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 21600000000
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           SUM(value) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_6h_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (6-hour gap) per user as a REAL stream: dynamic
    merging session state, complete-output bounded replay, so the final
    memory-sink table is the full session set — compared against the same
    gaps-and-islands oracle as the batch query (events_session_windows).
    State posture at scale: one open session struct per active user, evicted
    by the watermark; complete mode here is only the bounded-replay harness.
    """
    from datapipelines_spark.streaming.windows import session_aggregate

    ev = read_events_stream(spark, sf_dir)
    agg = session_aggregate(ev, gap="6 hours", watermark="12 hours").select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        "n_events",
        "sum_value",
    )
    out = run_bounded_to_memory(agg, _sink_name("stream_session"), output_mode="complete")
    return out.orderBy("user_id", "session_start_us")


@query(
    "stream_sliding_1h30m_replay",
    oracle="""
    WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
    m AS (SELECT MAX(us) AS max_us FROM e),
    w AS (
        SELECT us - us % 1800000000 AS ws, value FROM e
        UNION ALL
        SELECT us - us % 1800000000 - 1800000000 AS ws, value FROM e
    )
    SELECT ws AS window_start_us,
           COUNT(*) AS n_events,
           SUM(value) AS sum_value
    FROM w, m
    WHERE ws + 3600000000 <= max_us
    GROUP BY ws
    ORDER BY window_start_us
    """,
)
def stream_sliding_1h30m_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes as an append-mode stream with
    a zero-delay watermark over a bounded replay. Each event lands in
    width/slide = 2 windows (the oracle materializes both window starts per
    event); the final watermark flushes windows with end <= max(ts), the
    trailing open windows stay in state — same emission rule as
    stream_tumbling_1h_replay."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )
    out = run_bounded_to_memory(agg, _sink_name("stream_sliding"), output_mode="append")
    return out.orderBy("window_start_us")


@query(
    "stream_stream_join_replay",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts AS click_ts, event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id AS p_user_id, ts AS purchase_ts, event_id AS purchase_id,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, click_id, purchase_id, purchase_value
    FROM clicks JOIN purchases
      ON user_id = p_user_id
     AND purchase_ts >= click_ts
     AND purchase_ts <= click_ts + INTERVAL 6 HOURS
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution: click -> purchase within 6
    hours by the same user), both sides watermarked, run as a real
    append-mode stream over a bounded replay. Inner-join matches emit as they
    arrive; the watermarks bound both sides' join state (each side buffers
    only rows newer than watermark - interval). The oracle is the plain
    relational interval join."""
    ev = read_events_stream(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = (
        clicks.withWatermark("click_ts", "1 hour")
        .join(
            purchases.withWatermark("purchase_ts", "1 hour"),
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .select("user_id", "click_id", "purchase_id", "purchase_value")
    )
    out = run_bounded_to_memory(joined, _sink_name("stream_ss_join"), output_mode="append")
    return out.orderBy("user_id", "click_id", "purchase_id")


@query(
    "stream_stateful_user_stats_replay",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(value) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_user_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py): per-user running (count, sum, max) with one
    small state tuple per key, replayed bounded in update mode. The memory
    sink keeps every per-batch emission; counts/sums/maxes only grow, so the
    per-user MAX over emissions is the final state — which must equal the
    plain batch aggregate (the oracle). This is the driver-checkable face of
    the reference's arbitrary per-sample Python accumulators run unbounded.
    """
    from datapipelines_spark.streaming.stateful import user_running_stats

    ev = read_events_stream(spark, sf_dir)
    out = run_bounded_to_memory(
        user_running_stats(ev), _sink_name("stream_stateful"), output_mode="update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
            F.max("max_value").alias("max_value"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_static_join_replay",
    oracle="""
    WITH e AS (
        SELECT epoch_us(ts) AS us, user_id, value FROM events
    ),
    j AS (
        SELECT e.us, e.value, c.c_mktsegment
        FROM e JOIN customer c ON e.user_id = c.c_custkey
    ),
    m AS (SELECT MAX(us) AS max_us FROM e)
    SELECT (us - us % 21600000000) AS window_start_us,
           c_mktsegment,
           COUNT(*) AS n_events,
           SUM(value) AS sum_value
    FROM j, m
    WHERE (us - us % 21600000000) + 21600000000 <= max_us
    GROUP BY 1, 2
    ORDER BY window_start_us, c_mktsegment
    """,
)
def stream_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production streaming
    shape (events stream ⋈ broadcast dimension, then windowed rollup): the
    event stream joins the static customer table on user_id and aggregates
    tumbling 6-hour windows per market segment, run as a REAL append-mode
    stream over a bounded replay. The static side re-resolves per
    micro-batch in Spark (dimension updates are picked up); the watermark
    governs emission exactly as in the pure-window replays — the oracle
    keeps windows with end <= max(ts)."""
    from datapipelines_spark.sources.parquet import load_table

    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    agg = (
        joined.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    out = run_bounded_to_memory(
        agg, _sink_name("stream_static_join"), output_mode="append"
    )
    return out.orderBy("window_start_us", "c_mktsegment")


def _minhash_bands_oracle() -> str:
    from datapipelines_spark.queries.dedup import minhash_bands_oracle

    return minhash_bands_oracle()


@query("stream_minhash_bands_replay", oracle=_minhash_bands_oracle())
def stream_minhash_bands_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup bucket construction: MinHash(16) signatures (the
    batch operators' Arrow shingle+minhash stage) and LSH(4x4) band keys
    computed on a bounded document replay, deduplicated on (band_id,
    band_key) in append mode — the incremental half of the batch
    dedup_minhash_lsh pipeline (a new document whose band key hits
    existing state is a near-dup candidate; here the emitted DISTINCT
    bucket-key SET is the oracle-checkable part, independent of arrival
    order). State is one fixed-width 32-byte key per
    bucket ever seen — the same footprint as the batch shuffle keys; a
    production deployment bounds it with a watermark on ingest time."""
    import os

    from pyspark.sql import types as T

    from datapipelines_spark.operators.dedup import lsh_band_keys, minhash_signatures
    from datapipelines_spark.queries.dedup import _MINHASH
    from datapipelines_spark.streaming.windows import stage_file_as_dir

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    path = stage_file_as_dir(os.path.join(sf_dir, "documents.parquet"))
    raw = spark.readStream.schema(schema).parquet(path)
    sig = minhash_signatures(raw, "text", "doc_id", _MINHASH)
    bands = (
        lsh_band_keys(sig, "doc_id", _MINHASH)
        .select(F.col("band_id").cast("int").alias("band_id"), "band_key")
        .dropDuplicates(["band_id", "band_key"])
    )
    out = run_bounded_to_memory(
        bands, _sink_name("stream_minhash_bands"), output_mode="append"
    )
    return out.orderBy("band_id", "band_key")


@query(
    "stream_incremental_view_replay",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_incremental_view_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance
    (operators/incremental.py:incremental_state_sink): the events fixture
    is staged as 8 parquet files and replayed one file per micro-batch
    (``maxFilesPerTrigger=1``), each batch folding its partial aggregate
    into the on-disk state table — per-batch cost O(|state| + |batch|),
    never the stream's history. After the bounded replay the state must
    equal the batch aggregate of the whole fixture (the oracle), which is
    exactly the IVM correctness statement; decimal accumulators make the
    8-way merge order-independent. State and checkpoint reset per build,
    so repeated runs are deterministic."""
    import os
    import shutil

    from datapipelines_spark.operators.incremental import (
        CNT_COL,
        incremental_state_sink,
    )
    from datapipelines_spark.sources.parquet import load_table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join("/tmp", f"spark_graft_ivm_{tag}")
    src = os.path.join(base, "src")
    if not os.path.isdir(src):
        (
            load_table(spark, sf_dir, "events")
            .select("event_type", "value")
            .repartition(8)
            .write.mode("overwrite")
            .parquet(src)
        )
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_state_sink(state, ["event_type"], ["value"])
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(state)
        .select(
            "event_type",
            F.col(CNT_COL).alias("n_events"),
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_incremental_distinct_replay",
    oracle="""
    SELECT month,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_custkey
        FROM orders
        WHERE o_orderkey % 13 <> 0
    )
    GROUP BY month
    ORDER BY month
    """,
)
def stream_incremental_distinct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact COUNT(DISTINCT) maintenance under retractions:
    the orders fixture becomes a changelog stream —
    one insert row per order plus a RETRACTION row for every
    ``o_orderkey % 13 == 0`` order (an upstream correction) — staged as 8
    files and replayed one per micro-batch through
    ``incremental_state_sink`` keyed on (month, customer), i.e. the
    signed-multiplicity auxiliary state of
    ``operators/incremental.py:distinct_state``. ``distinct_view`` over
    the final state is the exact per-month distinct-customer count.

    The deliberately-exercised edge: a customer whose ONLY order in a
    month is a %13 one is FULLY retracted — the (month, customer) pair's
    multiplicity returns to zero and the customer must vanish from that
    month's count (at sf0.01 this deletes hundreds of month-customer
    pairs). Signed multiplicities make the fold independent of which
    micro-batch an insert or its retraction lands in, so the
    nondeterministic 8-way file split cannot change the view; the oracle
    recomputes the surviving distinct count directly. Per-batch cost is
    O(|state| + |batch|), never the stream's history."""
    import os
    import shutil

    from datapipelines_spark.operators.incremental import (
        distinct_view,
        incremental_state_sink,
    )
    from datapipelines_spark.sources.parquet import load_table

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join("/tmp", f"spark_graft_ivmd_{tag}")
    src = os.path.join(base, "src")
    if not os.path.isdir(src):
        orders = load_table(spark, sf_dir, "orders").select(
            F.trunc(F.col("o_orderdate"), "month").alias("month"),
            "o_custkey",
            "o_orderkey",
        )
        inserts = orders.select(
            "month", "o_custkey", F.lit(False).alias("retract")
        )
        retractions = orders.where(F.col("o_orderkey") % 13 == 0).select(
            "month", "o_custkey", F.lit(True).alias("retract")
        )
        (
            inserts.unionByName(retractions)
            .repartition(8)
            .write.mode("overwrite")
            .parquet(src)
        )
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_state_sink(
                state, ["month", "o_custkey"], [], retract_col="retract"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        distinct_view(spark.read.parquet(state), ["month"])
        .select("month", F.col("n_distinct").alias("n_customers"))
        .orderBy("month")
    )


@query(
    "stream_incremental_minmax_replay",
    oracle="""
    WITH ranked AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_totalprice, o_orderkey,
               row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
                                  ORDER BY o_totalprice DESC, o_orderkey ASC)
                   AS rn
        FROM orders
    )
    SELECT month,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM ranked
    WHERE rn <> 1 AND o_orderkey % 13 <> 0
    GROUP BY month
    ORDER BY month
    """,
)
def stream_incremental_minmax_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact MIN/MAX maintenance under retractions: the orders
    fixture becomes a changelog — one insert per order plus a RETRACTION
    for (a) every ``o_orderkey % 13 == 0`` order and (b) each month's
    single highest-priced order (ties broken by orderkey; an order in
    both sets is retracted once) — staged as 8 files and replayed one per
    micro-batch through ``incremental_state_sink`` keyed on
    (month, price), i.e. the signed-multiplicity state of
    ``operators/incremental.py``. ``extreme_view`` over the final state
    is the exact per-month min/max.

    The deliberately-exercised edge is the one a scalar accumulator
    cannot survive: retraction (b) deletes EVERY month's current maximum,
    so the view must fall back to the runner-up price — only the
    per-(keys, value) multiplicity table knows it. Signed multiplicities
    make the fold independent of the nondeterministic 8-way file split
    (an insert and its retraction may land in any micro-batch order); the
    oracle recomputes min/max over the surviving orders directly.
    Retractions (a) and (b) are built as ONE predicate over the ranked
    changelog so an order matching both is never double-retracted (a -1
    multiplicity would wrongly re-enter the ``cnt != 0`` view). Doubles
    are only compared, never arithmetic'd, so the replay is bit-portable.
    Per-batch cost is O(|state| + |batch|), never the stream's history."""
    import os
    import shutil

    from datapipelines_spark.operators.incremental import (
        extreme_view,
        incremental_state_sink,
    )
    from datapipelines_spark.sources.parquet import load_table
    from pyspark.sql import Window

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join("/tmp", f"spark_graft_ivmx_{tag}")
    src = os.path.join(base, "src")
    if not os.path.isdir(src):
        wmax = Window.partitionBy("month").orderBy(
            F.desc("price"), F.asc("o_orderkey")
        )
        orders = (
            load_table(spark, sf_dir, "orders")
            .select(
                F.trunc(F.col("o_orderdate"), "month").alias("month"),
                F.col("o_totalprice").alias("price"),
                "o_orderkey",
            )
            .withColumn("__rn", F.row_number().over(wmax))
        )
        inserts = orders.select("month", "price", F.lit(False).alias("retract"))
        retractions = orders.where(
            (F.col("__rn") == 1) | (F.col("o_orderkey") % 13 == 0)
        ).select("month", "price", F.lit(True).alias("retract"))
        (
            inserts.unionByName(retractions)
            .repartition(8)
            .write.mode("overwrite")
            .parquet(src)
        )
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_state_sink(
                state, ["month", "price"], [], retract_col="retract"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        extreme_view(spark.read.parquet(state), ["month"], "price")
        .select(
            "month",
            F.col("min_price").alias("min_price"),
            F.col("max_price").alias("max_price"),
        )
        .orderBy("month")
    )


@query(
    "stream_topk_types_replay",
    oracle="""
    WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
    m AS (SELECT MAX(us) AS max_us FROM e),
    w AS (
        SELECT (us - us % 21600000000) AS window_start_us,
               event_type, COUNT(*) AS n_events
        FROM e, m
        WHERE (us - us % 21600000000) + 21600000000 <= max_us
        GROUP BY 1, 2
    )
    SELECT window_start_us, event_type, n_events, rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY window_start_us
                                     ORDER BY n_events DESC,
                                              event_type ASC) AS rank
        FROM w
    )
    WHERE rank <= 3
    ORDER BY window_start_us, rank
    """,
)
def stream_topk_types_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 3 busiest event types per tumbling 6-hour
    window. Append mode cannot rank AFTER a streaming aggregate (the rank
    of an open window is unknowable), so the operator splits the standard
    way: the STREAM maintains the windowed counts and emits each window
    once its watermark closes it; the bounded per-window top-k is a batch
    window over the flushed sink — per-window work is |event types|, not
    stream volume. The oracle replays both halves plus the emission rule
    (only windows with end <= max event time flush)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    flushed = run_bounded_to_memory(
        agg, _sink_name("stream_topk_types"), output_mode="append"
    )
    from pyspark.sql import Window

    rk = Window.partitionBy("window_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        flushed.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= 3)
        .orderBy("window_start_us", "rank")
    )
