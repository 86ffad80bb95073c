"""Breadth queries: window value functions, latest-per-key dedup, positional
array stats, extended string catalog, null semantics, schema-evolving union.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipelines_spark.catalog import query
from datapipelines_spark.sources.parquet import load_table


@query(
    "window_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_order_price,
           LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS last_order_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_order_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE window value functions."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.last("o_totalprice").over(w_full).alias("last_order_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_order_price"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "events_latest_per_user",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id, event_type, ts, value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key (upsert compaction / CDC snapshot semantics): the
    single most common dedup-by-recency operator in ETL."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
        .orderBy("user_id")
    )


@query(
    "vector_position_stats",
    oracle="""
    SELECT i - 1 AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(embedding[i] AS DOUBLE)) AS dim_sum,
           MAX(CAST(embedding[i] AS DOUBLE)) AS dim_max
    FROM embeddings, LATERAL unnest(generate_series(1, 8)) AS t(i)
    WHERE embedding IS NOT NULL
    GROUP BY dim ORDER BY dim
    """,
)
def vector_position_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: per-dimension statistics over the first 8 embedding
    positions (lateral array flattening + group on position), over rows
    WITH a vector."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    exploded = e.select(
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)).alias("dim", "x")
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("dim_sum"),
            F.max("x").alias("dim_max"),
        )
        .orderBy("dim")
    )


@query(
    "scalar_string_funcs_extended",
    oracle="""
    SELECT n_nationkey,
           reverse(n_name)                       AS name_rev,
           repeat(substr(n_name, 1, 2), 3)       AS name_rep,
           left(n_name, 3)                       AS name_left,
           right(n_name, 3)                      AS name_right,
           CAST(strpos(n_name, 'A') AS BIGINT)   AS first_a,
           CAST(ascii(n_name) AS BIGINT)         AS first_char_code,
           translate(n_name, 'AEIOU', 'aeiou')   AS vowels_lower,
           concat(upper(substr(n_name, 1, 1)), lower(substr(n_name, 2))) AS name_title
    FROM nation
    ORDER BY n_nationkey
    """,
)
def scalar_string_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string catalog: reverse/repeat/left/right/instr/ascii/
    translate/initcap-style casing."""
    n = load_table(spark, sf_dir, "nation")
    name = F.col("n_name")
    return n.select(
        "n_nationkey",
        F.reverse(name).alias("name_rev"),
        F.repeat(F.substring(name, 1, 2), 3).alias("name_rep"),
        F.substring(name, 1, 3).alias("name_left"),
        F.substring(name, -3, 3).alias("name_right"),
        F.instr(name, "A").cast("bigint").alias("first_a"),
        F.ascii(name).cast("bigint").alias("first_char_code"),
        F.translate(name, "AEIOU", "aeiou").alias("vowels_lower"),
        F.concat(F.upper(F.substring(name, 1, 1)), F.lower(F.substring(name, 2, 1000))).alias(
            "name_title"
        ),
    ).orderBy("n_nationkey")


@query(
    "null_semantics",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS maybe_price,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS maybe_prio
        FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(maybe_price) AS n_price_nonnull,
           CAST(SUM(CASE WHEN maybe_price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_price_null,
           CAST(SUM(COALESCE(CAST(maybe_price AS DECIMAL(18,2)), 0)) AS DOUBLE)
               AS total_coalesced,
           CAST(SUM(CASE WHEN maybe_prio IS NOT DISTINCT FROM NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_prio_nullsafe,
           COUNT(DISTINCT maybe_prio) AS n_prio_distinct
    FROM t
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: COUNT(col) vs COUNT(*), coalesce totals, null-safe
    equality (<=> / IS NOT DISTINCT FROM), distinct-ignores-null."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("maybe_price"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("maybe_prio"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("maybe_price").alias("n_price_nonnull"),
        F.sum(F.when(F.col("maybe_price").isNull(), 1).otherwise(0)).alias("n_price_null"),
        # o_totalprice is 2-dp money: decimal addition is order-independent,
        # so the SUM hashes identically against the oracle regardless of
        # partition/summation order (a double SUM at 2.5e9 magnitude differs
        # in the last ulps between engines).
        F.sum(F.coalesce(F.col("maybe_price").cast("decimal(18,2)"), F.lit(0)))
        .cast("double")
        .alias("total_coalesced"),
        F.sum(F.col("maybe_prio").eqNullSafe(F.lit(None)).cast("int")).cast("bigint").alias(
            "n_prio_nullsafe"
        ),
        F.countDistinct("maybe_prio").alias("n_prio_distinct"),
    )


@query(
    "calendar_fill_monthly_orders",
    oracle="""
    WITH months AS (
        SELECT CAST(m AS TIMESTAMP) AS month_start
        FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-12-01',
                             INTERVAL 1 MONTH) t(m)
    ),
    actual AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               COUNT(*) AS n_orders,
               SUM(o_totalprice) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT m.month_start,
           COALESCE(a.n_orders, 0) AS n_orders,
           COALESCE(a.revenue, 0.0) AS revenue
    FROM months m LEFT JOIN actual a USING (month_start)
    ORDER BY m.month_start
    """,
)
def calendar_fill_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling time series: generate the full month spine
    (sequence + explode), left-join actual aggregates, zero-fill empty
    months — the standard reporting/feature-engineering densification."""
    o = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp_ntz"),
                F.lit("2001-12-01").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    actual = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month_start")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue")
    )
    return (
        months.join(actual, "month_start", "left")
        .select(
            "month_start",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("month_start")
    )


@query(
    "union_by_name_missing_columns",
    oracle="""
    SELECT src, COUNT(*) AS n, CAST(SUM(CASE WHEN extra IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_extra
    FROM (
        SELECT 'a' AS src, r_regionkey AS k, r_name AS extra FROM region
        UNION ALL
        SELECT 'b' AS src, n_nationkey AS k, NULL AS extra FROM nation
    )
    GROUP BY src ORDER BY src
    """,
)
def union_by_name_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: unionByName(allowMissingColumns=True) fills
    absent columns with nulls — open-schema samples (SURVEY §1.3) meeting
    fixed-schema DataFrames."""
    r = load_table(spark, sf_dir, "region").select(
        F.lit("a").alias("src"), F.col("r_regionkey").alias("k"), F.col("r_name").alias("extra")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.lit("b").alias("src"), F.col("n_nationkey").alias("k")
    )
    u = r.unionByName(n, allowMissingColumns=True)
    return (
        u.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("extra").isNull().cast("int")).cast("bigint").alias("n_null_extra"),
        )
        .orderBy("src")
    )


@query(
    "skew_salted_quantity_by_flag",
    oracle="""
    SELECT l_returnflag, SUM(l_quantity) AS sum_l_quantity
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def skew_salted_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (functions/skew.py) promoted into the
    graded catalog: the l_returnflag key space is 3 values over the whole
    fact table — exactly the hot-aggregation-key shape AQE cannot split.
    Salting shuffles on (key, salt) so a hot key spreads over 16 reducers;
    the oracle is the PLAIN sum, proving the rewrite changes the shuffle
    shape and nothing else (quantities are integral doubles, so partial
    sums are exact in any order)."""
    from datapipelines_spark.functions.skew import salted_sum

    l = load_table(spark, sf_dir, "lineitem")
    return (
        salted_sum(
            l, group_cols=("l_returnflag",), value_col="l_quantity",
            unique_col="l_orderkey", n_salts=16,
        )
        .orderBy("l_returnflag")
    )


@query(
    "join_null_safe_segments",
    oracle="""
    WITH k AS (
        SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, COUNT(*) AS n
        FROM customer GROUP BY 1
    )
    SELECT a.seg, a.n AS n_a, b.n AS n_b
    FROM k a JOIN k b ON a.seg IS NOT DISTINCT FROM b.seg
    ORDER BY a.seg NULLS FIRST
    """,
)
def join_null_safe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM): the BUILDING
    segment is NULLed out, and the self-join must still pair the null group
    with itself — plain equality would silently drop it."""
    c = load_table(spark, sf_dir, "customer")
    k = c.groupBy(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = k.select(F.col("seg"), F.col("n").alias("n_a"))
    b = k.select(F.col("seg").alias("seg_b"), F.col("n").alias("n_b"))
    return (
        a.join(b, a.seg.eqNullSafe(b.seg_b))
        .select("seg", "n_a", "n_b")
        .orderBy(F.col("seg").asc_nulls_first())
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT measure, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM (
        SELECT 'l_discount' AS measure, l_discount AS value FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_quantity', l_quantity FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    GROUP BY measure ORDER BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long UNPIVOT (DataFrame unpivot/melt): four measure columns
    become (measure, value) rows, then a per-measure roll-up. The oracle
    spells the same reshape as UNION ALL — the portable relational
    definition of unpivot."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.unpivot(
            ids=[],
            values=["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        .groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .orderBy("measure")
    )


@query(
    "map_type_status_counts",
    oracle="""
    WITH per AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT p AS o_orderpriority,
           CAST(COUNT(*) AS INTEGER) AS n_statuses,
           CAST(SUM(CASE WHEN s = 'F' THEN n END) AS BIGINT) AS n_final,
           CAST(SUM(CASE WHEN s = 'O' THEN n END) AS BIGINT) AS n_open,
           array_to_string(list(s ORDER BY s), ',') AS statuses
    FROM per GROUP BY p ORDER BY p
    """,
)
def map_type_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType in-plan: per priority, a status->count MAP built with
    map_from_entries, consumed via size / element_at / map_keys. The oracle
    states the same facts relationally, so the map stays a Spark plan
    construct (DuckDB's MAP dialect differs) while the RESULTS are checked."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("m")
    )
    return m.select(
        "o_orderpriority",
        F.size("m").alias("n_statuses"),
        F.element_at("m", "F").alias("n_final"),
        F.element_at("m", "O").alias("n_open"),
        # joined to a scalar string: the driver canonicalizer sorts rows via
        # pandas, which cannot factorize list cells — driver-checked
        # queries must emit scalar columns only
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("statuses"),
    ).orderBy("o_orderpriority")
