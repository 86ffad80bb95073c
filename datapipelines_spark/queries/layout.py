"""Storage-layout operators as oracle-checked queries: hive-partitioned
writes with partition pruning, and bucketed tables with shuffle-free
co-located joins — the two on-disk tools that decide whether a 100 TB query
scans terabytes or gigabytes and whether the dominant fact-fact join
shuffles at all (SURVEY §7.5). Each query WRITES the layout to a scratch
dir (idempotent overwrite), reads it back through the layout-aware path,
and checks results against plain SQL over the original table; the plan
properties (PartitionFilters, no Exchange) are asserted in
tests/test_plan_hygiene.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.sources.parquet import load_table


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join("/tmp", f"spark_graft_layout_{tag}", name)


def partitioned_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write orders hive-partitioned by o_orderstatus (once per session+sf;
    the target is tiny and the write is idempotent-overwrite)."""
    out = _scratch(sf_dir, "orders_by_status")
    marker = (spark.sparkContext.applicationId, out)
    if marker not in _WRITTEN:
        load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(out)
        _WRITTEN.add(marker)
    return out


_WRITTEN: set[tuple[str, str]] = set()


@query(
    "partition_pruned_scan",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: orders are written
    partitioned by o_orderstatus, and the status filter is satisfied by
    directory pruning — the scan never opens the other partitions' files
    (PartitionFilters asserted in test_plan_hygiene). At 100 TB this is the
    difference between scanning one status slice and scanning the table."""
    out = partitioned_orders_dir(spark, sf_dir)
    # explicit schema: inference needs at least one data file, so an empty
    # source table (zero partitions written) would otherwise fail the read
    schema = load_table(spark, sf_dir, "orders").schema
    o = spark.read.schema(schema).parquet(out).where(F.col("o_orderstatus") == "F")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem/orders bucketed on the join key (8 buckets,
    sorted) once per session+sf; returns the catalog table names."""
    from datapipelines_spark.sinks.writer import write_bucketed_table

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_") or "sf"
    lt, ot = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    marker = (spark.sparkContext.applicationId, lt)
    if marker not in _WRITTEN:
        write_bucketed_table(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
            ),
            lt, bucket_by=["l_orderkey"], n_buckets=8, sort_by=["l_orderkey"],
            path=_scratch(sf_dir, lt), mode="overwrite",
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_orderpriority"
            ),
            ot, bucket_by=["o_orderkey"], n_buckets=8, sort_by=["o_orderkey"],
            path=_scratch(sf_dir, ot), mode="overwrite",
        )
        _WRITTEN.add(marker)
    return lt, ot


@query(
    "bucketed_join_revenue_by_status",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def bucketed_join_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables bucketed+sorted on the
    join key, so the lineitem⋈orders join runs with NO exchange on either
    side (Spark trusts the on-disk hash layout; asserted in
    test_plan_hygiene with broadcast disabled). The layout strategy that
    removes the dominant shuffle from every fact-fact query at 100 TB;
    results checked against the plain unbucketed join."""
    lt, ot = bucketed_tables(spark, sf_dir)
    l = spark.table(lt)
    o = spark.table(ot)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "jsonl_gz_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
               AS text_hash_sum
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def jsonl_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text corpus interchange: documents are written as gzipped
    JSON-lines (the format training corpora actually ship in — splittable
    per file, schema-on-read) and read back through the JSON source; the
    order-independent sum of a portable per-text hash proves every text
    byte survived serialization, compression, and inference. The write is
    scratch-dir, idempotent, memoized per session."""
    from datapipelines_spark.functions.hashing import portable_hash64

    out = _scratch(sf_dir, "documents_jsonl_gz")
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    marker = (spark.sparkContext.applicationId, out)
    if marker not in _WRITTEN:
        src.write.mode("overwrite").option("compression", "gzip").json(out)
        _WRITTEN.add(marker)
    # explicit schema: JSON inference reads the data once AND fails outright
    # on an empty corpus; the source schema is authoritative either way
    back = spark.read.schema(src.schema).json(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(portable_hash64(F.col("text"))).cast("bigint").alias("text_hash_sum"),
        )
        .orderBy("lang")
    )


@query(
    "csv_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange with schema-on-read discipline: orders are written as
    headered CSV and read back under an EXPLICIT schema (dates as DateType,
    prices as double) in FAILFAST mode — a malformed row aborts instead of
    nulling silently. The aggregate over the round-tripped data must equal
    DuckDB over the original parquet, proving dates, doubles and strings
    survive text serialization and typed re-parse. Scratch-dir write,
    idempotent, memoized per session."""
    out = _scratch(sf_dir, "orders_csv")
    marker = (spark.sparkContext.applicationId, out)
    if marker not in _WRITTEN:
        load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
            "header", "true"
        ).csv(out)
        _WRITTEN.add(marker)
    back = spark.read.options(header="true", mode="FAILFAST").schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string"
    ).csv(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
               AS text_hash_sum
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange (the second columnar format large stacks standardize
    on): documents round-trip through Spark's native ORC writer/reader with
    zlib compression, and the order-independent sum of a portable per-text
    hash proves byte-exact text survival — same integrity contract as
    jsonl_gz_roundtrip, different container."""
    from datapipelines_spark.functions.hashing import portable_hash64

    out = _scratch(sf_dir, "documents_orc")
    marker = (spark.sparkContext.applicationId, out)
    if marker not in _WRITTEN:
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source", "n_chars"
        ).write.mode("overwrite").option("compression", "zlib").orc(out)
        _WRITTEN.add(marker)
    back = spark.read.orc(out)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(portable_hash64(F.col("text"))).cast("bigint").alias("text_hash_sum"),
        )
        .orderBy("source")
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
               AS text_hash_sum
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange via Spark 4's built-in XML source: documents are
    written as row-tagged XML and read back under an explicit schema; the
    order-independent portable text-hash sum proves every text byte
    survived XML escaping and re-parse — the third container in the
    round-trip family (jsonl.gz, ORC, CSV, XML)."""
    from datapipelines_spark.functions.hashing import portable_hash64

    out = _scratch(sf_dir, "documents_xml")
    marker = (spark.sparkContext.applicationId, out)
    if marker not in _WRITTEN:
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        ).write.mode("overwrite").format("xml").option("rootTag", "docs").option(
            "rowTag", "doc"
        ).save(out)
        _WRITTEN.add(marker)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # default ignoreSurroundingSpaces=true TRIMS element text, so a
        # whitespace-only (or space-padded) document would not survive the
        # roundtrip byte-for-byte — the exact property this query proves
        .option("ignoreSurroundingSpaces", "false")
        .schema("doc_id bigint, text string, lang string, n_chars bigint")
        .load(out)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(portable_hash64(F.col("text"))).cast("bigint").alias("text_hash_sum"),
        )
        .orderBy("lang")
    )


@query(
    "upsert_orders_snapshot",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0
                THEN round(o_totalprice + 1000.0, 2)
                ELSE round(o_totalprice, 2) END AS price,
           CASE WHEN o_orderkey % 10 = 0 THEN 'restated' ELSE 'base' END
               AS price_source
    FROM orders
    WHERE o_orderkey % 17 <> 0
    ORDER BY o_orderkey
    """,
)
def upsert_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read upsert table (sinks/upsert.py) end-to-end: a base
    version of every order, a delta restating prices for o_orderkey % 10 = 0
    (+1000, tagged 'restated'), and a tombstone delta deleting
    o_orderkey % 17 = 0 land as three immutable v=N parquet versions; the
    latest-wins snapshot read (one key-window over version-partition
    discovery) must equal the final state DuckDB computes directly from the
    original table. Scratch-dir writes are rebuilt only when the version
    layout is absent/stale, so repeated builder runs reuse the table the
    way a real session would."""
    import shutil

    from datapipelines_spark.sinks.upsert import (
        _versions,
        read_merged,
        upsert_write,
    )

    out = _scratch(sf_dir, "orders_upsert")
    if _versions(out) != [0, 1, 2]:
        shutil.rmtree(out, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.lit("base").alias("price_source"),
        )
        upsert_write(orders, out)
        upsert_write(
            orders.where(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey",
                F.round(F.col("price") + 1000.0, 2).alias("price"),
                F.lit("restated").alias("price_source"),
            ),
            out,
        )
        upsert_write(
            orders.where(F.col("o_orderkey") % 17 == 0), out, delete=True
        )
    return read_merged(spark, out, ["o_orderkey"]).orderBy("o_orderkey")


@query(
    "quality_constraint_checks",
    oracle="""
    WITH t AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               round(CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*), 6)
                   AS custkey_completeness,
               CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS orderkey_distinct,
               COUNT(DISTINCT o_orderkey) = COUNT(o_orderkey) AS orderkey_unique,
               CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0 OR o_totalprice > 1000000)
                             THEN 1 ELSE 0 END) AS DOUBLE) AS price_violations,
               CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS DOUBLE) AS status_violations
        FROM orders
    )
    SELECT * FROM (
        SELECT 'completeness' AS "constraint", 'o_custkey' AS "column",
               custkey_completeness AS observed,
               custkey_completeness >= 1.0 AS passed FROM t
        UNION ALL
        SELECT 'uniqueness', 'o_orderkey', orderkey_distinct, orderkey_unique
        FROM t
        UNION ALL
        SELECT 'bounds', 'o_totalprice', price_violations,
               price_violations = 0 FROM t
        UNION ALL
        SELECT 'accepted_values', 'o_orderstatus', status_violations,
               status_violations = 0 FROM t
    ) ORDER BY "constraint"
    """,
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style validation gate (operators/checks.py): four constraints
    — o_custkey completeness, o_orderkey uniqueness, o_totalprice bounds,
    o_orderstatus accepted domain — compiled into ONE aggregate pass over
    orders (adding a check adds a column to the same scan, never a new
    job) and emitted as one (constraint, column, observed, passed) row
    each, matching the hand-written SQL measures."""
    from datapipelines_spark.operators.checks import (
        accepted_values,
        bounds,
        check_constraints,
        completeness,
        uniqueness,
    )

    orders = load_table(spark, sf_dir, "orders")
    return check_constraints(
        orders,
        [
            completeness("o_custkey", 1.0),
            uniqueness("o_orderkey"),
            bounds("o_totalprice", 0, 1_000_000),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
        ],
    ).orderBy("constraint")


@query(
    "profile_orders_table",
    oracle="""
    WITH t AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) AS p_null,
               CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) AS p_distinct,
               CAST(MIN(o_totalprice) AS DOUBLE) AS p_min,
               CAST(MAX(o_totalprice) AS DOUBLE) AS p_max,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(o_totalprice), 6) AS p_mean,
               round(quantile_cont(o_totalprice, 0.5), 6) AS p_median,
               CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE) AS s_null,
               CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS s_distinct,
               CAST(MIN(len(o_orderstatus)) AS DOUBLE) AS s_minlen,
               CAST(MAX(len(o_orderstatus)) AS DOUBLE) AS s_maxlen,
               round(CAST(SUM(CAST(len(o_orderstatus) AS DECIMAL(28,6)))
                          AS DOUBLE) / COUNT(o_orderstatus), 6) AS s_avglen
        FROM orders
    )
    SELECT * FROM (
        SELECT 'o_totalprice' AS "column", 'n_null' AS metric, p_null AS value FROM t
        UNION ALL SELECT 'o_totalprice', 'n_distinct', p_distinct FROM t
        UNION ALL SELECT 'o_totalprice', 'min', p_min FROM t
        UNION ALL SELECT 'o_totalprice', 'max', p_max FROM t
        UNION ALL SELECT 'o_totalprice', 'mean', p_mean FROM t
        UNION ALL SELECT 'o_totalprice', 'median', p_median FROM t
        UNION ALL SELECT 'o_orderstatus', 'n_null', s_null FROM t
        UNION ALL SELECT 'o_orderstatus', 'n_distinct', s_distinct FROM t
        UNION ALL SELECT 'o_orderstatus', 'min_len', s_minlen FROM t
        UNION ALL SELECT 'o_orderstatus', 'max_len', s_maxlen FROM t
        UNION ALL SELECT 'o_orderstatus', 'avg_len', s_avglen FROM t
    ) ORDER BY "column", metric
    """,
)
def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (operators/checks.py:profile_table): the
    corpus-report stats — null/distinct counts, min/max, decimal-exact
    mean, exact interpolated median, string length stats — compiled into
    a SINGLE aggregate over orders and emitted in long (column, metric,
    value) form, matching the hand-written SQL measures."""
    from datapipelines_spark.operators.checks import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders, numeric_cols=["o_totalprice"], string_cols=["o_orderstatus"]
    ).orderBy("column", "metric")


@query(
    "diff_orders_versions",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 17 = 0 THEN 'removed'
                WHEN o_orderkey % 10 = 0 THEN 'changed' END AS change,
           round(o_totalprice, 2) AS price_before,
           CASE WHEN o_orderkey % 17 <> 0 AND o_orderkey % 10 = 0
                THEN round(o_totalprice + 1000.0, 2) END AS price_after
    FROM orders
    WHERE o_orderkey % 17 = 0 OR o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
)
def diff_orders_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff on the MOR upsert table (sinks/upsert.py:table_diff) —
    the audit face of time travel: what did commits v1..v2 do to the
    snapshot, as data. Reuses the upsert_orders_snapshot scratch table
    (base prices at v0, %10 restated at v1, %17 tombstoned at v2); the
    v0→v2 change set must be exactly the restatements minus the deletions
    (a key both restated and deleted reports 'removed' — the tombstone is
    the later commit). Both snapshots key-partition on o_orderkey, so the
    full-outer diff join adds no exchange beyond the merge windows'."""
    from datapipelines_spark.queries.layout import upsert_orders_snapshot
    from datapipelines_spark.sinks.upsert import table_diff

    # builds (or reuses) the three-version scratch table
    upsert_orders_snapshot(spark, sf_dir)
    out = _scratch(sf_dir, "orders_upsert")
    return (
        table_diff(spark, out, ["o_orderkey"], v_from=0, v_to=2)
        .select(
            "o_orderkey",
            "change",
            F.col("before.price").alias("price_before"),
            F.col("after.price").alias("price_after"),
        )
        .orderBy("o_orderkey")
    )


def _morton_sql(qa: str, qb: str, bits: int) -> str:
    """DuckDB bit-interleave expression: qa on even bits, qb on odd."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT MIN(o_custkey) AS amin, MAX(o_custkey) AS amax,
               MIN(cents) AS bmin, MAX(cents) AS bmax
        FROM c
    ),
    q AS (
        SELECT o_orderkey,
               ((o_custkey - amin) * 256) // (amax - amin + 1) AS qa,
               ((cents - bmin) * 256) // (bmax - bmin + 1) AS qb
        FROM c, s
    )
    SELECT o_orderkey, CAST({_morton_sql("qa", "qb", 8)} AS BIGINT) AS zorder
    FROM q
    ORDER BY o_orderkey
    """,
)
def layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering codes (operators/zorder.py): orders quantized to
    8 bits per dimension over (o_custkey, total price in cents) and
    bit-interleaved into a 16-bit Morton code — the sort key under which a
    written layout prunes selective filters on EITHER column from per-file
    min/max stats (the lakehouse OPTIMIZE ZORDER job). The oracle replays
    quantization and interleaving bit-exactly; the layout effect itself
    (per-file rectangles) is asserted in tests/test_zorder.py. Plan: one
    1-row stats collect + one codegen map stage, no Python, no shuffle."""
    from datapipelines_spark.operators.zorder import zorder_codes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        zorder_codes(orders, "o_custkey", "cents", bits=8)
        .select("o_orderkey", "zorder")
        .orderBy("o_orderkey")
    )


@query(
    "scd2_orders_history",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, round(o_totalprice, 2) AS price,
               'base' AS price_source, 0 AS valid_from,
               CASE WHEN o_orderkey % 10 = 0 THEN 0
                    WHEN o_orderkey % 17 = 0 THEN 1 END AS valid_to
        FROM orders
    ),
    restated AS (
        SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS price,
               'restated' AS price_source, 1 AS valid_from,
               CASE WHEN o_orderkey % 17 = 0 THEN 1 END AS valid_to
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, price, price_source,
           CAST(valid_from AS BIGINT) AS valid_from,
           CAST(valid_to AS BIGINT) AS valid_to
    FROM (SELECT * FROM base UNION ALL SELECT * FROM restated)
    ORDER BY o_orderkey, valid_from
    """,
)
def scd2_orders_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD view of the MOR commit history
    (sinks/upsert.py:scd2_history) on the shared three-version scratch
    table: every order carries its price spans — base price valid from v0
    until restated (v1) or tombstoned (v2), restated price valid from v1,
    spans still current marked with NULL valid_to, deleted keys left with
    no open span. The oracle derives every span from the %10/%17 commit
    rules from first principles. One key-window over the version
    partitions — no snapshot join, no per-version rescan."""
    from datapipelines_spark.queries.layout import upsert_orders_snapshot
    from datapipelines_spark.sinks.upsert import scd2_history

    upsert_orders_snapshot(spark, sf_dir)  # builds/reuses the scratch table
    out = _scratch(sf_dir, "orders_upsert")
    return scd2_history(spark, out, ["o_orderkey"]).orderBy(
        "o_orderkey", "valid_from"
    )


@query(
    "upsert_schema_evolution",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0
                THEN round(o_totalprice + 1000.0, 2)
                ELSE round(o_totalprice, 2) END AS price,
           CASE WHEN o_orderkey % 10 = 0
                THEN CAST(o_orderkey % 7 AS BIGINT) END AS discount
    FROM orders
    WHERE o_orderkey % 17 <> 0
    ORDER BY o_orderkey
    """,
)
def upsert_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR schema evolution + vacuum end to end (sinks/upsert.py): a base
    version of (o_orderkey, price), a restatement delta that ADDS a
    ``discount`` column (keys %10: price+1000, discount = key%7), a
    tombstone delta (%17), then ``vacuum(retain_n=2)`` folds the base into
    the restatement cutoff (tombstones kept — the resurrection guard).
    The snapshot after evolution AND vacuum must equal the state DuckDB
    derives from the rules directly: union schema with NULL discount on
    never-restated keys, restated prices, deleted keys gone. Time travel
    ACROSS the schema change (v0 reads without the discount column) is
    asserted in tests/test_upsert_vacuum.py."""
    import shutil

    from datapipelines_spark.sinks.upsert import (
        _versions,
        read_merged,
        upsert_write,
        vacuum,
    )

    out = _scratch(sf_dir, "orders_upsert_evo")
    if _versions(out) != [1, 2]:  # post-vacuum layout: fold at v1 + v2
        shutil.rmtree(out, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.round(F.col("o_totalprice"), 2).alias("price")
        )
        upsert_write(orders, out)
        upsert_write(
            orders.where(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey",
                F.round(F.col("price") + 1000.0, 2).alias("price"),
                (F.col("o_orderkey") % 7).cast("bigint").alias("discount"),
            ),
            out,
        )
        upsert_write(
            orders.where(F.col("o_orderkey") % 17 == 0), out, delete=True
        )
        vacuum(spark, out, ["o_orderkey"], retain_n=2)
    return (
        read_merged(spark, out, ["o_orderkey"])
        .select("o_orderkey", "price", "discount")
        .orderBy("o_orderkey")
    )


def _hilbert_sql(bits: int) -> str:
    """DuckDB replay of the Hilbert FST (operators/zorder.py:_HILBERT_OUT/
    _HILBERT_NXT): one CTE per bit level threading (state, code) through
    the same table lookups, MSB first."""
    from datapipelines_spark.operators.zorder import _HILBERT_NXT, _HILBERT_OUT

    out_l = "[" + ", ".join(map(str, _HILBERT_OUT)) + "]"
    nxt_l = "[" + ", ".join(map(str, _HILBERT_NXT)) + "]"
    ctes = [
        "h0 AS (SELECT o_orderkey, qa, qb, 0 AS st0,"
        " CAST(0 AS BIGINT) AS d0 FROM q)"
    ]
    lvl = 0
    for i in range(bits - 1, -1, -1):
        lvl += 1
        idx = f"st{lvl-1} * 4 + ((qa >> {i}) & 1) * 2 + ((qb >> {i}) & 1) + 1"
        ctes.append(
            f"h{lvl} AS (SELECT o_orderkey, qa, qb,"
            f" ({nxt_l})[{idx}] AS st{lvl},"
            f" d{lvl-1} * 4 + ({out_l})[{idx}] AS d{lvl}"
            f" FROM h{lvl-1})"
        )
    return ",\n    ".join(ctes) + f"\n    SELECT o_orderkey, CAST(d{lvl} AS BIGINT) AS hilbert FROM h{lvl}"


@query(
    "layout_hilbert_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT MIN(o_custkey) AS amin, MAX(o_custkey) AS amax,
               MIN(cents) AS bmin, MAX(cents) AS bmax
        FROM c
    ),
    q AS (
        SELECT o_orderkey,
               ((o_custkey - amin) * 256) // (amax - amin + 1) AS qa,
               ((cents - bmin) * 256) // (bmax - bmin + 1) AS qb
        FROM c, s
    ),
    {_hilbert_sql(8)}
    ORDER BY o_orderkey
    """,
)
def layout_hilbert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering codes (operators/zorder.py:hilbert_code):
    orders quantized to 8 bits per dimension over (o_custkey, price in
    cents) and indexed on the Hilbert curve — Z-order's sibling layout
    whose consecutive codes are ALWAYS adjacent cells, so a range-split
    write covers tighter rectangles (better pruning at 4+ effective
    dimensions and near quadrant seams). The curve is compiled to a
    4-state transducer over the raw quantized bits — O(bits) codegen
    lookups, no per-level coordinate mutation, no UDF — and the oracle
    replays the same state machine one CTE per bit level. Layout effect
    asserted in tests/test_hilbert.py."""
    from datapipelines_spark.operators.zorder import hilbert_codes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        hilbert_codes(orders, "o_custkey", "cents", bits=8)
        .select("o_orderkey", "hilbert")
        .orderBy("o_orderkey")
    )


def _hilbert3_sql(bits: int) -> str:
    """DuckDB replay of the 3-D Hilbert FST (operators/zorder.py:
    _HILBERT3_OUT/_HILBERT3_NXT) — one CTE per bit level over (qa, qb, qc)
    bit triples."""
    from datapipelines_spark.operators.zorder import _HILBERT3_NXT, _HILBERT3_OUT

    out_l = "[" + ", ".join(map(str, _HILBERT3_OUT)) + "]"
    nxt_l = "[" + ", ".join(map(str, _HILBERT3_NXT)) + "]"
    ctes = [
        "h0 AS (SELECT o_orderkey, qa, qb, qc, 0 AS st0,"
        " CAST(0 AS BIGINT) AS d0 FROM q)"
    ]
    lvl = 0
    for i in range(bits - 1, -1, -1):
        lvl += 1
        idx = (
            f"st{lvl-1} * 8 + ((qa >> {i}) & 1) * 4"
            f" + ((qb >> {i}) & 1) * 2 + ((qc >> {i}) & 1) + 1"
        )
        ctes.append(
            f"h{lvl} AS (SELECT o_orderkey, qa, qb, qc,"
            f" ({nxt_l})[{idx}] AS st{lvl},"
            f" d{lvl-1} * 8 + ({out_l})[{idx}] AS d{lvl}"
            f" FROM h{lvl-1})"
        )
    return ",\n    ".join(ctes) + (
        f"\n    SELECT o_orderkey, CAST(d{lvl} AS BIGINT) AS hilbert3 FROM h{lvl}"
    )


@query(
    "layout_hilbert3_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS days
        FROM orders
    ),
    s AS (
        SELECT MIN(o_custkey) AS amin, MAX(o_custkey) AS amax,
               MIN(cents) AS bmin, MAX(cents) AS bmax,
               MIN(days) AS cmin, MAX(days) AS cmax
        FROM c
    ),
    q AS (
        SELECT o_orderkey,
               ((o_custkey - amin) * 64) // (amax - amin + 1) AS qa,
               ((cents - bmin) * 64) // (bmax - bmin + 1) AS qb,
               ((days - cmin) * 64) // (cmax - cmin + 1) AS qc
        FROM c, s
    ),
    {_hilbert3_sql(6)}
    ORDER BY o_orderkey
    """,
)
def layout_hilbert3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-dimensional Hilbert clustering codes (operators/zorder.py:
    hilbert3_code): orders quantized to 6 bits per dimension over
    (o_custkey, price cents, order date as epoch days) and indexed on the
    3-D Hilbert curve — where the curve choice actually bites: a Morton
    segment crossing an octant seam spans a whole cube edge, while every
    Hilbert segment stays one connected blob (equal-segment bbox metric
    in tests/test_hilbert.py), so a layout can serve selective filters
    on customer, price, AND date from footer stats. The 24-state cube
    transducer is compiled from Skilling's public transpose algorithm
    and verified against it on full grids; the oracle replays the state
    machine one CTE per bit level."""
    from datapipelines_spark.operators.zorder import hilbert3_codes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("days"),
    )
    return (
        hilbert3_codes(orders, "o_custkey", "cents", "days", bits=6)
        .select("o_orderkey", "hilbert3")
        .orderBy("o_orderkey")
    )


def _hilbert_sql_qaqb(bits: int) -> str:
    """The 2-D Hilbert FST replay over bare (qa, qb) rows (no key column)
    — the advisor aggregates boxes, so rows need no identity."""
    from datapipelines_spark.operators.zorder import _HILBERT_NXT, _HILBERT_OUT

    out_l = "[" + ", ".join(map(str, _HILBERT_OUT)) + "]"
    nxt_l = "[" + ", ".join(map(str, _HILBERT_NXT)) + "]"
    ctes = ["h0 AS (SELECT qa, qb, 0 AS st0, CAST(0 AS BIGINT) AS d0 FROM q)"]
    lvl = 0
    for i in range(bits - 1, -1, -1):
        lvl += 1
        idx = f"st{lvl-1} * 4 + ((qa >> {i}) & 1) * 2 + ((qb >> {i}) & 1) + 1"
        ctes.append(
            f"h{lvl} AS (SELECT qa, qb,"
            f" ({nxt_l})[{idx}] AS st{lvl},"
            f" d{lvl-1} * 4 + ({out_l})[{idx}] AS d{lvl}"
            f" FROM h{lvl-1})"
        )
    ctes.append(f"hh AS (SELECT qa, qb, CAST(d{lvl} AS BIGINT) AS hkey FROM h{lvl})")
    return ",\n    ".join(ctes)


@query(
    "layout_advisor_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT MIN(o_custkey) AS amin, MAX(o_custkey) AS amax,
               MIN(cents) AS bmin, MAX(cents) AS bmax
        FROM c
    ),
    q AS (
        SELECT ((o_custkey - amin) * 256) // (amax - amin + 1) AS qa,
               ((cents - bmin) * 256) // (bmax - bmin + 1) AS qb
        FROM c, s
    ),
    m AS (SELECT qa, qb,
                 CAST({_morton_sql("qa", "qb", 8)} AS BIGINT) AS mkey
          FROM q),
    {_hilbert_sql_qaqb(8)},
    keyed AS (
        SELECT 'sort_a' AS layout, (qa * 48) // 256 AS seg, qa, qb FROM q
        UNION ALL
        SELECT 'morton', (mkey * 48) // 65536, qa, qb FROM m
        UNION ALL
        SELECT 'hilbert', (hkey * 48) // 65536, qa, qb FROM hh
    ),
    boxes AS (
        SELECT layout, seg,
               MIN(qa) AS a0, MAX(qa) AS a1, MIN(qb) AS b0, MAX(qb) AS b1
        FROM keyed GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_nonempty,
           CAST(SUM((a1 - a0 + 1) * (b1 - b0 + 1)) AS BIGINT) AS sum_bbox_area,
           CAST(SUM(a1 - a0 + 1) AS BIGINT) AS sum_span_a,
           CAST(SUM(b1 - b0 + 1) AS BIGINT) AS sum_span_b
    FROM boxes GROUP BY layout
    ORDER BY layout
    """,
)
def layout_advisor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout ADVISOR (operators/zorder.py:layout_advisor): one pass over orders reports the footer rectangles a
    single-sort, Morton, and Hilbert OPTIMIZE write would each produce
    over (o_custkey, price cents) — 48 equal-code segments (not a power
    of 4, so the curves do not degenerate to identical quadrant tiles),
    per-layout Σ bbox area (point-lookup cost) and per-dimension span
    sums (selective-filter pruning). Layout choice becomes a 3-row
    measurement instead of folklore: sort_a should win sum_span_a but
    forfeit b-pruning entirely; the curves should beat it on
    sum_bbox_area. The oracle replays quantization, both curves, the
    segment slicing, and the rollup in exact integer SQL."""
    from datapipelines_spark.operators.zorder import layout_advisor

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return layout_advisor(
        orders, "o_custkey", "cents", bits=8, n_segments=48
    ).orderBy("layout")


@query(
    "layout_optimize_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT MIN(o_custkey) AS amin, MAX(o_custkey) AS amax,
               MIN(cents) AS bmin, MAX(cents) AS bmax
        FROM c
    ),
    q AS (
        SELECT ((o_custkey - amin) * 256) // (amax - amin + 1) AS qa,
               ((cents - bmin) * 256) // (bmax - bmin + 1) AS qb
        FROM c, s
    ),
    m AS (SELECT qa, qb,
                 CAST({_morton_sql("qa", "qb", 8)} AS BIGINT) AS mkey
          FROM q),
    {_hilbert_sql_qaqb(8)},
    keyed AS (
        SELECT 'sort_a' AS layout, (qa * 48) // 256 AS seg, qa, qb FROM q
        UNION ALL
        SELECT 'morton', (mkey * 48) // 65536, qa, qb FROM m
        UNION ALL
        SELECT 'hilbert', (hkey * 48) // 65536, qa, qb FROM hh
    ),
    boxes AS (
        SELECT layout, seg,
               MIN(qa) AS a0, MAX(qa) AS a1, MIN(qb) AS b0, MAX(qb) AS b1
        FROM keyed GROUP BY 1, 2
    ),
    agg AS (
        SELECT layout, SUM((a1 - a0 + 1) * (b1 - b0 + 1)) AS area
        FROM boxes GROUP BY layout
    ),
    win AS (SELECT layout FROM agg ORDER BY area, layout LIMIT 1)
    SELECT b.layout AS layout,
           CAST(b.seg AS BIGINT) AS seg,
           CAST(1 AS BIGINT) AS n_files,
           CAST(a0 AS BIGINT) AS a0, CAST(a1 AS BIGINT) AS a1,
           CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1
    FROM boxes b JOIN win USING (layout)
    ORDER BY seg
    """,
)
def layout_optimize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call OPTIMIZE verb end to end (operators/zorder.py:
    optimize_table): the advisor measures all
    three layouts over orders' (o_custkey, price cents), the winner (min
    Σ bbox area, ties by name) is REWRITTEN via the equal-code layout
    with the partitioned-write contract, and the written table is read
    back to measure what actually landed on disk: per segment, the file
    count and the bounding rectangle of the quantized dims.

    The oracle replays the advisor and emits the winner's PREDICTED
    per-segment rectangles with n_files pinned at 1 — so the differential
    asserts the whole chain: Spark and DuckDB agree on the winning
    layout, every nonempty segment produced exactly ONE file (the
    partitioned-write guarantee, measured from input_file_name, not
    assumed), and each file's rectangle equals the advisor's prediction
    exactly (they are the same code-range slicing — that is the test).
    Plan: the advisor pass + one hash-shuffle sorted partitioned write +
    one read-back aggregate; the same one-pass OPTIMIZE shape at 100 TB."""
    from datapipelines_spark.operators.zorder import _quantize, optimize_table

    out = _scratch(sf_dir, "orders_optimize")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    info = optimize_table(
        orders, "o_custkey", "cents", out, bits=8, num_files=48
    )
    back = spark.read.parquet(out)
    stats = back.agg(
        F.min("o_custkey").cast("bigint").alias("amin"),
        F.max("o_custkey").cast("bigint").alias("amax"),
        F.min("cents").cast("bigint").alias("bmin"),
        F.max("cents").cast("bigint").alias("bmax"),
    ).collect()[0]
    qa = _quantize(
        F.col("o_custkey"), F.lit(stats["amin"]), F.lit(stats["amax"]), 8
    )
    qb = _quantize(F.col("cents"), F.lit(stats["bmin"]), F.lit(stats["bmax"]), 8)
    seg_col = f"{info['code_col']}_seg"
    return (
        back.select(
            F.col(seg_col).cast("bigint").alias("seg"),
            F.input_file_name().alias("__f"),
            qa.alias("qa"),
            qb.alias("qb"),
        )
        .groupBy("seg")
        .agg(
            F.countDistinct("__f").cast("bigint").alias("n_files"),
            F.min("qa").cast("bigint").alias("a0"),
            F.max("qa").cast("bigint").alias("a1"),
            F.min("qb").cast("bigint").alias("b0"),
            F.max("qb").cast("bigint").alias("b1"),
        )
        .select(
            F.lit(info["layout"]).alias("layout"),
            "seg",
            "n_files",
            "a0",
            "a1",
            "b0",
            "b1",
        )
        .orderBy("seg")
    )


def _hilbert4_sql(bits: int) -> str:
    """DuckDB replay of the mechanically-fitted 4-D Hilbert FST
    (operators/zorder.py:hilbert_fst_tables(4), 192 states): the tables
    are inlined ONCE in a `tabs` CTE (3072 entries each) and every bit
    level cross-joins the single-row table — unlike the 2-D/3-D replays,
    which could afford to inline their small tables per level."""
    from datapipelines_spark.operators.zorder import hilbert_fst_tables

    out, nxt, _ = hilbert_fst_tables(4)
    out_l = "[" + ", ".join(map(str, out)) + "]"
    nxt_l = "[" + ", ".join(map(str, nxt)) + "]"
    ctes = [
        f"tabs AS (SELECT {out_l} AS fo, {nxt_l} AS fx)",
        "h0 AS (SELECT o_orderkey, qa, qb, qc, qd, 0 AS st0,"
        " CAST(0 AS BIGINT) AS d0 FROM q)",
    ]
    lvl = 0
    for i in range(bits - 1, -1, -1):
        lvl += 1
        idx = (
            f"st{lvl-1} * 16 + ((qa >> {i}) & 1) * 8 + ((qb >> {i}) & 1) * 4"
            f" + ((qc >> {i}) & 1) * 2 + ((qd >> {i}) & 1) + 1"
        )
        ctes.append(
            f"h{lvl} AS (SELECT o_orderkey, qa, qb, qc, qd,"
            f" fx[{idx}] AS st{lvl},"
            f" d{lvl-1} * 16 + fo[{idx}] AS d{lvl}"
            f" FROM h{lvl-1}, tabs)"
        )
    return ",\n    ".join(ctes) + (
        f"\n    SELECT o_orderkey, CAST(d{lvl} AS BIGINT) AS hilbertd FROM h{lvl}"
    )


@query(
    "layout_hilbert4_orders",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS days
        FROM orders
    ),
    s AS (
        SELECT MIN(prio) AS amin, MAX(prio) AS amax,
               MIN(o_custkey) AS bmin, MAX(o_custkey) AS bmax,
               MIN(cents) AS cmin, MAX(cents) AS cmax,
               MIN(days) AS dmin, MAX(days) AS dmax
        FROM c
    ),
    q AS (
        SELECT o_orderkey,
               ((prio - amin) * 16) // (amax - amin + 1) AS qa,
               ((o_custkey - bmin) * 16) // (bmax - bmin + 1) AS qb,
               ((cents - cmin) * 16) // (cmax - cmin + 1) AS qc,
               ((days - dmin) * 16) // (dmax - dmin + 1) AS qd
        FROM c, s
    ),
    {_hilbert4_sql(4)}
    ORDER BY o_orderkey
    """,
)
def layout_hilbert4_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR-dimensional Hilbert clustering codes via the GENERIC fitted
    transducer (operators/zorder.py:hilbertd_code — the 2-D/4-state and
    3-D/24-state tables generalize mechanically; 4-D discovers the
    192-state orientation set): orders quantized to 4 bits per dimension
    over (priority rank, o_custkey, price cents, order date) so one
    OPTIMIZE layout serves selective footer pruning on all four columns.
    The fitter is verified against Skilling's transpose reference on full
    grids (tests/test_hilbert.py); the oracle replays the fitted state
    machine one CTE per bit level with the tables inlined once."""
    from datapipelines_spark.operators.zorder import hilbertd_codes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring(F.col("o_orderpriority"), 1, 1).cast("bigint").alias("prio"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("days"),
    )
    return (
        hilbertd_codes(orders, ["prio", "o_custkey", "cents", "days"], bits=4)
        .select("o_orderkey", "hilbertd")
        .orderBy("o_orderkey")
    )
