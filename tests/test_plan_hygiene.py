"""Plan-shape regression tests: the scale properties we rely on (pushdown,
pruning, broadcast choice, no Python in hot paths) asserted against the
optimizer's actual output, so a refactor that silently breaks them fails CI
rather than a 100 TB run."""

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.catalog import all_queries

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_and_columns_pruned(spark):
    df = all_queries()["q1_pricing_summary"].builder(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 referenced columns are scanned, not all 11
    import re

    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans and all("l_orderkey" not in s and "l_partkey" not in s for s in scans)


def test_q3_dimension_broadcast(spark):
    plan = _plan(all_queries()["q3_shipping_priority"].builder(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter reached the scan


def test_q5_all_dims_broadcast_no_python(spark):
    plan = _plan(all_queries()["q5_local_supplier_volume"].builder(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semi_and_anti_joins_planned_as_such(spark):
    semi = _plan(all_queries()["join_semi_customers_with_orders"].builder(spark, SF))
    anti = _plan(all_queries()["join_anti_customers_without_orders"].builder(spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_topk_is_take_ordered(spark):
    plan = _plan(all_queries()["q3_shipping_priority"].builder(spark, SF))
    assert "TakeOrderedAndProject" in plan  # no full global sort for LIMIT


def test_no_python_udfs_or_cartesian_products_in_catalog(spark):
    """Catalog-wide plan invariants: (a) every relational/dedup/text query
    stays JVM-side (SURVEY rule: UDFs are the slow path; only multimodal
    stages may use Arrow Python), and (b) NO query plans an unbroadcast
    CartesianProduct — every non-equi join in the engine is either
    length-banded, LSH-bucketed, block-paired, or has its small side
    broadcast (BroadcastNestedLoopJoin), so nothing shuffles all-pairs at
    100 TB."""
    for name, spec in all_queries().items():
        plan = _plan(spec.builder(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_events_scan_prunes_columns(spark):
    import re

    df = all_queries()["events_tumbling_1h"].builder(spark, SF)
    plan = _plan(df)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans and all("props" not in s for s in scans)  # json column not read


def test_q9_snowflake_broadcasts_filtered_part(spark):
    """Part is filtered BEFORE broadcast and every dimension joins as a
    broadcast hash join — the fact table shuffles only for the aggregate."""
    plan = _plan(all_queries()["q9_profit_by_nation_year"].builder(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    # the LIKE filter must sit under the broadcast exchange, not after the join
    assert "Contains(p_name,widget)" in plan or "widget" in plan


def test_q21_single_fact_scan(spark):
    """The EXISTS/NOT-EXISTS rewrite must not re-scan lineitem per branch:
    the (order, supplier, late) table is cached and BOTH consumers (per-order
    roll-up and waiting filter) read the cache, so the fact join+aggregate
    executes once."""
    plan = _plan(all_queries()["q21_suppliers_kept_orders_waiting"].builder(spark, SF))
    assert plan.count("InMemoryTableScan") >= 2


def test_decontaminate_fused_probe_never_shuffles_train(spark):
    """Fused shape: the eval n-gram set rides a Python broadcast into
    ONE Arrow probe per training document — no join, no per-shingle
    explode, and no aggregation exchange on the training side (the only
    exchanges are input widening and the presentation sort)."""
    plan = _plan(all_queries()["decontaminate_ngram_overlap"].builder(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    for node in ("BroadcastHashJoin", "SortMergeJoin", "Generate", "HashAggregate"):
        assert node not in plan, node


def test_pack_sequences_single_window_exchange(spark):
    """Packing is one hash-partitioning exchange (the window) plus the
    final presentation sort — no joins, no extra shuffles."""
    plan = _plan(all_queries()["pack_sequences_budget"].builder(spark, SF))
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") == 0 and plan.count("SortMergeJoin") == 0


def test_ivf_probe_search_broadcasts_centroids_and_probes(spark):
    plan = _plan(all_queries()["sim_ivf_topk_probe2"].builder(spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3


def test_stratified_sample_filter_pushed_to_scan(spark):
    """The per-stratum keep predicate is a narrow filter: no shuffle, no
    Python, and the lang/doc_id column reads reach the parquet scan."""
    plan = _plan(all_queries()["stratified_sample_by_lang"].builder(spark, SF))
    # the only exchange is the presentation sort's range partitioning —
    # the sampling itself adds no hash shuffle
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FileScan parquet" in plan


def test_blocked_gemm_single_grouping_shuffle(spark):
    """Blocked-GEMM embedding dedup: exactly one hash exchange (the
    (bi, bj) task grouping) feeds the Arrow GEMM stage — no nested-loop
    join, no second corpus shuffle."""
    from datapipelines_spark.operators.dedup import embedding_cosine_pairs_blocked
    from datapipelines_spark.sources.parquet import load_table

    e = load_table(spark, SF, "embeddings")
    plan = _plan(embedding_cosine_pairs_blocked(e, "embedding", "vec_id", threshold=0.45))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    # hashpartitioning on the task keys feeds the pandas stage
    assert "hashpartitioning(bi" in plan


def test_kmeans_assign_is_shuffle_free(spark):
    """IVF assignment: broadcast centroids + one Arrow pass — the plan has
    no Exchange at all."""
    import numpy as np

    from datapipelines_spark.operators.clustering import kmeans_assign
    from datapipelines_spark.sources.parquet import load_table

    e = load_table(spark, SF, "embeddings")
    cents = np.zeros((4, 64))
    plan = _plan(kmeans_assign(e, "embedding", "vec_id", cents))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_partition_pruning_reaches_layout_scan(spark):
    """partition_pruned_scan's status filter must be satisfied by directory
    pruning (PartitionFilters), not a row filter over every file."""
    from datapipelines_spark.queries.layout import partitioned_orders_dir

    out = partitioned_orders_dir(spark, SF)
    df = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    plan = _plan(df.groupBy("o_orderpriority").count())
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:250]
    assert "o_orderstatus" in seg, seg


def test_bucketed_join_is_shuffle_free(spark):
    """bucketed_join_revenue_by_status's fact-fact join must not exchange
    either side (broadcast disabled so the decision is about bucketing)."""
    from datapipelines_spark.queries.layout import bucketed_tables

    lt, ot = bucketed_tables(spark, SF)
    l, o = spark.table(lt), spark.table(ot)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bm25_topk_is_take_ordered_not_global_window_sort(spark):
    """bm25_search's final top-k must be a TakeOrderedAndProject (per-
    partition k-row heaps, driver merge) — not a single-partition global
    window sort over every matching document. The only window left in the
    plan ranks the ALREADY-limited k rows."""
    plan = _plan(all_queries()["text_bm25_search"].builder(spark, SF))
    assert "TakeOrderedAndProject" in plan
