"""Vector analytics beyond pair search: per-label centroids (the building
block of IVF training) and IVF cell assignment (the coarse quantizer of an
IVF ANN index)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipelines_spark.catalog import query
from datapipelines_spark.functions.caching import managed_persist
from datapipelines_spark.queries.similarity import nonzero_embeddings
from datapipelines_spark.sources.parquet import load_table

_DIM = 64


@query(
    "vector_label_centroids",
    oracle="""
    WITH elems AS (
        SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    means AS (
        SELECT label, i, AVG(x) AS m FROM elems GROUP BY label, i
    )
    SELECT label,
           round(list_aggregate(list(round(m, 9) ORDER BY i), 'sum'), 6) AS centroid_sum,
           round(list(round(m, 9) ORDER BY i)[1], 6) AS centroid_first,
           (SELECT COUNT(*) FROM embeddings e
            WHERE e.label = means.label AND e.embedding IS NOT NULL) AS n_vecs
    FROM means GROUP BY label
    ORDER BY label
    """,
)
def vector_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label — distributed centroid
    computation (one shuffle on (label, position); at 100 TB this is the
    k-means update step). Domain: rows with a vector and a label — a NULL
    class is not a class, and each engine threads NULL group keys through
    joins differently."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    elems = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x")
    )
    means = elems.groupBy("label", "i0").agg(F.avg("x").alias("m"))
    centroids = (
        means.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i0"), F.round(F.col("m"), 9).alias("m")))
            ).alias("pairs")
        )
        .select(
            "label",
            F.transform(F.col("pairs"), lambda p: p["m"]).alias("centroid"),
        )
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        centroids.join(counts, "label")
        .select(
            "label",
            F.round(
                F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x), 6
            ).alias("centroid_sum"),
            F.round(F.element_at(F.col("centroid"), 1), 6).alias("centroid_first"),
            "n_vecs",
        )
        .orderBy("label")
    )


def _ivf_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {_DIM} + 1), i -> {a}[i] * {b}[i]))"


@query(
    "sim_ivf_cell_assign",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
    scored AS (
        SELECT e.vec_id, c.cell_id,
               {_ivf_dot('e.v', 'c.cv')} / (e.nrm * c.cn) AS cos_raw,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_ivf_dot('e.v', 'c.cv')} / (e.nrm * c.cn) DESC,
                                           c.cell_id) AS rn
        FROM e JOIN cents c ON true
    )
    SELECT vec_id, cell_id, round(cos_raw, 6) AS cell_cosine
    FROM scored WHERE rn = 1
    ORDER BY vec_id
    """,
)
def sim_ivf_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest of 8 fixed
    centroids (here: the first 8 vectors, a deterministic stand-in for
    trained centroids). At scale the centroid table is broadcast and
    assignment is a map-only pass; ANN search then probes only the query's
    cell(s) — the candidates-by-equi-join pattern again, keyed on cell_id."""
    from datapipelines_spark.operators.dedup import _dot, _norm
    from datapipelines_spark.functions.partitioning import parallelize_small

    base = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        # zero-norm vectors have no cosine direction — out of domain
        .where(F.col("nrm") > 0)
    )
    # centroid side is broadcast: widening it would only add a shuffle to
    # the broadcast-build job; only the scored (corpus) side is parallelized
    cents = base.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    e = parallelize_small(base)
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        (_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias("cos_raw"),
    )
    # argmin via max_by instead of a ranking window: partial (map-side)
    # aggregation shuffles one row per (partition, vec_id) rather than
    # sorting every scored pair — the cheaper plan at any scale. Tie-break:
    # max over struct(cos_raw, -cell_id) = highest cosine, then lowest cell.
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct("cell_id", "cos_raw"),
            F.struct(F.col("cos_raw"), -F.col("cell_id")),
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.cell_id").alias("cell_id"),
        F.round("b.cos_raw", 6).alias("cell_cosine"),
    ).orderBy("vec_id")


@query(
    "text_regex_token_classes",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+'))      AS n_word_tokens,
           len(regexp_extract_all(text, '[0-9]+'))          AS n_number_tokens,
           len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))   AS n_symbol_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def text_regex_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization counts: alphabetic runs, digit runs,
    symbol characters — the pre-tokenizer split of byte-pair encoders,
    counted per document without leaving codegen."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]+")).cast("bigint").alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).cast("bigint").alias("n_number_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9 ]")).cast("bigint").alias(
            "n_symbol_chars"
        ),
    ).orderBy("doc_id")


def ivf_topk_oracle(probes: int = 2) -> str:
    """DuckDB replay of the fixed-cell IVF search, parameterized over the
    probe count (the probes/recall tradeoff arm of
    queries/recall.py:sim_recall_harness). probes=2 emits the catalog
    ``sim_ivf_topk_probe2`` oracle verbatim."""
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
    ranked AS (
        SELECT e.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_ivf_dot('e.v', 'c.cv')} / (e.nrm * c.cn) DESC,
                                           c.cell_id) AS rn
        FROM e JOIN cents c ON true
    ),
    corpus_cells AS (SELECT vec_id AS c_id, cell_id FROM ranked WHERE rn = 1),
    probe_cells AS (SELECT vec_id AS q_id, cell_id FROM ranked
                    WHERE rn <= {probes} AND vec_id % 100 = 0),
    cand AS (
        SELECT q_id, c_id FROM probe_cells JOIN corpus_cells USING (cell_id)
        WHERE q_id <> c_id
    ),
    scored AS (
        SELECT cand.q_id, cand.c_id,
               {_ivf_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos_raw,
               ROW_NUMBER() OVER (PARTITION BY cand.q_id
                                  ORDER BY {_ivf_dot('q.v', 'c.v')} / (q.nrm * c.nrm) DESC,
                                           cand.c_id) AS rank
        FROM cand
        JOIN e q ON q.vec_id = cand.q_id
        JOIN e c ON c.vec_id = cand.c_id
    )
    SELECT q_id AS query_id, c_id AS neighbor_id,
           round(cos_raw, 6) AS cosine, rank
    FROM scored WHERE rank <= 5
    ORDER BY query_id, rank
    """


def ivf_topk_probe(spark: SparkSession, sf_dir: str, probes: int = 2) -> DataFrame:
    """Full IVF ANN search: coarse-quantize the corpus (nearest of 8 cells),
    probe each query's ``probes`` nearest cells, exact-score only
    cell-mates, top-5.

    The 100 TB plan: centroids broadcast (map-only assignment of the
    corpus), probe lists broadcast against cell-keyed candidates — the
    scored pair count is corpus/cells * probes per query instead of the
    brute-force corpus * queries. Assignment table feeds both the corpus
    and probe branches, so it is persisted. ``probes`` is the IVF
    operating knob: more probes linearly more scoring work, monotonically
    more recall (measured per probe count by sim_recall_harness)."""
    from datapipelines_spark.operators.dedup import _dot, _norm
    from datapipelines_spark.functions.partitioning import parallelize_small

    e = (
        parallelize_small(
            load_table(spark, sf_dir, "embeddings").where(
                F.col("embedding").isNotNull()
            )
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )
    e = managed_persist(e)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("cell_id"))
    ranked = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cell_id",
            (_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    ranked = managed_persist(ranked)
    corpus_cells = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("c_id"), "cell_id"
    )
    probe_cells = ranked.where(
        (F.col("rn") <= probes) & (F.col("vec_id") % 100 == 0)
    ).select(F.col("vec_id").alias("q_id"), "cell_id")
    cand = (
        F.broadcast(probe_cells)
        .join(corpus_cells, "cell_id")
        .where(F.col("q_id") != F.col("c_id"))
    )
    qv = e.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    cv = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv2"), F.col("nrm").alias("cn2"))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        cand.join(F.broadcast(qv), "q_id")
        .join(F.broadcast(cv), "c_id")
        .select(
            "q_id",
            "c_id",
            (_dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2"))).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 5)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def ivf_topk_multiprobe(
    spark: SparkSession, sf_dir: str, probes: tuple[int, ...] = (1, 2, 4, 8)
) -> dict[int, DataFrame]:
    """Every probe arm of ``ivf_topk_probe`` from ONE shared scored table:
    the arms differ only in how many of each query's ranked cells are
    probed, and the probed-cell sets are NESTED (arm p's candidates ⊂ arm
    max(probes)'s), so the exact scoring join runs ONCE at the largest
    probe count with each candidate's probe rank attached, and every
    smaller arm is a filter +
    its own top-5 window over the persisted scored table. Bit-identical to
    per-arm ``ivf_topk_probe`` calls: the candidate set per arm is the
    same set, ``cos_raw`` is the same sequential-fold expression over the
    same arrays, and the per-arm window ranks the same rows in the same
    order — only the number of scoring passes changes (1 instead of
    len(probes)). Used by queries/recall.py:sim_recall_harness, which
    previously paid the probe-join + scoring + window pipeline four
    times."""
    from datapipelines_spark.operators.dedup import _dot, _norm
    from datapipelines_spark.functions.partitioning import parallelize_small

    max_p = max(probes)
    e = (
        parallelize_small(
            load_table(spark, sf_dir, "embeddings").where(
                F.col("embedding").isNotNull()
            )
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )
    e = managed_persist(e)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("cell_id"))
    ranked = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cell_id",
            (_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    ranked = managed_persist(ranked)
    corpus_cells = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("c_id"), "cell_id"
    )
    probe_cells = ranked.where(
        (F.col("rn") <= max_p) & (F.col("vec_id") % 100 == 0)
    ).select(F.col("vec_id").alias("q_id"), "cell_id", F.col("rn").alias("__probe_rn"))
    cand = (
        F.broadcast(probe_cells)
        .join(corpus_cells, "cell_id")
        .where(F.col("q_id") != F.col("c_id"))
    )
    qv = e.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    cv = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv2"), F.col("nrm").alias("cn2"))
    scored = managed_persist(
        cand.join(F.broadcast(qv), "q_id")
        .join(F.broadcast(cv), "c_id")
        .select(
            "q_id",
            "c_id",
            "__probe_rn",
            (_dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2"))).alias("cos_raw"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    out: dict[int, DataFrame] = {}
    for p in probes:
        out[p] = (
            scored.where(F.col("__probe_rn") <= p)
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= 5)
            .select(
                F.col("q_id").alias("query_id"),
                F.col("c_id").alias("neighbor_id"),
                F.round("cos_raw", 6).alias("cosine"),
                "rank",
            )
            .orderBy("query_id", "rank")
        )
    return out


#: The probes -> recall@5 curve MEASURED by sim_recall_harness
#: (queries/recall.py) on the sf0.01 embeddings fixture, in basis points
#: (driver-verified integers). probes=8 probes every cell of the
#: 8-cell index, so 10000 bp is the exhaustive anchor, not an estimate.
#: Unlike LSH banding there is no closed form for the IVF curve — recall
#: depends on how the data clusters around the centroids — so the
#: actionable guidance is a lookup over the measured sweep, re-measured
#: per deployment by running the harness on a query sample.
MEASURED_IVF_RECALL_BP: dict[int, int] = {1: 4000, 2: 5600, 4: 8000, 8: 10000}


def choose_probes(
    target_recall: float, measured: dict[int, int] | None = None
) -> int:
    """The smallest probe count whose MEASURED recall@k meets
    ``target_recall`` — the IVF twin of operators/dedup.py:choose_banding
    (a sweep that tops out below the asked-for recall has no operating
    point; probes=8 anchors the curve at 100%, and this turns the curve
    into the operating answer). ``measured`` is a {probes: recall_bp} table,
    defaulting to the harness-measured fixture curve; pass your own from
    a sim_recall_harness run on a production query sample. Raises when no
    measured point reaches the target (then the index geometry — cell
    count, shortlist size — is the problem, not the probe count)."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    curve = MEASURED_IVF_RECALL_BP if measured is None else measured
    # round: 0.56 * 10000 is 5600.000000000001 in floats, which would
    # reject a measured point that equals the target exactly
    target_bp = round(target_recall * 10000)
    feasible = [p for p, bp in curve.items() if bp >= target_bp]
    if not feasible:
        raise ValueError(
            f"no measured probe count reaches recall {target_recall:.2f} "
            f"(curve: {dict(sorted(curve.items()))}); grow the probe sweep "
            "or change the index geometry"
        )
    return min(feasible)


@query("sim_ivf_topk_probe2", oracle=ivf_topk_oracle(2))
def sim_ivf_topk_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probes=2 operating point of ``ivf_topk_probe`` — kept as the
    catalog's named IVF search; the recall harness sweeps probes 1/2/4/8
    through the same parameterized pipeline."""
    return ivf_topk_probe(spark, sf_dir, probes=2)


@query(
    "kmeans_centroids_2iter",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
        FROM e ORDER BY vec_id LIMIT 4
    ),
    a1 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, e.v, c0.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))) AS dist
                FROM e CROSS JOIN c0
            )
        ) WHERE rn = 1
    ),
    c1 AS (
        SELECT cluster, array_agg(mval ORDER BY pos) AS c
        FROM (SELECT cluster, i.range AS pos, AVG(v[i.range]) AS mval
              FROM a1, range(1, 65) i GROUP BY cluster, i.range)
        GROUP BY cluster
    ),
    a2 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, e.v, c1.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) AS dist
                FROM e CROSS JOIN c1
            )
        ) WHERE rn = 1
    ),
    c2 AS (
        SELECT cluster, i.range - 1 AS dim, round(AVG(v[i.range]), 6) AS value
        FROM a2, range(1, 65) i GROUP BY cluster, i.range
    )
    SELECT c2.cluster, n.n_members, c2.dim, c2.value
    FROM c2 JOIN (SELECT cluster, COUNT(*) AS n_members FROM a2 GROUP BY cluster) n
      ON c2.cluster = n.cluster
    ORDER BY c2.cluster, c2.dim
    """,
)
def kmeans_centroids_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/clustering.py), k=4, exactly
    two iterations from the deterministic lowest-id init — the trainer for
    IVF coarse quantizers (learned cells instead of the fixed vectors
    sim_ivf_* uses). Per iteration: one Arrow pass computes argmin
    assignments batch-wise (numpy) and emits k partial (cluster, count,
    sum) rows per partition — the corpus never shuffles, shuffle volume is
    O(partitions * k). The oracle replays both iterations in SQL
    (cross-join argmin with low-index tiebreak + per-dim AVG) and compares
    round-2 cluster sizes + final centroids to 6 dp, exploded to scalar
    (cluster, n_members, dim, value) rows — the driver canonicalizer cannot
    hash array-typed cells."""
    import numpy as np

    from datapipelines_spark.operators.clustering import kmeans_assign, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    # c1 = centroids after ONE iteration; resuming from c1 gives the
    # round-2 centroids without re-running round 1. Assigning against c1
    # reproduces the round-2 assignment whose sizes the oracle counts (and
    # whose means are exactly `cents`).
    c1, _ = kmeans_fit(e, "embedding", "vec_id", k=4, max_iter=1, tol=0.0)
    cents, _ = kmeans_fit(
        e, "embedding", "vec_id", k=4, max_iter=1, tol=0.0, init_centroids=c1
    )
    a2 = kmeans_assign(e, "embedding", "vec_id", c1)
    sizes = a2.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    # round half-up to 6 dp (floor(x*1e6+0.5)) — the SAME rule as Spark's
    # F.round and DuckDB's round(); Python round() is half-even and can
    # flip the 6th decimal against the oracle
    rows = [
        (int(i), [float(np.floor(x * 1e6 + 0.5) / 1e6) for x in cents[i]])
        for i in range(len(cents))
    ]
    cdf = spark.createDataFrame(rows, "cluster int, centroid array<double>")
    return (
        sizes.join(F.broadcast(cdf), "cluster")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            F.posexplode("centroid").alias("dim", "value"),
        )
        .select("cluster", "n_members", F.col("dim").cast("bigint").alias("dim"), "value")
        .orderBy("cluster", "dim")
    )


@query(
    "sim_ivf_kmeans_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
        FROM e ORDER BY vec_id LIMIT 4
    ),
    a1 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, e.v, c0.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))) AS dist
                FROM e CROSS JOIN c0
            )
        ) WHERE rn = 1
    ),
    c1 AS (
        SELECT cluster, array_agg(mval ORDER BY pos) AS c
        FROM (SELECT cluster, i.range AS pos, AVG(v[i.range]) AS mval
              FROM a1, range(1, 65) i GROUP BY cluster, i.range)
        GROUP BY cluster
    ),
    cells AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, c1.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) AS dist
                FROM e CROSS JOIN c1
            )
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS q_id, cluster FROM (
            SELECT e.vec_id, c1.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_sum(list_transform(range(1, 65), i ->
                                          (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) ASC,
                                          c1.cluster ASC) AS rn
            FROM e CROSS JOIN c1
            WHERE e.vec_id % 100 = 0
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT p.q_id, c.vec_id AS c_id
        FROM probes p JOIN cells c ON p.cluster = c.cluster
        WHERE p.q_id != c.vec_id
    ),
    scored AS (
        SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
               list_sum(list_transform(range(1, 65), i -> q.v[i] * n.v[i]))
                   / (q.nrm * n.nrm) AS cos_raw
        FROM cand
        JOIN e q ON q.vec_id = cand.q_id
        JOIN e n ON n.vec_id = cand.c_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN pipeline, end-to-end: TRAIN (one Lloyd iteration of
    k-means from the deterministic init, operators/clustering.py) → INDEX
    (assign every vector to its nearest learned centroid — the IVF cell
    lists) → SEARCH (each query probes its 2 nearest cells, exact cosine
    over the cell members only, top-5). Scored pairs ≈ corpus × probes/k
    instead of corpus × queries. The oracle replays training, indexing and
    probe-2 search in SQL."""
    import numpy as np

    from datapipelines_spark.operators.clustering import kmeans_assign, kmeans_fit
    from datapipelines_spark.operators.dedup import _dot, _norm

    e0 = nonzero_embeddings(spark, sf_dir)
    c1, _ = kmeans_fit(e0, "embedding", "vec_id", k=4, max_iter=1, tol=0.0)
    cells = kmeans_assign(e0, "embedding", "vec_id", c1)

    e = e0.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))

    # probe ranking: squared-euclidean distance to each learned centroid,
    # same arithmetic as training (centroids enter the plan as literals —
    # k x dim doubles, a broadcast-sized constant)
    cent_rows = [(int(i), [float(x) for x in c1[i]]) for i in range(len(c1))]
    cents = F.broadcast(
        spark.createDataFrame(cent_rows, "cluster int, c array<double>")
    )
    qdist = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("cluster"))
    probes = (
        e.where(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("q_id"), "v")
        .crossJoin(cents)
        .withColumn("dist", qdist)
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= 2)
        .select("q_id", "cluster")
    )
    cand = (
        F.broadcast(probes)
        .join(cells.select(F.col("vec_id").alias("c_id"), "cluster"), "cluster")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
    )
    qv = e.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    nv = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(qv), "q_id")
        .join(nv, "c_id")
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


def _pq_oracle(m: int = 4, k: int = 4, dim: int = 64, top_k: int = 5) -> str:
    """DuckDB replay of the full PQ pipeline: per-subspace 1-iteration
    k-means from the lowest-id init, argmin encoding, and ADC search for
    the vec_id % 50 = 0 queries — mirroring operators/pq.py exactly
    (same init, tie, and summation-order rules)."""
    sub = dim // m
    parts: list[str] = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL)"
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        d0 = (
            f"list_sum(list_transform(range(1, {sub + 1}), i -> "
            f"(s{j}.sv[i] - c0_{j}.c[i]) * (s{j}.sv[i] - c0_{j}.c[i])))"
        )
        d1 = (
            f"list_sum(list_transform(range(1, {sub + 1}), i -> "
            f"(s{j}.sv[i] - c1_{j}.c[i]) * (s{j}.sv[i] - c1_{j}.c[i])))"
        )
        parts.append(
            f"s{j} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM e)"
        )
        parts.append(
            f"c0_{j} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, "
            f"sv AS c FROM s{j} ORDER BY vec_id LIMIT {k})"
        )
        parts.append(
            f"""a{j} AS (
                SELECT vec_id, sv, cl FROM (
                    SELECT s{j}.vec_id, s{j}.sv, c0_{j}.cl,
                           row_number() OVER (PARTITION BY s{j}.vec_id
                                              ORDER BY {d0} ASC, c0_{j}.cl ASC)
                               AS rn
                    FROM s{j} CROSS JOIN c0_{j}
                ) WHERE rn = 1
            )"""
        )
        parts.append(
            f"""c1_{j} AS (
                SELECT c0_{j}.cl, COALESCE(mu.c, c0_{j}.c) AS c
                FROM c0_{j} LEFT JOIN (
                    SELECT cl, array_agg(mval ORDER BY pos) AS c
                    FROM (SELECT cl, i.range AS pos, AVG(sv[i.range]) AS mval
                          FROM a{j}, range(1, {sub + 1}) i GROUP BY cl, i.range)
                    GROUP BY cl
                ) mu ON mu.cl = c0_{j}.cl
            )"""
        )
        parts.append(
            f"""code{j} AS (
                SELECT vec_id, cl AS code FROM (
                    SELECT s{j}.vec_id, c1_{j}.cl,
                           row_number() OVER (PARTITION BY s{j}.vec_id
                                              ORDER BY {d1} ASC, c1_{j}.cl ASC)
                               AS rn
                    FROM s{j} CROSS JOIN c1_{j}
                ) WHERE rn = 1
            )"""
        )
        parts.append(
            f"""qt{j} AS (
                SELECT s{j}.vec_id AS query_id, c1_{j}.cl, {d1} AS d
                FROM s{j} CROSS JOIN c1_{j}
                WHERE s{j}.vec_id % 50 = 0
            )"""
        )
    code_joins = "\n        ".join(
        f"JOIN code{j} ON code{j}.vec_id = cand.vec_id" for j in range(m)
    )
    qt_joins = "\n        ".join(
        f"JOIN qt{j} ON qt{j}.query_id = q.query_id AND qt{j}.cl = code{j}.code"
        for j in range(m)
    )
    # sequential left-to-right addition mirrors the engine's per-subspace
    # accumulation order
    adist = " + ".join(f"qt{j}.d" for j in range(m))
    parts.append(
        f"""scored AS (
            SELECT q.query_id, cand.vec_id, {adist} AS adist
            FROM (SELECT DISTINCT vec_id AS query_id FROM e
                  WHERE vec_id % 50 = 0) q
            CROSS JOIN (SELECT vec_id FROM e) cand
            {code_joins}
            {qt_joins}
        )"""
    )
    cte = ",\n    ".join(parts)
    return f"""
    WITH {cte}
    SELECT query_id, vec_id, adist, CAST(rank AS BIGINT) AS rank FROM (
        SELECT query_id, vec_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {top_k}
    ORDER BY query_id, rank
    """


@query("sim_pq_adc_topk", oracle=_pq_oracle())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (operators/pq.py): TRAIN 4
    subspace codebooks (16 dims each, k=4, one deterministic Lloyd
    iteration) -> ENCODE every vector to 4 argmin codes in one Arrow pass
    -> SEARCH the vec_id % 50 = 0 queries by asymmetric distance (M table
    lookups per candidate, no float vector touched at scan time), top-5
    per query. The oracle replays training, encoding and ADC in SQL with
    the same init/tie/summation-order rules."""
    from datapipelines_spark.operators.pq import pq_adc_topk, pq_encode, pq_fit

    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    books = pq_fit(e, "embedding", "vec_id", m=4, k=4, max_iter=1)
    codes = pq_encode(e, "embedding", "vec_id", books)
    queries = e.where(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(
        codes, books, queries, "embedding", "vec_id", top_k=5
    ).orderBy("query_id", "rank")


def _pq_rerank_oracle(
    m: int = 4, k: int = 4, dim: int = 64, shortlist: int = 20, final_k: int = 5
) -> str:
    """Shortlist CTE = the full ADC oracle at top_k=shortlist; re-rank =
    exact squared L2 against the true vectors, dim-ascending sum."""
    base = _pq_oracle(m, k, dim, shortlist)
    return f"""
    WITH short AS ({base}),
    ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    rescored AS (
        SELECT short.query_id, short.vec_id,
               list_sum(list_transform(range(1, {dim + 1}), i ->
                   (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
        FROM short
        JOIN ev c ON c.vec_id = short.vec_id
        JOIN ev q ON q.vec_id = short.query_id
    )
    SELECT query_id, vec_id, dist, CAST(rank AS BIGINT) AS rank FROM (
        SELECT query_id, vec_id, dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist ASC, vec_id ASC) AS rank
        FROM rescored
    ) WHERE rank <= {final_k}
    ORDER BY query_id, rank
    """


@query("sim_pq_rerank_topk", oracle=_pq_rerank_oracle())
def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with exact re-ranking (operators/pq.py:pq_adc_rerank_topk):
    the ADC stage proposes a 20-deep shortlist per query from the
    compressed codes alone; the true vectors are read ONLY for shortlist
    members (broadcast semi-join, no corpus shuffle) and re-scored with
    exact squared L2 for the final top-5. The oracle replays both stages —
    the full ADC pipeline at shortlist depth, then the exact re-rank —
    with identical init/tie/summation-order rules."""
    from datapipelines_spark.operators.pq import (
        pq_adc_rerank_topk,
        pq_encode,
        pq_fit,
    )

    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    books = pq_fit(e, "embedding", "vec_id", m=4, k=4, max_iter=1)
    codes = pq_encode(e, "embedding", "vec_id", books)
    queries = e.where(F.col("vec_id") % 50 == 0)
    return pq_adc_rerank_topk(
        codes, books, queries, e, "embedding", "vec_id",
        shortlist=20, top_k=5,
    ).orderBy("query_id", "rank")


def _sq8_oracle(dim: int = 64, shortlist: int = 20, top_k: int = 5) -> str:
    """DuckDB replay of the SQ8 pipeline (operators/sq.py): L2
    normalization (fold-ordered norm, correctly-rounded sqrt/divide),
    per-dimension min/max fit, byte quantization with the identical
    clamp(floor((x-min)*255/span)) arithmetic, INTEGER code-L2 shortlist
    (associative — no summation-order discipline needed), exact cosine
    re-rank."""
    r = f"range(1, {dim + 1})"
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    en AS (
        SELECT vec_id, v, nrm,
               list_transform(v, x -> x / nrm) AS u
        FROM e
    ),
    stats AS (
        SELECT i.range AS d, MIN(u[i.range]) AS mn, MAX(u[i.range]) AS mx
        FROM en, {r} i GROUP BY 1
    ),
    arrs AS (
        SELECT array_agg(mn ORDER BY d) AS mins,
               array_agg(mx ORDER BY d) AS maxs
        FROM stats
    ),
    codes AS (
        SELECT vec_id,
               list_transform({r}, i -> CAST(
                   CASE WHEN maxs[i] = mins[i] THEN 0
                        ELSE least(255.0, greatest(0.0,
                            floor((u[i] - mins[i]) * 255.0 / (maxs[i] - mins[i]))))
                   END AS BIGINT)) AS c
        FROM en, arrs
    ),
    qc AS (SELECT vec_id AS query_id, c AS q FROM codes WHERE vec_id % 50 = 0),
    scored AS (
        SELECT qc.query_id, codes.vec_id AS neighbor_id,
               CAST(list_sum(list_transform({r}, i ->
                    (qc.q[i] - codes.c[i]) * (qc.q[i] - codes.c[i])))
                    AS BIGINT) AS iscore
        FROM qc CROSS JOIN codes
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY iscore ASC, neighbor_id ASC)
                       AS rn
            FROM scored
        ) WHERE rn <= {shortlist}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               list_sum(list_transform({r}, i -> q.v[i] * n.v[i]))
                   / (q.nrm * n.nrm) AS cos_raw
        FROM short s
        JOIN e q ON q.vec_id = s.query_id
        JOIN e n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC)
                   AS rank
        FROM rer
    )
    WHERE rank <= {top_k}
    ORDER BY query_id, rank
    """


@query("sim_sq8_rerank_topk", oracle=_sq8_oracle())
def sim_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (operators/sq.py): vectors L2-normalized,
    each dimension affine-mapped to one byte from the corpus min/max
    (zero training, 4x memory cut), candidates shortlisted by the INTEGER
    code-space squared L2 — on unit vectors L2 order is cosine order, the
    per-dim affine offset cancels in differences, and integer scores are
    associative, so numpy GEMM order, partial per-batch top-C cuts, and
    the SQL replay agree with no float-order discipline — then the
    20-deep shortlist re-ranked by exact cosine against the true vectors
    for the final top-5. Completes the quantization family next to IVF
    (cell pruning) and PQ (codebook compression)."""
    from datapipelines_spark.operators.sq import sq8_adc_rerank_topk

    e = nonzero_embeddings(spark, sf_dir)
    queries = e.where(F.col("vec_id") % 50 == 0)
    return sq8_adc_rerank_topk(
        e, queries, "embedding", "vec_id", shortlist=20, top_k=5
    ).orderBy("query_id", "rank")


# k-means training + assignment replay shared with sim_ivf_kmeans_topk's
# oracle (kept as literal text in both — oracle strings are frozen against
# refactors on purpose): c0 = k lowest-id vectors, one Lloyd iteration to
# c1, single-probe assignment with first-minimal tie order.
_KMEANS4_CELLS_SQL = """
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
        FROM e ORDER BY vec_id LIMIT 4
    ),
    a1 AS (
        SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, e.v, c0.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))) AS dist
                FROM e CROSS JOIN c0
            )
        ) WHERE rn = 1
    ),
    c1 AS (
        SELECT cluster, array_agg(mval ORDER BY pos) AS c
        FROM (SELECT cluster, i.range AS pos, AVG(v[i.range]) AS mval
              FROM a1, range(1, 65) i GROUP BY cluster, i.range)
        GROUP BY cluster
    ),
    cells AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist ASC, cluster ASC) AS rn
            FROM (
                SELECT e.vec_id, c1.cluster,
                       list_sum(list_transform(range(1, 65), i ->
                           (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) AS dist
                FROM e CROSS JOIN c1
            )
        ) WHERE rn = 1
    )
"""


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH {_KMEANS4_CELLS_SQL},
    dropped AS (
        SELECT DISTINCT cb.vec_id AS b
        FROM cells ca
        JOIN cells cb ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id
        JOIN e ea ON ea.vec_id = ca.vec_id
        JOIN e eb ON eb.vec_id = cb.vec_id
        WHERE list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i]))
              / (ea.nrm * eb.nrm) >= 0.45
    )
    SELECT c.vec_id, CAST(c.cluster AS BIGINT) AS cell,
           d.b IS NULL AS is_kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.b
    ORDER BY c.vec_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py:semantic_dedup): k-means-partition the
    embedding space (k=4, the deterministic one-iteration fit the IVF
    queries train), then within each cell drop every vector with an
    earlier-id neighbor at cosine >= 0.45 — semantic near-dup removal whose
    candidate work is bounded by Σ|cell|², the web-scale recipe. The
    oracle replays training, assignment, the within-cell pair sweep, and
    the smallest-id survivor rule in SQL."""
    from datapipelines_spark.operators.dedup import semantic_dedup

    e = nonzero_embeddings(spark, sf_dir)
    return semantic_dedup(
        e, vec_col="embedding", id_col="vec_id", k=4, threshold=0.45
    ).orderBy("vec_id")


@query(
    "sample_oversample_parity",
    oracle="""
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings
               WHERE label IS NOT NULL GROUP BY label),
    f AS (
        SELECT label, n,
               LEAST((SELECT MAX(n) FROM c) // n, 1000) AS factor
        FROM c
    )
    SELECT CAST(label AS BIGINT) AS label,
           n AS n_before,
           CAST(factor AS BIGINT) AS factor,
           n * factor AS n_after
    FROM f
    ORDER BY label
    """,
)
def sample_oversample_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-parity oversampling (operators/mixing.py:oversample_to_parity)
    run END TO END: the embeddings table is materially resampled — every
    row repeated floor(majority/class) times via an explode where the row
    lives — and the query reports per-class before/factor/after counts
    FROM THE RESAMPLED ROWS, so the oracle's closed-form n*factor checks
    the actual multiplication, not the plan's intent."""
    from datapipelines_spark.operators.mixing import oversample_to_parity

    # a NULL class is not a class: it cannot be brought to parity, and the
    # factor join-back would drop it asymmetrically across engines
    e = load_table(spark, sf_dir, "embeddings").where(F.col("label").isNotNull())
    before = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_before"))
    res = oversample_to_parity(e, "label")
    after = res.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.max("__copy").cast("bigint").alias("factor"),
    )
    return (
        before.join(after, "label")
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_before",
            "factor",
            "n_after",
        )
        .orderBy("label")
    )


# within-cell top-5 ranking + reciprocal reduction, shared by sim_knn_graph
# and sim_knn_components (the closure reads the same mutual edge set)
_KNN_MUTUAL_SQL = f"""
    scored AS (
        SELECT ca.vec_id AS src, cb.vec_id AS dst,
               {_ivf_dot('ea.v', 'eb.v')} / (ea.nrm * eb.nrm) AS cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY ca.vec_id
                   ORDER BY {_ivf_dot('ea.v', 'eb.v')} / (ea.nrm * eb.nrm)
                            DESC, cb.vec_id
               ) AS rn
        FROM cells ca
        JOIN cells cb ON ca.cluster = cb.cluster AND ca.vec_id <> cb.vec_id
        JOIN e ea ON ea.vec_id = ca.vec_id
        JOIN e eb ON eb.vec_id = cb.vec_id
    ),
    knn AS (SELECT src, dst, cos_raw FROM scored WHERE rn <= 5),
    mutual AS (
        SELECT a.src, a.dst, a.cos_raw
        FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
        WHERE a.src < a.dst
    )"""


@query(
    "sim_knn_graph",
    oracle=f"""
    WITH {_KMEANS4_CELLS_SQL},
    {_KNN_MUTUAL_SQL}
    SELECT src, dst, round(cos_raw, 6) AS cosine
    FROM mutual
    ORDER BY src, dst
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual kNN graph (operators/similarity.py:knn_graph): k-means-
    partition the embeddings (the deterministic 4-cell, one-iteration fit
    shared with SemDeDup), rank each vector's within-cell top-5 cosine
    neighbors (sequential-fold dot, ties to the lower id), and keep only
    RECIPROCAL edges (each side in the other's top-5), one row per
    undirected edge. Candidate work is Σ|cell|², never corpus² — no
    all-pairs stage anywhere in the plan. The oracle replays training,
    assignment, per-vector ranking, and the reciprocity join in SQL."""
    from datapipelines_spark.operators.similarity import knn_graph

    e = nonzero_embeddings(spark, sf_dir)
    return knn_graph(
        e, vec_col="embedding", id_col="vec_id", k=5, n_cells=4, mutual=True
    ).orderBy("src", "dst")


@query(
    "sim_knn_components",
    oracle=f"""
    WITH RECURSIVE {_KMEANS4_CELLS_SQL},
    {_KNN_MUTUAL_SQL},
    strong AS (SELECT src, dst FROM mutual WHERE cos_raw >= 0.5),
    edges AS (SELECT src AS u, dst AS v FROM strong
              UNION SELECT dst, src FROM strong),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
    SELECT e.vec_id,
           COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
           COALESCE(cl.cluster_id, e.vec_id) = e.vec_id AS is_canonical
    FROM e LEFT JOIN clusters cl ON cl.node = e.vec_id
    ORDER BY e.vec_id
    """,
)
def sim_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based semantic clustering — the composition the mutual kNN
    graph exists to feed: mutual top-5 edges at cosine >=
    0.5 close into connected components (min-label propagation,
    operators/components.py), min-id canonical per cluster, singletons
    self-canonical — a graph-based SemDeDup variant whose keep/drop
    verdict follows the DUPLICATE GRAPH rather than per-cell pair sweeps
    (cross-checked: kNN reciprocity already symmetrizes, so components
    are well-defined without a direction convention). The oracle replays
    the k-means cells, the within-cell ranking, the reciprocity join, the
    threshold, and a recursive transitive-closure CTE."""
    from datapipelines_spark.operators.components import duplicate_clusters
    from datapipelines_spark.operators.similarity import knn_graph

    e = nonzero_embeddings(spark, sf_dir)
    edges = knn_graph(
        e, vec_col="embedding", id_col="vec_id", k=5, n_cells=4, mutual=True
    ).where(F.col("cosine") >= 0.5)
    clusters = duplicate_clusters(edges, src="src", dst="dst")
    return (
        e.select(F.col("vec_id"))
        .join(clusters, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
            F.coalesce(F.col("vec_id") == F.col("cluster_id"), F.lit(True)).alias(
                "is_canonical"
            ),
        )
        .orderBy("vec_id")
    )


def _ivf_sq8_oracle(dim: int = 64, shortlist: int = 20, top_k: int = 5) -> str:
    """DuckDB replay of the COMPOSED ANN plan: IVF coarse quantization
    (the sim_ivf_topk_probe2 fragment — fixed cells, probe 2) bounds the
    candidate set, the SQ8 integer code-L2 (the sim_sq8_rerank_topk
    fragment) shortlists within it, exact cosine re-ranks."""
    r = f"range(1, {dim + 1})"
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
    ),
    cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
    ranked AS (
        SELECT e.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_ivf_dot('e.v', 'c.cv')} / (e.nrm * c.cn) DESC,
                                           c.cell_id) AS rn
        FROM e JOIN cents c ON true
    ),
    corpus_cells AS (SELECT vec_id AS c_id, cell_id FROM ranked WHERE rn = 1),
    probe_cells AS (SELECT vec_id AS q_id, cell_id FROM ranked
                    WHERE rn <= 2 AND vec_id % 100 = 0),
    cand AS (
        SELECT DISTINCT q_id, c_id
        FROM probe_cells JOIN corpus_cells USING (cell_id)
        WHERE q_id <> c_id
    ),
    en AS (SELECT vec_id, v, nrm, list_transform(v, x -> x / nrm) AS u FROM e),
    stats AS (
        SELECT i.range AS d, MIN(u[i.range]) AS mn, MAX(u[i.range]) AS mx
        FROM en, {r} i GROUP BY 1
    ),
    arrs AS (
        SELECT array_agg(mn ORDER BY d) AS mins,
               array_agg(mx ORDER BY d) AS maxs
        FROM stats
    ),
    codes AS (
        SELECT vec_id,
               list_transform({r}, i -> CAST(
                   CASE WHEN maxs[i] = mins[i] THEN 0
                        ELSE least(255.0, greatest(0.0,
                            floor((u[i] - mins[i]) * 255.0 / (maxs[i] - mins[i]))))
                   END AS BIGINT)) AS c
        FROM en, arrs
    ),
    scored AS (
        SELECT cand.q_id, cand.c_id,
               CAST(list_sum(list_transform({r}, i ->
                    (qc.c[i] - cc.c[i]) * (qc.c[i] - cc.c[i])))
                    AS BIGINT) AS iscore
        FROM cand
        JOIN codes qc ON qc.vec_id = cand.q_id
        JOIN codes cc ON cc.vec_id = cand.c_id
    ),
    short AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY iscore ASC, c_id ASC) AS rn
            FROM scored
        ) WHERE rn <= {shortlist}
    ),
    rer AS (
        SELECT s.q_id AS query_id, s.c_id AS neighbor_id,
               {_ivf_dot('q.v', 'n.v')} / (q.nrm * n.nrm) AS cos_raw
        FROM short s
        JOIN e q ON q.vec_id = s.q_id
        JOIN e n ON n.vec_id = s.c_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
    FROM (
        SELECT query_id, neighbor_id, cos_raw,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC)
                   AS rank
        FROM rer
    )
    WHERE rank <= {top_k}
    ORDER BY query_id, rank
    """


@query("sim_ivf_sq8_topk", oracle=_ivf_sq8_oracle())
def sim_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-vector ANN plan: IVF cell pruning bounds the
    candidate set (corpus x probes/cells pairs, never corpus x queries),
    the SQ8 INTEGER code-space L2 shortlists inside it from one-byte
    codes (the float vector is never touched at scan time), and exact
    cosine re-ranks the 20-deep shortlist — how sim_sq8_rerank_topk's
    whole-corpus scan composes at 10^9 vectors, the same IVF+SQ layering
    FAISS deploys. Because IVF already bounds candidates, the integer
    scoring runs JVM-side (codegen fold over int arrays) — no Arrow pass
    needed. All quantized arithmetic is integer, so every stage replays
    bit-exact in the oracle."""
    from datapipelines_spark.functions.partitioning import parallelize_small
    from datapipelines_spark.operators.dedup import _dot, _norm
    from datapipelines_spark.operators.sq import sq8_encode, sq8_fit

    e = (
        parallelize_small(
            load_table(spark, sf_dir, "embeddings").where(
                F.col("embedding").isNotNull()
            )
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )
    e = managed_persist(e)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.asc("cell_id"))
    ranked = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cell_id",
            (_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))).alias(
                "cos_raw"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    ranked = managed_persist(ranked)
    corpus_cells = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("c_id"), "cell_id"
    )
    probe_cells = ranked.where(
        (F.col("rn") <= 2) & (F.col("vec_id") % 100 == 0)
    ).select(F.col("vec_id").alias("q_id"), "cell_id")
    cand = (
        F.broadcast(probe_cells)
        .join(corpus_cells, "cell_id")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    mins, maxs = sq8_fit(e, "v")
    codes = managed_persist(sq8_encode(e, "v", "vec_id", mins, maxs))
    qcodes = codes.select(F.col("vec_id").alias("q_id"), F.col("codes").alias("qc"))
    ccodes = codes.select(F.col("vec_id").alias("c_id"), F.col("codes").alias("cc"))
    iscore = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    ws = Window.partitionBy("q_id").orderBy(F.asc("iscore"), F.asc("c_id"))
    short = (
        cand.join(F.broadcast(qcodes), "q_id")
        .join(ccodes, "c_id")
        .withColumn("iscore", iscore)
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= 20)
        .select("q_id", "c_id")
    )
    qv = e.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    nv = e.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("nv2"), F.col("nrm").alias("nn2")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        F.broadcast(short)
        .join(nv, "c_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (_dot(F.col("qv"), F.col("nv2")) / (F.col("qn") * F.col("nn2"))).alias(
                "cos_raw"
            ),
        )
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )
