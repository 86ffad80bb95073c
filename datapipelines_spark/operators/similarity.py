"""Similarity search over embedding columns: brute-force cosine top-k and
random-hyperplane LSH bucketing.

Brute force is exact and O(n·q); LSH prunes candidates to same-signature
buckets — at 100 TB the bucket join replaces the cross join, trading recall
for a ~buckets-fold cost reduction. Hyperplanes are integer-arithmetic
pseudo-random (deterministic, engine-portable, exactly representable in
doubles) so signatures are oracle-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from datapipelines_spark.operators.dedup import _dot, _norm

#: Integer hyperplane component for plane j, dimension i:
#: ((j+1)*2654435761 + i*40503) % 2001 - 1000  — in [-1000, 1000].
_PLANE_MULT_J = 2_654_435_761
_PLANE_MULT_I = 40_503
_PLANE_MOD = 2_001
_PLANE_SHIFT = 1_000


def hyperplane(j: int, dim: int) -> list[int]:
    return [
        ((j + 1) * _PLANE_MULT_J + i * _PLANE_MULT_I) % _PLANE_MOD - _PLANE_SHIFT
        for i in range(dim)
    ]


def lsh_signature(vec: Column | str, dim: int, num_planes: int = 16) -> Column:
    """Random-hyperplane signature: bit j = 1 iff dot(v, plane_j) >= 0.

    Pass a column NAME to take the memoized plan-build path: the plane
    literals alone are dim*num_planes py4j round trips (~1 s of build at 64x16), and the tree is a pure function
    of (name, dim, num_planes); the name form casts to array<double>
    itself. A Column argument builds inline, as before."""

    def build(v: Column) -> Column:
        sig = F.lit(0).cast("long")
        for j in range(num_planes):
            plane = F.array(*[F.lit(float(w)) for w in hyperplane(j, dim)])
            bit = F.when(_dot(v, plane) >= 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0)
            )
            sig = sig + bit
        return sig

    if isinstance(vec, str):
        from datapipelines_spark.functions.caching import expr_memo

        return expr_memo(
            ("lsh_signature", vec, dim, num_planes),
            lambda: build(F.col(vec).cast("array<double>")),
        )
    return build(vec)


def lsh_signatures(
    df: DataFrame, vec_col: str, id_col: str, dim: int, num_planes: int = 16
) -> DataFrame:
    """(id, sig) per vector — the bucketing key for approximate search."""
    from datapipelines_spark.functions.partitioning import parallelize_small

    return parallelize_small(df.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col), lsh_signature(vec_col, dim, num_planes).alias("sig")
    )


def cosine_topk_vectorized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred: Column,
    k: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """BLAS path for exact top-k: queries collected to a numpy matrix
    (size-guarded by ``max_query_rows``), corpus streamed through
    mapInPandas in Arrow batches, scored as one matrix product per batch,
    and reduced to per-partition partial top-k before the final global
    top-k window.

    Same results as ``cosine_topk`` (tested, including tie ordering), but
    the per-candidate cost is a fused BLAS op instead of an interpreted
    per-row fold — the shape that wins when the corpus is billions of
    vectors: shuffle volume is O(partitions × queries × k), never O(corpus).

    The query matrix lives on the driver and is serialized into every task,
    so an unexpectedly fat query predicate must fail fast, not OOM the
    driver: the collect is capped at ``max_query_rows`` (the limit executes
    executor-side before any row reaches the driver). For larger query sets
    chunk the predicate, or use the LSH/IVF paths where the query side
    stays distributed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from datapipelines_spark.functions.partitioning import parallelize_small

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine_raw", T.DoubleType()),
        ]
    )
    q_rows = (
        df.where(query_pred)
        .select(F.col(id_col), F.col(vec_col))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_vectorized: query predicate matched more than "
            f"max_query_rows={max_query_rows} rows; the query matrix is "
            f"driver-resident and broadcast per task. Chunk the query side, "
            f"raise max_query_rows deliberately, or use the LSH/IVF search "
            f"paths for distributed query sets."
        )
    if not q_rows:
        empty = df.sparkSession.createDataFrame([], out_schema)
        return empty.select(
            "query_id", "neighbor_id", F.col("cosine_raw").alias("cosine"), F.lit(1).alias("rank")
        ).limit(0)
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            sims = (q_mat @ mat.T) / (q_norm[:, None] * norms[None, :])  # (nq, nb)
            out = []
            for qi in range(len(q_ids)):
                row = sims[qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # lexsort: primary -cosine, secondary neighbor id ascending —
                # the SAME total order as the final window (cosine desc,
                # neighbor_id asc), so a tie crossing the per-batch top-k
                # boundary keeps the lower id, exactly like the exact path
                top = cand_idx[np.lexsort((ids[cand_idx], -row[cand_idx]))[:k]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": ids[top],
                            "cosine_raw": row[top],
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine_raw": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine_raw": "float64"})

    partials = parallelize_small(df.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine"), "rank")
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred: Column,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every row matching ``query_pred``.

    The query side is broadcast (few queries vs the corpus); ranking is a
    window partitioned per query — one shuffle of (query, candidate, score)
    triples, and only scores survive the projection (vectors are dropped
    before the shuffle).
    """
    from datapipelines_spark.functions.partitioning import parallelize_small

    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    # only the corpus side is widened: the query side is filtered then
    # broadcast, so repartitioning it would just add a shuffle stage to the
    # broadcast-build job
    q = e.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = parallelize_small(e).select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine"), "rank")
    )


def cosine_topk_auto(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred: Column,
    k: int = 5,
    pair_budget: int = 5_000_000,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Route exact top-k by cost: when queries × corpus fits ``pair_budget``,
    use the broadcast-join expression path (``cosine_topk``) — pure Catalyst,
    no driver-resident matrix, no Python worker launch, so its constant cost
    is milliseconds; otherwise the BLAS ``cosine_topk_vectorized`` path whose
    per-candidate cost wins on big corpora (on a 2k-vector corpus the BLAS
    path's fixed overhead measured 10×).

    Both probes early-stop via ``limit(n+1).count()``: on a billion-row
    corpus the router reads a bounded prefix, never a full scan. Probe
    results are memoized per (session, analyzed plan) so repeated builds pay
    the probe jobs once. The memo assumes the PLAN determines the count, so
    a source that grows between builds can keep routing through the
    broadcast path; a stale probe only mis-ROUTES (both paths return
    identical results, tie order included — tested)."""
    probe = pair_budget // max(k, 1)
    n_corpus = _bounded_count(df.select(id_col), probe + 1)
    if n_corpus <= probe:
        n_queries = _bounded_count(df.where(query_pred).select(id_col), probe + 1)
        if n_queries * n_corpus <= pair_budget:
            return cosine_topk(df, vec_col, id_col, query_pred, k)
    return cosine_topk_vectorized(
        df, vec_col, id_col, query_pred, k, max_query_rows=max_query_rows
    )


#: (applicationId, analyzed-plan sha256, limit) -> bounded count; see
#: functions/partitioning.plan_width for the rationale. Keyed on the full
#: analyzed plan string, not DataFrame.semanticHash() — that is a 32-bit
#: hash, so distinct plans can collide and return each other's counts.
_COUNT_CACHE: dict[tuple[str, str, int], int] = {}


def _bounded_count(df: DataFrame, limit: int) -> int:
    from datapipelines_spark.functions.partitioning import plan_fingerprint

    key = (
        df.sparkSession.sparkContext.applicationId,
        plan_fingerprint(df),
        limit,
    )
    n = _COUNT_CACHE.get(key)
    if n is None:
        if len(_COUNT_CACHE) > 4096:
            _COUNT_CACHE.clear()
        n = df.limit(limit).count()
        _COUNT_CACHE[key] = n
    return n


def cosine_topk_chunked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred: Column,
    k: int = 5,
    chunk_rows: int = 100_000,
    num_chunks: int | None = None,
) -> DataFrame:
    """Exact BLAS top-k for query sets BIGGER than one driver-resident
    matrix: the query side is hash-partitioned into chunks of ~``chunk_rows``
    and each chunk runs ``cosine_topk_vectorized`` independently; results
    union (chunks are disjoint query sets, so no dedup/re-rank is needed).

    Trade-off stated plainly: N chunks = N passes over the corpus. That is
    still the right shape when the query set is, say, 1M rows against a
    1B-row corpus (10 passes of fused BLAS beat one 10^15-pair nested
    loop); when BOTH sides are huge, use the LSH/IVF paths where neither
    side is driver-resident.
    """
    import math

    if num_chunks is None:
        # optimistic single-chunk attempt instead of a pre-count of the query
        # side: the size guard inside the vectorized path is a
        # limit(chunk_rows+1).collect(), which early-stops — a failed attempt
        # costs a bounded partial scan, not a full corpus scan. Only when the
        # guard trips do we pay one column-pruned count to size the chunks.
        try:
            return cosine_topk_vectorized(
                df, vec_col, id_col, query_pred, k, max_query_rows=chunk_rows
            )
        except ValueError:
            n_queries = df.where(query_pred).select(id_col).count()
            num_chunks = max(2, math.ceil(n_queries / chunk_rows))
    chunks = num_chunks
    if chunks == 1:
        return cosine_topk_vectorized(
            df, vec_col, id_col, query_pred, k, max_query_rows=chunk_rows
        )
    from datapipelines_spark.functions.hashing import portable_hash64

    out = None
    for i in range(chunks):
        chunk_pred = query_pred & (portable_hash64(F.col(id_col)) % chunks == i)
        part = cosine_topk_vectorized(
            df, vec_col, id_col, chunk_pred, k,
            # per-chunk guard: hash splits are uniform; 4x headroom covers skew
            max_query_rows=max(chunk_rows * 4 // chunks + chunk_rows, 1024),
        )
        out = part if out is None else out.unionByName(part)
    return out


def knn_graph(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 4,
    kmeans_iters: int = 1,
    mutual: bool = True,
    impl: str = "gemm",
    shortlist_margin: int = 8,
    shortlist_eps: float = 1e-9,
    cell_block: int = 65_536,
) -> DataFrame:
    """Approximate kNN GRAPH over the corpus — the missing primitive
    between pairwise similarity search and graph analytics: every vector's
    k nearest neighbors WITHIN its IVF cell, optionally reduced to the
    MUTUAL (reciprocal) edge set — src in dst's top-k AND dst in src's —
    the standard symmetrization that feeds connected components, duplicate-
    graph centrality, and graph-based SemDeDup variants.

    Scale shape (the SemDeDup lever, operators/dedup.py:semantic_dedup):
    vectors hard-partition into ``n_cells`` k-means cells (deterministic
    lowest-id init, first-minimal tie rule — SQL-replayable), and ALL
    candidate work is within-cell: one hash shuffle keyed on cell, then a
    cell-bucketed join bounded by Σ|cell|², never corpus². Cross-cell
    neighbors are the deliberate recall trade every IVF index makes. Only
    (id, id, score) triples survive the ranking shuffle; vectors never
    leave their cell join.

    Determinism: FINAL scoring and ranking always use the sequential-fold
    dot product (operators/dedup.py:_dot) — the same summation order as
    the SQL oracles' list_sum — with cosine ties broken by ascending
    neighbor id, so the graph is bit-stable across engines and retries.
    Under ``impl='gemm'`` (default, the scale path) the Σ|cell|² pair
    sweep runs as numpy GEMMs proposing a per-vector shortlist, and only
    shortlist pairs are re-scored with the exact fold (the PQ re-rank
    discipline, operators/pq.py) — the decisive numbers never come from
    BLAS, whose pairwise summation differs from the fold in the last ulp.
    The shortlist is every candidate whose GEMM cosine is within
    ``shortlist_eps`` of the ``k + shortlist_margin``-th best (not a hard
    top-m cut): BLAS-vs-fold disagreement is bounded by ~1e-13 relative,
    so with eps orders of magnitude above it the shortlist PROVABLY
    contains the exact top-k even when arbitrarily many candidates tie at
    the boundary — the adversarial-input miss a hard top-m cut would
    have. Output is therefore identical to ``impl='expr'``
    (the pure Catalyst pair join, exact by construction; equality-tested)
    on ANY input, and independent of the local BLAS build: a different
    GEMM rounding can only change shortlist SIZE, never the re-ranked
    result.

    Per-task memory is bounded regardless of cell skew: cells larger than ``cell_block`` rows are hash-split into
    sub-blocks and the shortlist stage runs per (source-block,
    candidate-block) PAIR — the ``embedding_cosine_pairs_blocked``
    discipline — so one task holds at most two blocks, not a whole cell;
    each block proposes its local eps-extended top-m, whose union is a
    superset of the cell-wide shortlist, and the exact re-rank collapses
    the difference. A 10⁹-vector cell with default settings runs as
    bounded ~65k-row block pairs instead of one unbounded task.

    Returns ``(src, dst, cosine)`` with cosine rounded to 6 decimals;
    under ``mutual=True`` each undirected edge appears once with
    ``src < dst``. Domain: callers filter NULL and zero-norm vectors
    upstream (no cosine direction), as all cosine paths here require.
    """
    import pyspark.sql.types as T

    from datapipelines_spark.functions.caching import managed_persist
    from datapipelines_spark.functions.partitioning import parallelize_small
    from datapipelines_spark.operators.clustering import kmeans_assign, kmeans_fit
    from datapipelines_spark.operators.dedup import _dot, _norm

    if impl not in ("gemm", "expr"):
        raise ValueError(f"impl must be 'gemm' or 'expr', got {impl!r}")
    e = managed_persist(
        parallelize_small(
            df.select(
                F.col(id_col).cast("long").alias("__id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
        ).withColumn("nrm", _norm(F.col("v")))
    )
    cents, _ = kmeans_fit(e, "v", "__id", k=n_cells, max_iter=kmeans_iters, tol=0.0)
    withv = e.join(kmeans_assign(e, "v", "__id", cents), "__id")

    if impl == "gemm":
        import math

        m = k + int(shortlist_margin)
        eps = float(shortlist_eps)
        # Sub-block sizing: if the WHOLE corpus fits one block, no cell can
        # need splitting; only past that bound pay the per-cell counts
        # aggregate (one bounded n_cells-row collect, the centroid-partials
        # precedent) and teach each row its block count via a map literal.
        # The probe is the memoized early-stopping count: one
        # bounded job per distinct corpus plan per session instead of a
        # full count per build — bench repeats and composed callers skip
        # the job entirely. Memo keyed on (appId, plan fingerprint): an
        # in-place-growing source under an identical plan would reuse a
        # stale block-sizing decision (mis-sized blocks, never wrong
        # results); sources are immutable snapshots here.
        if _bounded_count(e.select(F.lit(1)), int(cell_block) + 1) <= int(cell_block):
            n_blocks = {}
        else:
            cell_counts = {
                r["cluster"]: r["__n"]
                for r in withv.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("__n"))
                .collect()
            }
            n_blocks = {
                c: max(1, math.ceil(n / int(cell_block)))
                for c, n in cell_counts.items()
            }
        if all(nb == 1 for nb in n_blocks.values()):
            # no cell needs splitting: skip the fan-out plumbing — one
            # task per cell, sources double as candidates (diagonal task)
            tasks = withv.select(
                "__id",
                "v",
                "cluster",
                F.lit(0).alias("bi"),
                F.lit(0).alias("bj"),
                F.lit("s").alias("side"),
            )
        else:
            nb_map = F.create_map(
                *[F.lit(x) for cn in n_blocks.items() for x in cn]
            )
            tagged = withv.withColumn(
                "__nb", nb_map[F.col("cluster")].cast("int")
            ).withColumn(
                "__blk",
                F.pmod(F.xxhash64(F.col("__id")), F.col("__nb")).cast("int"),
            )
            # Source side fans out to every candidate block of its cell;
            # candidate side to every source block except its own (the
            # diagonal task reuses its source rows as candidates).
            s_tasks = F.transform(
                F.sequence(F.lit(0), F.col("__nb") - 1),
                lambda j: F.struct(
                    F.col("__blk").alias("bi"),
                    j.cast("int").alias("bj"),
                    F.lit("s").alias("side"),
                ),
            )
            c_tasks = F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.col("__nb") - 1),
                    lambda i: F.struct(
                        i.cast("int").alias("bi"),
                        F.col("__blk").alias("bj"),
                        F.lit("c").alias("side"),
                    ),
                ),
                lambda t: t["bi"] != F.col("__blk"),
            )
            tasks = tagged.select(
                "__id",
                "v",
                "cluster",
                F.explode(F.concat(s_tasks, c_tasks)).alias("t"),
            ).select(
                "__id",
                "v",
                "cluster",
                F.col("t.bi").alias("bi"),
                F.col("t.bj").alias("bj"),
                F.col("t.side").alias("side"),
            )

        def block_shortlist(key, pdf):
            import numpy as np
            import pandas as pd

            _, bi, bj = key
            empty = pd.DataFrame({"src": [], "dst": []}).astype("int64")
            rows_s = pdf[pdf["side"] == "s"].sort_values("__id", kind="mergesort")
            if len(rows_s) == 0:
                return empty
            rows_c = (
                rows_s
                if bi == bj
                else pdf[pdf["side"] == "c"].sort_values("__id", kind="mergesort")
            )
            nc = len(rows_c)
            if nc == 0 or (bi == bj and nc < 2):
                return empty
            ids_s = rows_s["__id"].to_numpy(dtype=np.int64)
            ids_c = rows_c["__id"].to_numpy(dtype=np.int64)
            Vs = np.stack(rows_s["v"].to_numpy())
            Vs = Vs / np.linalg.norm(Vs, axis=1, keepdims=True)
            if bi == bj:
                Vc = Vs
            else:
                Vc = np.stack(rows_c["v"].to_numpy())
                Vc = Vc / np.linalg.norm(Vc, axis=1, keepdims=True)
            out_src, out_dst = [], []
            bs = 2048
            for c0 in range(0, len(ids_s), bs):
                chunk = slice(c0, min(c0 + bs, len(ids_s)))
                S = Vs[chunk] @ Vc.T
                if bi == bj:
                    # ids are unique corpus-wide: self pairs exist only on
                    # the diagonal task, at matching positions
                    S[np.arange(chunk.stop - chunk.start), np.arange(c0, chunk.stop)] = -np.inf
                top = min(m, nc - (1 if bi == bj else 0))
                if top <= 0:
                    continue
                # eps-extended shortlist: everything within eps of the
                # top-th best — ties at the boundary can never drop a
                # true top-k candidate (see docstring)
                kth = np.partition(S, nc - top, axis=1)[:, nc - top]
                keep = S >= (kth - eps)[:, None]
                ia, ic = np.nonzero(keep)
                out_src.append(ids_s[chunk][ia])
                out_dst.append(ids_c[ic])
            if not out_src:
                return empty
            return pd.DataFrame(
                {"src": np.concatenate(out_src), "dst": np.concatenate(out_dst)}
            )

        cand = tasks.groupBy("cluster", "bi", "bj").applyInPandas(
            block_shortlist,
            T.StructType(
                [T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]
            ),
        )
        va = withv.select(
            F.col("__id").alias("src"), F.col("v").alias("va"), F.col("nrm").alias("na")
        )
        vb = withv.select(
            F.col("__id").alias("dst"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        )
        scored = (
            cand.join(va, "src")
            .join(vb, "dst")
            .select(
                "src",
                "dst",
                (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                    "cos_raw"
                ),
            )
        )
    else:
        a = withv.select(
            F.col("__id").alias("src"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
            "cluster",
        )
        b = withv.select(
            F.col("__id").alias("dst"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
            "cluster",
        )
        scored = (
            a.join(b, "cluster")
            .where(F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                    "cos_raw"
                ),
            )
        )
    w = Window.partitionBy("src").orderBy(F.desc("cos_raw"), F.asc("dst"))
    knn = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("src", "dst", "cos_raw")
    )
    if not mutual:
        return knn.select("src", "dst", F.round("cos_raw", 6).alias("cosine"))
    # the reciprocal check self-joins the top-k edge list: persist it, or
    # both join sides re-execute the whole shortlist+score+rank pipeline
    # (the static plan carries the FlatMapGroupsInPandas subtree twice).
    # The edge list is corpus×k (id, id, double) rows — cache-sized at any
    # corpus the cell-blocked shortlist itself can handle.
    knn = managed_persist(knn)
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.join(rev, ["src", "dst"])  # reciprocal: both directions ranked
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", F.round("cos_raw", 6).alias("cosine"))
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    query_pred: Column,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query vector, the k most cosine-similar vectors with a DIFFERENT label
    — the "looks the same, isn't" examples that give a contrastive loss
    its gradient (the standard in-batch/corpus negative-mining recipe).

    Plan shape: the query set broadcasts (it is the small side by
    construction — a sampled probe set), candidates stream once through a
    label-mismatch broadcast join, and the per-query top-k is a window
    over query_id. Scoring work is corpus x |queries| exactly like the
    brute-force ground truth; for large probe sets, route through the IVF
    cells first (the sim_ivf machinery) and mine within probed cells.

    Emits ``(query_id, query_label, neighbor_id, neighbor_label, cosine
    [rounded 6dp], rank)``.
    """
    from datapipelines_spark.operators.dedup import _dot, _norm

    e = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(label_col).alias("lab"),
    ).withColumn("nrm", _norm(F.col("v")))
    q = e.where(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("lab").alias("query_label"),
    )
    c = e.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("lab").alias("neighbor_label"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_label") != F.col("neighbor_label")
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cos_raw"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )
