"""Connected components over a pair graph — near-dup *clustering*.

Pair lists (from minhash/jaccard/simhash) aren't directly actionable for
dedup; the keep/drop decision needs clusters: every document in a connected
component of the similarity graph is one duplicate group, and the canonical
survivor is the min id. This is the alternating-minimum label propagation of
the "Connected Components in MapReduce and Beyond" (Kiveris et al.) family,
expressed as iterative DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint, with a pointer-jumping step (label <- label(label))
fused into rounds 3+ so remaining distance-to-root halves per round:
rounds = O(log diameter), not O(diameter) — a pathological 1000-link
duplicate chain converges in ~10 rounds, while the short/dense clusters
real near-dup graphs form finish in ≤2 plain two-shuffle rounds and never
pay the jump's extra self-join. Driver-side iteration with a
convergence check via an aggregate — the loop control is metadata-only, the
data never leaves executors.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iterations before reaching fixpoint."""


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """(node, component) for every node in the pair graph; component = min
    node id reachable. ``pairs`` is an undirected edge list.

    If the loop exhausts ``max_iterations`` without the fixpoint check
    passing, the labels are NOT components — one duplicate group would be
    silently split into several, keeping extra "canonical" copies. Default
    ``on_nonconverged='raise'`` turns that into a ``ConvergenceError``;
    ``'warn'`` returns the partial labels with a ``warnings.warn`` (for
    exploratory use where approximate clusters are acceptable)."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    from datapipelines_spark.functions.caching import managed_persist

    # the edge list is re-joined every iteration: persist it, or each round
    # re-runs the whole upstream pair pipeline (LSH, verification, ...).
    # The undirected pair list is persisted FIRST: the two union
    # branches below are different projections of the same pair plan, and
    # without the persist each branch re-executed the upstream
    # candidate-join pipeline past its last exchange.
    pairs_p = managed_persist(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    edges = (
        pairs_p.unionByName(
            pairs_p.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .persist()
    )
    # labels lineage would otherwise grow by two joins per round (and the
    # convergence count re-executes the entire stack each time) — truncate
    # it at every iteration.
    # Initialization FUSES the first propagation round: with labels = ids,
    # round 1's neighbor-min is just min(neighbor ids), so
    # label0(v) = min(v, min neighbors) comes out of ONE aggregate over the
    # edge list — same result as init-to-self + one full round, minus one
    # checkpoint+convergence job pair (the CC rounds are
    # fixed-overhead-dominated at small scale).
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("component"))
        .withColumnRenamed("u", "node")
        .localCheckpoint()
    )
    converged = False
    for round_no in range(1, max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(neighbor_min, labels.node == neighbor_min.u, "left").select(
            "node",
            F.col("component").alias("old_component"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
        )
        if round_no >= 2:
            # Pointer jumping: follow the label one more hop —
            # c(v) <- c(c(v)). A label is always some node's id, so the
            # self-join hits; combined with the neighbor-min step this
            # halves the remaining distance-to-root per round, making the
            # tail O(log diameter) instead of O(diameter) (a 1000-link
            # duplicate chain converges in ~10 rounds, not 1000).
            # Engaged only from round 3: real duplicate clusters are
            # short/dense and converge in ≤2 plain rounds — they never pay
            # the extra self-join; deep pathological graphs still get the
            # exponential speedup.
            parents = propagated.select(
                F.col("node").alias("p_node"), F.col("component").alias("p_component")
            )
            propagated = propagated.join(
                parents, propagated.component == parents.p_node, "left"
            ).select(
                "node",
                "old_component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_component"), F.col("component")),
                ).alias("component"),
            )
        # convergence detection rides the same materialization: old label is
        # carried through the round, so "did anything change" is a filter on
        # the checkpointed result — no extra new-vs-old join job per round
        with_flag = propagated.select(
            "node",
            "component",
            (F.col("component") != F.col("old_component")).alias("changed"),
        ).localCheckpoint()
        changed = with_flag.where("changed").limit(1).count()
        labels = with_flag.select("node", "component")
        if changed == 0:
            converged = True
            break
    # labels is checkpointed (materialized), so the edge cache can go
    edges.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge within "
            f"max_iterations={max_iterations}; the graph diameter exceeds the "
            f"round budget and the labels would split real components. "
            f"Raise max_iterations (rounds needed ≈ log2(diameter))."
        )
        if on_nonconverged == "raise":
            raise ConvergenceError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def duplicate_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    scores: DataFrame | None = None,
    score_id_col: str = "node",
    score_col: str = "score",
) -> DataFrame:
    """(node, cluster_id, is_canonical): cluster_id = min member id.

    Default survivor policy: the min-id member is canonical. With
    ``scores`` (a (node, score) table — length, quality, recency, ...),
    the HIGHEST-scoring member survives instead (ties to the lowest id) —
    the policy real pipelines want ("keep the longest/cleanest copy"), as
    one extra max_by aggregate over the labeled nodes; cluster ids stay
    min-member for stability either way. Nodes missing from ``scores``
    rank below every scored member (null-last)."""
    comp = connected_components(pairs, src, dst)
    labeled = comp.select(
        F.col("node"), F.col("component").alias("cluster_id")
    )
    if scores is None:
        return labeled.withColumn(
            "is_canonical", F.col("node") == F.col("cluster_id")
        )
    sc = scores.select(
        F.col(score_id_col).alias("node"), F.col(score_col).alias("__score")
    )
    joined = labeled.join(sc, "node", "left")
    # survivor = max (score, -node): null scores sort below all real ones
    best = joined.groupBy("cluster_id").agg(
        F.max_by(
            F.col("node"),
            F.struct(
                F.coalesce(F.col("__score"), F.lit(float("-inf"))).alias("s"),
                (-F.col("node")).alias("tie"),
            ),
        ).alias("__canon")
    )
    return (
        joined.join(best, "cluster_id")
        .select(
            "node",
            "cluster_id",
            (F.col("node") == F.col("__canon")).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping: float = 0.85,
    iterations: int = 3,
    checkpoint_interval: int = 8,
    broadcast_max_nodes: int = 5_000_000,
    materialize: bool = True,
) -> DataFrame:
    """Weighted PageRank, fixed iteration count — (node, rank).

    Each iteration is one aggregate shuffle keyed on the destination:
    ``rank'(v) = (1-d)/N + d · Σ_u rank(u) · w(u,v)/outw(u)``. Dangling
    nodes keep the teleport term only (standard simplification, mirrored by
    the oracle). Per-edge contributions and the resulting ranks are rounded
    to 9 decimals each iteration, so ranks are exact decimals and the whole
    computation reproduces bit-for-bit across engines and partitionings —
    the same cross-engine discipline as operators/nbayes.py.

    Scale shape: edge list persisted once; per iteration one rank-table
    join and one groupBy(dst) — O(iters) shuffles of partial sums, the
    edge list itself never re-shuffles. The rank/out-weight joins are
    broadcast ONLY while the (exactly counted) node count stays under
    ``broadcast_max_nodes``: |nodes| ≪ |edges| holds for similarity and
    citation graphs, but a web-scale node table exceeds any broadcast
    threshold and an unconditional hint would fail at submit — past the
    gate the joins fall back to shuffle hash/sort-merge, which AQE sizes.
    Both modes produce identical ranks (tested)."""
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"),
            F.col(weight).cast("double").alias("w"),
        )
        .persist()
    )
    outw = e.groupBy("u").agg(F.sum("w").alias("outw"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        # PageRank of the empty graph is the empty ranking; exit before the
        # teleport term folds an ANSI 1/0 error out of the literal 1/N
        empty = nodes.withColumn("rank", F.lit(None).cast("decimal(18,9)"))
        e.unpersist()
        nodes.unpersist()
        return empty
    # size gate for the per-iteration dimension-side joins: the node count
    # is already exact (needed for the teleport term), so the router is free
    maybe_broadcast = F.broadcast if n <= broadcast_max_nodes else (lambda d: d)
    # rounding happens in Spark expressions (HALF_UP), not Python round()
    # (banker's): the SQL oracle's ROUND matches the former exactly
    init = F.round(F.lit(1.0) / F.lit(float(n)), 9).cast("decimal(18,9)")
    teleport = F.round(F.lit(1.0 - damping) / F.lit(float(n)), 9).cast(
        "decimal(18,9)"
    )
    # Lineage control: a handful of iterations compose fine as one lazy
    # plan (the rank table is tiny and the persisted edge list anchors the
    # tree); checkpoint only every ``checkpoint_interval`` rounds so short
    # runs pay ZERO eager materialization jobs while deep runs stay bounded.
    ranks = nodes.withColumn("rank", init)
    for it in range(iterations):
        contrib = (
            e.join(maybe_broadcast(outw), "u")
            .join(maybe_broadcast(ranks.withColumnRenamed("node", "u")), "u")
            .select(
                F.col("v").alias("node"),
                F.round(
                    F.lit(damping)
                    * F.col("rank").cast("double")
                    * (F.col("w") / F.col("outw")),
                    9,
                ).cast("decimal(18,9)").alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(maybe_broadcast(summed), "node", "left")
            .select(
                "node",
                (teleport + F.coalesce(F.col("s"), F.lit(0).cast("decimal(18,9)")))
                .cast("decimal(18,9)")
                .alias("rank"),
            )
        )
        if (it + 1) % checkpoint_interval == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint()
    if not materialize:
        # plan-inspection path: return the lazy iteration plan with the
        # edge/node caches still live (the checkpoint below would collapse
        # the tree to a Scan ExistingRDD and hide the join strategy)
        return ranks
    ranks = ranks.localCheckpoint()  # materialize before releasing the cache
    e.unpersist()
    nodes.unpersist()
    return ranks


def triangle_counts(
    pairs: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, n_triangles) for every node in an undirected pair graph.

    Degree-ordered orientation (the standard compact-forward scheme, e.g.
    Schank/Wagner "Finding, Counting and Listing All Triangles in Large
    Graphs"): each undirected edge is directed from its lower-(degree, id)
    endpoint to the higher, every triangle then has exactly ONE wedge
    a->b, a->c with a the minimum-key vertex, and the wedge join's fan-out
    is bounded by the maximum ORIENTED out-degree — O(sqrt(m)) on skewed
    graphs instead of the max raw degree, which is what keeps a hub node
    from going quadratic at web scale. Plan: two self-joins on oriented
    edges (wedge build + closing-edge check), then an explode over the
    three member roles and one count aggregate.
    """
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation key: (degree, id) — total order, ties broken by id
    ek = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    # Materialize the oriented edge list ONCE (it feeds three consumers:
    # both wedge sides and the closing-edge set, each upstream of two
    # degree joins). localCheckpoint — not persist/unpersist, whose pair
    # at plan-build time never materializes — follows the
    # connected_components / pagerank precedent above.
    oriented = ek.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).localCheckpoint()
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").where(F.col("x") < F.col("y"))
    # the closing edge may be oriented either way between x and y
    closing = oriented.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tris = wedges.join(
        closing.select(F.col("x"), F.col("y")).distinct(), ["x", "y"]
    )
    per_node = (
        tris.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node
