"""ANN recall harness: measured recall@5 for every quantization family at
equal candidate budgets, against exact brute-force top-5 — the FAISS-style
accuracy/efficiency tradeoff table users consult before picking an index
(VERDICT r10 stretch #8).

One fixture (the ``embeddings`` table), one ground truth
(``sim_topk_bruteforce``: exact cosine top-5 per every-100th vector,
self excluded), six approximate arms across four families, every stage
already oracle-checked on its own:

  ivf_p1/p2/p4/p8  ivf_topk_probe(p) — 8 fixed cells, probes swept
                                       1/2/4/8 (the probes-vs-recall curve
                                       as data; recall must be monotone in
                                       probes, and p8 — every cell — is
                                       the exhaustive anchor of the curve)
  pq            sim_pq_rerank_topk   — 4x4 codebooks, ADC shortlist 20, re-rank
  sq8           sim_sq8_rerank_topk  — byte codes, int-L2 shortlist 20, re-rank
  ivf_sq8       sim_ivf_sq8_topk     — IVF cells bounding an SQ8 shortlist 20

Comparison protocol: every family's result is restricted to the common
query set (vec_id % 100 == 0) with self-pairs dropped — the PQ/SQ8
convention scores the query itself, so a wasted self slot counts against
those families exactly as it would in production. Recall columns are
deterministic integers (hit counts and basis points): every family's tie
order is pinned, so the measured recall is a constant of the fixture, not
a run artifact.

Scale shape: the harness adds two hash joins and a 6-group aggregate on
top of pipelines that are individually scale-shaped; ground truth at 100
TB comes from the same brute-force operator on a query SAMPLE (its
max_queries guard), which is exactly how recall is estimated on real
corpora.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import _REGISTRY, query

#: family label -> backing catalog query (import side effect registers them)
from datapipelines_spark.queries import similarity as _qsim  # noqa: F401
from datapipelines_spark.queries import vectors as _qvec  # noqa: F401

#: IVF probe counts swept by the harness (VERDICT r11 next #3, extended
#: to the 0.9 operating point per VERDICT r12 next #3): the IVF operating
#: question at 100 TB is "how many probes for recall X" — the arms
#: measure the probes/recall curve at equal per-probe budgets, and
#: tests/test_recall_harness.py asserts recall is monotone in probes.
#: probes=8 probes every cell of the 8-cell fixture index (the exhaustive
#: end of the curve), so the sweep now brackets any recall target a user
#: can ask of this index; queries/vectors.py:choose_probes turns the
#: measured curve into the probes-for-target answer, mirroring
#: operators/dedup.py:choose_banding.
_IVF_PROBES = (1, 2, 4, 8)


def _family_specs() -> list[tuple[str, str, Callable, str]]:
    """(label, oracle_sql, builder, neighbor-id column) per harness arm —
    the IVF arms share one parameterized pipeline (queries/vectors.py:
    ivf_topk_probe) swept over probe counts; the quantization families are
    the catalog queries verbatim (the PQ family reports the neighbor as
    ``vec_id``)."""
    from datapipelines_spark.queries.vectors import ivf_topk_oracle, ivf_topk_probe

    specs: list[tuple[str, str, Callable, str]] = []
    for p in _IVF_PROBES:
        specs.append(
            (
                f"ivf_p{p}",
                ivf_topk_oracle(p),
                (lambda pp: lambda spark, sf: ivf_topk_probe(spark, sf, pp))(p),
                "neighbor_id",
            )
        )
    for fam, qname, ncol in (
        ("ivf_sq8", "sim_ivf_sq8_topk", "neighbor_id"),
        ("pq", "sim_pq_rerank_topk", "vec_id"),
        ("sq8", "sim_sq8_rerank_topk", "neighbor_id"),
    ):
        spec = _REGISTRY[qname]
        specs.append((fam, spec.oracle, spec.builder, ncol))
    return specs


def _recall_oracle() -> str:
    """Assembled from the families' own oracle SQL verbatim (nested WITH
    subqueries), so this oracle cannot drift from the per-family
    contracts: the replayed family pipelines feed the same
    restrict-join-count protocol as the Spark side."""
    exact_sql = _REGISTRY["sim_topk_bruteforce"].oracle
    fam_ctes = []
    fam_rows = []
    for fam, fam_sql, _builder, ncol in _family_specs():
        fam_ctes.append(
            f"""f_{fam} AS (
        SELECT query_id, {ncol} AS neighbor_id FROM ({fam_sql})
        WHERE query_id % 100 = 0 AND {ncol} <> query_id
    )"""
        )
        fam_rows.append(
            f"""SELECT '{fam}' AS family,
               (SELECT COUNT(*) FROM f_{fam} JOIN exact
                USING (query_id, neighbor_id)) AS n_hits"""
        )
    ctes = ",\n    ".join(fam_ctes)
    rows = "\n        UNION ALL\n        ".join(fam_rows)
    return f"""
    WITH exact AS (
        SELECT query_id, neighbor_id FROM ({exact_sql})
    ),
    nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM exact),
    {ctes},
    hits AS (
        {rows}
    )
    SELECT family,
           CAST(nq.n AS BIGINT) AS n_queries,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(floor(n_hits * 10000 / (nq.n * 5)) AS BIGINT) AS recall_bp
    FROM hits, nq
    ORDER BY family
    """


#: Graded-similarity planting for the dedup harness: each document with
#: >= 10 tokens gets a variant keeping its first 50/60/70/80/90% of
#: tokens (by doc_id % 5) plus a 6-token tail whose tokens carry the
#: doc's ``doc_id % 64`` as a suffix. Trigram Jaccard of
#: (original, variant) ~ (k-2)/(n+4), so the planted pairs STRADDLE the
#: 0.5 threshold (50% keeps fall below, 70%+ clear it) and the
#: just-above-threshold pairs sit where the default 4x4 banding curve
#: 1-(1-j^4)^4 genuinely misses — without them every fixture duplicate
#: is near-identical (j ~ 1) and band recall reads a trivial 100%. The
#: per-doc suffix (ADVICE r11 #4) keeps the grading identical (tail
#: shingles never match the original regardless of spelling) while
#: splitting the tail's shingle SET 64 ways, so the exact ground truth's
#: shared-shingle equi-join stays linear in variant count instead of
#: concentrating every variant into one quadratic hot-shingle bucket.
_VARIANT_ID_OFFSET = 10_000_000
_TAIL_MOD = 64

_TAIL_SQL = "".join(
    f" || ' zq{i}w' || CAST(doc_id % {_TAIL_MOD} AS VARCHAR)" for i in range(1, 7)
)

_AUG_SQL = f"""aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_VARIANT_ID_OFFSET} AS doc_id,
               array_to_string(
                   list_slice(w, 1, CAST(greatest(3,
                       floor(len(w) * (50 + 10 * (doc_id % 5)) / 100))
                       AS BIGINT)), ' ')
               {_TAIL_SQL} AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE text IS NOT NULL)
        WHERE len(w) >= 10
    )"""


def _tail_expr() -> F.Column:
    """The Spark twin of _TAIL_SQL: 6 tail tokens suffixed with the
    original doc_id % _TAIL_MOD."""
    m = (F.col("doc_id") % _TAIL_MOD).cast("string")
    parts = []
    for i in range(1, 7):
        parts.append(F.lit(f" zq{i}w"))
        parts.append(m)
    return F.concat(*parts)


#: Tuned banding for the harness's tuned arm: the closed-form solver
#: (operators/dedup.py:choose_banding) applied at the harness's own
#: threshold — 2 rows x 9 bands (18 hashes), detection >= 0.92 at j=0.5.
_TUNED = None  # set lazily: dedup ops import below


def _tuned_config():
    global _TUNED
    if _TUNED is None:
        from datapipelines_spark.operators.dedup import choose_banding

        _TUNED = choose_banding(threshold=0.5, target_recall=0.9, max_hashes=32)
    return _TUNED


def _retarget(sql: str) -> str:
    """Retarget an embedded oracle's corpus scan from ``documents`` to the
    augmented corpus. Exactly one scan site must exist — a second
    ``FROM documents`` (or a respelling) would retarget silently and
    partially (ADVICE r11 #2), so drift fails loudly here instead."""
    n = sql.count("FROM documents")
    if n != 1:
        raise AssertionError(
            f"embedded oracle has {n} 'FROM documents' scan sites; "
            "the aug retarget requires exactly 1"
        )
    return sql.replace("FROM documents", "FROM aug")


def _dedup_recall_oracle() -> str:
    """Exact n-gram-Jaccard pairs as ground truth; the LSH band-candidate
    and verified-pair oracles (default 4x4 banding AND the
    choose_banding-tuned 2x9) embedded verbatim with their corpus scan
    retargeted (single scan site, asserted) to the graded-similarity
    augmented corpus; the same restrict-join-count protocol as the ANN
    harness."""
    from datapipelines_spark.queries.dedup import (
        _minhash_oracle,
        lsh_candidates_oracle,
    )

    tuned = _tuned_config()
    exact_sql = _retarget(_REGISTRY["dedup_ngram_jaccard"].oracle)
    cand_sql = _retarget(lsh_candidates_oracle())
    ver_sql = _retarget(_REGISTRY["dedup_minhash_lsh"].oracle)
    cand_t_sql = _retarget(lsh_candidates_oracle(tuned))
    ver_t_sql = _retarget(_minhash_oracle(tuned))
    return f"""
    WITH {_AUG_SQL},
    exact AS (SELECT doc_a, doc_b FROM ({exact_sql})),
    cand AS (SELECT doc_a, doc_b FROM ({cand_sql})),
    ver AS (SELECT doc_a, doc_b FROM ({ver_sql})),
    cand_t AS (SELECT doc_a, doc_b FROM ({cand_t_sql})),
    ver_t AS (SELECT doc_a, doc_b FROM ({ver_t_sql})),
    m AS (
        SELECT 'exact_jaccard' AS stage,
               (SELECT COUNT(*) FROM exact) AS n_pairs,
               (SELECT COUNT(*) FROM exact) AS n_true
        UNION ALL
        SELECT 'lsh_bands',
               (SELECT COUNT(*) FROM cand),
               (SELECT COUNT(*) FROM cand JOIN exact USING (doc_a, doc_b))
        UNION ALL
        SELECT 'lsh_verified',
               (SELECT COUNT(*) FROM ver),
               (SELECT COUNT(*) FROM ver JOIN exact USING (doc_a, doc_b))
        UNION ALL
        SELECT 'lsh_bands_tuned',
               (SELECT COUNT(*) FROM cand_t),
               (SELECT COUNT(*) FROM cand_t JOIN exact USING (doc_a, doc_b))
        UNION ALL
        SELECT 'lsh_verified_tuned',
               (SELECT COUNT(*) FROM ver_t),
               (SELECT COUNT(*) FROM ver_t JOIN exact USING (doc_a, doc_b))
    ),
    nx AS (SELECT COUNT(*) AS n FROM exact)
    SELECT stage,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(CASE WHEN nx.n = 0 THEN 10000
                ELSE floor(n_true * 10000 / nx.n) END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN n_pairs = 0 THEN 10000
                ELSE floor(n_true * 10000 / n_pairs) END AS BIGINT)
               AS precision_bp
    FROM m, nx
    ORDER BY stage
    """


_DEDUP_STAGES = (
    "exact_jaccard",
    "lsh_bands",
    "lsh_bands_tuned",
    "lsh_verified",
    "lsh_verified_tuned",
)


@query("dedup_recall_harness", oracle=_dedup_recall_oracle())
def dedup_recall_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured accuracy of MinHash-LSH dedup against exact ground truth —
    the banding tradeoff (1-(1-j^r)^b detection curve) as data instead of
    folklore, plus the closed-form fix: the same measurement under the
    ``choose_banding``-solved config, proving the tuner's analytic bound
    on real pairs. The corpus is the documents table augmented with
    graded-similarity variants (see _AUG_SQL: prefix keeps of 50..90% of
    tokens straddle the 0.5 Jaccard threshold, so just-above-threshold
    true pairs exist where banding genuinely misses — measured band
    recall is meaningfully below 100%, not the trivial 100% a
    near-identical-duplicates fixture yields). Five stages at
    threshold 0.5:

      exact_jaccard       all word-3-gram Jaccard >= 0.5 pairs (ground
                          truth; recall = precision = 100% by definition)
      lsh_bands           pairs sharing >= 1 of the DEFAULT 4x4 band
                          buckets — recall shows what that banding misses
                          (1-(1-j^4)^4 = 0.23 at j=0.5), precision shows
                          how much verification work the buckets admit
      lsh_bands_tuned     the same candidate stage under
                          choose_banding(0.5, target_recall=0.9) — 2 rows
                          x 9 bands, detection >= 0.92 at j=0.5, so band
                          recall must clear ~90% where the default reads
                          ~66% (the tuner's bound, measured)
      lsh_verified        default-banding candidates passing exact
                          verification — precision returns to 100%
      lsh_verified_tuned  ditto under the tuned banding

    Both LSH arms run with ``max_bucket_size=None`` — the operator's
    exact-parity mode — because the embedded oracles carry no bucket cap:
    with the default cap a fixture large enough to overflow one band
    bucket would silently drop that bucket's pairs on the Spark side only
    (ADVICE r11 #1). Counts are deterministic integers; recall/precision
    in basis points. At 100 TB the harness shape is unchanged — all
    stages are the operators already benchmarked alone plus two hash
    joins on (doc_a, doc_b) and a 5-row aggregate."""
    from datapipelines_spark.functions.caching import managed_persist
    from datapipelines_spark.operators import dedup as dops
    from datapipelines_spark.operators.dedup import (
        _docs_with_signatures,
        _lsh_candidate_pairs,
        _pair_jaccard,
    )
    from datapipelines_spark.queries.dedup import _MINHASH
    from datapipelines_spark.sources.parquet import load_table

    tuned = _tuned_config()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    k = F.greatest(
        F.lit(3),
        F.floor(F.size(w) * (50 + 10 * (F.col("doc_id") % 5)) / 100),
    ).cast("int")
    variants = (
        d.where(F.col("text").isNotNull())
        .where(F.size(F.split(F.col("text"), " ")) >= 10)
        .select(
            (F.col("doc_id") + _VARIANT_ID_OFFSET).alias("doc_id"),
            F.concat(F.concat_ws(" ", F.slice(w, 1, k)), _tail_expr()).alias(
                "text"
            ),
        )
    )
    aug = d.unionByName(variants)
    exact = managed_persist(
        dops.ngram_jaccard_pairs(
            aug, text_col="text", id_col="doc_id", n=3, threshold=0.5
        ).select("doc_a", "doc_b")
    )
    # r13 plan shape: ONE signature pass and ONE candidate computation per
    # banding config, shared by the bands arm and the verified arm — the
    # previous per-arm operator calls re-derived the Arrow shingle+minhash
    # pipeline four times and the band buckets twice per config (guide §5:
    # persist what is reused; outputs are identical, candidates are a
    # deterministic set).
    sig_docs = {
        cfg: managed_persist(
            _docs_with_signatures(aug, "text", "doc_id", cfg)
        )
        for cfg in (_MINHASH, tuned)
    }
    cands = {
        cfg: managed_persist(
            _lsh_candidate_pairs(sig_docs[cfg], "doc_id", cfg, None)
        )
        for cfg in (_MINHASH, tuned)
    }
    arms = [
        ("lsh_bands", _MINHASH, False),
        ("lsh_bands_tuned", tuned, False),
        ("lsh_verified", _MINHASH, True),
        ("lsh_verified_tuned", tuned, True),
    ]
    tagged = exact.select(F.lit("exact_jaccard").alias("stage"), "doc_a", "doc_b")
    for stage, cfg, verified in arms:
        if verified:
            r = _pair_jaccard(cands[cfg], sig_docs[cfg], "doc_id", 0.5)
        else:
            r = cands[cfg]
        tagged = tagged.unionByName(
            r.select(F.lit(stage).alias("stage"), "doc_a", "doc_b")
        )
    counts = tagged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_pairs"))
    hits = (
        tagged.join(exact, ["doc_a", "doc_b"])
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    nx = exact.agg(F.count(F.lit(1)).alias("__nx"))
    base = spark.createDataFrame(
        [(s,) for s in _DEDUP_STAGES], "stage string"
    )
    return (
        base.join(counts, "stage", "left")
        .join(hits, "stage", "left")
        .na.fill({"n_pairs": 0, "n_true": 0})
        .crossJoin(F.broadcast(nx))
        .select(
            "stage",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_true").cast("bigint").alias("n_true"),
            F.when(F.col("__nx") == 0, F.lit(10000))
            .otherwise(F.floor(F.col("n_true") * 10000 / F.col("__nx")))
            .cast("bigint")
            .alias("recall_bp"),
            F.when(F.col("n_pairs") == 0, F.lit(10000))
            .otherwise(F.floor(F.col("n_true") * 10000 / F.col("n_pairs")))
            .cast("bigint")
            .alias("precision_bp"),
        )
        .orderBy("stage")
    )


@query("sim_recall_harness", oracle=_recall_oracle())
def sim_recall_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 per ANN family at equal candidate budgets (module
    docstring): each family's catalog pipeline runs unchanged, its result
    is restricted to the common protocol (every-100th query, self-pairs
    dropped), and hits against the exact brute-force top-5 are counted.
    Output: (family, n_queries, n_hits, recall_bp) — recall in basis
    points, integer arithmetic only."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from datapipelines_spark.functions.caching import managed_persist
    from datapipelines_spark.queries.vectors import ivf_topk_multiprobe

    specs = _family_specs()

    # exact feeds the hits join AND the n_queries aggregate: persist, or
    # the brute-force ground-truth pipeline executes twice (r13, guide §5)
    def _build_exact() -> DataFrame:
        return managed_persist(
            _REGISTRY["sim_topk_bruteforce"]
            .builder(spark, sf_dir)
            .select("query_id", "neighbor_id")
        )

    # The four IVF probe arms share ONE scored candidate table
    # (ivf_topk_multiprobe, r13): identical pairs to the per-arm
    # ivf_topk_probe builders the oracle replays, one scoring pass.
    def _build_ivf() -> dict[int, DataFrame]:
        return ivf_topk_multiprobe(spark, sf_dir, _IVF_PROBES)

    # The five arms are independent until the final union, but each runs
    # BLOCKING driver jobs while its plan is BUILT (the exact router's
    # count probes, two sq8_fit min/max collects, pq_fit's fused Lloyd
    # partials, the query-code collect) — ~8 serial jobs. Build the arms
    # from a thread pool (guide §2.6: overlap independent jobs) so those
    # jobs overlap; the assembled plan is IDENTICAL (same spec order, same
    # union, so the physical plans diff empty), only build latency changes.
    # Measured: 9.92 -> 6.91 s median build, interleaved same-JVM A/B,
    # identical 7-row result.
    fam_builders = {
        fam: b for fam, _s, b, _n in specs if not fam.startswith("ivf_p")
    }
    wrap = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2 + len(fam_builders)) as pool:
        f_exact = pool.submit(wrap(_build_exact))
        f_ivf = pool.submit(wrap(_build_ivf))
        f_fam = {
            fam: pool.submit(wrap(lambda b=b: b(spark, sf_dir)))
            for fam, b in fam_builders.items()
        }
        exact = f_exact.result()
        ivf_arms = f_ivf.result()
        fams = {fam: f.result() for fam, f in f_fam.items()}
    tagged = None
    for fam, _sql, _builder, ncol in specs:
        if fam.startswith("ivf_p"):
            r = ivf_arms[int(fam[len("ivf_p"):])]
        else:
            r = fams[fam]
        r = (
            r.where(
                (F.col("query_id") % 100 == 0)
                & (F.col(ncol) != F.col("query_id"))
            )
            .select(
                F.lit(fam).alias("family"),
                "query_id",
                F.col(ncol).alias("neighbor_id"),
            )
        )
        tagged = r if tagged is None else tagged.unionByName(r)
    hits = (
        tagged.join(exact, ["query_id", "neighbor_id"])
        .groupBy("family")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = spark.createDataFrame(
        [(f,) for f, _, _, _ in specs], "family string"
    )
    nq = exact.agg(F.countDistinct("query_id").alias("__n"))
    return (
        base.join(hits, "family", "left")
        .na.fill({"n_hits": 0})
        .crossJoin(F.broadcast(nq))
        .select(
            "family",
            F.col("__n").cast("bigint").alias("n_queries"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.floor(F.col("n_hits") * 10000 / (F.col("__n") * 5))
            .cast("bigint")
            .alias("recall_bp"),
        )
        .orderBy("family")
    )
