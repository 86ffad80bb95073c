"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine. All pure DataFrame transforms, composable with any
upstream pipeline.

Hashing is the portable md5-derived 32-bit scheme from functions/hashing.py,
so every signature is deterministic, retry-stable, and reproducible outside
Spark (the DuckDB oracles in queries/dedup.py recompute them exactly).

Shingles, MinHash signatures and SimHash are computed by Arrow-batched
pandas UDFs: one vectorized stage per doc computes shingles + all minhash
mins (numpy) in a single pass. Row-at-a-time Python UDFs remain banned
(tests/test_plan_hygiene.py); Arrow vectorized stages are the sanctioned
escape hatch for CPU-bound per-row work.

Plan-shape notes (what keeps this fast at 100 TB):
- Shingle sets live as per-row ARRAY columns; signatures (minhash, sizes)
  are computed inside the row — zero shuffles until candidates exist.
- Candidate generation is the only explode+equi-join (inverted index / LSH
  band buckets) — volume tracks duplicate density, not corpus size².
- Verification joins candidate pairs back to the compact (id, shingles)
  table and intersects arrays per pair; no second pass over the corpus.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import pandas_udf

# expr_memo: plan-build memo for the banding/signature expression trees
# (~8000 py4j calls per ingest_tick_verdicts build — 1.2-1.9 s of pure
# driver time per streaming tick re-spent on IDENTICAL expressions); see
# functions/caching.py:expr_memo for the discipline
from datapipelines_spark.functions.caching import expr_memo as _expr_memo
from datapipelines_spark.functions.caching import managed_persist
from datapipelines_spark.functions.hashing import portable_hash64
from datapipelines_spark.operators import cosine_blocks as cb

#: 2^31 - 1; modulus for the universal-hash family. Coefficients are kept
#: < 2^20 so a*h + b stays < 2^52 — exact in BIGINT arithmetic in Spark,
#: DuckDB, and IEEE doubles alike.
MERSENNE_PRIME = 2_147_483_647


@dataclass(frozen=True)
class MinHashConfig:
    num_hashes: int = 16
    bands: int = 4
    ngram: int = 3

    def coefficients(self) -> list[tuple[int, int]]:
        """Deterministic (a_i, b_i) pairs for h_i(x) = (a_i*x + b_i) mod p."""
        return [
            ((733 * (i + 1)) % 1_048_573 + 1, (97_531 * (i + 1)) % MERSENNE_PRIME)
            for i in range(self.num_hashes)
        ]


def detection_probability(jaccard: float, rows: int, bands: int) -> float:
    """P(a pair with true Jaccard ``jaccard`` shares >= 1 LSH band bucket)
    under ``bands`` bands of ``rows`` minhash rows each — the classic
    1-(1-j^r)^b banding curve (Broder 1997 / Mining of Massive Datasets
    ch. 3, public). Monotone increasing in ``jaccard``, so a bound at the
    dedup threshold bounds every true pair above it."""
    return 1.0 - (1.0 - jaccard**rows) ** bands


def choose_banding(
    threshold: float,
    target_recall: float = 0.9,
    max_hashes: int = 32,
    ngram: int = 3,
) -> MinHashConfig:
    """Solve the banding curve for a MinHashConfig whose CANDIDATE stage
    detects pairs at the dedup ``threshold`` with probability at least
    ``target_recall`` — closed form, no data pass (the accuracy harness
    measures the 1-(1-j^r)^b curve; this makes it actionable instead of
    leaving (bands, rows) to folklore).

    For each rows-per-band r, the minimal band count is
    b(r) = ceil(ln(1-R) / ln(1-t^r)); more rows per band means fewer
    sub-threshold candidates (precision of the band stage) but more bands
    (hashes = r*b) to keep recall. The chosen config is the LARGEST r
    whose r*b(r) still fits ``max_hashes`` — the most selective banding
    that meets the recall target within the signature budget — with b
    minimal for that r. Raises if even r=1 cannot meet the target within
    ``max_hashes`` (then the budget, not the banding, is the problem).

    Since detection probability is monotone in j, the guarantee at the
    threshold extends to every true pair above it, and exact-Jaccard
    verification of candidates keeps precision at 100% regardless of r —
    the tuned arm of queries/recall.py:dedup_recall_harness measures both
    halves on data."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    best: tuple[int, int] | None = None
    r = 1
    while True:
        # smallest b with 1-(1-t^r)^b >= R  <=>  (1-t^r)^b <= 1-R
        b = math.ceil(math.log1p(-target_recall) / math.log1p(-(threshold**r)))
        b = max(b, 1)
        if r * b > max_hashes:
            break
        best = (r, b)
        r += 1
    if best is None:
        raise ValueError(
            f"no (rows, bands) with rows*bands <= {max_hashes} reaches "
            f"recall {target_recall} at threshold {threshold}"
        )
    rows, bands = best
    return MinHashConfig(num_hashes=rows * bands, bands=bands, ngram=ngram)


def _resolve_config(
    config: MinHashConfig | None,
    threshold: float,
    target_recall: float | None,
) -> MinHashConfig:
    """Resolve the (config, target_recall) pair the ingest surfaces accept
    (so the measured-recall discipline reaches the production ingest
    path): ``target_recall`` derives the banding via
    ``choose_banding`` at the operator's own threshold; an explicit
    ``config`` is taken verbatim; passing both is ambiguous and rejected;
    neither falls back to the historical default banding."""
    if target_recall is not None:
        if config is not None:
            raise ValueError(
                "pass either config or target_recall, not both "
                "(target_recall derives the banding via choose_banding)"
            )
        return choose_banding(threshold=threshold, target_recall=target_recall)
    return config if config is not None else MinHashConfig()


# ---------------------------------------------------------------------------
# exact


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by content digest: (content_hash, n_copies, canonical_doc_id).

    The digest is computed map-side, so only 32-byte keys + ids shuffle.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("canonical_doc_id"),
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content — the apply-side of
    exact_duplicates, usable mid-pipeline."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# shingles


def _shingle_list_py(text: str, n: int) -> list[str]:
    """Distinct word n-grams of one document: split on single spaces
    (keeping empties, like Spark/Java split and DuckDB string_split),
    first-occurrence-distinct n-grams joined by one space."""
    words = text.split(" ")
    return list(
        dict.fromkeys(" ".join(words[i : i + n]) for i in range(len(words) - n + 1))
    )


def _shingle_udf(n: int):
    @pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _shingle_list_py(t, n))

    return sh


def _doc_sig_udf(config: MinHashConfig):
    """Fused Arrow stage: text → struct(shingles, sig[num_hashes]) in one
    Python round trip. Signatures are exact int64 math — identical to the
    DuckDB oracle."""
    coeffs = np.array(config.coefficients(), dtype=np.int64)
    A = coeffs[:, 0][:, None]
    B = coeffs[:, 1][:, None]
    n = config.ngram

    @pandas_udf("struct<shingles:array<string>,sig:array<long>>")
    def ds(texts: pd.Series) -> pd.DataFrame:
        shingles, sigs = [], []
        for t in texts:
            sh = _shingle_list_py(t, n)
            shingles.append(sh)
            if not sh:
                sigs.append(np.empty(0, dtype=np.int64))
                continue
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "big")
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            sigs.append(((A * hs[None, :] + B) % MERSENNE_PRIME).min(axis=1))
        return pd.DataFrame({"shingles": shingles, "sig": sigs})

    return ds


def doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingles array<string>, n_sh) — one row per doc, no explode.

    Shingles come from one vectorized pandas stage; parallelism is
    everything on narrow inputs, so the input is widened first.
    """
    from datapipelines_spark.functions.partitioning import parallelize_small

    words = F.split(F.col(text_col), " ")
    base = parallelize_small(df.select(F.col(id_col), F.col(text_col))).where(
        F.size(words) >= n
    )
    return base.select(
        F.col(id_col), _shingle_udf(n)(F.col(text_col)).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Exploded (id, shingle) view — the inverted-index side."""
    return doc_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingles").alias("s")
    )


def _pair_jaccard(
    cand: DataFrame, docs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Join candidate (doc_a, doc_b) pairs back to shingle arrays and compute
    exact Jaccard via array_intersect — one row of work per candidate. The
    doc-side is broadcast: after LSH/banding, candidates ≪ corpus."""
    a = F.broadcast(
        docs.select(
            F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"), F.col("n_sh").alias("n_a")
        )
    )
    b = F.broadcast(
        docs.select(
            F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"), F.col("n_sh").alias("n_b")
        )
    )
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    j = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard via inverted-index join.

    Candidates come from an equi-join on the shingle string (never a cross
    join); the shared-shingle count from the join IS the intersection size,
    so one shuffle produces (pair, n_common) and union sizes arrive by
    broadcast.

    ``max_doc_freq`` is the 100 TB safety valve: a shingle appearing in k
    documents contributes k·(k-1)/2 join rows, so ONE boilerplate phrase
    ("all rights reserved …") across a few million docs is a quadratic hot
    bucket — the classic dedup scale-killer. Shingles with document
    frequency above the cap are dropped from the inverted index BEFORE the
    self-join (they carry ~zero discriminative signal; dropping them can
    only lower the estimated intersection, never invent a pair). Default
    1000 never engages at fixture duplicate densities but bounds any one
    shingle's cost at scale; None disables for exact parity.
    """
    # the shingle table feeds three plan branches (two self-join sides +
    # the sizes broadcast); persist so shingling runs once, not three times
    docs = managed_persist(doc_shingles(df, text_col, id_col, n))
    # pre-partition the inverted index on the join key: both self-join
    # branches arrive already co-partitioned, so the join adds no exchange
    sh = docs.select(F.col(id_col), F.explode("shingles").alias("s")).repartition("s")
    if max_doc_freq is not None:
        # document frequency over a window partitioned by the shingle key:
        # the data is already hash-partitioned on "s", so this adds a sort
        # within partitions but NO new exchange
        w = Window.partitionBy("s")
        sh = sh.withColumn("__df", F.count(F.lit(1)).over(w)).where(
            F.col("__df") <= max_doc_freq
        ).drop("__df")
    a = sh.select(F.col(id_col).alias("doc_a"), "s")
    b = sh.select(F.col(id_col).alias("doc_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = docs.select(F.col(id_col), F.col("n_sh"))
    sa = F.broadcast(sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")))
    j = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _docs_with_signatures(
    df: DataFrame, text_col: str, id_col: str, config: MinHashConfig
) -> DataFrame:
    """(id, shingles, n_sh, h0..h{k-1}) — one row per doc, no shuffle.

    ONE fused pandas stage computes shingles + every minhash min per doc
    (the UDF is planned as a single ArrowEvalPython node; field extraction
    afterwards does not re-run it)."""
    from datapipelines_spark.functions.partitioning import parallelize_small

    words = F.split(F.col(text_col), " ")
    base = parallelize_small(df.select(F.col(id_col), F.col(text_col))).where(
        F.size(words) >= config.ngram
    )
    sig_call = _expr_memo(
        ("doc_sig_call", config, text_col),
        lambda: _doc_sig_udf(config)(F.col(text_col)).alias("__ds"),
    )
    ds = base.select(F.col(id_col), sig_call)
    extract = _expr_memo(
        ("sig_extract", config.num_hashes),
        lambda: tuple(
            F.col("__ds.sig").getItem(i).alias(f"h{i}")
            for i in range(config.num_hashes)
        ),
    )
    return ds.select(
        F.col(id_col),
        F.col("__ds.shingles").alias("shingles"),
        F.size("__ds.shingles").alias("n_sh"),
        *extract,
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig = MinHashConfig(),
) -> DataFrame:
    """One row per doc with columns h0..h{k-1}."""
    docs = _docs_with_signatures(df, text_col, id_col, config)
    return docs.select(id_col, *[f"h{i}" for i in range(config.num_hashes)])


def _band_struct(config: MinHashConfig) -> Column:
    def build() -> Column:
        rows_per_band = config.num_hashes // config.bands
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "-",
                            *[
                                F.col(f"h{i}").cast("string")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    ).alias("band_key"),
                )
                for b in range(config.bands)
            ]
        )

    # pure function of config over fixed column names — memoized, the
    # deepest expression tree on the minhash plan-build path (_EXPR_CACHE)
    return _expr_memo(("band_struct", config.num_hashes, config.bands), build)


def lsh_band_keys(sig: DataFrame, id_col: str, config: MinHashConfig) -> DataFrame:
    """Explode signatures into (id, band_id, band_key) rows; band_key is the
    md5 of the band's hash values so the join key is fixed-width."""
    return sig.select(F.col(id_col), F.explode(_band_struct(config)).alias("band")).select(
        id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig = MinHashConfig(),
    threshold: float = 0.5,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Candidate pairs from LSH band buckets, verified by exact Jaccard.

    Only bucket-mates are ever compared: candidate volume tracks duplicate
    density, not n². Signatures are row-local array math. Candidates come
    from ONE pass over band keys: collect bucket members, emit ordered-pair
    combinations with a higher-order expression — measured ~2-4× faster than
    the equivalent band self-join, which recomputes the signature pipeline
    on both branches.

    ``max_bucket_size`` is the 100 TB safety valve: a band key shared by k
    docs yields k·(k-1)/2 candidate pairs, so one degenerate band (all-same
    minima over boilerplate text) goes quadratic. Oversized buckets are
    dropped BEFORE ``collect_list`` via a windowed count on the same
    partitioning (no extra exchange), so no unbounded member array is ever
    materialized either. Default 512 never engages at fixture duplicate
    densities; None disables for exact parity with the all-pairs oracle.
    """
    # docs feeds the band-bucket branch AND both verification broadcasts;
    # persist so the signature stage runs once
    docs = managed_persist(_docs_with_signatures(df, text_col, id_col, config))
    cand = _lsh_candidate_pairs(docs, id_col, config, max_bucket_size)
    return _pair_jaccard(cand, docs, id_col, threshold)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig = MinHashConfig(),
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """The band-bucket CANDIDATE pairs alone — ``minhash_lsh_pairs``
    WITHOUT the exact-jaccard verification. Exposed so accuracy harnesses
    can measure the banding stage's recall/precision separately from the
    verified output (queries/recall.py:dedup_recall_harness): band recall
    is the 1-(1-j^r)^b detection curve made empirical, and band precision
    is how much exact-verification work the buckets admit."""
    docs = _docs_with_signatures(df, text_col, id_col, config)
    return _lsh_candidate_pairs(docs, id_col, config, max_bucket_size)


def _lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    config: MinHashConfig,
    max_bucket_size: int | None,
) -> DataFrame:
    """Distinct ordered (doc_a, doc_b) pairs sharing >= 1 band bucket."""
    bands = lsh_band_keys(docs, id_col, config)
    if max_bucket_size is not None:
        # filter before aggregating: the window's hash partitioning on
        # (band_id, band_key) is the same as the groupBy's, so Catalyst
        # plans ONE exchange and the collect_list arrays stay bounded
        wb = Window.partitionBy("band_id", "band_key")
        bands = bands.withColumn("__bs", F.count(F.lit(1)).over(wb)).where(
            F.col("__bs") <= max_bucket_size
        ).drop("__bs")
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("members"))
        .where(F.size("members") > 1)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i+2, size(members)), "
                    "y -> struct(x as doc_a, y as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash


def _simhash_udf(bits: int):
    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf("long")
    def sim(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            cnt = Counter(t.split(" "))
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:4], "big")
                    for tok in cnt
                ),
                dtype=np.int64,
                count=len(cnt),
            )
            ws = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
            # (bits, m) matrix of ±1 per (bit, token), weighted column sums
            wsum = (((hs[None, :] >> shifts[:, None]) & 1) * 2 - 1) @ ws
            out.append(int(((wsum > 0).astype(np.int64) << shifts).sum()))
        return pd.Series(out, dtype="object")

    return sim


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Term-frequency-weighted SimHash: (id, simhash bigint).

    Entirely row-local, no shuffle at all: one vectorized pandas stage
    counts each doc's tokens and does the per-bit weighting in numpy.
    """
    from datapipelines_spark.functions.partitioning import parallelize_small

    return parallelize_small(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), _simhash_udf(bits)(F.col(text_col)).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup candidates by SimHash banding (pigeonhole: pairs within
    ``max_hamming`` share at least one of ``bands`` equal bit-slices),
    verified by exact Hamming distance via bit_count(xor)."""
    sigs = simhash(df, text_col, id_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"shiftright(simhash, {b * width})").bitwiseAND(F.lit(mask)).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    bands_df = sigs.select(F.col(id_col), "simhash", F.explode(band_arr).alias("b")).select(
        id_col, "simhash", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )
    x = bands_df.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band_id", "band_key"
    )
    y = bands_df.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band_id", "band_key"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        x.join(y, ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def embedding_cosine_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9
) -> DataFrame:
    """Brute-force near-dup pairs with cosine ≥ threshold — the ORACLE path.

    A theta join (``vec_a < vec_b``) Catalyst can only plan as a nested-loop
    product: O(n²) rows through interpreted array expressions. Kept as the
    small-n verifier; ``embedding_cosine_pairs_blocked`` computes the same
    exact result with a shuffle-once blocked GEMM and is the default entry
    (equality-tested in tests/test_dedup_blocked_parity.py).
    """
    from datapipelines_spark.functions.partitioning import parallelize_small

    e = managed_persist(
        parallelize_small(df)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
    )
    a = e.select(F.col(id_col).alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col(id_col).alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cos)
        .where(F.col("cosine_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


def _pairs_at_least(threshold: float):
    """Reducer keeping ``(min id, max id, cosine)`` for cosine >=
    ``threshold``, the cosine rounded half-up to 6 places as Spark's
    ``F.round`` and the oracles do."""
    thr = float(threshold)

    def reduce(S, ids_r, ids_c):
        ia, ic = np.nonzero(S >= thr)
        a, b = ids_r[ia], ids_c[ic]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cosine": np.floor(S[ia, ic] * 1e6 + 0.5) / 1e6,
            }
        )

    return reduce


def embedding_cosine_pairs_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    block_size: int = 2048,
    prefilter: str | None = None,
    n_cells: int = 64,
    probes: int = 4,
    kmeans_iters: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked GEMM — the scale path.

    Same result set as ``embedding_cosine_pairs`` (bit-stable: margins to
    the threshold and to round-half boundaries are ~1e-4 / ~1e-9 on real
    data while BLAS-vs-sequential summation differs by ~1e-15), but the
    physical plan is ONE hash shuffle keyed on a (block_i, block_j) task id
    followed by an Arrow-batched numpy matmul per task — no theta join, no
    nested-loop product, no per-pair interpreted expressions.

    How it distributes (operators/cosine_blocks.py): an input larger than
    ``block_size`` is hashed into ``B = ceil(n / block_size)`` blocks;
    every vector is replicated to its ``B`` block-pair tasks, so shuffle
    volume is n·B vectors and the B(B+1)/2 tasks each run an ~(n/B)² GEMM.
    Exact all-pairs work is inherently O(n²) — what changes at scale is
    that the n² lands in BLAS flops evenly spread across the cluster
    instead of a nested loop. Pick ``block_size`` so one task's score
    chunk (``block_size`` rows by one block) fits executor memory (default
    2048² float64 = 32 MB). For genuinely approximate near-dup at larger
    thresholds, hyperplane-LSH bucketing (operators/similarity.py) prunes
    candidates instead; at thresholds near 0.45 (≈63°, barely above
    random) no LSH family can prune without losing recall, so
    exact-blocked is the honest default.

    Reference parity: the reference has no vector dedup at all; this extends
    sdata's dedup surface per the LLM-pipeline mandate (SURVEY §2.10).

    ``prefilter='ivf'`` swaps the exact block-pair sweep for IVF
    pre-blocking: k-means cells are trained on the corpus, each vector
    multi-assigns to its ``probes`` nearest cells (broadcast centroids, no
    corpus shuffle), and the GEMM runs only WITHIN cells — total work drops
    from n² to Σ|cell|², the true-100 TB shape. A cell larger than
    ``block_size`` splits into block pairs like the exact path, and a
    ``distinct`` collapses pairs found through more than one shared cell.
    Approximate: a pair is missed iff the two vectors share none of their
    ``probes`` nearest cells; recall vs the exact path is measured by
    tests/test_dedup_ivf_prefilter.py on the embeddings fixture, and every
    emitted pair is a true pair with the identical rounded cosine.
    """
    if prefilter not in (None, "ivf"):
        raise ValueError(f"unknown prefilter {prefilter!r}; None or 'ivf'")
    cb.require_positive(block_size=block_size)
    if prefilter == "ivf":
        cb.require_positive(n_cells=n_cells, probes=probes)
    schema = "vec_a long, vec_b long, cosine double"
    e = cb.prepare(df, vec_col, id_col)
    if prefilter is None:
        return cb.score_blocks(
            e, e, None, block_size, _pairs_at_least(threshold), schema
        )

    from datapipelines_spark.operators.clustering import kmeans_fit

    n = e.count()
    if n == 0:
        return df.sparkSession.createDataFrame([], schema)
    k = int(min(n_cells, max(1, n // max(2 * probes, 4))))
    cents, _ = kmeans_fit(e, "v", "__id", k=k, max_iter=kmeans_iters, tol=0)
    pr = int(min(probes, k))
    bc = df.sparkSession.sparkContext.broadcast(cents)

    def multi_assign(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["v"]), dtype=np.float64)
            d = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            # argsort (not argpartition) for deterministic tie order
            top = np.argsort(d, kind="stable", axis=1)[:, :pr]
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            for p in range(pr):
                yield pd.DataFrame(
                    {"__id": ids, "v": pdf["v"], "cell": top[:, p].astype("int32")}
                )

    cells = e.mapInPandas(multi_assign, "__id long, v array<double>, cell int")
    return cb.score_blocks(
        e, cells, "cell", block_size, _pairs_at_least(threshold), schema
    ).distinct()


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig = MinHashConfig(),
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus near-dup join: (doc_a from ``left``, doc_b from
    ``right``, jaccard) for pairs above ``threshold``, candidates from LSH
    band buckets — near-dup DECONTAMINATION at scale. Exact n-gram overlap
    (queries/cleaning.py) misses paraphrased or reflowed eval contamination;
    banded minhash catches anything above the similarity threshold with one
    equi-join between the two sides' band keys.

    Scale shape (train corpus vs eval suite asymmetry): the right side's
    band keys and shingle arrays BROADCAST — eval suites are small next to
    the corpus — so the corpus pays one signature scan and one broadcast
    join; it never self-joins and never shuffles. Candidates are then
    verified by exact Jaccard, with the candidate list broadcast back
    against the corpus (candidates ≪ corpus after banding)."""
    ldocs = managed_persist(
        _docs_with_signatures(left, text_col, id_col, config)
    )
    rdocs = managed_persist(
        _docs_with_signatures(right, text_col, id_col, config)
    )
    return _lsh_join_from_docs(ldocs, rdocs, id_col, config, threshold)


def _lsh_join_from_docs(
    ldocs: DataFrame,
    rdocs: DataFrame,
    id_col: str,
    config: MinHashConfig,
    threshold: float,
) -> DataFrame:
    """``minhash_lsh_join`` over PRECOMPUTED signature tables (the output
    of ``_docs_with_signatures``, persisted by the caller). Split out so
    composed operators that probe one batch against several standing sides
    (incremental/tick verdicts) pay ONE signature pass per side instead of
    one per probe — each signature stage is a full Arrow shingle+minhash
    pass over its corpus, the dominant cost of every LSH pipeline here."""
    lb = lsh_band_keys(ldocs, id_col, config).withColumnRenamed(id_col, "doc_a")
    rb = lsh_band_keys(rdocs, id_col, config).withColumnRenamed(id_col, "doc_b")
    cand = (
        lb.join(F.broadcast(rb), ["band_id", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = ldocs.select(
        F.col(id_col).alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = F.broadcast(
        rdocs.select(
            F.col(id_col).alias("doc_b"),
            F.col("shingles").alias("sh_b"),
            F.col("n_sh").alias("n_b"),
        )
    )
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    j = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        a.join(F.broadcast(cand), "doc_a")
        .join(b, "doc_b")
        .where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


def repeated_ngram_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-span statistics at n-gram granularity.

    Flags every n-token window whose exact text occurs at least
    ``min_count`` times across the WHOLE corpus (all occurrences count,
    including repeats inside one document), then reports per document how
    much of it those spans cover — the fixed-granularity, shuffle-friendly
    variant of exact substring deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, uses suffix
    arrays; at n-gram granularity the same signal is two hash-partitioned
    aggregates and one equi-join, no suffix structures, no global sort).

    Returns one row per input document with NON-NULL text (the same
    discipline as fixed-overlap chunking: a null text has no token
    positions to report — and Spark's ``size(null)`` is -1 where SQL
    ``len(string_split(NULL))`` is NULL, so emitting such rows would
    diverge from any SQL oracle), short docs included:
    ``(id, n_tokens, n_dup_starts, n_covered_tokens, dup_permille)`` where
    ``n_dup_starts`` counts flagged window starts, ``n_covered_tokens``
    counts distinct token positions under at least one flagged window, and
    ``dup_permille = floor(1000 * covered / tokens)``.

    Scale shape: the corpus-wide count shuffles 8-byte ``xxhash64`` gram
    keys with map-side partial aggregation (never the gram text); the
    frequent-gram set is duplicate-density-sized, not corpus-sized, and
    joins back by hash key (AQE broadcasts it when it fits). Coverage is a
    per-document count-distinct over at most ``n * n_dup_starts``
    positions. A 64-bit key collision needs ~2^32 distinct grams in one
    corpus to become likely; below that the hash-keyed counts equal
    string-keyed counts (the DuckDB oracle counts by string).
    """
    df = df.where(F.col(text_col).isNotNull())
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), F.size(words).cast("bigint").alias("n_tokens"))
    # positional MULTISET of grams — deliberately NOT doc_shingles, whose
    # arrays are first-occurrence-distinct (set semantics for Jaccard);
    # here a gram repeated inside one document must count every time, and
    # the array index must be the true token position
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    pos = (
        df.where(F.size(words) >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .select(id_col, "pos", F.xxhash64("gram").alias("gh"))
    )
    freq = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    flagged = pos.join(freq, "gh").select(id_col, "pos")
    starts = flagged.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_starts"))
    covered = (
        flagged.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("cp"),
        )
        .groupBy(id_col)
        .agg(F.countDistinct("cp").alias("n_covered_tokens"))
    )
    return (
        base.join(starts, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_dup_starts", F.lit(0)).cast("bigint").alias("n_dup_starts"),
            F.coalesce("n_covered_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_covered_tokens"),
        )
        .withColumn(
            "dup_permille",
            F.floor(
                F.lit(1000.0)
                * F.col("n_covered_tokens")
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).cast("bigint"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Variable-length exact-substring duplicate spans — the removal
    semantics of suffix-array deduplication (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 §4: cut every
    substring of at least ``min_len`` tokens that occurs at least
    ``min_count`` times in the corpus), computed WITHOUT suffix structures.

    The reduction that makes this distributable: a token position lies
    inside some duplicated substring of length >= L iff it lies under some
    duplicated L-token window. (=> every L-window of a duplicated long
    substring occurs wherever the substring does, so each is itself
    duplicated; <= a duplicated L-window IS a duplicated substring of
    length L.) So the exact Lee-et-al removal set is the union of
    duplicated fixed-L windows, and the VARIABLE-LENGTH structure is
    recovered by merging overlapping flagged windows into maximal spans —
    a per-document gaps-and-islands pass: two flagged starts chain while
    ``next_start - prev_start <= L`` (their coverage overlaps or abuts).

    Returns one row per MAXIMAL duplicated span:
    ``(id, span_start, span_len, span_text)`` with ``span_start`` the
    0-based token offset, ``span_len`` in tokens, and ``span_text`` the
    exact removed text — string-verifiable against any replay. Documents
    with no duplicated span (and NULL texts: no token positions) emit
    nothing; subtracting the spans from the input is plain re-slicing.

    Scale shape: only 8-byte ``xxhash64`` window keys shuffle for the
    corpus-wide count (map-side combine; the text never moves); the
    frequent set is duplicate-density-sized and joins back by hash key
    (AQE broadcast). Island-merging windows partition BY DOCUMENT — no
    global sort, no suffix array, spans slice from the doc's own token
    array. Collision caveat as repeated_ngram_span_stats: 64-bit keys are
    exact below ~2^32 distinct windows."""
    win = Window.partitionBy(id_col).orderBy("pos")
    df = df.where(F.col(text_col).isNotNull())
    words = F.split(F.col(text_col), " ")
    toks = df.select(F.col(id_col), words.alias("toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - min_len),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, min_len)),
    )
    # pos feeds TWO consumers (the corpus-wide frequency count and the
    # flagged-position join): persist it, or the gram construction — a
    # concat_ws string per window over every token of the corpus, the CPU
    # of this operator — runs twice. Cached rows are
    # (id, pos, gh): three longs per token position, far smaller than the
    # window strings they replace.
    pos = managed_persist(
        toks.where(F.size("toks") >= min_len)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .select(id_col, "pos", F.xxhash64("gram").alias("gh"))
    )
    freq = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    flagged = pos.join(freq, "gh").select(id_col, "pos")
    islands = flagged.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos").over(win) <= min_len, F.lit(0)
            ).otherwise(F.lit(1))  # first row: NULL comparison -> new island
        ).over(win),
    )
    spans = islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") - F.min("pos") + min_len).alias("span_len"),
    )
    return (
        spans.join(toks, id_col)
        .select(
            F.col(id_col),
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_len").cast("bigint").alias("span_len"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("span_start") + 1, F.col("span_len"))
            ).alias("span_text"),
        )
    )


def remove_duplicate_substrings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Apply the Lee-et-al cut: every token under a duplicated span
    (``duplicate_substring_spans``) is dropped and the survivors rejoin in
    order — one row per input document with non-NULL text, ``(id,
    clean_text, n_removed_tokens)``. Documents without duplicated spans
    pass through verbatim with 0 removed.

    The subtraction is a per-document anti-membership filter over token
    positions (spans explode to covered positions, then one left-anti
    join keyed on (id, position) — both sides already partition by id),
    and ONLY documents that actually have a span are exploded and rebuilt:
    the clean majority of the corpus passes through with a semi-join probe
    and never sheds a token row (tokenize + re-join with the same
    delimiter is the identity, so pass-through equals rebuild verbatim) —
    at 100 TB the rebuild shuffle is duplicate-density-sized, not
    corpus-sized."""
    from datapipelines_spark.functions.caching import managed_persist

    df = df.where(F.col(text_col).isNotNull())
    spans = duplicate_substring_spans(
        df, text_col, id_col, min_len=min_len, min_count=min_count
    )
    # covered feeds THREE consumers (the semi-join id probe, the anti-join
    # subtraction, and the removed-token count): persist it, or each one
    # re-executes the whole spans pipeline — the corpus-wide window-hash
    # aggregate included. It is duplicate-density-sized (covered positions
    # of flagged docs only), never corpus-sized.
    covered = managed_persist(
        spans.select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("span_start"), F.col("span_start") + F.col("span_len") - 1
                )
            ).alias("pos"),
        )
    )
    covered_ids = covered.select(id_col).distinct()
    toks = df.join(covered_ids, id_col, "left_semi").select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text")
    )
    n_removed = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed_tokens")
    )
    return (
        df.select(id_col, text_col)
        .join(n_removed, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            # uncovered doc -> untouched text; covered doc -> the rebuild,
            # which is '' when every token fell under a span
            F.when(
                F.col("n_removed_tokens").isNull(), F.col(text_col)
            )
            .otherwise(F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
            F.coalesce("n_removed_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_removed_tokens"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    threshold: float = 0.45,
    kmeans_iters: int = 1,
    block_size: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): hard-partition the embedding
    space with k-means, then WITHIN each cluster drop every vector that has
    an earlier-id semantic near-duplicate (cosine >= ``threshold``). The
    within-cluster restriction IS the algorithm's scale lever — candidate
    work is Σ|cell|² instead of n², and the deliberate recall trade
    (cross-cluster near-dups survive) is what makes it run at web scale.

    Deterministic end to end: k-means init is the k lowest-id vectors
    (operators/clustering.py), assignment ties take the first minimal
    centroid, and the survivor rule is "smallest id in the similar set
    stays" — no RNG, retry-stable, SQL-replayable.

    Returns one row per vector: ``(id, cell, is_kept)``.

    Plan shape: one broadcast-centroid Arrow pass to assign cells, ONE hash
    shuffle keyed on (cell, block pair) — a cell larger than ``block_size``
    splits into blocks (operators/cosine_blocks.py) — then a chunked numpy
    GEMM per task that emits only the DROPPED ids (the larger id of each
    pair at or above the threshold): output volume tracks duplicate
    density, never pairs.
    """
    from datapipelines_spark.operators.clustering import kmeans_assign, kmeans_fit

    cb.require_positive(k=k, block_size=block_size)
    e = cb.prepare(df, vec_col, id_col)
    cents, _ = kmeans_fit(e, "v", "__id", k=k, max_iter=kmeans_iters, tol=0.0)
    cells = kmeans_assign(e, "v", "__id", cents)
    thr = float(threshold)

    def later_ids(S, ids_r, ids_c):
        hit = S >= thr
        r_later = ids_r[:, None] > ids_c[None, :]
        return pd.DataFrame(
            {
                "__id": np.union1d(
                    ids_r[(hit & r_later).any(axis=1)],
                    ids_c[(hit & ~r_later).any(axis=0)],
                )
            }
        )

    dropped = (
        cb.score_blocks(
            e, e.join(cells, "__id"), "cluster", block_size, later_ids, "__id long"
        )
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("cluster").cast("bigint").alias("cell"),
            F.col("__dropped").isNull().alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup


def incremental_dedup_verdicts(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = 512,
    target_recall: float | None = None,
) -> DataFrame:
    """Ingest-time dedup verdicts: one row per ``batch`` document deciding
    whether it survives against an already-ingested ``corpus`` AND against
    the rest of its own batch — the shape a 100 TB pipeline actually runs
    (nobody re-dedups the full corpus per ingest; the new slice is probed
    against the standing index and itself).

    Output: ``(id, verdict, match_id)`` with verdict one of

    - ``exact_corpus`` — byte-identical to a corpus doc (md5 equality);
    - ``exact_batch``  — byte-identical to a LOWER-id batch doc;
    - ``near_corpus``  — minhash-LSH match (jaccard >= ``threshold``) to a
      corpus doc;
    - ``near_batch``   — near match to a lower-id batch doc;
    - ``keep``         — none of the above (the doc enters the corpus).

    Precedence is the listed order (an exact dup is also a near dup; the
    strongest reason wins); ``match_id`` is the smallest matching partner
    id of the winning stage, NULL for ``keep`` — deterministic, so the
    whole decision table is SQL-replayable.

    Scale shape: the corpus NEVER self-joins and never shuffles its text —
    it pays one md5 scan (32-byte keys) and one signature scan, both of
    which a production deployment would persist as the standing index; the
    batch side broadcasts (minhash_lsh_join's corpus-vs-eval asymmetry).
    Within-batch work is the ordinary banded LSH on the batch alone, with
    ``max_bucket_size`` as its quadratic-bucket valve (pass None for the
    cap-free exact mode the capless SQL replays assume).

    Banding comes from ``config``, or — the measured-recall discipline —
    from ``target_recall``, which solves the banding for this operator's
    own ``threshold`` via ``choose_banding`` (``_resolve_config``).

    Plan note: the batch and corpus signature tables are computed ONCE
    each (persisted) and shared by the corpus probe and the within-batch
    stage — if each stage re-derived its own signature pipeline, one
    verdict table would pay three Arrow shingle+minhash passes over the
    batch and the plan tree would blow up combinatorially. Results are
    bit-identical: the signature stage is deterministic and the cache
    only changes where it is read from."""
    config = _resolve_config(config, threshold, target_recall)
    bh = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    ch = corpus.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(id_col).alias("exact_corpus")
    )
    exact = bh.join(ch, "__h", "left")
    # exact within batch: the smallest STRICTLY-earlier id sharing the hash
    w = (
        Window.partitionBy("__h")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    exact = exact.withColumn("exact_batch", F.min(id_col).over(w)).select(
        id_col, "exact_corpus", "exact_batch"
    )
    bdocs = managed_persist(
        _docs_with_signatures(batch, text_col, id_col, config)
    )
    cdocs = managed_persist(
        _docs_with_signatures(corpus, text_col, id_col, config)
    )
    near_c = (
        _lsh_join_from_docs(cdocs, bdocs, id_col, config, threshold)
        .groupBy(F.col("doc_b").alias(id_col))
        .agg(F.min("doc_a").alias("near_corpus"))
    )
    near_b = (
        _pair_jaccard(
            _lsh_candidate_pairs(bdocs, id_col, config, max_bucket_size),
            bdocs,
            id_col,
            threshold,
        )
        .groupBy(F.col("doc_b").alias(id_col))
        .agg(F.min("doc_a").alias("near_batch"))
    )
    verdict = (
        F.when(F.col("exact_corpus").isNotNull(), F.lit("exact_corpus"))
        .when(F.col("exact_batch").isNotNull(), F.lit("exact_batch"))
        .when(F.col("near_corpus").isNotNull(), F.lit("near_corpus"))
        .when(F.col("near_batch").isNotNull(), F.lit("near_batch"))
        .otherwise(F.lit("keep"))
    )
    return (
        exact.join(near_c, id_col, "left")
        .join(near_b, id_col, "left")
        .select(
            id_col,
            verdict.alias("verdict"),
            F.coalesce(
                "exact_corpus", "exact_batch", "near_corpus", "near_batch"
            ).alias("match_id"),
        )
    )


def ingest_tick_verdicts(
    corpus: DataFrame,
    prior_batch: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    config: MinHashConfig | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = 512,
    target_recall: float | None = None,
    corpus_hashes: DataFrame | None = None,
    corpus_sig_docs: DataFrame | None = None,
) -> DataFrame:
    """One STREAMING tick of ``incremental_dedup_verdicts``: verdict each
    ``batch`` document against (a) the immutable standing ``corpus``,
    (b) ``prior_batch`` — every batch document ADMITTED by earlier ticks
    (the growing ingest index) — and (c) lower-id documents within this
    tick. Verdicts and precedence are exactly the batch operator's
    (exact_corpus > exact_batch > near_corpus > near_batch > keep), with
    "batch" covering both the prior index and the within-tick matches.

    Replay equivalence (proven in tests/test_stream_ingest.py): when
    micro-batches arrive in ascending-id order, "previously admitted or
    lower-id within tick" is exactly "lower-id batch member", so the
    union of all ticks' verdict tables EQUALS the all-at-once
    ``incremental_dedup_verdicts`` decision table — the IVM-style
    correctness statement for ingest dedup.

    Scale shape per tick: the corpus pays one md5 scan + one signature
    scan (persistable as the standing index) and never self-joins; the
    prior index pays the same, growing with ADMITTED volume only; the
    tick's band keys broadcast against both (minhash_lsh_join asymmetry);
    within-tick work is banded LSH on the tick alone.

    ``max_bucket_size`` caps within-tick band buckets and DEFAULTS TO THE
    BATCH OPERATOR'S 512 (an uncapped tick against the capped
    ``incremental_dedup_verdicts`` — whose union-equality the
    replay-equivalence tests assert — would let a >512-doc band bucket
    make the tick union find pairs the batch operator drops). Exact tick-union == batch replay equivalence additionally
    requires NO band bucket to overflow the cap at either granularity
    (a bucket may exceed the cap in the full batch while each tick's
    slice of it stays under) — the no-hot-bucket precondition; pass
    ``max_bucket_size=None`` to both operators for cap-free parity.
    ``config``/``target_recall`` resolve as in the batch operator
    (``_resolve_config``).

    ``corpus_hashes`` / ``corpus_sig_docs`` are the STANDING-INDEX hooks:
    a long-running ingest loop verdicts every tick against the same
    immutable corpus, so the sink precomputes the corpus md5 table
    (``corpus.groupBy(md5(text)).agg(min(id))`` aliased ``exact_corpus``)
    and signature table (``_docs_with_signatures``) once, persists them,
    and passes them here — each tick then pays ZERO corpus passes instead
    of two. Omitted, both derive from ``corpus`` as before. The batch and
    prior signature tables are likewise computed once per call and shared
    across the probe and within-tick stages (the
    ``incremental_dedup_verdicts`` plan note)."""
    config = _resolve_config(config, threshold, target_recall)
    bh = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    ch = (
        corpus_hashes
        if corpus_hashes is not None
        else corpus.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
            F.min(id_col).alias("exact_corpus")
        )
    )
    ph = prior_batch.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(id_col).alias("__exact_prior")
    )
    w = (
        Window.partitionBy("__h")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    exact = (
        bh.join(ch, "__h", "left")
        .join(ph, "__h", "left")
        .withColumn("__exact_within", F.min(id_col).over(w))
        .select(
            id_col,
            "exact_corpus",
            # least() skips NULLs: min over whichever sides matched
            F.least("__exact_prior", "__exact_within").alias("exact_batch"),
        )
    )
    bdocs = managed_persist(
        _docs_with_signatures(batch, text_col, id_col, config)
    )
    cdocs = (
        corpus_sig_docs
        if corpus_sig_docs is not None
        else managed_persist(
            _docs_with_signatures(corpus, text_col, id_col, config)
        )
    )
    pdocs = managed_persist(
        _docs_with_signatures(prior_batch, text_col, id_col, config)
    )
    near_c = (
        _lsh_join_from_docs(cdocs, bdocs, id_col, config, threshold)
        .groupBy(F.col("doc_b").alias(id_col))
        .agg(F.min("doc_a").alias("near_corpus"))
    )
    near_p = (
        _lsh_join_from_docs(pdocs, bdocs, id_col, config, threshold)
        .groupBy(F.col("doc_b").alias(id_col))
        .agg(F.min("doc_a").alias("__near_prior"))
    )
    near_w = (
        _pair_jaccard(
            _lsh_candidate_pairs(bdocs, id_col, config, max_bucket_size),
            bdocs,
            id_col,
            threshold,
        )
        .groupBy(F.col("doc_b").alias(id_col))
        .agg(F.min("doc_a").alias("__near_within"))
    )
    near_b = (
        near_p.join(near_w, id_col, "full")
        .select(
            F.col(id_col),
            F.least("__near_prior", "__near_within").alias("near_batch"),
        )
    )
    verdict = (
        F.when(F.col("exact_corpus").isNotNull(), F.lit("exact_corpus"))
        .when(F.col("exact_batch").isNotNull(), F.lit("exact_batch"))
        .when(F.col("near_corpus").isNotNull(), F.lit("near_corpus"))
        .when(F.col("near_batch").isNotNull(), F.lit("near_batch"))
        .otherwise(F.lit("keep"))
    )
    return (
        exact.join(near_c, id_col, "left")
        .join(near_b, id_col, "left")
        .select(
            id_col,
            verdict.alias("verdict"),
            F.coalesce(
                "exact_corpus", "exact_batch", "near_corpus", "near_batch"
            ).alias("match_id"),
        )
    )
