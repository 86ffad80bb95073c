"""Deduplication operators over the ``documents`` table — exact, normalized,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

None of these exist in the reference (SURVEY §2.10); they are the
training-data-pipeline extensions the engine treats as first-class operators
(implemented as composable DataFrame transforms in
``datapipelines_spark.operators.dedup``; these catalog entries bind them to
the fixture tables with DuckDB oracles).

Scale design: every variant is shuffle-bounded by (a) hashing to a compact
key first (exact/fingerprint), or (b) candidate generation via equi-join on
shingles / LSH bands rather than any O(n²) cross join. The only cross join in
this family is embedding near-dup at small n — the LSH variants are the
100 TB path.

Portability: hash = first 8 hex chars of md5 → bigint (functions/hashing.py),
identical in Spark and DuckDB, so signatures are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.operators import dedup as ops
from datapipelines_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# exact dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest; canonical = min doc_id.

    One shuffle on a 32-byte key regardless of document size — the md5 is
    computed map-side so full text never shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    return ops.exact_duplicates(d, text_col="text", id_col="doc_id").orderBy("content_hash")


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY content_hash
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after casefold + whitespace normalization."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return ops.exact_duplicates(
        d.withColumn("text", normalized), text_col="text", id_col="doc_id"
    ).orderBy("content_hash")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup

_SHINGLES_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5.

    Candidates come from an equi-join on shared shingles (inverted-index
    join), never a cross join: cost is Σ per-shingle df² — bounded because
    natural-language shingles are rare. Hot shingles at 100 TB get handled by
    the MinHash variant below.
    """
    d = load_table(spark, sf_dir, "documents")
    return ops.ngram_jaccard_pairs(
        d, text_col="text", id_col="doc_id", n=3, threshold=0.5
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup

_MINHASH = ops.MinHashConfig(num_hashes=16, bands=4, ngram=3)


def _minhash_oracle(config: ops.MinHashConfig = _MINHASH) -> str:
    """DuckDB CTE computing the identical minhash signatures + band-bucket
    candidate pairs + exact-jaccard verification the Spark operator emits.
    Parameterized over the signature config so tuned bandings
    (operators/dedup.py:choose_banding) replay under the same SQL shape;
    the default emits the catalog ``dedup_minhash_lsh`` oracle verbatim."""
    h = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    mins = ",\n            ".join(
        f"MIN(({a} * {h} + {b}) % {ops.MERSENNE_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(config.coefficients())
    )
    band_rows = config.num_hashes // config.bands
    band_exprs = []
    for b in range(config.bands):
        cols = " || '-' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * band_rows, (b + 1) * band_rows)
        )
        band_exprs.append(f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig")
    bands = "\n        UNION ALL\n        ".join(band_exprs)
    return f"""
    WITH {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
            {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2
    )
    SELECT v.doc_a, v.doc_b,
           round(v.n_common * 1.0 / (sa.n + sb.n - v.n_common), 6) AS jaccard
    FROM verified v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE v.n_common * 1.0 / (sa.n + sb.n - v.n_common) >= 0.5
    ORDER BY doc_a, doc_b
    """


def lsh_candidates_oracle(config: ops.MinHashConfig = _MINHASH) -> str:
    """DuckDB SQL for the band-bucket CANDIDATE pairs alone (no jaccard
    verification) — the SQL twin of operators/dedup.py:
    minhash_lsh_candidates, consumed by the dedup accuracy harness
    (queries/recall.py). Parameterized over the signature config for the
    harness's tuned-banding arm."""
    h = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    mins = ",\n            ".join(
        f"MIN(({a} * {h} + {b}) % {ops.MERSENNE_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(config.coefficients())
    )
    band_rows = config.num_hashes // config.bands
    band_exprs = []
    for b in range(config.bands):
        cols = " || '-' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * band_rows, (b + 1) * band_rows)
        )
        band_exprs.append(f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig")
    bands = "\n        UNION ALL\n        ".join(band_exprs)
    return f"""
    WITH {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
            {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup, verified by exact Jaccard.

    The 100 TB dedup path: shingle → 16 portable minhashes (one shuffle,
    map-side partial min) → band keys → equi-join on (band, key) buckets →
    exact-jaccard verification only on candidates. Candidate volume scales
    with true-duplicate density, not corpus size², and band keys are md5'd to
    fixed 32-byte join keys regardless of signature width.
    """
    d = load_table(spark, sf_dir, "documents")
    return ops.minhash_lsh_pairs(
        d, text_col="text", id_col="doc_id", config=_MINHASH, threshold=0.5
    ).orderBy("doc_a", "doc_b")


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    th AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h, COUNT(*) AS w
        FROM toks GROUP BY doc_id, tok
    ),
    bits AS (
        SELECT doc_id, j.j,
               SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN w ELSE -w END) AS weight
        FROM th, (SELECT unnest(generate_series(0, 31)) AS j) j
        GROUP BY doc_id, j.j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN weight > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from term-frequency-weighted token hashes.

    Near-dup docs land within small Hamming distance; clustering then joins
    on rotated prefixes. The signature itself is oracle-checked bit-for-bit.
    """
    # one row per doc WITH text: the oracle's unnest drops NULL texts (the
    # operator itself passes NULL through for simhash_near_pairs' sake)
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return ops.simhash(d, text_col="text", id_col="doc_id", bits=32).orderBy("doc_id")


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL
             AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0),
    norms AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
          / (a.nrm * b.nrm) >= 0.45
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ 0.45, exact, via blocked GEMM.

    The default path is ``embedding_cosine_pairs_blocked`` — one shuffle on
    (block_i, block_j) task keys + vectorized numpy matmul per task; the
    all-pairs theta-join operator remains the oracle/verifier
    (tests/test_dedup_blocked_parity.py proves set equality). At cosine 0.45
    (≈63°) LSH bucketing cannot prune without recall loss, so the exact
    blocked plan IS the scale path.
    """
    from datapipelines_spark.queries.similarity import nonzero_embeddings

    e = nonzero_embeddings(spark, sf_dir)
    return ops.embedding_cosine_pairs_blocked(
        e, vec_col="embedding", id_col="vec_id", threshold=0.45
    ).orderBy("vec_a", "vec_b")


@query(
    "dedup_winnow_fingerprints",
    oracle="""
    WITH docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text FROM documents
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
    sh AS (
        SELECT doc_id, i AS pos,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 6)) AS x(i)
        WHERE len(w) >= 7
    ),
    wm AS (
        SELECT doc_id, pos,
               MIN(s) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
        FROM sh
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= max_pos - 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint overlap — local-match detection with the
    guarantee that any shared run of >= window+k-1 = 10 consecutive tokens
    yields a shared fingerprint (operators/fingerprint.py, lexicographic
    robust winnowing so the oracle replicates the selection exactly). The
    fixture unions an exact copy of every document under a shifted id, so
    each (doc, copy) pair must surface alongside any natural overlaps; the
    per-fingerprint sliding minimum is one doc-partitioned window, and the
    pair join is the inverted-index shape shared with dedup_ngram_jaccard.

    Scale note (why the 4x-scaled bench pass grows super-linearly here):
    PAIR enumeration is quadratic in duplicate multiplicity BY DEFINITION —
    replicating every doc r times turns each shared fingerprint's bucket
    into r(r+1) members and so ~r^2 pairs. That is a property of the output
    contract, not the plan; production dedup consumes the cluster
    representation (dedup_clusters) whose output stays linear, and
    ``max_fp_docs`` caps any corpus-wide-boilerplate bucket (disabled here
    only for exact oracle parity on the fixture)."""
    from datapipelines_spark.operators.fingerprint import fingerprint_overlap_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    both = d.unionByName(
        d.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    return (
        fingerprint_overlap_pairs(
            both, "text", "doc_id", k=7, window=4, min_shared=2,
            max_fp_docs=None,
        )
        .select("doc_a", "doc_b", F.col("n_shared").cast("bigint").alias("n_shared"))
        .orderBy("doc_a", "doc_b")
    )


def minhash_bands_oracle() -> str:
    """DuckDB SQL for the DISTINCT (band_id, band_key) set of the corpus —
    the LSH bucket keys of every signature the Arrow shingle+minhash stage
    (operators/dedup.py:_doc_sig_udf) emits, recomputed bit for bit; the
    oracle of the streaming replay query
    (queries/streamrep.py:stream_minhash_bands_replay)."""
    h = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    mins = ",\n            ".join(
        f"MIN(({a} * {h} + {b}) % {ops.MERSENNE_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH.coefficients())
    )
    band_rows = _MINHASH.num_hashes // _MINHASH.bands
    band_exprs = []
    for b in range(_MINHASH.bands):
        cols = " || '-' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * band_rows, (b + 1) * band_rows)
        )
        band_exprs.append(f"SELECT {b} AS band_id, md5({cols}) AS band_key FROM sig")
    bands = "\n        UNION ALL\n        ".join(band_exprs)
    return f"""
    WITH {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
            {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    )
    SELECT DISTINCT CAST(band_id AS INT) AS band_id, band_key
    FROM bands ORDER BY band_id, band_key
    """


def _minhash_cross_oracle() -> str:
    """DuckDB replay of the cross-corpus LSH join: identical signatures and
    band keys, candidates restricted to (even doc, odd doc) pairs, exact
    jaccard verification."""
    h = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    mins = ",\n            ".join(
        f"MIN(({a} * {h} + {b}) % {ops.MERSENNE_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH.coefficients())
    )
    band_rows = _MINHASH.num_hashes // _MINHASH.bands
    band_exprs = []
    for b in range(_MINHASH.bands):
        cols = " || '-' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * band_rows, (b + 1) * band_rows)
        )
        band_exprs.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig"
        )
    bands = "\n        UNION ALL\n        ".join(band_exprs)
    return f"""
    WITH {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
            {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2
    )
    SELECT v.doc_a, v.doc_b,
           round(v.n_common * 1.0 / (sa.n + sb.n - v.n_common), 6) AS jaccard
    FROM verified v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE v.n_common * 1.0 / (sa.n + sb.n - v.n_common) >= 0.5
    ORDER BY doc_a, doc_b
    """


@query("decontaminate_minhash_cross", oracle=_minhash_cross_oracle())
def decontaminate_minhash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus NEAR-DUP decontamination
    (operators/dedup.py:minhash_lsh_join): even-id docs play the training
    corpus, odd-id docs the eval suite; banded MinHash proposes cross-side
    candidates and exact Jaccard >= 0.5 confirms them — catching the
    paraphrased/reflowed contamination that exact n-gram overlap
    (corpus_clean_pipeline) misses. Eval-side bands and shingles
    broadcast; the corpus never self-joins and never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return ops.minhash_lsh_join(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        text_col="text",
        id_col="doc_id",
        config=_MINHASH,
        threshold=0.5,
    ).orderBy("doc_a", "doc_b")


@query(
    "dedup_repeated_ngram_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents WHERE text IS NOT NULL),
    base AS (SELECT doc_id, len(w) AS n_tokens FROM toks),
    grams AS (
        SELECT doc_id, i AS pos,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS g
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS x(i)
        WHERE len(w) >= 5
    ),
    freq AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    flagged AS (SELECT doc_id, pos FROM grams JOIN freq USING (g)),
    starts AS (
        SELECT doc_id, COUNT(*) AS n_dup_starts FROM flagged GROUP BY doc_id
    ),
    covered AS (
        SELECT doc_id, COUNT(DISTINCT cp) AS n_covered
        FROM flagged, LATERAL unnest(generate_series(pos, pos + 4)) AS y(cp)
        GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(s.n_dup_starts, 0) AS n_dup_starts,
           COALESCE(c.n_covered, 0) AS n_covered_tokens,
           CAST(FLOOR(1000.0 * COALESCE(c.n_covered, 0)
                      / GREATEST(b.n_tokens, 1)) AS BIGINT) AS dup_permille
    FROM base b
    LEFT JOIN starts s USING (doc_id)
    LEFT JOIN covered c USING (doc_id)
    ORDER BY doc_id
    """,
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection at 5-gram granularity
    (operators/dedup.py:repeated_ngram_span_stats): every 5-token window
    whose exact text occurs >= 2 times corpus-wide is flagged, and each
    document reports how many token positions those windows cover — the
    shuffle-friendly fixed-granularity form of exact substring dedup
    (Lee et al. ACL 2022). The engine counts grams by 8-byte xxhash64 key
    (the text never shuffles); the oracle counts the gram strings
    themselves — equality IS the no-collision check."""
    d = load_table(spark, sf_dir, "documents")
    return ops.repeated_ngram_span_stats(
        d, text_col="text", id_col="doc_id", n=5, min_count=2
    ).orderBy("doc_id")


# Boilerplate passages planted (identically on both sides) to create long
# variable-length exact duplicates: the sf fixtures contain no exact
# duplicate texts, so the corpus is augmented deterministically — every
# doc_id % 4 == 0 document gets BP1 appended; every doc_id % 8 == 0 gets
# BP1 followed by BP2, so the %8 cohort's maximal span MERGES the two
# passages while the %4-only cohort's span is BP1 alone.
_BP1 = (
    "the quick brown fox jumps over the lazy dog again and again without pause"
)
_BP2 = "all work and no play makes the model a dull corpus in the long run"


# planted corpus + duplicated-window detection, shared by both substring
# oracles (the spans view and the removal view read the same flagged set)
_SUBSTR_BASE_SQL = f"""
    toks AS (
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 0
                    THEN string_split(text || ' {_BP1} {_BP2}', ' ')
                    WHEN doc_id % 4 = 0
                    THEN string_split(text || ' {_BP1}', ' ')
                    ELSE string_split(text, ' ') END AS w
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(w, i + 1, i + 8), ' ') AS g
        FROM toks, LATERAL unnest(generate_series(0, len(w) - 8)) AS x(i)
        WHERE len(w) >= 8
    ),
    freq AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    flagged AS (SELECT doc_id, pos FROM grams JOIN freq USING (g))"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 8 == 0,
            F.concat_ws(" ", F.col("text"), F.lit(_BP1), F.lit(_BP2)),
        )
        .when(F.col("doc_id") % 4 == 0, F.concat_ws(" ", F.col("text"), F.lit(_BP1)))
        .otherwise(F.col("text"))
        .alias("text"),
    )


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SUBSTR_BASE_SQL},
    lagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM flagged
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM lagged
    ),
    spans AS (
        SELECT doc_id, island, MIN(pos) AS span_start,
               MAX(pos) - MIN(pos) + 8 AS span_len
        FROM isl GROUP BY doc_id, island
    )
    SELECT s.doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_len AS BIGINT) AS span_len,
           array_to_string(
               list_slice(t.w, span_start + 1, span_start + span_len), ' '
           ) AS span_text
    FROM spans s JOIN toks t USING (doc_id)
    ORDER BY s.doc_id, span_start
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length exact-substring duplicate spans
    (operators/dedup.py:duplicate_substring_spans) — the suffix-array
    removal semantics of Lee et al. ACL 2022 §4 without suffix structures:
    duplicated fixed-8-token windows (corpus-wide count >= 2 by xxhash64
    key; text never shuffles) merge per document into MAXIMAL spans via
    gaps-and-islands, and each span's exact text ships in the output. The
    corpus is augmented with two deterministic boilerplate passages so
    long planted duplicates exist (BP1 for doc_id%4, BP1+BP2 contiguously
    for doc_id%8 — whose spans must MERGE across the passage boundary);
    the oracle replays the construction counting gram STRINGS and
    string-verifies every removed span."""
    return ops.duplicate_substring_spans(
        _planted_corpus(spark, sf_dir),
        text_col="text",
        id_col="doc_id",
        min_len=8,
        min_count=2,
    ).orderBy("doc_id", "span_start")


@query(
    "dedup_substring_removal",
    oracle=f"""
    WITH {_SUBSTR_BASE_SQL},
    covered AS (
        SELECT DISTINCT doc_id, cp
        FROM flagged, LATERAL unnest(generate_series(pos, pos + 7)) AS y(cp)
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS tok
        FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tokpos t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.pos = c.cp
        WHERE c.cp IS NULL
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    ),
    nrem AS (SELECT doc_id, COUNT(*) AS n FROM covered GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(COALESCE(nrem.n, 0) AS BIGINT) AS n_removed_tokens
    FROM toks t
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN nrem USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al CUT applied (operators/dedup.py:
    remove_duplicate_substrings): every token under a duplicated span is
    dropped and the survivors rejoin in order — one row per document with
    the cleaned text and the removed-token count, over the same planted
    boilerplate corpus as dedup_substring_spans. The oracle rebuilds each
    cleaned text independently (position anti-join + ordered string_agg),
    so the subtraction itself — not just the span set — is
    string-verified."""
    return ops.remove_duplicate_substrings(
        _planted_corpus(spark, sf_dir),
        text_col="text",
        id_col="doc_id",
        min_len=8,
        min_count=2,
    ).orderBy("doc_id")


@query(
    "dedup_normalized_exact",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 1000000,
               upper(text) || '  !! ' AS text
        FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
    ),
    normed AS (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g'))) AS norm_md5
        FROM corpus
    )
    SELECT doc_id, norm_md5,
           doc_id = MIN(doc_id) OVER (PARTITION BY norm_md5)
               AS is_norm_canonical
    FROM normed
    ORDER BY doc_id
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after NORMALIZATION (operators/text.py:
    normalized_exact_dedup — the RefinedWeb/CCNet fuzzy-exact
    canonicalization): lowercase, strip non-alphanumerics, collapse
    whitespace, then min-id per content hash. The corpus is salted with a
    mutated copy of every 10th document (uppercased, punctuation and
    space runs appended) under doc_id + 1e6 — byte-level DISTINCT calls
    each mutation unique, but normalization must collapse every mutated
    copy onto its original (the original, having the smaller id, stays
    canonical). Same plan as plain exact dedup: one window over the
    normalized hash; only (id, hash) pairs shuffle."""
    from datapipelines_spark.operators.text import normalized_exact_dedup

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    mutated = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  !! ")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(mutated)
    return normalized_exact_dedup(corpus, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup


def _incremental_oracle(
    corpus_member: str = "{d} % 4 <> 0",
    batch_member: str = "{d} % 4 = 0",
    prefix_ctes: str = "",
    extra_select: str = "",
    extra_joins: str = "",
) -> str:
    """DuckDB replay of incremental_dedup_verdicts over the staged corpus:
    the identical duplicate planting (exact/near x corpus/batch), md5
    equality, minhash signatures, band buckets, exact-jaccard
    verification, and verdict precedence.

    Parameterized so composed pipelines can reuse the whole replay:
    ``corpus_member`` / ``batch_member`` are format templates over ``{d}``
    (a doc_id expression) deciding set membership; ``prefix_ctes`` is
    spliced after the ``staged`` CTE (e.g. URL-gating CTEs a batch
    predicate references); ``extra_select`` / ``extra_joins`` extend the
    final projection (queries/ingest.py)."""
    h = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    mins = ",\n            ".join(
        f"MIN(({a} * {h} + {b}) % {ops.MERSENNE_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH.coefficients())
    )
    band_rows = _MINHASH.num_hashes // _MINHASH.bands
    band_exprs = []
    for b in range(_MINHASH.bands):
        cols = " || '-' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * band_rows, (b + 1) * band_rows)
        )
        band_exprs.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig"
        )
    bands = "\n        UNION ALL\n        ".join(band_exprs)
    return f"""
    WITH staged AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 20 = 0 THEN COALESCE(c1.text, d.text)
                    WHEN d.doc_id % 40 = 24 THEN COALESCE(p.text, d.text)
                    WHEN d.doc_id % 20 = 8
                         THEN COALESCE(c1.text || ' qq zz xw', d.text)
                    WHEN d.doc_id % 40 = 32
                         THEN COALESCE(p.text || ' qq zz xw', d.text)
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN documents c1 ON c1.doc_id = d.doc_id + 1
        LEFT JOIN documents p ON p.doc_id = d.doc_id - 20
    ),{prefix_ctes}
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM staged),
    sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sig AS (
        SELECT doc_id,
            {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    ch AS (
        SELECT md5(text) AS hh, MIN(doc_id) AS ec
        FROM staged WHERE {corpus_member.format(d="doc_id")} GROUP BY 1
    ),
    bh AS (
        SELECT doc_id, md5(text) AS hh
        FROM staged WHERE {batch_member.format(d="doc_id")}
    ),
    exact AS (
        SELECT bh.doc_id, ch.ec AS exact_corpus,
               MIN(bh.doc_id) OVER (
                   PARTITION BY bh.hh ORDER BY bh.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS exact_batch
        FROM bh LEFT JOIN ch ON bh.hh = ch.hh
    ),
    nc_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE {corpus_member.format(d="a.doc_id")}
          AND {batch_member.format(d="b.doc_id")}
    ),
    nb_cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE {batch_member.format(d="a.doc_id")}
          AND {batch_member.format(d="b.doc_id")}
    ),
    nc AS (
        SELECT v.doc_b AS doc_id, MIN(v.doc_a) AS near_corpus
        FROM (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM nc_cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY 1, 2
        ) v
        JOIN sizes sa ON v.doc_a = sa.doc_id
        JOIN sizes sb ON v.doc_b = sb.doc_id
        WHERE v.n_common * 1.0 / (sa.n + sb.n - v.n_common) >= 0.5
        GROUP BY 1
    ),
    nb AS (
        SELECT v.doc_b AS doc_id, MIN(v.doc_a) AS near_batch
        FROM (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM nb_cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
            GROUP BY 1, 2
        ) v
        JOIN sizes sa ON v.doc_a = sa.doc_id
        JOIN sizes sb ON v.doc_b = sb.doc_id
        WHERE v.n_common * 1.0 / (sa.n + sb.n - v.n_common) >= 0.5
        GROUP BY 1
    )
    SELECT e.doc_id,
           CASE WHEN e.exact_corpus IS NOT NULL THEN 'exact_corpus'
                WHEN e.exact_batch IS NOT NULL THEN 'exact_batch'
                WHEN nc.near_corpus IS NOT NULL THEN 'near_corpus'
                WHEN nb.near_batch IS NOT NULL THEN 'near_batch'
                ELSE 'keep' END AS verdict,
           COALESCE(e.exact_corpus, e.exact_batch,
                    nc.near_corpus, nb.near_batch) AS match_id{extra_select}
    FROM exact e
    LEFT JOIN nc ON nc.doc_id = e.doc_id
    LEFT JOIN nb ON nb.doc_id = e.doc_id{extra_joins}
    ORDER BY e.doc_id
    """


def staged_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture with every duplicate class the verdict table
    distinguishes planted deterministically: exact copy of the next-id doc
    (% 20 == 0), exact copy of the doc 20 earlier (% 40 == 24), and near
    copies of each with a 3-token tail (% 20 == 8 / % 40 == 32). Shared
    by dedup_incremental_batch and the composed ingest pipeline
    (queries/ingest.py); the SQL twin is _incremental_oracle's ``staged``
    CTE."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c1 = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__t1"))
    p = d.select((F.col("doc_id") + 20).alias("doc_id"), F.col("text").alias("__tp"))
    tail = F.lit(" qq zz xw")
    return (
        d.join(c1, "doc_id", "left")
        .join(p, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, F.coalesce("__t1", "text"))
            .when(F.col("doc_id") % 40 == 24, F.coalesce("__tp", "text"))
            .when(
                F.col("doc_id") % 20 == 8,
                F.coalesce(F.concat(F.col("__t1"), tail), F.col("text")),
            )
            .when(
                F.col("doc_id") % 40 == 32,
                F.coalesce(F.concat(F.col("__tp"), tail), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


@query("dedup_incremental_batch", oracle=_incremental_oracle())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup verdicts (operators/dedup.py:
    incremental_dedup_verdicts): the fixture is split into an
    already-ingested corpus (doc_id % 4 != 0) and a new batch (% 4 == 0),
    and the batch is salted with every duplicate class the verdict table
    distinguishes — exact copies of a corpus neighbor (% 20 == 0), exact
    copies of an earlier batch doc (% 40 == 24), near copies of each with
    a planted tail (% 20 == 8 / % 40 == 32). Every batch doc gets
    (verdict, match_id) with exact > near and corpus > batch precedence.

    The 100 TB point: per ingest, the corpus pays one md5 scan and one
    signature scan (both persistable as a standing index) and ZERO
    self-join work — candidate generation is the batch's band keys
    broadcast against the corpus index; within-batch dedup is the banded
    LSH on the (small) batch alone."""
    from datapipelines_spark.functions.caching import managed_persist

    # staged feeds both the corpus and batch branches, each of which scans
    # it 2-3 times (md5 table, signature table, final join): persist the
    # planted fixture once instead of re-running its 3-scan self-join plan
    # per consumer
    staged = managed_persist(staged_dup_docs(spark, sf_dir))
    corpus = staged.where(F.col("doc_id") % 4 != 0)
    batch = staged.where(F.col("doc_id") % 4 == 0)
    return ops.incremental_dedup_verdicts(
        corpus, batch, "text", "doc_id", _MINHASH, threshold=0.5
    ).orderBy("doc_id")
