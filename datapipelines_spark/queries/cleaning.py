"""Corpus-cleaning pipeline: near-dup clustering and the composed
quality→exact-dedup→near-dedup keep/drop decision — the actual end-product a
training-data pipeline runs, as single oracle-checked queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipelines_spark.catalog import query
from datapipelines_spark.operators import dedup as dd
from datapipelines_spark.operators.components import duplicate_clusters
from datapipelines_spark.sources.parquet import load_table

# Shared candidate-pair SQL (word-3-gram jaccard >= 0.5), both directions.
_PAIRS_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rawpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM rawpairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    )
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    )
    SELECT node, MIN(r) AS cluster_id, node = MIN(r) AS is_canonical
    FROM closure GROUP BY node
    ORDER BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the jaccard≥0.5 pair
    graph (operators/components.py, iterative min-label propagation). The
    oracle recomputes components with a recursive transitive-closure CTE —
    fine at fixture scale, quadratic in general, which is exactly why the
    engine uses label propagation instead."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    return duplicate_clusters(pairs).orderBy("node")


@query(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    quality AS (
        SELECT doc_id,
               len(string_split(text, ' ')) >= 10
               AND len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) >= 0.2 AS passed_quality
        FROM documents WHERE text IS NOT NULL
    ),
    exact_canon AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_canonical
        FROM documents WHERE text IS NOT NULL
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
    SELECT d.doc_id,
           q.passed_quality,
           e.is_exact_canonical,
           COALESCE(cl.cluster_id, d.doc_id) AS near_cluster_id,
           q.passed_quality AND e.is_exact_canonical
               AND COALESCE(cl.cluster_id, d.doc_id) = d.doc_id AS kept
    FROM documents d
    JOIN quality q USING (doc_id)
    JOIN exact_canon e USING (doc_id)
    LEFT JOIN clusters cl ON cl.node = d.doc_id
    ORDER BY d.doc_id
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning decision per document: quality gate + exact-dup
    canonicalization + near-dup cluster canonicalization → ``kept``.

    One declarative plan: quality is a scan-local expression, exact-canon a
    window over the content hash, near-dup the pair-graph clustering. At
    100 TB each stage is the operator already benchmarked; the composition
    adds joins on doc_id only (no new data-volume shuffles). Domain:
    documents WITH text (every stage is a text signal).
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    quality = d.select(
        "doc_id",
        (
            (F.size(toks) >= 10)
            & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.2)
        ).alias("passed_quality"),
    )
    w = Window.partitionBy(F.md5("text"))
    exact = d.select(
        "doc_id", (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_exact_canonical")
    )
    pairs = dd.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    clusters = duplicate_clusters(pairs).select(
        F.col("node").alias("doc_id"), F.col("cluster_id")
    )
    out = (
        d.select("doc_id")
        .join(quality, "doc_id")
        .join(exact, "doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("near_cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .drop("cluster_id")
    )
    kept = (
        F.col("passed_quality")
        & F.col("is_exact_canonical")
        & (F.col("near_cluster_id") == F.col("doc_id"))
    )
    return out.withColumn("kept", kept).orderBy("doc_id")


def _clean_pipeline_v2_oracle() -> str:
    """Staged SQL replay of the v2 pipeline: the planted corpus (the
    dedup_substring fixtures' boilerplate construction), the Lee-et-al
    substring cut, then quality/exact/near-dup stages — with the near-dup
    shingles computed over the CLEANED text, which is the point of running
    the cut before near-dedup."""
    from datapipelines_spark.queries.dedup import _BP1, _BP2

    return f"""
    WITH RECURSIVE planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 0 THEN text || ' {_BP1} {_BP2}'
                    WHEN doc_id % 4 = 0 THEN text || ' {_BP1}'
                    ELSE text END AS text
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM planted),
    grams AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(w, i + 1, i + 8), ' ') AS g
        FROM toks, LATERAL unnest(generate_series(0, len(w) - 8)) AS x(i)
        WHERE len(w) >= 8
    ),
    freq AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    flagged AS (SELECT doc_id, pos FROM grams JOIN freq USING (g)),
    covered AS (
        SELECT DISTINCT doc_id, cp
        FROM flagged, LATERAL unnest(generate_series(pos, pos + 7)) AS y(cp)
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS pos, w[i] AS tok
        FROM toks, LATERAL unnest(generate_series(1, len(w))) AS t(i)
    ),
    keptt AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tokpos t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.pos = c.cp
        WHERE c.cp IS NULL
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM keptt GROUP BY doc_id
    ),
    nrem AS (SELECT doc_id, COUNT(*) AS n FROM covered GROUP BY doc_id),
    cleaned AS (
        SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    ),
    cw AS (SELECT doc_id, string_split(clean_text, ' ') AS w FROM cleaned),
    sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM cw, LATERAL unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rawpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM rawpairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node),
    quality AS (
        SELECT doc_id,
               len(w) >= 10
               AND len(list_distinct(w)) * 1.0 / len(w) >= 0.2 AS passed_quality
        FROM toks
    ),
    exact_canon AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                   AS is_exact_canonical
        FROM planted
    )
    SELECT p.doc_id,
           q.passed_quality,
           e.is_exact_canonical,
           CAST(COALESCE(nrem.n, 0) AS BIGINT) AS n_removed_tokens,
           COALESCE(cl.cluster_id, p.doc_id) AS near_cluster_id,
           q.passed_quality AND e.is_exact_canonical
               AND COALESCE(cl.cluster_id, p.doc_id) = p.doc_id AS kept
    FROM planted p
    JOIN quality q USING (doc_id)
    JOIN exact_canon e USING (doc_id)
    LEFT JOIN nrem USING (doc_id)
    LEFT JOIN clusters cl ON cl.node = p.doc_id
    ORDER BY p.doc_id
    """


@query("corpus_clean_pipeline_v2", oracle=_clean_pipeline_v2_oracle())
def corpus_clean_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 composition with the Lee-et-al exact-substring cut
    (operators/dedup.py:remove_duplicate_substrings) between the exact and
    near-dup stages — the composition a training-data pipeline actually
    runs: quality gate and exact-dup canonicalization
    on the ingested text, then every duplicated >= 8-token substring
    (corpus count >= 2) is cut, and NEAR-dup clustering runs over the
    CLEANED text — so corpus-wide boilerplate can no longer manufacture
    fake near-duplicates, which is why the cut goes in the middle. Input
    is the planted-boilerplate corpus shared with the dedup_substring
    queries (so the cut provably has work to do); output is one verdict
    row per document: quality flag, exact-canonical flag, removed-token
    count, near-dup cluster, and the final ``kept`` decision.

    Plan shape: each stage is the operator already benchmarked alone —
    the cut shuffles 8-byte window hashes + covered positions only, the
    shingle join reads the rebuilt text directly (one localCheckpoint
    materializes it for its two consumers), and the composition itself
    adds only doc_id-keyed joins."""
    from datapipelines_spark.queries.dedup import _planted_corpus

    d = _planted_corpus(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    quality = d.select(
        "doc_id",
        (
            (F.size(toks) >= 10)
            & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.2)
        ).alias("passed_quality"),
    )
    w = Window.partitionBy(F.md5("text"))
    exact = d.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_exact_canonical"),
    )
    cleaned = dd.remove_duplicate_substrings(
        d, "text", "doc_id", min_len=8, min_count=2
    ).localCheckpoint(eager=True)  # consumed by the shingle stage AND the output join
    pairs = dd.ngram_jaccard_pairs(
        cleaned.select("doc_id", F.col("clean_text").alias("text")),
        "text",
        "doc_id",
        n=3,
        threshold=0.5,
    )
    clusters = duplicate_clusters(pairs).select(
        F.col("node").alias("doc_id"), F.col("cluster_id")
    )
    out = (
        d.select("doc_id")
        .join(quality, "doc_id")
        .join(exact, "doc_id")
        .join(cleaned.select("doc_id", "n_removed_tokens"), "doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("near_cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .drop("cluster_id")
    )
    kept = (
        F.col("passed_quality")
        & F.col("is_exact_canonical")
        & (F.col("near_cluster_id") == F.col("doc_id"))
    )
    return out.withColumn("kept", kept).orderBy("doc_id")


@query(
    "c4_line_clean_documents",
    oracle="""
    WITH toksq AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   list_filter(string_split(replace(text, chr(10), ' '), ' '),
                               t -> t <> '') AS w
            FROM documents WHERE text IS NOT NULL
        ) WHERE len(w) >= 1
    ),
    chunks AS (
        SELECT doc_id, i,
               array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ')
               || CASE (doc_id + i) % 3
                  WHEN 0 THEN '.' WHEN 1 THEN '' ELSE '!' END AS line
        FROM toksq,
             LATERAL unnest(generate_series(
                 0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS t(i)
    ),
    extras AS (
        SELECT doc_id, 1000000 AS i,
               'var config = { javascript tracking }' AS line
        FROM toksq WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id, 1000001, 'click here.' FROM toksq WHERE doc_id % 5 = 0
    ),
    alllines AS (SELECT * FROM chunks UNION ALL SELECT * FROM extras),
    kept AS (
        SELECT doc_id, i, line FROM alllines
        WHERE regexp_matches(line, '[.!?]$')
          AND len(list_filter(string_split(line, ' '), t -> t <> '')) >= 3
          AND NOT contains(lower(line), 'javascript')
          AND NOT contains(lower(line), 'lorem ipsum')
          AND NOT contains(lower(line), '{')
    ),
    nl AS (SELECT doc_id, COUNT(*) AS n FROM alllines GROUP BY doc_id),
    nk AS (
        SELECT doc_id, COUNT(*) AS n,
               string_agg(line, chr(10) ORDER BY i) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(nl.n, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(nk.n, 0) AS BIGINT) AS n_kept_lines,
           COALESCE(nk.n, 0) >= 3 AS passes,
           COALESCE(nk.clean_text, '') AS clean_text
    FROM toksq t
    LEFT JOIN nl USING (doc_id)
    LEFT JOIN nk USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def c4_line_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/text.py:c4_line_filter — the
    Raffel et al. 2020 §2.2 recipe): keep lines ending in terminal
    punctuation with >= 3 words and no boilerplate markers; gate the
    document on >= 3 surviving lines. The fixture's documents are
    single-line, so each is re-lined deterministically (10-token chunks,
    terminal mark cycling present/absent by (doc_id + line) % 3) and
    salted with the paper's own boilerplate shapes — a javascript/brace
    config line (doc_id %4) and a too-short call-to-action (doc_id %5) —
    which the filter must drop while counting them in n_lines. Pure array
    expressions, one map stage, no shuffle; the oracle rebuilds the lines
    relationally and re-applies every rule.

    Planting domain: documents with at least one token, any embedded
    newline flattened to a space first — array_join/split then invert
    exactly, so the operator sees precisely the constructed lines (an
    all-empty doc would otherwise read back as one empty line)."""
    from datapipelines_spark.operators.text import c4_line_filter

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.translate(F.col("text"), "\n", " "), " "), lambda t: t != ""
    )
    d = d.where(F.size(toks) >= 1)
    k = F.col("doc_id")
    nch = F.ceil(F.size(toks) / F.lit(10)).cast("int")
    term = lambda i: (  # noqa: E731
        F.when((k + i) % 3 == 0, ".").when((k + i) % 3 == 1, "").otherwise("!")
    )
    chunk_lines = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)), term(i)
        ),
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        chunk_lines,
        F.when(
            k % 4 == 0, F.array(F.lit("var config = { javascript tracking }"))
        ).otherwise(empty),
        F.when(k % 5 == 0, F.array(F.lit("click here."))).otherwise(empty),
    )
    planted = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return c4_line_filter(
        planted, "text", "doc_id", min_words=3, min_kept_lines=3
    ).orderBy("doc_id")


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, COUNT(*) AS n_overlap
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
    HAVING COUNT(*) >= 1
    ORDER BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs that share any distinct word
    5-gram with the held-out eval slice (doc_id % 97 = 0 stands in for the
    eval set). The eval shingle set is broadcast, so the training corpus is
    never shuffled — the 100 TB-side plan is scan → hash semi-join → agg."""
    from datapipelines_spark.operators.text import contamination_overlap

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return contamination_overlap(
        d.where(~is_eval), d.where(is_eval), "text", "doc_id", n=5, min_overlap=1
    ).orderBy("doc_id")


@query(
    "pack_sequences_budget",
    oracle="""
    WITH t AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM t
    )
    SELECT source, doc_id, n_tokens,
           CAST((cum_before - cum_before % 2048) / 2048 AS BIGINT) AS pack_id,
           CAST(cum_before % 2048 AS BIGINT) AS pack_offset
    FROM c
    ORDER BY source, doc_id
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (2048-token packs per source) —
    the training-batch layout: each doc's pack id + offset from an ordered
    running token sum. See operators/packing.py."""
    from datapipelines_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        d, "n_tokens", "doc_id", budget=2048, partition_cols=("source",)
    ).orderBy("source", "doc_id")


@query(
    "fuzzy_join_supplier_names",
    oracle="""
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS distance
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
     AND levenshtein(a.s_name, b.s_name) <= 1
    ORDER BY supp_a, supp_b
    """,
)
def fuzzy_join_supplier_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join (operators/joins.py:fuzzy_join):
    supplier-name pairs within edit distance 1, via sound length-band
    blocking + exact levenshtein — the near-duplicate-entity primitive of
    corpus cleaning, with the all-pairs DuckDB join as the oracle."""
    from datapipelines_spark.operators.joins import fuzzy_join

    s = load_table(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("supp_a"), F.col("s_name").alias("name_a"))
    b = s.select(F.col("s_suppkey").alias("supp_b"), F.col("s_name").alias("name_b"))
    out = fuzzy_join(a, b, "name_a", "name_b", max_distance=1)
    return (
        out.where(F.col("supp_a") < F.col("supp_b"))
        .select("supp_a", "supp_b", F.col("distance").cast("int").alias("distance"))
        .orderBy("supp_a", "supp_b")
    )


@query(
    "pii_redact_documents",
    oracle=r"""
    WITH aug AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || doc_id || '@example.com now'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' call +1 (555) 01' || doc_id % 100 || ' 42 today'
                    ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN ' from 10.0.' || doc_id % 256 || '.25 host'
                    ELSE '' END AS text
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS t1
        FROM aug
    ),
    r2 AS (
        SELECT doc_id, n_email,
               len(regexp_extract_all(t1,
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
               regexp_replace(t1,
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                   '<IP>', 'g') AS t2
        FROM r
    ),
    r3 AS (
        SELECT doc_id, n_email, n_ipv4,
               len(regexp_extract_all(t2, '\+[0-9][0-9() -]{6,14}[0-9]')) AS n_phone,
               regexp_replace(t2, '\+[0-9][0-9() -]{6,14}[0-9]', '<PHONE>', 'g') AS t3
        FROM r2
    )
    SELECT doc_id, n_email, n_ipv4, n_phone,
           md5(t3) AS redacted_md5, length(t3) AS redacted_len
    FROM r3 ORDER BY doc_id
    """,
)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails / IPv4 / phone numbers) over the corpus —
    map-only sequential regexp_replace, the standard pre-training privacy
    stage. The fixture corpus has no real PII, so deterministic synthetic
    PII is appended per doc_id on BOTH engines; the oracle checks per-doc
    match counts plus the md5 of the fully redacted text (so every replaced
    byte is verified, not just the counts)."""
    from datapipelines_spark.operators.text import pii_redact

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" call +1 (555) 01"),
                         (F.col("doc_id") % 100).cast("string"), F.lit(" 42 today")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                         F.lit(".25 host")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = pii_redact(aug, text_col="text", id_col="doc_id")
    return red.select(
        "doc_id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        F.md5("redacted_text").alias("redacted_md5"),
        F.length("redacted_text").cast("bigint").alias("redacted_len"),
    ).orderBy("doc_id")


@query(
    "quality_nb_classifier",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS pos, t.token
        FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(token)
        WHERE t.token <> ''
    ),
    counts AS (
        SELECT token,
               SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg
        FROM toks GROUP BY token
    ),
    totals AS (
        SELECT SUM(n_pos) AS tot_pos, SUM(n_neg) AS tot_neg,
               COUNT(*) AS vocab
        FROM counts
    ),
    w AS (
        SELECT token,
               CAST(ROUND(ln(((n_pos + 1.0) / (tot_pos + 1.0 * vocab))
                             / ((n_neg + 1.0) / (tot_neg + 1.0 * vocab))), 6)
                    AS DECIMAL(18,6)) AS weight
        FROM counts, totals
    ),
    scored AS (
        SELECT tk.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(w.weight) AS DECIMAL(28,6)) AS score
        FROM toks tk JOIN w USING (token)
        GROUP BY tk.doc_id
    )
    SELECT doc_id, n_tokens, CAST(score AS DOUBLE) AS score,
           score > 0 AS predicted_en
    FROM scored ORDER BY doc_id
    """,
)
def quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality/domain gating wholly in-plan: a multinomial
    Naive Bayes classifier is TRAINED (token log-odds with Laplace
    smoothing, ``lang='en'`` as the positive class) and APPLIED (per-doc
    exact-decimal score sum via a broadcast weight join) in one relational
    pipeline — the classical learned-filter baseline, with no Python stage
    and no driver-resident model. Per-token log-odds are rounded to 6
    decimals BEFORE the sum, so both engines aggregate identical decimals
    in any order (operators/nbayes.py)."""
    from datapipelines_spark.operators.nbayes import nb_score, nb_token_weights

    d = load_table(spark, sf_dir, "documents")
    weights = nb_token_weights(d, "text", F.col("lang") == "en", "doc_id")
    return (
        nb_score(d, weights, "text", "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("score").cast("double").alias("score"),
            (F.col("score") > 0).alias("predicted_en"),
        )
        .orderBy("doc_id")
    )


@query(
    "decontaminate_bloom",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS s
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, COUNT(*) AS n_overlap
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
    HAVING COUNT(*) >= 1
    ORDER BY doc_id
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/bloom.py) against the EXACT
    broadcast-set oracle: the eval 5-gram set reduces to a distributed-built
    bitmap instead of a broadcast set — the path for eval suites too big to
    broadcast. One-sided error means the result is a superset of the exact
    one; at fpp=1e-9 the fixture-sized probe count makes the expected extra
    hits ~1e-3, so the driver hash must match the exact SQL EXACTLY (and the
    hashes are deterministic: a clean pass is stable across reruns)."""
    from datapipelines_spark.operators.bloom import contamination_overlap_bloom

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return (
        contamination_overlap_bloom(
            d.where(~is_eval), d.where(is_eval), "text", "doc_id",
            n=5, min_overlap=1, fpp=1e-9,
        )
        .select("doc_id", F.col("n_overlap").cast("bigint").alias("n_overlap"))
        .orderBy("doc_id")
    )


@query(
    "chunk_cdc_dedup",
    oracle="""
    SELECT doc_id,
           TRUE AS reassembles,
           TRUE AS lens_ok,
           TRUE AS copy_chunks_equal,
           TRUE AS copy_all_dup
    FROM documents
    WHERE text IS NOT NULL AND len(text) > 0
    ORDER BY doc_id
    """,
)
def chunk_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + sub-document dedup (operators/chunking.py)
    driver-gated via CDC's defining invariants, computed Spark-side as
    booleans the oracle requires to be TRUE for every document:

    - ``reassembles``: chunks concatenated in index order rebuild the text
      byte-for-byte (no loss, no overlap);
    - ``lens_ok``: every non-final chunk is within [min_len, max_len] bytes
      and the final chunk within max_len;
    - ``copy_chunks_equal`` / ``copy_all_dup``: an exact copy of each doc
      under a shifted id chunks IDENTICALLY (content-defined boundaries
      don't depend on the id) and every one of the copy's chunks is flagged
      duplicate by chunk_dedup_stats, with the lower-id original holding
      canonical — the keep/drop decision the operator exists for."""
    from datapipelines_spark.operators.chunking import (
        chunk_dedup_stats,
        content_defined_chunks,
    )

    offset = 10_000_000
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    orig = d.select("doc_id", "text")
    both = orig.unionByName(
        orig.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    )

    chunks = content_defined_chunks(orig, "text", "doc_id")
    arr = F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk")))
    reasm = chunks.groupBy("doc_id").agg(arr.alias("arr"))
    nonfinal = F.slice(
        F.col("arr"), 1, F.greatest(F.size("arr") - 1, F.lit(0))
    )
    reasm = reasm.select(
        "doc_id",
        F.concat_ws("", F.transform(F.col("arr"), lambda s: s["chunk"])).alias(
            "rejoined"
        ),
        (
            F.forall(
                nonfinal,
                lambda s: (F.octet_length(s["chunk"]) >= 16)
                & (F.octet_length(s["chunk"]) <= 256),
            )
            & (F.octet_length(F.element_at("arr", -1)["chunk"]) <= 256)
        ).alias("lens_ok"),
    )

    stats = chunk_dedup_stats(both, "text", "doc_id")
    a = stats.where(F.col("doc_id") < offset).select(
        "doc_id",
        F.col("n_chunks").alias("a_chunks"),
    )
    b = stats.where(F.col("doc_id") >= offset).select(
        (F.col("doc_id") - offset).alias("doc_id"),
        F.col("n_chunks").alias("b_chunks"),
        F.col("n_dup_chunks").alias("b_dup"),
    )
    return (
        orig.join(reasm, "doc_id")
        .join(a, "doc_id")
        .join(b, "doc_id")
        .select(
            "doc_id",
            (F.col("rejoined") == F.col("text")).alias("reassembles"),
            "lens_ok",
            (F.col("a_chunks") == F.col("b_chunks")).alias("copy_chunks_equal"),
            (F.col("b_dup") == F.col("b_chunks")).alias("copy_all_dup"),
        )
        .orderBy("doc_id")
    )


@query(
    "quality_compression_signal",
    oracle="""
    SELECT doc_id,
           len(text) AS n_chars,
           TRUE AS ratio_bounded,
           TRUE AS doubling_compresses,
           TRUE AS constant_run_compresses_best
    FROM documents
    WHERE text IS NOT NULL AND len(text) >= 32
    ORDER BY doc_id
    """,
)
def quality_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (operators/text.py:
    compression_ratio_signal) driver-gated via DEFLATE's defining
    monotonicity invariants, asserted Spark-side as booleans:

    - ``ratio_bounded``: 0 < ratio(text) <= 1.5 (deflate never inflates a
      natural-language doc past header overhead);
    - ``doubling_compresses``: ratio(text || ' ' || text) < ratio(text) —
      the second copy sits inside the 32 KB window and compresses to
      near-zero, so the ratio must strictly drop;
    - ``constant_run_compresses_best``: a constant run of the same length
      compresses strictly better than the doc's own text.

    Domain: docs of >= 32 chars — below that, DEFLATE's fixed header
    overhead dominates and the monotonicity invariants genuinely do not
    hold (a 3-char doc "inflates"); the signal is meaningless there."""
    from datapipelines_spark.operators.text import compression_ratio_signal

    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.length("text") >= 32)
    )
    base = compression_ratio_signal(d.select("doc_id", "text"), "text", "doc_id")
    doubled = compression_ratio_signal(
        d.select(
            "doc_id", F.concat_ws(" ", "text", "text").alias("text")
        ),
        "text",
        "doc_id",
    ).select("doc_id", F.col("compressed_ratio").alias("r2"))
    const = compression_ratio_signal(
        d.select(
            "doc_id", F.repeat(F.lit("a"), F.length("text")).alias("text")
        ),
        "text",
        "doc_id",
    ).select("doc_id", F.col("compressed_ratio").alias("rc"))
    return (
        base.join(doubled, "doc_id")
        .join(const, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            (
                (F.col("compressed_ratio") > 0)
                & (F.col("compressed_ratio") <= 1.5)
            ).alias("ratio_bounded"),
            (F.col("r2") < F.col("compressed_ratio")).alias("doubling_compresses"),
            (F.col("rc") < F.col("compressed_ratio")).alias(
                "constant_run_compresses_best"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "quality_lm_perplexity",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (
        SELECT doc_id, w[i] AS v, w[i+1] AS t
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 1)) AS x(i)
        WHERE len(w) >= 2
    ),
    refbig AS (
        SELECT v, t, COUNT(*) AS c FROM big WHERE doc_id % 7 = 0 GROUP BY v, t
    ),
    refhist AS (SELECT v, SUM(c) AS ch FROM refbig GROUP BY v),
    vocab AS (
        SELECT COUNT(DISTINCT tok) AS vsz
        FROM (SELECT unnest(w) AS tok FROM toks WHERE doc_id % 7 = 0)
    ),
    scored AS (
        SELECT b.doc_id,
               CAST(round(ln(
                   (COALESCE(rb.c, 0) + 0.1)
                   / (COALESCE(rh.ch, 0) + 0.1 * (vsz + 1))
               ), 6) AS DECIMAL(18,6)) AS lp
        FROM big b
        LEFT JOIN refbig rb ON b.v = rb.v AND b.t = rb.t
        LEFT JOIN refhist rh ON b.v = rh.v
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(lp) AS DECIMAL(28,6)) AS DOUBLE) AS sum_logp,
           round(CAST(CAST(SUM(lp) AS DECIMAL(28,6)) AS DOUBLE) / COUNT(*), 6)
               AS avg_logp
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: per-doc average log-likelihood under an
    add-0.1-smoothed bigram LM trained on the doc_id % 7 = 0 reference slice
    (operators/lm.py — train is two grouped counts over the reference; score
    is array-zip bigrams, one model join, one per-doc aggregate; per-bigram
    log-probs round to 6 decimals into DECIMAL before summing, so the result
    is cross-engine exact). Documents below a threshold on avg_logp are the
    out-of-distribution / boilerplate candidates a corpus gate drops."""
    from datapipelines_spark.operators.lm import bigram_lm_score

    d = load_table(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 7 == 0)
    return bigram_lm_score(d, ref, "text", "doc_id").orderBy("doc_id")


@query(
    "dedup_clusters_longest_survivor",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node),
    scored AS (
        SELECT c.node, c.cluster_id, len(d.text) AS n_chars
        FROM clusters c JOIN documents d ON d.doc_id = c.node
    ),
    canon AS (
        SELECT cluster_id, node AS canon FROM (
            SELECT cluster_id, node,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_chars DESC, node ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT s.node, s.cluster_id, s.node = canon.canon AS is_canonical
    FROM scored s JOIN canon USING (cluster_id)
    ORDER BY node
    """,
)
def dedup_clusters_longest_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with a SURVIVOR POLICY: the longest member of
    each duplicate cluster is canonical (ties to the lowest id) instead of
    the min-id default — the "keep the cleanest copy" rule production
    dedup wants. One extra max_by aggregate over the labeled nodes
    (operators/components.py:duplicate_clusters with scores=)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    scores = d.select(
        F.col("doc_id").alias("node"),
        F.length("text").cast("double").alias("score"),
    )
    return duplicate_clusters(pairs, scores=scores).orderBy("node")


@query(
    "split_leakage_safe_eval",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    closure(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT c.node, e.v FROM closure c JOIN edges e ON c.r = e.u
    ),
    clusters AS (SELECT node, MIN(r) AS component FROM closure GROUP BY node),
    grouped AS (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS group_id
        FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
    )
    SELECT doc_id, group_id,
           CAST('0x' || substr(md5('42-' || CAST(group_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 1000000 < 250000 AS in_split
    FROM grouped
    ORDER BY doc_id
    """,
)
def split_leakage_safe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe eval split (operators/mixing.py:leakage_safe_split):
    a ~25% holdout in which every jaccard>=0.5 near-dup cluster lands
    wholly on one side — a plain per-doc hash split would put a document
    in train and its near-duplicate in eval. The group id is the
    connected-component label (singletons = own id) and the split is the
    portable data-derived hash, so the oracle replays both exactly."""
    from datapipelines_spark.operators.mixing import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    return (
        leakage_safe_split(d.select("doc_id"), pairs, "doc_id", 0.25, seed=42)
        .select("doc_id", "group_id", "in_split")
        .orderBy("doc_id")
    )


@query(
    "chunk_fixed_overlap",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
    s AS (
        SELECT doc_id, toks, n, unnest(generate_series(1, n, 12)) AS start
        FROM n
    )
    SELECT doc_id,
           CAST((start - 1) // 12 AS INT) AS chunk_idx,
           CAST(LEAST(16, n - start + 1) AS BIGINT) AS n_chunk_tokens,
           sha256(array_to_string(list_slice(toks, start, start + 15), ' '))
               AS chunk_sha
    FROM s
    WHERE start = 1 OR start + 4 <= n
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_fixed_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking
    (operators/chunking.py:fixed_overlap_chunks) — the RAG/embedding-window
    counterpart of the content-defined chunker: 16-token windows sliding by
    12 (4 tokens of overlap), final chunk short, short docs one chunk. The
    oracle replays the start grid, the stop rule, and the chunk bytes
    (sha256) exactly, so boundary arithmetic is value-checked end to end.
    Plan shape: one narrow JVM map stage — no shuffle, no Python."""
    from datapipelines_spark.operators.chunking import fixed_overlap_chunks

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        fixed_overlap_chunks(d, "text", "doc_id", size=16, overlap=4)
        .select(
            "doc_id",
            "chunk_idx",
            "n_chunk_tokens",
            F.sha2(F.col("chunk"), 256).alias("chunk_sha"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "quality_token_budget_sample",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS score
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT doc_id, n_tokens, score,
               SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(score * 1000) AS BIGINT) AS score_milli
    FROM r
    WHERE cum <= 8000
    ORDER BY doc_id
    """,
)
def quality_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection
    (operators/mixing.py:token_budget_select): keep the highest-scoring
    documents (score = distinct-token ratio, the quality proxy the
    corpus_clean_pipeline gate uses) until an 8000-token budget is spent —
    the exact (score DESC, doc_id ASC) running-sum prefix. The engine
    finds the boundary through a driver-collected score-bucket histogram
    (<= 1001 groups) and windows ONLY the boundary bucket; the oracle
    replays the selection as one global running-sum window. Same rows out
    proves the histogram split exact."""
    from datapipelines_spark.operators.mixing import token_budget_select

    words = F.split(F.col("text"), " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(words).cast("bigint").alias("n_tokens"),
            (F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)).alias(
                "score"
            ),
        )
    )
    kept = token_budget_select(
        d, score_col="score", tokens_col="n_tokens", id_col="doc_id", budget=8000
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("score") * 1000).cast("bigint").alias("score_milli"),
    ).orderBy("doc_id")


@query(
    "quality_winsorize_outliers",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
        WHERE n_chars IS NOT NULL
    ),
    b AS (
        SELECT lang,
               MAX(CASE WHEN rn = (50 * n + 999) // 1000
                        THEN n_chars END) AS p_lo,
               MAX(CASE WHEN rn = (950 * n + 999) // 1000
                        THEN n_chars END) AS p_hi
        FROM ranked GROUP BY lang
    )
    SELECT r.doc_id, r.lang, r.n_chars, b.p_lo, b.p_hi,
           LEAST(GREATEST(r.n_chars, b.p_lo), b.p_hi) AS clipped,
           (r.n_chars < b.p_lo OR r.n_chars > b.p_hi) AS is_outlier
    FROM ranked r JOIN b USING (lang)
    ORDER BY r.doc_id
    """,
)
def quality_winsorize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorization of document lengths
    (operators/checks.py:winsorize): each doc gains its language's 5th/95th
    discrete-percentile length bounds, the clipped length, and an outlier
    flag. Ranks are integer arithmetic — ``(p*n + 999) div 1000`` — so the
    bounds are exact input elements in both engines; no interpolated-double
    boundary to disagree on."""
    from datapipelines_spark.operators.checks import winsorize

    d = load_table(spark, sf_dir, "documents")
    return winsorize(
        d, value_col="n_chars", group_col="lang", id_col="doc_id"
    ).orderBy("doc_id")


@query(
    "quality_gopher_rules",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w, text FROM documents
    ),
    runs AS (
        SELECT doc_id, MAX(c) AS max_word_run FROM (
            SELECT doc_id, x, COUNT(*) AS c
            FROM toks, LATERAL unnest(w) AS t(x)
            GROUP BY doc_id, x
        ) GROUP BY doc_id
    ),
    s AS (
        SELECT doc_id,
               len(w) AS n_words,
               len(list_distinct(w)) AS n_distinct,
               len(replace(text, ' ', '')) AS sum_word_chars,
               len(list_intersect(list_distinct(w),
                   ['the', 'a', 'of', 'to', 'in', 'and'])) AS n_stopwords
        FROM toks
    )
    SELECT s.doc_id, s.n_words, s.n_distinct, s.sum_word_chars,
           r.max_word_run, s.n_stopwords,
           (s.n_words >= 10 AND s.n_words <= 1000) AS ok_word_count,
           (s.sum_word_chars >= 2 * s.n_words
            AND s.sum_word_chars <= 12 * s.n_words) AS ok_mean_len,
           (5 * r.max_word_run <= s.n_words) AS ok_repetition,
           (5 * s.n_distinct >= s.n_words) AS ok_distinct_ratio,
           (s.n_stopwords >= 2) AS ok_stopwords,
           ((s.n_words >= 10 AND s.n_words <= 1000)
            AND (s.sum_word_chars >= 2 * s.n_words
                 AND s.sum_word_chars <= 12 * s.n_words)
            AND (5 * r.max_word_run <= s.n_words)
            AND (5 * s.n_distinct >= s.n_words)
            AND (s.n_stopwords >= 2)) AS passes_all
    FROM s JOIN runs r USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule bundle
    (operators/text.py:gopher_quality_rules): word count, mean word
    length, most-frequent-word share, distinct-token ratio, and stop-word
    presence — each rule an INTEGER comparison, each exposed as its own
    boolean plus the conjunction. The engine finds the most frequent word
    with a shuffle-free sort_array run-length fold; the oracle recounts it
    with unnest + GROUP BY."""
    from datapipelines_spark.operators.text import gopher_quality_rules

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality_rules(d, text_col="text", id_col="doc_id").orderBy(
        "doc_id"
    )


@query(
    "quality_percent_rank_norm",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS score
        FROM documents
        WHERE text IS NOT NULL
    )
    SELECT doc_id, lang,
           CAST(FLOOR(1000 * percent_rank() OVER (
               PARTITION BY lang ORDER BY score, doc_id)) AS BIGINT)
               AS pr_milli
    FROM t
    ORDER BY doc_id
    """,
)
def quality_percent_rank_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a quality score: percent_rank WITHIN each
    language, so scores become comparable across languages whose raw
    distributions differ — the rank-based calibration step before a single
    global quality threshold is applied. percent_rank is (rank-1)/(n-1)
    from integers, identical IEEE on both engines; ties pinned by doc_id.
    One window per lang partition — no global sort. Domain: docs with
    text — a NULL score has no rank, and each engine's null-ordering
    convention would shift every real row's rank differently."""
    words = F.split(F.col("text"), " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            (F.size(F.array_distinct(words)) * F.lit(1.0) / F.size(words)).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    return d.select(
        "doc_id",
        "lang",
        F.floor(F.lit(1000) * F.percent_rank().over(w))
        .cast("bigint")
        .alias("pr_milli"),
    ).orderBy("doc_id")


def _logreg_oracle_sql(buckets: int, epochs: int, lr: float) -> str:
    """Unrolled-epoch DuckDB replay of the fastText-recipe trainer
    (operators/linear.py): the oracle is GENERATED with the same epoch
    count, so every gradient step is string-identical SQL — the BPE/nbayes
    replay precedent extended to an iterative model.

    Portability: the replay surface is BIGINT
    micro-unit weights + the division-only rational sigmoid
    0.5 + z/(2*(1+|z|)) + floor-scaled quantization — every double
    primitive (abs/add/mul/div/floor) is IEEE-754 correctly rounded, so no
    libm/build variance (exp's 1-ulp license) can flip a digit."""
    head = f"""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               list_filter(string_split(text, ' '), t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    uni AS (SELECT doc_id, u.g FROM docs, LATERAL unnest(w) AS u(g)),
    big AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        FROM docs, LATERAL unnest(generate_series(1, len(w) - 1)) AS x(i)
        WHERE len(w) >= 2
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
    feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {buckets}
                   AS bucket,
               COUNT(*) AS cnt
        FROM grams GROUP BY 1, 2
        UNION ALL
        SELECT doc_id, {buckets} AS bucket, 1 AS cnt FROM docs
    ),
    ntot AS (SELECT COUNT(*) AS n FROM docs),
    w0 AS (SELECT r.range AS bucket, CAST(0 AS BIGINT) AS wt
           FROM range(0, {buckets + 1}) r)"""
    body = ""
    for e in range(1, epochs + 1):
        body += f""",
    z{e} AS (
        SELECT f.doc_id, CAST(SUM(w.wt * f.cnt) AS BIGINT) AS zmu
        FROM feats f JOIN w{e - 1} w USING (bucket) GROUP BY f.doc_id
    ),
    zz{e} AS (
        SELECT doc_id, CAST(zmu AS DOUBLE) / 1000000.0 AS zd FROM z{e}
    ),
    r{e} AS (
        SELECT d.doc_id,
               CAST(FLOOR((d.y - (0.5 + z.zd / (2.0 * (1.0 + ABS(z.zd)))))
                          * 1000000.0) AS BIGINT) AS r
        FROM docs d JOIN zz{e} z USING (doc_id)
    ),
    g{e} AS (
        SELECT f.bucket, CAST(SUM(r.r * f.cnt) AS BIGINT) AS g
        FROM feats f JOIN r{e} r USING (doc_id) GROUP BY f.bucket
    ),
    w{e} AS (
        SELECT w.bucket,
               w.wt + CAST(FLOOR({lr} * CAST(COALESCE(g.g, 0) AS DOUBLE)
                                 / CAST(n.n AS DOUBLE)) AS BIGINT) AS wt
        FROM w{e - 1} w LEFT JOIN g{e} g USING (bucket), ntot n
    )"""
    tail = f"""
    SELECT f.doc_id,
           CAST(SUM(f.cnt) AS BIGINT) AS n_feats,
           CAST(SUM(w.wt * f.cnt) AS BIGINT) AS score_micro,
           CAST(SUM(w.wt * f.cnt) AS BIGINT) > 0 AS pred
    FROM feats f JOIN w{epochs} w USING (bucket)
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """
    return head + body + tail


@query("quality_linear_classifier", oracle=_logreg_oracle_sql(64, 2, 0.5))
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-recipe quality gate trained IN-PLAN (operators/linear.py,
    Joulin et al. 2017 + the Weinberger et al. 2009 hashing trick): token
    uni+bigrams feature-hashed to 64 buckets (portable md5 hash), logistic
    regression trained 2 full-batch epochs at lr 0.5 on the deterministic
    label y = (lang = 'en'), then every document scored by the learned
    weights. Each epoch is one broadcast-join score pass + one per-bucket
    gradient aggregate (map-side combine = the per-partition gradient);
    the corpus is never collected. Weights are BIGINT micro-units at every
    epoch boundary, the squashing function is the division-only rational
    sigmoid, and quantization is floor-scaled — every double primitive in
    the loop is IEEE-correctly-rounded, so the oracle (generated with the
    SAME epoch unrolling) replays training bit-identically on any
    conforming engine, independent of libm build (exp() may differ by
    1 ulp across builds)."""
    from datapipelines_spark.operators.linear import (
        hashed_ngram_features,
        logreg_score,
        logreg_train,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    feats = hashed_ngram_features(
        d, text_col="text", id_col="doc_id", buckets=64
    ).localCheckpoint(eager=True)  # consumed by every epoch AND the scorer
    # null-safe label: NULL lang is "not en" (0) in both engines — Spark's
    # (lang == 'en').cast('int') would yield NULL where the oracle's CASE
    # yields 0, silently dropping the row from the gradient
    labels = d.select(
        "doc_id", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    w = logreg_train(feats, labels, id_col="doc_id", buckets=64, epochs=2, lr=0.5)
    return logreg_score(feats, w, id_col="doc_id").orderBy("doc_id")
