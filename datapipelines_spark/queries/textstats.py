"""Text-analysis catalog entries over the ``documents`` table."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.operators import text as ops
from datapipelines_spark.sources.parquet import load_table


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           round(list_sum(list_transform(string_split(text, ' '),
                                         t -> CAST(length(t) AS DOUBLE)))
                 / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: chars, whitespace tokens, distinct tokens, mean
    length — one row per document WITH text (NULL-text token counts are
    session-conf-dependent in Spark: size(NULL) is -1 or NULL by legacy
    flag, so the contract excludes them outright)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return ops.token_stats(d, text_col="text", id_col="doc_id").orderBy("doc_id")


_STOP_SQL = "['the', 'a', 'of', 'and', 'to', 'is', 'in', 'that']"


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               string_split(text, ' ') AS toks,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents WHERE text IS NOT NULL
    ),
    feat AS (
        SELECT doc_id,
               CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                   / len(toks) AS stop_ratio,
               (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / n_chars
                   AS punct_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
               CASE WHEN len(toks) < 5 THEN 0.0 ELSE 1.0 END AS len_ok
        FROM t
    )
    SELECT doc_id,
           round(stop_ratio, 6) AS stopword_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(uniq_ratio, 6) AS unique_token_ratio,
           round(len_ok * (0.5 + stop_ratio) * (1.5 - punct_ratio) * uniq_ratio, 6)
               AS quality_score,
           CASE WHEN len_ok * (0.5 + stop_ratio) * (1.5 - punct_ratio) * uniq_ratio >= 0.5
                THEN 'keep'
                WHEN len_ok * (0.5 + stop_ratio) * (1.5 - punct_ratio) * uniq_ratio >= 0.2
                THEN 'review'
                ELSE 'drop' END AS quality_bucket
    FROM feat
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword/punct/repetition features + keep bucket,
    over documents WITH text (no signal exists for a NULL text)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return ops.quality_score(d, text_col="text", id_col="doc_id").orderBy("doc_id")


def _langid_oracle() -> str:
    score_cols = []
    for lang, lex in sorted(ops.LANG_LEXICONS.items()):
        lst = "[" + ", ".join(f"'{w}'" for w in lex) + "]"
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), "
            f"x -> list_contains({lst}, x))) AS score_{lang}"
        )
    langs = sorted(ops.LANG_LEXICONS)
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    pred = "'und'"
    for lang in sorted(langs, reverse=True):
        pred = f"CASE WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}' ELSE {pred} END"
    cols = ",\n           ".join(f"score_{la}" for la in langs)
    return f"""
    WITH scored AS (
        SELECT doc_id, {', '.join(score_cols)}
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, {cols}, {pred} AS pred_lang
    FROM scored ORDER BY doc_id
    """


@query("text_language_id", oracle=_langid_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language identification with per-language scores,
    over documents WITH text."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return ops.language_id(d, text_col="text", id_col="doc_id").orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical token-set fingerprint (order/duplication-insensitive)."""
    d = load_table(spark, sf_dir, "documents")
    return ops.fingerprint(d, text_col="text", id_col="doc_id").orderBy("doc_id")


@query(
    "text_length_histogram",
    oracle="""
    SELECT lang,
           CAST(floor(n_chars / 100.0) AS BIGINT) AS chars_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, chars_bucket
    ORDER BY lang, chars_bucket
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: document-length histogram per language tag."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang", F.floor(F.col("n_chars") / 100).cast("bigint").alias("chars_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "chars_bucket")
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf,
               CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, round(score, 6) AS score, rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (rational IDF = N/df for cross-engine
    bit stability — see operators/text.py:tfidf_top_terms)."""
    d = load_table(spark, sf_dir, "documents")
    return ops.tfidf_top_terms(d, text_col="text", id_col="doc_id", k=3).orderBy(
        "doc_id", "rank"
    )


@query(
    "text_repetition_signals",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
    a AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               MAX(c) AS top_c,
               COUNT(*) AS n_distinct,
               CAST(COALESCE(SUM(c) FILTER (c >= 2), 0) AS BIGINT) AS rep_mass
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           round(CAST(top_c AS DOUBLE) / n_words, 6) AS top_word_fraction,
           round(CAST(rep_mass AS DOUBLE) / n_words, 6) AS repeated_word_fraction,
           round(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
           CASE WHEN CAST(top_c AS DOUBLE) / n_words <= 0.2
                 AND CAST(rep_mass AS DOUBLE) / n_words <= 0.7
                THEN 'keep' ELSE 'drop' END AS repetition_bucket
    FROM a ORDER BY doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (top-word mass, repeated-word
    mass, distinct ratio → keep/drop) — the boilerplate/spam filter a
    pre-training corpus pass runs next to stopword quality scoring. Two-level
    partial aggregation; the shuffle carries one row per distinct (doc,
    word), never the text."""
    d = load_table(spark, sf_dir, "documents")
    return ops.repetition_signals(d, text_col="text", id_col="doc_id").orderBy("doc_id")


@query(
    "text_bm25_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> ''
    ),
    qterms AS (
        SELECT term FROM (
            SELECT t.term, COUNT(*) AS c
            FROM documents d,
                 LATERAL unnest(string_split(d.text, ' ')) AS t(term)
            WHERE d.lang = 'en' AND t.term <> ''
            GROUP BY t.term
            ORDER BY c DESC, t.term
            LIMIT 3
        )
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    doclen AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
    stats AS (
        SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
               (SELECT AVG(len) FROM doclen) AS avglen
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf JOIN qterms USING (term)
        GROUP BY term
    ),
    part AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0)
                   * ((tf * (1.2 + 1.0))
                      / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (len / avglen)))),
                   6) AS DECIMAL(18,6)) AS w
        FROM tf JOIN dfreq USING (term) JOIN doclen USING (doc_id)
        CROSS JOIN stats
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(w) AS DECIMAL(28,6)) AS s
        FROM part GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, s, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM scored
    )
    SELECT doc_id, CAST(s AS DOUBLE) AS score, rank
    FROM ranked WHERE rank <= 10 ORDER BY rank
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval inside the engine: BM25-rank every document
    against a data-derived query (the 3 most frequent tokens of the 'en'
    slice), return the top 10. Corpus statistics, per-term document
    frequency, tf saturation and length normalization are all aggregates
    and broadcast joins (operators/text.py:bm25_search); per-term partials
    round to 6 decimals before the per-doc sum so both engines aggregate
    identical decimals.

    The query terms are derived from the operator's own persisted
    ``(doc_id, term, tf)`` index instead of a second tokenize pass over the
    corpus: the en-slice token count of a term is exactly
    ``SUM(tf)`` over en doc_ids, so the before-plan's second scan→explode→
    aggregate subtree collapses to a broadcast semi-join on the index."""
    d = load_table(spark, sf_dir, "documents")
    en_ids = d.where(F.col("lang") == "en").select("doc_id")

    def qterms_from_index(tf: DataFrame) -> DataFrame:
        return (
            tf.join(en_ids, "doc_id")
            .groupBy("term")
            .agg(F.sum("tf").alias("c"))
            .orderBy(F.desc("c"), F.asc("term"))
            .limit(3)
            .select("term")
        )

    return ops.bm25_search(
        d, qterms_from_index, "text", "doc_id", top_k=10
    ).orderBy("rank")


@query(
    "text_heavy_hitter_tokens",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ),
    tot AS (SELECT COUNT(*) AS total FROM toks)
    SELECT item,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(COUNT(*) AS DOUBLE) / total, 6) AS share
    FROM toks CROSS JOIN tot
    GROUP BY item, total
    HAVING COUNT(*) > 0.01::DOUBLE * total
    ORDER BY item
    """,
)
def text_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens above 1% frequency) via the
    find-then-verify pattern (operators/sketch.py): a Misra-Gries-family
    freqItems scan proposes a bounded candidate SUPERSET with no
    full-vocabulary shuffle, then exact counts over the broadcast-filtered
    candidates make the result exact — matching the brute-force SQL. The
    threshold multiplication is double on both engines, so the boundary
    behaves identically."""
    from datapipelines_spark.operators.sketch import heavy_hitters

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return heavy_hitters(toks, "token", support=0.01).orderBy("item")


@query(
    "text_build_vocab",
    oracle="""
    WITH counts AS (
        SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok HAVING COUNT(*) >= 5
    )
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS BIGINT)
               AS token_id
    FROM counts
    ORDER BY n DESC, token ASC
    LIMIT 40
    """,
)
def text_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vocabulary construction (operators/text.py:
    build_vocab): top-40 tokens with count >= 5, dense ids ordered by
    (count desc, token asc). The top-N cut plans as TakeOrderedAndProject
    — per-partition heaps, never a full-vocabulary global sort — and the
    id window runs over the already-bounded set."""
    from datapipelines_spark.operators.text import build_vocab

    d = load_table(spark, sf_dir, "documents")
    return build_vocab(d, "text", "doc_id", min_count=5, max_size=40).orderBy(
        "token_id"
    )


@query(
    "text_bpe_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS BIGINT) AS n_words,
           TRUE AS reassembles,
           TRUE AS merges_monotonic
    FROM documents
    WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword tokenizer trained and applied in-engine
    (operators/bpe.py): 40 merges learned from the corpus word-frequency
    aggregate (the merge loop is pure model training over a capped word
    table; the corpus streams once), then every document encoded in one
    Arrow stage. BPE merges are not SQL-expressible, so the oracle pins
    row identity via the word count and requires the operator's defining
    invariants — computed Spark-side as booleans — to hold for EVERY doc:

    - ``reassembles``: concatenating the subword tokens and resolving the
      end-of-word markers rebuilds the document's words exactly (subwords
      never cross word boundaries, nothing is lost or invented);
    - ``merges_monotonic``: encoding with all 40 merges yields at most as
      many tokens as encoding with the first 20 (each merge can only
      shorten token sequences). Exact merge/tie semantics are golden-tested
      in tests/test_bpe.py."""
    from datapipelines_spark.operators.bpe import (
        END_OF_WORD,
        bpe_encode,
        bpe_train,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    merges = bpe_train(d, "text", num_merges=40, max_words=20_000)
    full = bpe_encode(d, "text", "doc_id", merges)
    half = bpe_encode(d, "text", "doc_id", merges[:20]).select(
        "doc_id", F.col("tokens").alias("tokens_half")
    )
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    return (
        d.select("doc_id", words.alias("__w"))
        .join(full, "doc_id")
        .join(half, "doc_id")
        .select(
            "doc_id",
            F.size("__w").cast("bigint").alias("n_words"),
            (
                F.rtrim(
                    F.replace(
                        F.array_join("tokens", ""),
                        F.lit(END_OF_WORD),
                        F.lit(" "),
                    )
                )
                == F.array_join("__w", " ")
            ).alias("reassembles"),
            (F.size("tokens") <= F.size("tokens_half")).alias("merges_monotonic"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    bi AS (
        SELECT w[i] AS a, w[i+1] AS b
        FROM toks, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    bc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b),
    ma AS (SELECT a, SUM(c_ab) AS ca FROM bc GROUP BY a),
    mb AS (SELECT b, SUM(c_ab) AS cb FROM bc GROUP BY b),
    tot AS (SELECT SUM(c_ab) AS nb_total FROM bc),
    scored AS (
        SELECT bc.a, bc.b, bc.c_ab,
               1000.0 * bc.c_ab * tot.nb_total
                   / (ma.ca::DOUBLE * mb.cb) AS score
        FROM bc
        JOIN ma ON bc.a = ma.a
        JOIN mb ON bc.b = mb.b
        CROSS JOIN tot
        WHERE bc.c_ab >= 5
    )
    SELECT a, b, c_ab, CAST(FLOOR(score) AS BIGINT) AS pmi_ratio_milli
    FROM scored
    ORDER BY score DESC, a, b
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information over the
    bigram sample space: rank by ``p(a,b) / (p(a,.) p(.,b))`` — computed
    as the RATIO (monotone with PMI, no log, so no libm 1-ulp divergence)
    in an identical left-associated double expression on both engines.
    ONE corpus scan builds the bigram counts; both marginals and the total
    aggregate from that (vocabulary-sized) table; the final cut is
    orderBy().limit() — TakeOrderedAndProject, never a global sort."""
    from datapipelines_spark.functions.partitioning import parallelize_small

    words = F.split(F.col("text"), " ")
    # the fixture table is one parquet split; the bigram explode is the
    # CPU-bound stage, so widen FIRST (parallelize_small floors partitions
    # at default parallelism without ever coalescing a wide input)
    d = parallelize_small(load_table(spark, sf_dir, "documents").select("text"))
    # bigrams via slice + arrays_zip — native expressions end to end (an
    # equivalent transform(sequence, lambda) HOF is interpreted per element
    # and measured ~2x slower on the explode stage)
    bi = (
        d.where(F.size(words) >= 2)
        .select(
            F.slice(words, 1, F.size(words) - 1).alias("aw"),
            F.slice(words, 2, F.size(words) - 1).alias("bw"),
        )
        .select(F.explode(F.arrays_zip("aw", "bw")).alias("s"))
        .select(F.col("s.aw").alias("a"), F.col("s.bw").alias("b"))
    )
    # ONE corpus scan: the marginals p(a,.) and p(.,b) aggregate from the
    # bigram-count table itself (vocabulary-sized partial aggregates over
    # bc, never a second pass over the corpus) — the textbook bigram-PMI
    # sample space, and at scale the difference between scanning 100 TB
    # once or twice. The persist is what MAKES it one scan: bc has
    # four consumers (ma, mb, tot, the scored join) and the static plan
    # duplicated the whole scan→explode→aggregate subtree into each —
    # the plan without it shows 4 parquet scans and 4 Generate nodes,
    # and the 8-core bench beat the 32-core one (0.36 ratio) because the
    # duplicated explodes dominated.
    from datapipelines_spark.functions.caching import managed_persist

    bc = managed_persist(bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")))
    ma = bc.groupBy("a").agg(F.sum("c_ab").alias("ca"))
    mb = bc.groupBy("b").agg(F.sum("c_ab").alias("cb"))
    tot = bc.agg(F.sum("c_ab").alias("nb_total"))
    scored = (
        bc.where(F.col("c_ab") >= 5)
        .join(ma, "a")  # marginals are vocabulary-sized: let AQE pick
        .join(mb, "b")  # broadcast when they fit, shuffle when they don't
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            (
                F.lit(1000.0)
                * F.col("c_ab")
                * F.col("nb_total")
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("score"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), "a", "b")
        .limit(20)
        .select("a", "b", "c_ab", F.floor("score").cast("bigint").alias("pmi_ratio_milli"))
    )


@query(
    "text_gini_diversity",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
        SELECT doc_id, x, COUNT(*) AS n
        FROM toks, LATERAL unnest(w) AS t(x)
        GROUP BY doc_id, x
    ),
    s AS (
        SELECT doc_id, SUM(n) AS n_words, SUM(n * n) AS sum_sq
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(FLOOR(1000.0 * (1 - sum_sq * 1.0 / (n_words * n_words)))
                AS BIGINT) AS gini_milli
    FROM s ORDER BY doc_id
    """,
)
def text_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity as GINI impurity — ``1 - sum(p_i^2)`` over the
    document's token distribution: the entropy-style repetitiveness signal
    WITHOUT a logarithm, so it is pure rational arithmetic and immune to
    the libm 1-ulp divergence that rules out cross-engine entropy. The
    per-token counts come from the same shuffle-free sort_array run-length
    fold the Gopher bundle uses — here the fold accumulates the sum of
    squared run lengths — so the corpus never shuffles; the oracle
    recounts with unnest + GROUP BY."""
    from datapipelines_spark.functions.partitioning import parallelize_small

    words = F.split(F.col("text"), " ")
    sw = F.sort_array(words)
    zero = F.lit(0).cast("bigint")
    run_after = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(
        F.lit(1).cast("bigint")
    )
    # acc.sq accumulates run^2 of each CLOSED run; the finish lambda closes
    # the final run. An empty array never happens (split always yields >= 1).
    sum_sq = F.aggregate(
        sw,
        F.struct(F.lit(None).cast("string").alias("prev"), zero.alias("run"), zero.alias("sq")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_after(acc, x).alias("run"),
            F.when(
                x.eqNullSafe(acc["prev"]), acc["sq"]
            ).otherwise(acc["sq"] + acc["run"] * acc["run"]).alias("sq"),
        ),
        lambda acc: acc["sq"] + acc["run"] * acc["run"],
    )
    d = parallelize_small(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # one row per doc WITH text: the oracle's unnest drops NULL texts,
        # and a NULL token distribution has no diversity to measure
        .where(F.col("text").isNotNull())
    )
    return (
        d.select(
            "doc_id",
            F.size(words).cast("bigint").alias("n_words"),
            sum_sq.alias("sum_sq"),
        )
        .select(
            "doc_id",
            "n_words",
            F.floor(
                F.lit(1000.0)
                * (
                    F.lit(1)
                    - F.col("sum_sq") * F.lit(1.0) / (F.col("n_words") * F.col("n_words"))
                )
            )
            .cast("bigint")
            .alias("gini_milli"),
        )
        .orderBy("doc_id")
    )


@query(
    "quality_source_length_drift",
    oracle="""
    WITH d AS (
        SELECT source, n_chars // 100 AS bucket FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    sb AS (SELECT source, bucket, COUNT(*) AS n_sb FROM d GROUP BY 1, 2),
    bt AS (SELECT bucket, COUNT(*) AS n_b FROM d GROUP BY 1),
    st AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM d),
    grid AS (
        SELECT st.source, bt.bucket, st.n_s, bt.n_b, tot.n,
               COALESCE(sb.n_sb, 0) AS n_sb
        FROM st CROSS JOIN bt CROSS JOIN tot
        LEFT JOIN sb ON sb.source = st.source AND sb.bucket = bt.bucket
    )
    SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
           CAST(FLOOR(1000.0 * SUM(abs(n_sb * n - n_b * n_s))
                      / (2.0 * MAX(n_s) * MAX(n))) AS BIGINT) AS drift_milli
    FROM grid GROUP BY source
    ORDER BY source
    """,
)
def quality_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per source: the total-variation
    distance between each source's document-length histogram (100-char
    buckets) and the corpus-wide histogram — the train/serve-skew and
    "which source changed shape" report. The numerator is an EXACT
    integer sum (|n_sb*n - n_b*n_s|, cross-multiplied so no per-bucket
    float sums whose addition order could flip a floor boundary); one
    double division at the end. Buckets a source never hits contribute
    n_b*n_s each — folded in closed form as n_s*(n - sum of covered n_b)
    instead of materializing the source x bucket grid (the oracle builds
    the grid; the numbers are identical by algebra). Domain: docs with a
    non-null (source, n_chars) — drift is per-source, so an unattributable
    doc has no histogram to belong to (and NULL group keys would otherwise
    thread differently through each engine's null-unsafe joins)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .select("source", F.expr("n_chars div 100").alias("bucket"))
    )
    sb = d.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n_sb"))
    bt = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    st = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    present = (
        sb.join(F.broadcast(bt), "bucket")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_s"),
            F.max("n").alias("n"),
            F.sum(
                F.abs(F.col("n_sb") * F.col("n") - F.col("n_b") * F.col("n_s"))
            ).alias("present_sum"),
            F.sum("n_b").alias("covered_n_b"),
        )
    )
    return present.select(
        "source",
        F.col("n_s").cast("bigint").alias("n_docs"),
        F.floor(
            F.lit(1000.0)
            * (
                F.col("present_sum")
                + F.col("n_s") * (F.col("n") - F.col("covered_n_b"))
            )
            / (F.lit(2.0) * F.col("n_s") * F.col("n"))
        )
        .cast("bigint")
        .alias("drift_milli"),
    ).orderBy("source")
