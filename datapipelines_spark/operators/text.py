"""Text-analysis operators: token stats, quality scoring, language ID,
fingerprinting. JVM-side expressions (split/regexp/higher-order array
functions) throughout — a 100 TB corpus pass stays inside whole-stage
codegen; the single exception is the zlib compression-ratio signal, which
is inherently non-relational and runs as one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: Tiny per-language lexicons for the n-gram/stopword language-ID heuristic.
#: Deterministic and engine-portable (plain IN-list membership counting).
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "que", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这"),
}

STOPWORDS_EN = LANG_LEXICONS["en"]


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document token/char counts and mean token length."""
    toks = tokens(F.col(text_col))
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.round(total_tok_chars / F.size(toks), 6).alias("avg_token_len"),
    )


def _count_matches(toks: Column, words: tuple[str, ...]) -> Column:
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t))).cast("bigint")


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, punctuation ratio,
    repetition (unique-token ratio), plus a coarse keep/review/drop bucket —
    the shape of a C4/Gopher-style quality filter."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks).cast("double")
    stop_ratio = _count_matches(toks, STOPWORDS_EN) / n_tokens
    n_chars = F.length(text_col).cast("double")
    punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens
    # try_divide: an EMPTY text has n_chars = 0, and ANSI `/` would raise
    # where the SQL oracle's division by zero yields NULL (n_tokens is
    # never 0 — split('') is [''] — and is NULL for NULL text, so the
    # token-ratio divisions are already safe)
    punct_ratio = F.try_divide(punct, n_chars)
    score = (
        F.when(n_tokens < 5, 0.0).otherwise(1.0)
        * (F.lit(0.5) + stop_ratio)
        * (F.lit(1.5) - punct_ratio)
        * uniq_ratio
    )
    return df.select(
        F.col(id_col),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(uniq_ratio, 6).alias("unique_token_ratio"),
        F.round(score, 6).alias("quality_score"),
        F.when(score >= 0.5, "keep").when(score >= 0.2, "review").otherwise("drop").alias(
            "quality_bucket"
        ),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-lexicon language ID: per-language match counts, argmax with
    alphabetical tiebreak, 'und' (undetermined) when nothing matches."""
    toks = tokens(F.lower(F.col(text_col)))
    scores = {lang: _count_matches(toks, lex) for lang, lex in sorted(LANG_LEXICONS.items())}
    out = df.select(
        F.col(id_col), *[c.alias(f"score_{lang}") for lang, c in scores.items()]
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_LEXICONS)])
    pred = F.lit("und")
    # alphabetical-first argmax: walk langs in reverse alphabetical order so
    # the earliest alphabetically wins ties.
    for lang in sorted(LANG_LEXICONS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best), lang).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — a canonical form robust to shuffling/duplication of words."""
    toks = tokens(F.col(text_col))
    # concat_ws swallows NULL arrays into '' — a NULL text would silently
    # fingerprint as md5("") and collide with every other NULL text, where
    # the oracle's md5(NULL) is NULL; keep NULL in, NULL out
    canon = F.when(
        F.col(text_col).isNotNull(),
        F.concat_ws(" ", F.array_sort(F.array_distinct(toks))),
    )
    return df.select(F.col(id_col), F.md5(canon).alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` highest-weighted terms per document.

    Weight = tf * N / df (linear inverse document frequency). The classic
    log-IDF is deliberately avoided: ln() is not guaranteed to round
    identically across engines, while this rational form is exact IEEE
    arithmetic on identically-derived integers — bit-stable between Spark
    and any oracle. Monotone in the same direction as log-IDF for ranking
    within a fixed term (tf) and corpus (N).

    Plan: explode→two partial-aggregated shuffles (doc+term, then term), a
    term-keyed join that reuses the second shuffle's partitioning, and a
    per-doc window for the top-k. All JVM expressions.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf rows are distinct (doc, term), so a plain count IS document frequency
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score", F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", F.round("score", 6).alias("score"), "rank")
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark decontamination: train docs sharing ≥ ``min_overlap``
    distinct word ``n``-grams with ANY eval document.

    Fused per-document probe: the distinct eval
    n-gram set is collected and broadcast as a Python set (eval sets are
    tiny next to a training corpus — the operator's standing contract),
    and ONE Arrow stage takes each train document's text and returns its
    overlap count directly: shingle construction and set membership fuse
    into a single crossing that ships one int64 back per document. A
    row-wise shape would build the shingle arrays in Arrow, ship them back,
    explode to one row per shingle, hash-join against a broadcast
    DataFrame, and shuffle the hits into a per-doc count — same result,
    plus an explode, a join and an exchange that all scale with corpus
    size. The training corpus now never shuffles and never ships its
    shingles anywhere. Exact string membership — no hashing, no false
    positives (``contamination_overlap_bloom`` is the approximate
    variant when the eval set outgrows the driver).
    """
    from datapipelines_spark.functions.partitioning import parallelize_small
    from datapipelines_spark.operators.dedup import _shingle_list_py, word_shingles

    ev = frozenset(
        r[0]
        for r in word_shingles(eval_df, text_col, id_col, n)
        .select("s")
        .distinct()
        .collect()
    )
    bc = train.sparkSession.sparkContext.broadcast(ev)

    @F.pandas_udf("long")
    def overlap_count(texts: pd.Series) -> pd.Series:
        evs = bc.value
        return texts.map(
            lambda t: sum(1 for s in _shingle_list_py(t, n) if s in evs)
        )

    # same row gate as doc_shingles: docs with < n words have no n-grams
    # (and the split-size test drops NULL text before it reaches Python)
    words = F.split(F.col(text_col), " ")
    base = parallelize_small(train.select(F.col(id_col), F.col(text_col))).where(
        F.size(words) >= n
    )
    # asNondeterministic: the caller filters on the count, and a pushed
    # predicate would clone the ArrowEvalPython node —
    # every document would shingle twice
    probe = overlap_count.asNondeterministic()(F.col(text_col))
    return base.select(F.col(id_col), probe.alias("n_overlap")).where(
        F.col("n_overlap") >= max(min_overlap, 1)
    )


#: PII patterns shared verbatim between Spark (Java regex) and the DuckDB
#: oracle (RE2). Restricted to constructs with identical semantics in both
#: dialects: character classes, bounded quantifiers, \b ASCII word boundary —
#: no alternation (leftmost-first vs leftmost-longest would diverge), no
#: lookaround (RE2 lacks it). Order matters: email first so its local part
#: cannot be half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9() -]{6,14}[0-9]", "<PHONE>"),
)


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scrub emails / IPv4s / international-format phone numbers from a text
    column — the standard pre-training privacy pass. Pure sequential
    ``regexp_replace`` expressions: JVM-side, codegen'd, no shuffle — a
    100 TB corpus redaction is a map-only pass.

    Emits per-doc match counts (count BEFORE redaction, on the same column
    each pattern actually saw, so counts compose correctly) plus the
    redacted text.
    """
    out = df.select(id_col, text_col)
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        # idx=0 (whole match): Spark's default idx is 1, which needs a
        # capture group these patterns deliberately don't have
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    return out.select(F.col(id_col), *counts, cur.alias("redacted_text"))


def repetition_signals(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-word mass fraction,
    repeated-word mass fraction, distinct-ratio, and a keep/drop flag.

    Plan shape: explode → two-level aggregation, both with map-side partial
    combine (groupBy (doc, word) then (doc)) — the intermediate never holds
    more than one row per distinct (doc, word), so a 100 TB corpus shuffles
    its vocabulary mass, not its text.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    w = df.select(F.col(id_col), F.explode(toks).alias("w"))
    per_word = w.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    agg = per_word.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)).alias("rep_mass"),
    )
    top_frac = F.col("top_c") / F.col("n_words")
    rep_frac = F.col("rep_mass") / F.col("n_words")
    uniq = F.col("n_distinct") / F.col("n_words")
    return agg.select(
        F.col(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(top_frac, 6).alias("top_word_fraction"),
        F.round(rep_frac, 6).alias("repeated_word_fraction"),
        F.round(uniq, 6).alias("distinct_ratio"),
        # Gopher-ish bar: a doc dominated by one token or mostly repeats is
        # boilerplate/spam; thresholds chosen to split the fixture corpus
        F.when((top_frac <= 0.2) & (rep_frac <= 0.7), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("repetition_bucket"),
    )


def bm25_search(
    docs: DataFrame,
    query_terms,
    text_col: str,
    id_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval wholly in-plan: (doc, score, rank) for the
    ``top_k`` documents against a term-set query.

    Classic Robertson/Sparck-Jones BM25: ``idf = ln((N - df + 0.5)/(df +
    0.5) + 1)`` (the Lucene non-negative variant), tf saturation ``tf·(k1+1)
    / (tf + k1·(1 - b + b·len/avglen))``. Everything is aggregates and
    broadcast joins — corpus statistics (N, avg length) are scalar
    aggregates, per-term df a grouped count, and the scoring join touches
    only documents containing a query term. Per-term partial scores round
    to 6 decimals BEFORE the per-doc sum (exact decimal aggregation — the
    same cross-engine reproducibility discipline as operators/nbayes.py).

    ``query_terms``: single-column DataFrame of terms (column ``term``),
    or a callable ``(tf: DataFrame) -> DataFrame`` receiving the persisted
    ``(id, term, tf)`` term-frequency table — the hook for data-derived
    queries (e.g. "the corpus's most frequent terms") to aggregate from
    the index that is already built instead of paying a second tokenize
    pass over the corpus (at 100 TB the query derivation
    must never rescan the collection).
    """
    from datapipelines_spark.functions.caching import managed_persist

    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = managed_persist(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    if callable(query_terms):
        query_terms = query_terms(tf)
    # doc length = sum of its term frequencies: reuses tf's shuffle instead
    # of a second explode pass over the corpus
    doclen = tf.groupBy(id_col).agg(F.sum("tf").alias("len"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        doclen.agg(F.avg("len").alias("avglen"))
    )
    qdf = query_terms.select("term").distinct()
    dfreq = (
        tf.join(F.broadcast(qdf), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0
    )
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * ((1.0 - b) + b * (F.col("len") / F.col("avglen")))
    )
    partial = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.round(idf * sat, 6).cast("decimal(18,6)").alias("w"),
        )
    )
    scored = partial.groupBy(id_col).agg(
        F.sum("w").cast("decimal(28,6)").alias("score_dec")
    )
    from pyspark.sql import Window

    # Global top-k as orderBy().limit(): TakeOrderedAndProject keeps a k-row
    # heap per partition and merges heaps on the driver — never a
    # single-partition sort of every matching document. (A bare global
    # row_number window would be safe only on engines with the
    # WindowGroupLimit pushdown; limit() makes the bound explicit in the
    # plan — asserted in tests/test_plan_hygiene.py.) The rank column is
    # derived AFTER the limit, over exactly top_k rows.
    order = [F.desc("score_dec"), F.asc(id_col)]
    topk = scored.orderBy(*order).limit(top_k)
    win = Window.orderBy(*order)
    return (
        topk.withColumn("rank", F.row_number().over(win))
        .select(
            id_col, F.col("score_dec").cast("double").alias("score"), "rank"
        )
    )


def compression_ratio_signal(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap quality /
    boilerplate signal (highly repetitive or templated text compresses far
    below natural prose; near-random noise barely compresses at all).

    Runs as one Arrow-batched pandas UDF over stdlib zlib (DEFLATE is not
    expressible relationally); everything around it stays JVM-side. Emits
    ``compressed_ratio`` = deflated bytes / utf-8 bytes, plus both sizes.
    Typical gates: drop ratio < 0.25 (template spam) or > 1.0 (binary
    noise); thresholds belong to the caller.
    """
    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
        F.round(ratio(F.col(text_col)), 6).alias("compressed_ratio"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 1,
    max_size: int = 65536,
) -> DataFrame:
    """(token, n, token_id): the corpus vocabulary — top ``max_size`` tokens
    by frequency above ``min_count``, with DETERMINISTIC dense ids ordered
    by (count desc, token asc) starting at 0.

    Scale shape: explode -> one count aggregate (map-side partial), then
    the top-``max_size`` cut as orderBy().limit() (TakeOrderedAndProject:
    per-partition heaps, never a full-vocabulary global sort) and id
    assignment by a window over the already-bounded set. ``max_size`` is
    mandatory by design — ids need a total order, and an unbounded global
    rank would be a single-partition sort of the whole vocabulary.
    """
    from pyspark.sql import Window

    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    order = [F.desc("n"), F.asc("token")]
    top = counts.orderBy(*order).limit(max_size)
    w = Window.orderBy(*order)
    return top.select(
        "token",
        "n",
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
    )


def gopher_quality_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 10,
    max_words: int = 1000,
    min_mean_len: int = 2,
    max_mean_len: int = 12,
    stopwords: tuple[str, ...] = ("the", "a", "of", "to", "in", "and"),
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", appendix A1.1 — the word-count,
    mean-word-length, repetition, and stop-word heuristics; thresholds are
    parameters, defaults sized to the fixture corpus).

    Every rule is evaluated in INTEGER arithmetic — e.g. "max single-word
    share <= 1/5" is ``5 * max_run <= n_words``, "distinct ratio >= 1/5"
    is ``5 * n_distinct >= n_words`` — so rule booleans cannot diverge
    cross-engine at a float boundary.

    Plan shape: one narrow JVM map stage — word stats are array
    expressions, and the most-frequent-word count comes from a sort_array
    + run-length ``aggregate`` fold instead of an explode/groupBy, so the
    corpus never shuffles and output is one row per document:
    ``(id, n_words, n_distinct, sum_word_chars, max_word_run,
    n_stopwords, ok_word_count, ok_mean_len, ok_repetition,
    ok_distinct_ratio, ok_stopwords, passes_all)`` — one row per document
    WITH text (NULL texts have no rules to evaluate and are dropped, the
    chunk_fixed_overlap discipline).
    """
    df = df.where(F.col(text_col).isNotNull())
    words = F.split(F.col(text_col), " ")
    sw = F.sort_array(words)
    zero = F.lit(0).cast("bigint")
    run_after = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(
        F.lit(1).cast("bigint")
    )
    max_run = F.aggregate(
        sw,
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_after(acc, x).alias("run"),
            F.greatest(acc["best"], run_after(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_words = F.size(words).cast("bigint")
    n_distinct = F.size(F.array_distinct(words)).cast("bigint")
    sum_chars = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))).cast(
        "bigint"
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words), F.array(*[F.lit(s) for s in stopwords])
        )
    ).cast("bigint")
    d = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        sum_chars.alias("sum_word_chars"),
        max_run.alias("max_word_run"),
        n_stop.alias("n_stopwords"),
    )
    ok_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_ml = (F.col("sum_word_chars") >= min_mean_len * F.col("n_words")) & (
        F.col("sum_word_chars") <= max_mean_len * F.col("n_words")
    )
    ok_rep = 5 * F.col("max_word_run") <= F.col("n_words")
    ok_dr = 5 * F.col("n_distinct") >= F.col("n_words")
    ok_st = F.col("n_stopwords") >= min_stopwords
    return d.select(
        "*",
        ok_wc.alias("ok_word_count"),
        ok_ml.alias("ok_mean_len"),
        ok_rep.alias("ok_repetition"),
        ok_dr.alias("ok_distinct_ratio"),
        ok_st.alias("ok_stopwords"),
        (ok_wc & ok_ml & ok_rep & ok_dr & ok_st).alias("passes_all"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 3,
    min_kept_lines: int = 3,
    banned: tuple[str, ...] = ("javascript", "lorem ipsum", "{"),
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning...", §2.2 — the public recipe behind the C4
    corpus): keep only lines that end in a terminal punctuation mark and
    have at least ``min_words`` words, drop lines carrying boilerplate
    markers (the paper's javascript / lorem-ipsum / curly-brace rules),
    and gate the DOCUMENT on retaining at least ``min_kept_lines`` lines.

    Everything is array expressions over split('\\n') — one narrow JVM
    map stage, no explode, no shuffle; a 100 TB corpus cleans in a single
    scan. Emits ``(id, n_lines, n_kept_lines, passes, clean_text)`` with
    ``clean_text`` the kept lines rejoined (lines contain no newline, so
    join inverts split exactly). One row per document WITH text."""
    df = df.where(F.col(text_col).isNotNull())
    lines = F.split(F.col(text_col), "\n")

    def keep(line: Column) -> Column:
        words = F.filter(F.split(line, " "), lambda t: t != "")
        ok = line.rlike("[.!?]$") & (F.size(words) >= min_words)
        low = F.lower(line)
        for phrase in banned:
            ok = ok & ~low.contains(phrase)
        return ok

    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        (F.size(kept) >= min_kept_lines).alias("passes"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def normalized_exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup after NORMALIZATION — the fuzzy-exact canonicalization
    pass (RefinedWeb/CCNet style): lowercase, strip everything but
    [a-z0-9 ], collapse whitespace runs, trim, then min-id-per-md5
    canonicalization. Catches near-copies that differ only in case,
    punctuation, or spacing — documents plain exact dedup calls distinct.

    One window over the normalized content hash (the same plan as exact
    dedup: hash-partitioned, no data volume beyond (id, hash) moves).
    Emits ``(id, norm_md5, is_norm_canonical)`` for documents WITH text."""
    from pyspark.sql import Window

    df = df.where(F.col(text_col).isNotNull())
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    w = Window.partitionBy("norm_md5")
    return (
        df.select(F.col(id_col), F.md5(norm).alias("norm_md5"))
        .withColumn(
            "is_norm_canonical", F.col(id_col) == F.min(id_col).over(w)
        )
    )
