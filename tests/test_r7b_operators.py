"""Boundary and brute-force-parity tests for token-budget selection,
winsorization, repeated-n-gram spans, SemDeDup."""

import random

import numpy as np
import pyspark.sql.functions as F
import pytest
from test_multimodal_real_decode import MEDIA_STAGES

from datapipelines_spark.operators.checks import winsorize
from datapipelines_spark.operators.dedup import (
    repeated_ngram_span_stats,
    semantic_dedup,
)
from datapipelines_spark.operators.mixing import token_budget_select


# ---------------------------------------------------------------------------
# token_budget_select — the histogram split must equal the global prefix


def _budget_reference(rows, budget):
    """The definitional algorithm: global (score DESC, id ASC) prefix with
    running token sum <= budget."""
    kept, cum = set(), 0
    for rid, score, tokens in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + tokens <= budget:
            cum += tokens
            kept.add(rid)
        else:
            break
    return kept


def _run_budget(spark, rows, budget, bucket_scale=1000):
    df = spark.createDataFrame(rows, "id long, score double, tokens long")
    out = token_budget_select(
        df, score_col="score", tokens_col="tokens", id_col="id",
        budget=budget, bucket_scale=bucket_scale,
    )
    return {r["id"] for r in out.collect()}


def test_token_budget_matches_reference_random(spark):
    rng = random.Random(7)
    rows = [
        (i, round(rng.random(), 4), rng.randint(1, 50)) for i in range(200)
    ]
    total = sum(t for _, _, t in rows)
    for budget in (0, 17, total // 10, total // 2, total, total + 5):
        assert _run_budget(spark, rows, budget) == _budget_reference(rows, budget), budget


def test_token_budget_ties_break_by_id(spark):
    # every row identical score: the prefix is pure id order
    rows = [(i, 0.5, 10) for i in range(10)]
    assert _run_budget(spark, rows, 35) == {0, 1, 2}


def test_token_budget_exact_fill_keeps_boundary_row(spark):
    rows = [(1, 0.9, 10), (2, 0.8, 10), (3, 0.7, 10)]
    assert _run_budget(spark, rows, 20) == {1, 2}
    assert _run_budget(spark, rows, 30) == {1, 2, 3}


def test_token_budget_first_row_exceeding_blocks_rest(spark):
    # greedy-prefix semantics: once the running sum would exceed, STOP —
    # later smaller docs do not back-fill (unlike knapsack)
    rows = [(1, 0.9, 100), (2, 0.8, 1)]
    assert _run_budget(spark, rows, 50) == set()


def test_token_budget_null_scores_excluded(spark):
    df = spark.createDataFrame(
        [(1, 0.5, 10), (2, None, 10)], "id long, score double, tokens long"
    )
    out = token_budget_select(df, "score", "tokens", "id", budget=100)
    assert {r["id"] for r in out.collect()} == {1}


def test_token_budget_coarse_buckets_still_exact(spark):
    # bucket_scale=1 puts EVERYTHING in one boundary bucket — the window
    # path alone must reproduce the reference
    rng = random.Random(11)
    rows = [(i, rng.random(), rng.randint(1, 20)) for i in range(50)]
    ref = _budget_reference(rows, 100)
    assert _run_budget(spark, rows, 100, bucket_scale=1) == ref


# ---------------------------------------------------------------------------
# winsorize — discrete percentile bounds are exact input elements


def _winsor_reference(vals, lo_pm, hi_pm):
    s = sorted(vals)
    n = len(s)
    lo = s[(lo_pm * n + 999) // 1000 - 1]
    hi = s[(hi_pm * n + 999) // 1000 - 1]
    return lo, hi


def test_winsorize_bounds_match_reference(spark):
    rng = random.Random(3)
    rows = [(i, "g%d" % (i % 3), rng.randint(0, 1000)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = winsorize(df, value_col="v", group_col="g", id_col="id").collect()
    by_group = {}
    for _, g, v in rows:
        by_group.setdefault(g, []).append(v)
    for r in out:
        lo, hi = _winsor_reference(by_group[r["g"]], 50, 950)
        assert (r["p_lo"], r["p_hi"]) == (lo, hi)
        assert r["clipped"] == min(max(r["v"], lo), hi)
        assert r["is_outlier"] == (r["v"] < lo or r["v"] > hi)


def test_winsorize_single_row_group(spark):
    df = spark.createDataFrame([(1, "a", 42)], "id long, g string, v long")
    r = winsorize(df, "v", "g", "id").collect()[0]
    assert (r["p_lo"], r["p_hi"], r["clipped"], r["is_outlier"]) == (42, 42, 42, False)


# ---------------------------------------------------------------------------
# repeated_ngram_span_stats — golden coverage arithmetic


def test_repeated_spans_golden(spark):
    shared = "a b c d e"
    docs = [
        (1, shared + " x y z"),        # flagged start at 0, covers 5 of 8
        (2, "p q r " + shared),        # flagged start at 3, covers 5 of 8
        (3, "u v w x y"),              # unique 5-gram, nothing flagged
        (4, "a b c"),                  # shorter than n: no grams at all
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repeated_ngram_span_stats(
        df, "text", "doc_id", n=5, min_count=2).collect()}
    assert len(out) == 4  # short docs still get a row
    assert (out[1]["n_dup_starts"], out[1]["n_covered_tokens"]) == (1, 5)
    assert (out[2]["n_dup_starts"], out[2]["n_covered_tokens"]) == (1, 5)
    assert (out[3]["n_dup_starts"], out[3]["n_covered_tokens"]) == (0, 0)
    assert (out[4]["n_dup_starts"], out[4]["n_covered_tokens"]) == (0, 0)
    assert out[1]["dup_permille"] == 1000 * 5 // 8


def test_repeated_spans_within_doc_repetition_counts(spark):
    # the SAME doc repeating a 5-gram reaches min_count alone
    df = spark.createDataFrame(
        [(1, "a b c d e z a b c d e")], "doc_id long, text string"
    )
    r = repeated_ngram_span_stats(df, "text", "doc_id", n=5, min_count=2).collect()[0]
    assert r["n_dup_starts"] == 2
    # starts 0 and 6, each covering 5 positions, disjoint -> 10 of 11
    assert r["n_covered_tokens"] == 10


def test_repeated_spans_overlapping_coverage_dedupes_positions(spark):
    # 'a b c d e f' twice: within one doc the two docs share grams at
    # starts 0 and 1 -> coverage is the UNION 0..5, not 10
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repeated_ngram_span_stats(
        df, "text", "doc_id", n=5, min_count=2).collect()}
    assert out[1]["n_dup_starts"] == 2
    assert out[1]["n_covered_tokens"] == 6
    assert out[1]["dup_permille"] == 1000


# ---------------------------------------------------------------------------
# semantic_dedup — survivor rule verified brute-force per cell


def test_semantic_dedup_survivor_rule_brute_force(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(size=(6, 8))
    rows = []
    for i in range(60):
        v = base[i % 6] + rng.normal(scale=0.05 if i % 3 else 0.8, size=8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "embedding", "vec_id", k=3, threshold=0.9).collect()
    assert len(out) == 60
    cells = {r["vec_id"]: r["cell"] for r in out}
    kept = {r["vec_id"]: r["is_kept"] for r in out}
    vecs = {i: np.asarray(v) for i, v in rows}

    def cos(a, b):
        return float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))

    for b in vecs:
        has_earlier_similar = any(
            a < b and cells[a] == cells[b] and cos(a, b) >= 0.9 for a in vecs
        )
        assert kept[b] == (not has_earlier_similar), b


# ---------------------------------------------------------------------------
# plan shapes — the scale properties the new operators claim


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gopher_rules_plan_is_shuffle_free(spark):
    """The rule bundle claims ONE narrow JVM map stage: the sort_array
    run-length fold replaces the explode/groupBy a naive most-frequent-word
    would shuffle on."""
    from datapipelines_spark.operators.text import gopher_quality_rules

    df = spark.createDataFrame(
        [(1, "the a b"), (2, "x y z")], "doc_id long, text string"
    )
    plan = _plan(gopher_quality_rules(df, "text", "doc_id"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_full_buckets_are_filter_only(spark):
    """Kept-whole buckets must not pay a sort or a window — only a filter
    over the scan (the boundary bucket's window runs on its own branch)."""
    rows = [(i, i / 100.0, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, score double, tokens long")
    out = token_budget_select(df, "score", "tokens", "id", budget=300)
    # union of (filtered full buckets) + (windowed boundary bucket):
    # exactly ONE Window operator total, and no global Sort outside it
    plan = _plan(out)
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("stage", sorted(MEDIA_STAGES))
def test_dhash_plan_is_single_arrow_stage(spark, stage):
    """Every per-payload media stage (dHash included) runs where the bytes
    live: one Arrow MapInPandas, no shuffle."""
    run, good, _, _ = MEDIA_STAGES[stage]
    df = spark.createDataFrame(
        [("k1", "m", bytearray(good))], "k string, meta string, p binary"
    )
    out = run(df, "fail")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    assert len(out.collect()) == 1


def test_winsorize_tiny_group_sizes(spark):
    # ranks must stay in range for every group size, including n < 20
    # where (50*n+999)//1000 == 1 and (950*n+999)//1000 == n
    rows = []
    rid = 0
    for n in range(1, 7):
        for v in range(n):
            rows.append((rid, f"g{n}", (v * 37) % 11))
            rid += 1
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = winsorize(df, "v", "g", "id").collect()
    assert len(out) == len(rows)
    by_group = {}
    for _, g, v in rows:
        by_group.setdefault(g, []).append(v)
    for r in out:
        lo, hi = _winsor_reference(by_group[r["g"]], 50, 950)
        assert (r["p_lo"], r["p_hi"]) == (lo, hi), r["g"]


def test_winsorize_rejects_fractional_value_col(spark):
    # the exactness contract is bigint arithmetic; silently truncating a
    # double column would clip on wrong values
    import pytest

    df = spark.createDataFrame([(1, "a", 1.5)], "id long, g string, v double")
    with pytest.raises(TypeError, match="integral value_col"):
        winsorize(df, "v", "g", "id")


def test_token_budget_rejects_out_of_domain_scores(spark):
    # the driver histogram is bounded only for scores in [0, 1]; an
    # unbounded score column must fail loudly, not collect O(range*scale)
    # rows
    import pytest

    rows = [(i, float(i), 10) for i in range(2100)]  # scores 0..2099
    df = spark.createDataFrame(rows, "id long, score double, tokens long")
    with pytest.raises(ValueError, match="histogram buckets"):
        token_budget_select(df, "score", "tokens", "id", budget=100)


def test_token_budget_in_domain_unchanged_by_guard(spark):
    rows = [(i, (i % 97) / 96.0, 5 + i % 7) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, score double, tokens long")
    out = token_budget_select(df, "score", "tokens", "id", budget=300)
    got = {r["id"] for r in out.collect()}
    assert got == _budget_reference(rows, 300)


def test_repeated_spans_skip_null_text(spark):
    # size(split(NULL)) is -1 in Spark but NULL in SQL; null-text rows are
    # excluded so the contract matches any SQL oracle
    docs = [(1, "a b c d e f"), (2, None), (3, "a b c d e g")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = repeated_ngram_span_stats(df, "text", "doc_id").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]
    assert all(r["n_tokens"] == 6 for r in out)


def test_oversample_factor_is_exact_integer_division(spark):
    # floor(double /) can flip the factor by one at large counts; the
    # factor must be integer division on the counts
    from datapipelines_spark.operators.mixing import oversample_to_parity

    rows = [("maj", i) for i in range(12)] + [("min", i) for i in range(5)]
    df = spark.createDataFrame(rows, "label string, x long")
    out = oversample_to_parity(df, "label")
    counts = {r["label"]: r["n"] for r in out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"maj": 12, "min": 10}  # 5 * floor(12/5) = 10


def test_dhash_near_pairs_exact_recall_within_pigeonhole_bound(spark):
    # planted 64-bit hashes with known Hamming distances: banding must find
    # exactly the pairs brute force finds for distances <= bands-1
    from datapipelines_spark.operators.imageops import dhash_near_pairs

    base = 0x0123456789ABCDEF
    rows = [
        ("a", base),
        ("b", base ^ 0b111),            # hamming 3 from a
        ("c", base ^ (0b1111111 << 57)),  # hamming 7 from a, top band only
        ("d", ~base & 0xFFFFFFFFFFFFFFFF),  # hamming 64 from a
    ]
    signed = [(k, v - (1 << 64) if v >= 1 << 63 else v) for k, v in rows]
    df = spark.createDataFrame(signed, "k string, dhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_near_pairs(df, id_col="k").collect()
    }
    assert got == {("a", "b"): 3, ("a", "c"): 7}

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_pairs(df, id_col="k", max_hamming=8, bands=8)
    with pytest.raises(ValueError, match="divide 64"):
        dhash_near_pairs(df, id_col="k", max_hamming=4, bands=7)


def test_dhash_near_pairs_dedupes_multi_band_matches(spark):
    # a pair equal in several bands must appear once, not once per band
    from datapipelines_spark.operators.imageops import dhash_near_pairs

    df = spark.createDataFrame(
        [("a", 42), ("b", 42 ^ 1)], "k string, dhash long"
    )
    out = dhash_near_pairs(df, id_col="k").collect()
    assert len(out) == 1 and out[0]["hamming"] == 1


def test_audio_fingerprint_packs_delta_signs_including_bit63(spark):
    # bit i = env[i] > env[i+1]; bit 63 must wrap into the sign bit via
    # bitwiseOR (no ANSI overflow), matching the dHash two's-complement
    # convention
    from datapipelines_spark.operators.audio import audio_fingerprint

    desc = [float(65 - i) for i in range(65)]       # every delta positive
    asc = [float(i) for i in range(65)]             # every delta zero/neg
    one = [0.0] * 65
    one[5] = 1.0                                    # only bit 5 set
    df = spark.createDataFrame(
        [("desc", desc), ("asc", asc), ("one", one)],
        "k string, envelope array<double>",
    )
    got = {r["k"]: r["afp"] for r in audio_fingerprint(df).collect()}
    assert got["desc"] == -1          # all 64 bits set = two's-complement -1
    assert got["asc"] == 0
    assert got["one"] == 1 << 5
