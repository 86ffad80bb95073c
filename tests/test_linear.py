"""In-plan linear classifier (operators/linear.py): the trained model
must separate a separable corpus, training must be deterministic under
different partitionings (the bigint micro-unit epoch discipline), and the
feature hasher must honor its domain contract. The trainer must match a
literal Python replay EXACTLY (integer equality) — the replay surface is
integers + correctly-rounded IEEE primitives, so there is no tolerance."""

import math

import pyspark.sql.functions as F

from datapipelines_spark.operators.linear import (
    MICRO,
    hashed_ngram_features,
    logreg_score,
    logreg_train,
)


def _corpus(spark):
    rows = []
    for i in range(24):
        if i % 2 == 0:
            rows.append((i, "good great fine clean prose readable text", 1))
        else:
            rows.append((i, "bad awful poor junk noise garbled spam", 0))
    return spark.createDataFrame(rows, "id long, text string, y int")


def test_separable_corpus_is_separated(spark):
    d = _corpus(spark)
    feats = hashed_ngram_features(d, "text", "id", buckets=32)
    w = logreg_train(
        feats, d.select("id", "y"), id_col="id", buckets=32, epochs=4, lr=1.0
    )
    scored = logreg_score(feats, w, "id").join(d.select("id", "y"), "id")
    rows = scored.collect()
    assert all((r["pred"] is True) == (r["y"] == 1) for r in rows), rows


def test_training_is_partitioning_invariant(spark):
    d = _corpus(spark)
    feats = hashed_ngram_features(d, "text", "id", buckets=32)
    labels = d.select("id", "y")
    w1 = logreg_train(feats.repartition(1), labels, "id", 32, 2, 0.5)
    w8 = logreg_train(feats.repartition(8), labels, "id", 32, 2, 0.5)
    a = {r["bucket"]: r["weight_micro"] for r in w1.collect()}
    b = {r["bucket"]: r["weight_micro"] for r in w8.collect()}
    assert a == b


def test_feature_hasher_domain(spark):
    d = spark.createDataFrame(
        [(1, "a  b"), (2, None), (3, ""), (4, "solo")],
        "id long, text string",
    )
    feats = hashed_ngram_features(d, "text", "id", buckets=8)
    rows = feats.collect()
    # NULL text: no rows at all (declared domain)
    assert all(r["id"] != 2 for r in rows)
    # empty text: bias row only; 'solo': unigram + bias, no bigram
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[3]) == 1 and by_id[3][0]["bucket"] == 8
    assert len(by_id[4]) == 2
    # double space mints no empty-token grams: 'a  b' has 2 unigrams,
    # 1 bigram ('a b'), 1 bias
    assert sum(r["cnt"] for r in by_id[1]) == 4


def _py_replay(docs, labels, buckets, epochs, lr):
    """Literal Python replay of the epoch math (bigint micro-unit weights,
    rational sigmoid, floor-scaled quantization) — the cross-engine
    contract the DuckDB oracle also implements. Pure ints + IEEE doubles,
    so equality with the Spark run is EXACT."""
    import hashlib
    from collections import Counter

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    feats = {}
    for i, text in docs:
        toks = [t for t in text.split(" ") if t != ""]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        c = Counter(h(g) % buckets for g in grams)
        c[buckets] += 1  # bias
        feats[i] = c
    n = len(labels)
    w = {b: 0 for b in range(buckets + 1)}  # micro-units, exact ints
    for _ in range(epochs):
        resid = {}
        for i, c in feats.items():
            z = sum(w[b] * cnt for b, cnt in c.items()) / float(MICRO)
            s = 0.5 + z / (2.0 * (1.0 + abs(z)))
            resid[i] = math.floor((labels[i] - s) * float(MICRO))
        grad = {
            b: sum(
                resid[i] * cnt
                for i, c in feats.items()
                for bb, cnt in c.items()
                if bb == b
            )
            for b in w
        }
        w = {b: w[b] + math.floor(lr * float(grad[b]) / float(n)) for b in w}
    return w


def test_trainer_matches_pure_python_replay(spark):
    import random

    rng = random.Random(914)
    vocab = [f"w{j}" for j in range(9)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(18)
    ]
    labels = {i: rng.randint(0, 1) for i, _ in docs}
    df = spark.createDataFrame(
        [(i, t, labels[i]) for i, t in docs], "id long, text string, y int"
    )
    feats = hashed_ngram_features(df, "text", "id", buckets=16)
    w = logreg_train(feats, df.select("id", "y"), "id", 16, 3, 0.5)
    got = {r["bucket"]: r["weight_micro"] for r in w.collect()}
    want = _py_replay(docs, labels, buckets=16, epochs=3, lr=0.5)
    assert got == want


def test_replay_surface_has_no_exp_or_round(spark):
    """Regression guard: neither the trainer nor the
    generated oracle may reintroduce exp() or round() on doubles — the two
    primitives whose cross-build variance broke the digit-exact replay."""
    import inspect

    import datapipelines_spark.operators.linear as linear
    from datapipelines_spark.queries.cleaning import _logreg_oracle_sql

    src = inspect.getsource(linear)
    assert "F.exp(" not in src and "F.round(" not in src
    sql = _logreg_oracle_sql(8, 2, 0.5).upper()
    assert "EXP(" not in sql and "ROUND(" not in sql


def test_trainer_replay_across_configs_and_degenerate_labels(spark):
    """The bit-portability contract must hold at every hyperparameter
    corner, not just the catalog query's config: odd lr (not a power of
    two), single epoch, many epochs, tiny bucket space, all-one labels
    (every residual negative after step one), and a single-document
    corpus. Exact integer equality against the literal Python replay."""
    import random

    cases = [
        dict(buckets=8, epochs=1, lr=1.0, n=7, seed=21),
        dict(buckets=8, epochs=4, lr=0.25, n=12, seed=22),
        dict(buckets=32, epochs=2, lr=0.3, n=15, seed=23),
        dict(buckets=4, epochs=3, lr=0.5, n=1, seed=24),  # single doc
    ]
    for case in cases:
        rng = random.Random(case["seed"])
        vocab = [f"w{j}" for j in range(7)]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
            for i in range(case["n"])
        ]
        labels = {i: rng.randint(0, 1) for i, _ in docs}
        if case["seed"] == 22:
            labels = {i: 1 for i, _ in docs}  # degenerate: all positive
        df = spark.createDataFrame(
            [(i, t, labels[i]) for i, t in docs], "id long, text string, y int"
        )
        feats = hashed_ngram_features(df, "text", "id", buckets=case["buckets"])
        w = logreg_train(
            feats, df.select("id", "y"), "id",
            case["buckets"], case["epochs"], case["lr"],
        )
        got = {r["bucket"]: r["weight_micro"] for r in w.collect()}
        want = _py_replay(
            docs, labels, case["buckets"], case["epochs"], case["lr"]
        )
        assert got == want, case
