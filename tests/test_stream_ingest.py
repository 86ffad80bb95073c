"""Streaming corpus ingest (streaming/ingest.py): replay equivalence —
one tick equals the batch pipeline verbatim — crash-safety of the
append-only manifest commit at every filesystem step, O(batch) per-tick
write volume, and index compaction."""

import builtins
import os
import shutil

import pyspark.sql.functions as F

from datapipelines_spark.queries.dedup import _MINHASH, staged_dup_docs
from datapipelines_spark.queries.ingest import _QUOTA_CAP
from datapipelines_spark.queries.urls import BLOCKLIST, _planted_urls
from datapipelines_spark.streaming.ingest import (
    compact_ingest_index,
    ingest_dedup_sink,
    read_ingest_index,
    read_ingest_verdicts,
)


def _crawl(spark, sf_dir):
    staged = staged_dup_docs(spark, sf_dir)
    corpus = staged.where(F.col("doc_id") % 4 != 0)
    crawl = staged.where(F.col("doc_id") % 4 == 0).join(
        _planted_urls(spark, sf_dir), "doc_id"
    )
    return corpus, crawl


def _sink(corpus, state, **kw):
    return ingest_dedup_sink(
        corpus,
        state,
        blocklist=BLOCKLIST,
        quota_cap=_QUOTA_CAP,
        config=_MINHASH,
        **kw,
    )


def _verdicts(spark, state):
    return sorted(
        (
            r["doc_id"],
            r["verdict"],
            r["match_id"],
            r["domain"],
            int(r["quota_rank"]),
        )
        for r in read_ingest_verdicts(spark, state).collect()
    )


def test_single_tick_equals_batch_pipeline(spark, sf_dir, tmp_path):
    """The whole crawl slice delivered as ONE micro-batch must produce
    exactly corpus_ingest_pipeline's decision table: with one tick the
    standing-count quota degenerates to the batch quota's (hash, id)
    rank, and 'prior admissions' is empty — so any disagreement would be
    a real semantic drift between the loop and the batch operator."""
    from datapipelines_spark.catalog import all_queries

    corpus, crawl = _crawl(spark, sf_dir)
    state = str(tmp_path / "state1")
    _sink(corpus, state)(crawl, 0)
    got = _verdicts(spark, state)
    want = sorted(
        (
            r["doc_id"],
            r["verdict"],
            r["match_id"],
            r["domain"],
            int(r["quota_rank"]),
        )
        for r in all_queries()["corpus_ingest_pipeline"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert got == want


def test_two_ticks_manifest_and_write_volume(spark, sf_dir, tmp_path):
    """Two ticks: the manifest tracks both deltas, re-delivery of a
    committed epoch is a no-op, and — the append-only contract — each
    tick's delta holds ONLY that tick's rows, so per-tick write volume is
    O(batch) instead of O(cumulative admitted), which rewriting the index
    and verdicts wholesale every epoch would cost."""
    corpus, crawl = _crawl(spark, sf_dir)
    mid = crawl.approxQuantile("doc_id", [0.5], 0.0)[0]
    state = str(tmp_path / "state2")
    sink = _sink(corpus, state)
    sink(crawl.where(F.col("doc_id") <= mid), 0)
    n_tick0 = read_ingest_index(spark, state).count()
    sink(crawl.where(F.col("doc_id") > mid), 1)
    idx = read_ingest_index(spark, state)
    v = read_ingest_verdicts(spark, state)
    # one verdict per admitted doc, index rows = admitted rows
    assert idx.count() == v.count()
    assert idx.where(F.col("quota_rank") > _QUOTA_CAP).count() == 0
    # O(batch) write volume: tick 1's delta carries exactly the rows
    # admitted AFTER tick 0 — never a rewrite of tick 0's admissions —
    # and the committed deltas partition the standing index.
    d0 = spark.read.parquet(os.path.join(state, "deltas", "e=0", "index"))
    d1 = spark.read.parquet(os.path.join(state, "deltas", "e=1", "index"))
    assert d0.count() == n_tick0
    assert d1.count() == idx.count() - n_tick0
    assert d1.join(d0, "doc_id").count() == 0
    # re-delivery of a committed epoch is a no-op
    before = _verdicts(spark, state)
    sink(crawl.where(F.col("doc_id") > mid), 1)
    assert _verdicts(spark, state) == before


def test_crash_at_every_commit_step_recovers_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the sink at EVERY filesystem mutation of the second tick's
    commit (leftover-delta rmtree, the manifest temp write, the atomic
    manifest replace), restart with a fresh sink instance, re-deliver
    the epoch, and require the exact no-crash verdict log — no loss, no
    double-ingest, and verdicts never disagreeing with the index."""
    corpus, crawl = _crawl(spark, sf_dir)
    mid = crawl.approxQuantile("doc_id", [0.5], 0.0)[0]
    b0 = crawl.where(F.col("doc_id") <= mid).localCheckpoint()
    b1 = crawl.where(F.col("doc_id") > mid).localCheckpoint()

    ref_state = str(tmp_path / "ref")
    ref_sink = _sink(corpus, ref_state)
    ref_sink(b0, 0)
    ref_sink(b1, 1)
    expected = _verdicts(spark, ref_state)

    real_replace, real_rmtree, real_open = os.replace, shutil.rmtree, builtins.open

    for crash_at in range(1, 10):
        state = str(tmp_path / f"state-{crash_at}")
        _sink(corpus, state)(b0, 0)

        calls = {"n": 0}

        def counting(fn, *a, **kw):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise RuntimeError(f"simulated crash at fs-op {crash_at}")
            return fn(*a, **kw)

        def counted_open(path, *a, **kw):
            if isinstance(path, str) and "_manifest.tmp-" in os.path.basename(
                path
            ):
                return counting(real_open, path, *a, **kw)
            return real_open(path, *a, **kw)

        monkeypatch.setattr(os, "replace", lambda *a: counting(real_replace, *a))
        monkeypatch.setattr(
            shutil, "rmtree", lambda *a, **kw: counting(real_rmtree, *a, **kw)
        )
        monkeypatch.setattr(builtins, "open", counted_open)
        crashed = False
        try:
            _sink(corpus, state)(b1, 1)
        except RuntimeError:
            crashed = True
        monkeypatch.undo()

        _sink(corpus, state)(b1, 1)  # restart + re-delivery
        assert _verdicts(spark, state) == expected, (
            f"crash point {crash_at} (crashed={crashed}) broke exactly-once"
        )
        if not crashed:
            break  # fewer fs-ops than crash points: protocol fully swept


def test_compaction_preserves_state_and_later_ticks(spark, sf_dir, tmp_path):
    """Folding the index deltas into one base must not change the standing
    index, the verdict log, or any LATER tick's decisions — ticks after a
    compaction see exactly the counts and prior docs they would have seen
    without it (compared against an uncompacted twin)."""
    corpus, crawl = _crawl(spark, sf_dir)
    qs = crawl.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    b0 = crawl.where(F.col("doc_id") <= qs[0]).localCheckpoint()
    b1 = crawl.where(
        (F.col("doc_id") > qs[0]) & (F.col("doc_id") <= qs[1])
    ).localCheckpoint()
    b2 = crawl.where(F.col("doc_id") > qs[1]).localCheckpoint()

    plain = str(tmp_path / "plain")
    sink_p = _sink(corpus, plain)
    for i, b in enumerate((b0, b1, b2)):
        sink_p(b, i)

    folded = str(tmp_path / "folded")
    sink_f = _sink(corpus, folded)
    sink_f(b0, 0)
    sink_f(b1, 1)
    idx_before = sorted(
        r["doc_id"] for r in read_ingest_index(spark, folded).collect()
    )
    assert compact_ingest_index(spark, folded) == 2
    assert (
        sorted(r["doc_id"] for r in read_ingest_index(spark, folded).collect())
        == idx_before
    )
    sink_f(b2, 2)
    assert _verdicts(spark, folded) == _verdicts(spark, plain)
    # the folded state has ONE live index dir (the base) plus tick 2's
    man_dirs = os.listdir(os.path.join(folded, "deltas"))
    assert any(d.startswith("compact-") for d in man_dirs)


def test_auto_compaction_keeps_index_dirs_bounded(spark, sf_dir, tmp_path):
    """compact_every folds inside the loop: after 3 ticks at
    compact_every=2 the manifest's index list stays bounded while the
    verdict log keeps every tick's delta."""
    import json

    corpus, crawl = _crawl(spark, sf_dir)
    qs = crawl.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    state = str(tmp_path / "auto")
    sink = _sink(corpus, state, compact_every=2)
    sink(crawl.where(F.col("doc_id") <= qs[0]), 0)
    sink(crawl.where((F.col("doc_id") > qs[0]) & (F.col("doc_id") <= qs[1])), 1)
    sink(crawl.where(F.col("doc_id") > qs[1]), 2)
    with open(os.path.join(state, "_manifest")) as fh:
        man = json.load(fh)
    assert len(man["index"]) <= 2
    assert man["verdicts"] == ["e=0", "e=1", "e=2"]
    assert read_ingest_index(spark, state).count() == read_ingest_verdicts(
        spark, state
    ).count()


def test_crash_during_compaction_recovers(spark, sf_dir, tmp_path, monkeypatch):
    """Sweep a crash into every fs op of compact_ingest_index (base
    rmtree, manifest temp write, manifest replace, superseded-subdir
    deletes): at every point the next entry-point recovery must leave the
    standing index and verdict log exactly as before the attempt, and a
    re-run of compaction must complete."""
    corpus, crawl = _crawl(spark, sf_dir)
    mid = crawl.approxQuantile("doc_id", [0.5], 0.0)[0]
    b0 = crawl.where(F.col("doc_id") <= mid).localCheckpoint()
    b1 = crawl.where(F.col("doc_id") > mid).localCheckpoint()

    real_replace, real_rmtree, real_open = os.replace, shutil.rmtree, builtins.open

    for crash_at in range(1, 10):
        state = str(tmp_path / f"c-{crash_at}")
        sink = _sink(corpus, state)
        sink(b0, 0)
        sink(b1, 1)
        expected_v = _verdicts(spark, state)
        expected_i = sorted(
            r["doc_id"] for r in read_ingest_index(spark, state).collect()
        )

        calls = {"n": 0}

        def counting(fn, *a, **kw):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise RuntimeError(f"simulated crash at fs-op {crash_at}")
            return fn(*a, **kw)

        def counted_open(path, *a, **kw):
            if isinstance(path, str) and "_manifest.tmp-" in os.path.basename(
                path
            ):
                return counting(real_open, path, *a, **kw)
            return real_open(path, *a, **kw)

        monkeypatch.setattr(os, "replace", lambda *a: counting(real_replace, *a))
        monkeypatch.setattr(
            shutil, "rmtree", lambda *a, **kw: counting(real_rmtree, *a, **kw)
        )
        monkeypatch.setattr(builtins, "open", counted_open)
        crashed = False
        try:
            compact_ingest_index(spark, state)
        except RuntimeError:
            crashed = True
        monkeypatch.undo()

        # recovery path: any entry point; then compaction completes
        assert (
            sorted(r["doc_id"] for r in read_ingest_index(spark, state).collect())
            == expected_i
        ), f"crash point {crash_at} lost index rows"
        assert _verdicts(spark, state) == expected_v, (
            f"crash point {crash_at} corrupted the verdict log"
        )
        compact_ingest_index(spark, state)
        assert (
            sorted(r["doc_id"] for r in read_ingest_index(spark, state).collect())
            == expected_i
        )
        if not crashed:
            break  # fewer fs-ops than crash points: protocol fully swept


def test_tuned_banding_reaches_the_ingest_surface(spark, sf_dir, tmp_path):
    """(threshold, target_recall) derives the banding via choose_banding
    on both ingest surfaces: the tuned-config
    run must produce EXACTLY the verdict table of the same config passed
    explicitly, and mixing both parameters is rejected."""
    import pytest

    from datapipelines_spark.operators.dedup import (
        choose_banding,
        incremental_dedup_verdicts,
    )

    corpus, crawl = _crawl(spark, sf_dir)
    cfg = choose_banding(threshold=0.5, target_recall=0.9)

    # batch operator: explicit config == derived config, row for row
    batch = crawl.select("doc_id", "text")
    a = sorted(
        map(tuple, incremental_dedup_verdicts(
            corpus, batch, "text", "doc_id", cfg, threshold=0.5
        ).collect())
    )
    b = sorted(
        map(tuple, incremental_dedup_verdicts(
            corpus, batch, "text", "doc_id", threshold=0.5, target_recall=0.9
        ).collect())
    )
    assert a == b

    # streaming sink: one tick under target_recall == one tick under the
    # equivalent explicit config
    s1, s2 = str(tmp_path / "cfg"), str(tmp_path / "tuned")
    _sink(corpus, s1)(crawl, 0)  # default banding baseline state exists
    ingest_dedup_sink(
        corpus, s2, blocklist=BLOCKLIST, quota_cap=_QUOTA_CAP,
        threshold=0.5, target_recall=0.9,
    )(crawl, 0)
    s3 = str(tmp_path / "explicit")
    ingest_dedup_sink(
        corpus, s3, blocklist=BLOCKLIST, quota_cap=_QUOTA_CAP,
        config=cfg, threshold=0.5,
    )(crawl, 0)
    assert _verdicts(spark, s2) == _verdicts(spark, s3)

    with pytest.raises(ValueError):
        incremental_dedup_verdicts(
            corpus, batch, "text", "doc_id", cfg, threshold=0.5,
            target_recall=0.9,
        )


def test_as_of_epoch_reads_equal_the_shorter_run(spark, sf_dir, tmp_path):
    """Time travel: the 3-tick state read as_of_epoch=1 must equal a
    2-tick twin's final state — verdicts AND index reconstructed from the
    manifest's epoch deltas without replaying anything; reads past the
    last epoch return the full state; reads before the first raise."""
    import pytest

    from datapipelines_spark.streaming.ingest import (
        read_ingest_index,
        read_ingest_verdicts,
    )

    corpus, crawl = _crawl(spark, sf_dir)
    qs = crawl.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    b0 = crawl.where(F.col("doc_id") <= qs[0]).localCheckpoint()
    b1 = crawl.where(
        (F.col("doc_id") > qs[0]) & (F.col("doc_id") <= qs[1])
    ).localCheckpoint()
    b2 = crawl.where(F.col("doc_id") > qs[1]).localCheckpoint()

    full, twin = str(tmp_path / "full"), str(tmp_path / "twin")
    sink_f, sink_t = _sink(corpus, full), _sink(corpus, twin)
    for i, b in enumerate((b0, b1, b2)):
        sink_f(b, i)
    for i, b in enumerate((b0, b1)):
        sink_t(b, i)

    asof_v = sorted(
        map(tuple, read_ingest_verdicts(spark, full, as_of_epoch=1).collect())
    )
    twin_v = sorted(map(tuple, read_ingest_verdicts(spark, twin).collect()))
    assert asof_v == twin_v
    asof_i = sorted(
        r["doc_id"]
        for r in read_ingest_index(spark, full, as_of_epoch=1).collect()
    )
    twin_i = sorted(r["doc_id"] for r in read_ingest_index(spark, twin).collect())
    assert asof_i == twin_i
    # past the last epoch -> the full state; before the first -> raises
    assert (
        read_ingest_verdicts(spark, full, as_of_epoch=99).count()
        == read_ingest_verdicts(spark, full).count()
    )
    with pytest.raises(ValueError):
        read_ingest_verdicts(spark, full, as_of_epoch=-1)

    # compaction keeps verdict time travel at any epoch but moves the
    # INDEX horizon: an as-of below the folded epoch must raise
    compact_ingest_index(spark, full)
    assert sorted(
        map(tuple, read_ingest_verdicts(spark, full, as_of_epoch=1).collect())
    ) == twin_v
    assert read_ingest_index(spark, full, as_of_epoch=2).count() > 0
    with pytest.raises(ValueError):
        read_ingest_index(spark, full, as_of_epoch=1)


def test_expire_verdicts_bounds_the_log_and_moves_the_horizon(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Retention: expiring epochs < 1 drops exactly tick 0's verdict
    rows, leaves the standing index whole, makes time travel below the
    horizon fail loudly, and — crash between the manifest commit and the
    subdir deletes — recovery finishes the cleanup without losing
    retained state."""
    import pytest

    from datapipelines_spark.streaming.ingest import (
        expire_ingest_verdicts,
        read_ingest_index,
        read_ingest_verdicts,
    )

    corpus, crawl = _crawl(spark, sf_dir)
    qs = crawl.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    batches = [
        crawl.where(F.col("doc_id") <= qs[0]).localCheckpoint(),
        crawl.where(
            (F.col("doc_id") > qs[0]) & (F.col("doc_id") <= qs[1])
        ).localCheckpoint(),
        crawl.where(F.col("doc_id") > qs[1]).localCheckpoint(),
    ]
    state = str(tmp_path / "exp")
    sink = _sink(corpus, state)
    for i, b in enumerate(batches):
        sink(b, i)
    n_index = read_ingest_index(spark, state).count()
    tick0 = read_ingest_verdicts(spark, state, as_of_epoch=0).count()
    total = read_ingest_verdicts(spark, state).count()

    assert expire_ingest_verdicts(state, before_epoch=1) == 1
    assert read_ingest_verdicts(spark, state).count() == total - tick0
    assert read_ingest_index(spark, state).count() == n_index  # untouched
    with pytest.raises(ValueError):
        read_ingest_verdicts(spark, state, as_of_epoch=0)
    assert read_ingest_verdicts(spark, state, as_of_epoch=2).count() == total - tick0
    assert expire_ingest_verdicts(state, before_epoch=1) == 0  # idempotent
    with pytest.raises(ValueError):  # never discard the whole log
        expire_ingest_verdicts(state, before_epoch=99)

    # crash between manifest commit and subdir deletion: retained state
    # intact, horizon in force, recovery (at the next writer entry)
    # finishes deleting the dropped subdir
    import shutil as _sh

    state2 = str(tmp_path / "exp2")
    sink2 = _sink(corpus, state2)
    for i, b in enumerate(batches):
        sink2(b, i)
    real_rmtree = _sh.rmtree
    calls = {"armed": False}

    def crashing_rmtree(*a, **kw):
        if calls["armed"]:
            calls["armed"] = False
            raise RuntimeError("simulated crash after manifest commit")
        return real_rmtree(*a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    calls["armed"] = True
    with pytest.raises(RuntimeError):
        expire_ingest_verdicts(state2, before_epoch=1)
    monkeypatch.undo()
    after = read_ingest_verdicts(spark, state2).count()
    assert after == total - tick0  # manifest already committed the trim
    expire_ingest_verdicts(state2, before_epoch=1)  # re-run cleans up
    assert read_ingest_verdicts(spark, state2).count() == after


def test_retention_horizon_survives_later_commits(spark, sf_dir, tmp_path):
    """The verdicts_floor recorded by expiry must ride through BOTH other
    commit sites — a later tick and an index compaction — not be erased
    by a manifest rebuilt from explicit keys."""
    import json

    import pytest

    from datapipelines_spark.streaming.ingest import (
        expire_ingest_verdicts,
        read_ingest_verdicts,
    )

    corpus, crawl = _crawl(spark, sf_dir)
    qs = crawl.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    state = str(tmp_path / "hz")
    sink = _sink(corpus, state)
    sink(crawl.where(F.col("doc_id") <= qs[0]), 0)
    sink(crawl.where((F.col("doc_id") > qs[0]) & (F.col("doc_id") <= qs[1])), 1)
    expire_ingest_verdicts(state, before_epoch=1)
    # a LATER tick commits; then compaction commits
    sink(crawl.where(F.col("doc_id") > qs[1]), 2)
    compact_ingest_index(spark, state)
    with open(os.path.join(state, "_manifest")) as fh:
        assert json.load(fh)["verdicts_floor"] == 1
    with pytest.raises(ValueError):
        read_ingest_verdicts(spark, state, as_of_epoch=0)
    assert read_ingest_verdicts(spark, state, as_of_epoch=2).count() > 0


def test_tick_verdicts_with_precomputed_corpus_artifacts_equal(
    spark, sf_dir
):
    """r13: the sink precomputes the standing corpus's md5 and signature
    tables once and passes them into every tick
    (ingest_tick_verdicts(corpus_hashes=, corpus_sig_docs=)); the verdict
    table must be IDENTICAL to the derive-from-corpus path — the
    artifacts are the same deterministic plans, just persisted."""
    from datapipelines_spark.operators.dedup import (
        _docs_with_signatures,
        ingest_tick_verdicts,
    )

    corpus, crawl = _crawl(spark, sf_dir)
    batch = crawl.select("doc_id", "text")
    prior = batch.limit(0)
    plain = ingest_tick_verdicts(
        corpus, prior, batch, "text", "doc_id", _MINHASH, 0.5
    )
    hashes = corpus.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min("doc_id").alias("exact_corpus")
    )
    docs = _docs_with_signatures(corpus, "text", "doc_id", _MINHASH)
    pre = ingest_tick_verdicts(
        corpus,
        prior,
        batch,
        "text",
        "doc_id",
        _MINHASH,
        0.5,
        corpus_hashes=hashes,
        corpus_sig_docs=docs,
    )
    rows = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["verdict"], r["match_id"]) for r in df.collect()
    )
    assert rows(plain) == rows(pre)
