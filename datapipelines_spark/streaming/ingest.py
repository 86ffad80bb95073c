"""Streaming web-corpus ingest: the composed batch pipeline
(queries/ingest.py — URL gate -> per-domain quota -> incremental dedup
verdicts) run as a foreachBatch loop with durable, crash-safe,
APPEND-ONLY state.

This is the production shape of day-2 ingest, kept append-only so a
crash never rewrites committed state: the batch query proves one tick;
this module proves the LOOP — each micro-batch is URL-gated (map-only),
quota'd against STANDING per-domain admission counts, verdicted against
the standing corpus AND everything previously admitted, and committed as
an immutable per-epoch DELTA under a MANIFEST — the merge-on-read
discipline of sinks/upsert.py applied to ingest state. Per tick the sink
WRITES O(batch): only the tick's admitted docs and verdict rows land on
disk; the standing index and the cumulative verdict log are never
rewritten (re-writing both wholesale each epoch would cost
O(total admitted) I/O per tick, which does not hold at 100 TB).

Commit protocol: the tick's delta directory is written first
(``deltas/e=E/index`` + ``deltas/e=E/verdicts``), then ONE atomic
``os.replace`` publishes a new ``_manifest`` naming every committed delta
and the highest applied epoch. A crash before the manifest swap leaves
the old manifest in force and the torn delta unreferenced (``_recover``
deletes it at the next entry); a crash after is a completed commit; a
re-delivered epoch at or below ``applied_epoch`` is a no-op. Verdicts can
never disagree with the index they were computed against — one replace
commits both lists.

Quota semantics under streaming: a document is admitted iff its domain's
admission count so far plus its (portable-hash, id) rank within the tick
stays within the cap — "first N per domain in arrival order". When ticks
arrive in ascending-id order this equals a global rank over (tick, hash,
id), which is how the driver oracle replays it in SQL; a single tick
equals the batch pipeline's quota exactly (tests/test_stream_ingest.py).

State layout under ``state_dir``::

    _manifest            JSON: {"applied_epoch": E,
                                "index": [delta dirs with live index/],
                                "verdicts": [delta dirs with verdicts/]}
    deltas/e=E/index/    (id, text, domain, quota_rank) admitted AT tick E
    deltas/e=E/verdicts/ the tick's verdict rows
    deltas/compact-E/index/  a folded index base (compact_ingest_index)

Scale notes: per tick the standing corpus pays one md5 + one signature
scan and never self-joins (persist those as a real index at 100 TB); the
standing index is READ across its committed deltas (planning is
O(#deltas)) and ``compact_ingest_index`` folds them into one base —
exactly the compaction story of sinks/upsert.py, with the manifest as
the object-store-shaped commit its docstring promised."""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datapipelines_spark.functions.hashing import portable_hash_seeded
from datapipelines_spark.operators.dedup import (
    MinHashConfig,
    _resolve_config,
    ingest_tick_verdicts,
)
from datapipelines_spark.operators.urls import (
    domain_blocklist_flag,
    parse_urls,
    registrable_domain,
)

_MANIFEST = "_manifest"
_DELTAS = "deltas"


def _read_manifest(root: str) -> dict | None:
    path = os.path.join(root, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _commit_manifest(root: str, manifest: dict) -> None:
    """Atomic publish: the manifest IS the commit — everything it names
    becomes visible in one ``os.replace``; everything it stops naming
    becomes garbage for ``_recover``. The temp file is fsync'd before the
    replace so a kernel crash/power loss cannot publish a torn MANIFEST
    (``os.replace`` alone is only atomic against process crashes). Scope:
    this protects the manifest file itself — the delta parquet data it
    names is written by Spark without fsync, so full power-loss
    durability of a tick needs a syncing filesystem or an object store
    (where PUT visibility implies durability); against process crashes,
    the protocol is exact (the crash sweeps in tests/test_stream_ingest
    cover every step)."""
    tmp = os.path.join(root, f"{_MANIFEST}.tmp-{manifest['applied_epoch']}")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(manifest))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(root, _MANIFEST))


def _recover(root: str) -> None:
    """Delete anything the manifest does not vouch for: torn manifest
    temps, delta dirs a crash left half-written or a commit stopped
    referencing, and index/ subdirs dropped by compaction while their
    sibling verdicts/ stays live. Never touches referenced state.
    WRITER-ONLY: it runs at the sink/compaction entry points, never from
    the read APIs — a reader running this concurrently with an in-flight
    tick would delete the tick's not-yet-committed delta out from under
    the writer (reads need only the manifest, which names committed
    state exclusively). Single-writer per state dir, as for every sink
    here."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        if name.startswith(f"{_MANIFEST}.tmp-"):
            os.remove(os.path.join(root, name))
    man = _read_manifest(root)
    live_index = set(man["index"]) if man else set()
    live_verdicts = set(man["verdicts"]) if man else set()
    deltas = os.path.join(root, _DELTAS)
    if not os.path.isdir(deltas):
        return
    for name in os.listdir(deltas):
        d = os.path.join(deltas, name)
        if name not in live_index and name not in live_verdicts:
            shutil.rmtree(d, ignore_errors=True)
        elif name not in live_index and os.path.isdir(os.path.join(d, "index")):
            shutil.rmtree(os.path.join(d, "index"), ignore_errors=True)
        elif name not in live_verdicts and os.path.isdir(
            os.path.join(d, "verdicts")
        ):
            shutil.rmtree(os.path.join(d, "verdicts"), ignore_errors=True)


def _delta_paths(root: str, names: list[str], sub: str) -> list[str]:
    return [os.path.join(root, _DELTAS, n, sub) for n in names]


def _as_of(names: list[str], epoch: int | None) -> list[str]:
    """Restrict a manifest delta list to epochs <= ``epoch`` — TIME
    TRAVEL, exactly sinks/upsert.py's ``as_of_version`` discipline: the
    snapshot as of that commit, by filtering the FILE LIST (later deltas'
    footers are never consulted). ``e=N`` deltas filter on N; a
    ``compact-M`` base folds epochs <= M, so it satisfies any request at
    or above M and makes requests BELOW M unanswerable (below the
    compaction horizon — raise, mirroring upsert.py's vacuum horizon)."""
    if epoch is None:
        return names
    keep = []
    for n in names:
        if n.startswith("e="):
            if int(n[2:]) <= epoch:
                keep.append(n)
        elif n.startswith("compact-"):
            folded = int(n.rsplit("-", 1)[1])
            if folded > epoch:
                raise ValueError(
                    f"epoch {epoch} is below the compaction horizon "
                    f"({n} folds epochs <= {folded}); compaction discards "
                    "per-epoch index granularity"
                )
            keep.append(n)
        else:  # future-proofing: never silently drop unknown state
            raise ValueError(f"unrecognized delta dir {n!r} in manifest")
    return keep


def read_ingest_index(
    spark: SparkSession, state_dir: str, as_of_epoch: int | None = None
) -> DataFrame:
    """The standing admitted index: union of every committed index delta
    (id, text, domain, quota_rank). ``as_of_epoch`` time-travels to the
    state after that tick committed (raises below the compaction
    horizon — see ``_as_of``). Raises if nothing is committed. Pure
    read — consults only the manifest (committed state), never cleans
    up, so it is safe to call while the sink is mid-tick."""
    root = state_dir.rstrip("/")
    man = _read_manifest(root)
    names = _as_of(man["index"], as_of_epoch) if man else []
    if not names:
        raise ValueError(
            f"no committed ingest state under {state_dir}"
            + (f" at or before epoch {as_of_epoch}" if as_of_epoch is not None else "")
        )
    return spark.read.parquet(*_delta_paths(root, names, "index"))


def read_ingest_verdicts(
    spark: SparkSession, state_dir: str, as_of_epoch: int | None = None
) -> DataFrame:
    """The cumulative verdict log: union of every committed per-tick
    verdict delta (id, verdict, match_id, domain, quota_rank). Pure read
    (see ``read_ingest_index``). Verdict deltas are never compacted, so
    ``as_of_epoch`` works at ANY retained epoch — the audit question
    "what had the ingest decided as of tick N" answered from the
    manifest alone. After ``expire_ingest_verdicts`` every read answers
    from the RETAINED SUFFIX only — expiry is a discard verb, so an
    ``as_of_epoch`` at or above the horizon returns the retained portion
    of that epoch's log (epochs [floor..as_of], NOT the full historical
    cumulative table), and a read strictly below the horizon raises
    because not even a partial answer exists there."""
    root = state_dir.rstrip("/")
    man = _read_manifest(root)
    if man is None or not man["verdicts"]:
        raise ValueError(f"no committed ingest state under {state_dir}")
    floor = man.get("verdicts_floor", 0)
    if as_of_epoch is not None and as_of_epoch < floor:
        raise ValueError(
            f"epoch {as_of_epoch} is below the verdict retention horizon "
            f"({floor}); expire_ingest_verdicts discarded those deltas"
        )
    names = _as_of(man["verdicts"], as_of_epoch)
    if not names:
        raise ValueError(
            f"no committed ingest state under {state_dir}"
            + (f" at or before epoch {as_of_epoch}" if as_of_epoch is not None else "")
        )
    return spark.read.parquet(*_delta_paths(root, names, "verdicts"))


def expire_ingest_verdicts(state_dir: str, before_epoch: int) -> int:
    """Retention for the verdict log: DISCARD verdict deltas of epochs
    strictly below ``before_epoch`` (no fold — unlike index compaction,
    expiry is the bounded-audit-log verb: a 100 TB ingest cannot keep
    every decision forever) and record the new retention horizon in the
    manifest, so time-travel reads below it fail loudly instead of
    answering from a partial log. The standing INDEX is untouched —
    admitted docs stay admitted. Returns the number of deltas dropped.

    Same commit discipline as compaction: one manifest replace publishes
    the trimmed list + horizon, THEN the dropped verdicts/ subdirs are
    deleted (dirs whose index/ is still live survive with the subdir
    removed; ``_recover`` finishes the job after a crash in between).
    Pure filesystem — no SparkSession needed."""
    root = state_dir.rstrip("/")
    _recover(root)
    man = _read_manifest(root)
    if not man:
        raise ValueError(f"no committed ingest state under {state_dir}")
    keep, drop = [], []
    for n in man["verdicts"]:
        if not n.startswith("e="):  # same guard as _as_of: never silently
            raise ValueError(f"unrecognized delta dir {n!r} in manifest")
        (drop if int(n[2:]) < before_epoch else keep).append(n)
    if not keep:
        raise ValueError(
            f"expiry at {before_epoch} would discard the ENTIRE verdict "
            "log; keep at least the newest epoch"
        )
    if not drop:
        return 0
    _commit_manifest(
        root,
        {
            **man,
            "verdicts": keep,
            "verdicts_floor": max(before_epoch, man.get("verdicts_floor", 0)),
        },
    )
    live_index = set(man["index"])
    for n in drop:
        d = os.path.join(root, _DELTAS, n)
        target = os.path.join(d, "verdicts") if n in live_index else d
        shutil.rmtree(target, ignore_errors=True)
    return len(drop)


def compact_ingest_index(spark: SparkSession, state_dir: str) -> int:
    """Fold every committed index delta into one base so per-tick read
    planning returns to O(1) dirs; returns the number of deltas folded.
    The verdict log is untouched (it is the sink's OUTPUT, not its
    working state — readers take its deltas as-is).

    Crash-ordering: the folded base is written to a fresh
    ``compact-<applied_epoch>`` dir, then one manifest replace points the
    index list at it; the superseded index/ subdirs are deleted last (a
    crash in between leaves them as garbage ``_recover`` removes). Reads
    at any crash point see either the old delta list or the new base —
    never a mix. Caveat shared with ``sinks/upsert.py:compact``: the
    superseded files are deleted in the same call, so a LAZY DataFrame
    obtained from ``read_ingest_index`` before the compaction must be
    re-read afterwards (materialize or re-call) — a production
    deployment would retain superseded deltas for a grace window and
    vacuum them separately, as lakehouse formats do."""
    root = state_dir.rstrip("/")
    _recover(root)
    man = _read_manifest(root)
    if not man or not man["index"]:
        raise ValueError(f"no committed ingest state under {state_dir}")
    old = list(man["index"])
    if len(old) <= 1:
        return 0
    base = f"compact-{man['applied_epoch']}"
    base_dir = os.path.join(root, _DELTAS, base)
    shutil.rmtree(base_dir, ignore_errors=True)
    spark.read.parquet(*_delta_paths(root, old, "index")).write.parquet(
        os.path.join(base_dir, "index")
    )
    # {**man}: carry every other manifest field (verdicts list,
    # verdicts_floor retention horizon) through the commit untouched
    _commit_manifest(root, {**man, "index": [base]})
    for name in old:
        d = os.path.join(root, _DELTAS, name)
        target = d if name not in man["verdicts"] else os.path.join(d, "index")
        shutil.rmtree(target, ignore_errors=True)
    return len(old)


def ingest_dedup_sink(
    corpus: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str = "url",
    blocklist: tuple[str, ...] = (),
    quota_cap: int = 25,
    config: MinHashConfig | None = None,
    threshold: float = 0.5,
    max_bucket_size: int | None = 512,
    compact_every: int | None = None,
    target_recall: float | None = None,
):
    """Build the foreachBatch callback. ``corpus`` is the immutable
    standing corpus (never self-joined, never rewritten); each incoming
    micro-batch must carry (id_col, text_col, url_col). Reset
    ``state_dir`` and the stream's checkpointLocation together — they are
    one unit (a fresh checkpoint replays the source, so pairing it with
    existing state would double-ingest). ``compact_every`` folds the
    index deltas into one base whenever their count reaches it (keeps
    long-running ingest's read planning bounded); leave None to compact
    on your own schedule via ``compact_ingest_index`` — note that
    auto-compaction deletes superseded index files from INSIDE the tick,
    so with ``compact_every`` set, an external reader's in-flight lazy
    job over ``read_ingest_index`` can lose files mid-scan (the
    compaction grace-window caveat, triggered by the sink instead of the
    caller); readers that cannot tolerate a re-read should compact at
    quiet points instead. Banding comes
    from ``config`` or — the measured-recall discipline — from
    ``target_recall``, which solves it for this
    sink's ``threshold`` via choose_banding; resolved ONCE at build time
    so every tick dedups under the same signature scheme."""
    root = state_dir.rstrip("/")
    config = _resolve_config(config, threshold, target_recall)

    # Standing-index artifacts: the corpus is immutable for the life
    # of the sink, so its md5 table and signature table are computed once,
    # persisted, and reused by EVERY tick — previously each tick re-ran
    # both corpus passes (the Arrow shingle+minhash scan being the
    # dominant per-tick cost), which is exactly the "persist those as a
    # real index at 100 TB" note in the module docstring, now done.
    # Plain .persist(), not managed_persist: these must outlive every
    # tick's own bounded persists; they die with the streaming query's
    # session (or an explicit clearCache), the same lifetime a production
    # deployment gives its standing index.
    _standing: dict[str, DataFrame] = {}

    def _corpus_artifacts(id_col_: str, text_col_: str):
        if "hashes" not in _standing:
            from datapipelines_spark.operators.dedup import (
                _docs_with_signatures,
            )

            _standing["hashes"] = (
                corpus.groupBy(F.md5(F.col(text_col_)).alias("__h"))
                .agg(F.min(id_col_).alias("exact_corpus"))
                .persist()
            )
            _standing["docs"] = _docs_with_signatures(
                corpus, text_col_, id_col_, config
            ).persist()
        return _standing["hashes"], _standing["docs"]

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        os.makedirs(os.path.join(root, _DELTAS), exist_ok=True)
        _recover(root)
        man = _read_manifest(root)
        if man is not None and epoch <= man["applied_epoch"]:
            return  # re-delivery of an epoch already committed
        prior = (
            spark.read.parquet(*_delta_paths(root, man["index"], "index"))
            if man and man["index"]
            else None
        )

        # 1. URL gate: parse -> registrable domain -> blocklist (map-only)
        # idn_mapping=False: a micro-batch tick is small, so the inline
        # per-row IDN hybrid beats paying the mapping's extra
        # distinct+broadcast job every tick (identical hosts either way)
        parsed = parse_urls(batch_df, url_col, idn_mapping=False).withColumn(
            "domain", registrable_domain(F.col("host"))
        )
        gate = parsed.transform(
            lambda df: domain_blocklist_flag(df, "domain", blocklist)
        ).where(~F.col("is_blocked"))

        # 2. quota vs STANDING admission counts: rank within the tick by
        # the portable quota hash, offset by how many this domain already
        # admitted — "first cap per domain in arrival order"
        if prior is not None:
            counts = prior.groupBy("domain").agg(
                F.count(F.lit(1)).alias("__n_before")
            )
        else:
            counts = None
        w = Window.partitionBy("domain").orderBy(
            portable_hash_seeded(F.col(id_col), "quota"), F.col(id_col)
        )
        ranked = gate.withColumn("__r", F.row_number().over(w))
        if counts is not None:
            ranked = ranked.join(F.broadcast(counts), "domain", "left").na.fill(
                {"__n_before": 0}
            )
        else:
            ranked = ranked.withColumn("__n_before", F.lit(0))
        # localCheckpoint: the admitted set feeds the index write AND
        # five scans inside the verdict lineage (md5, signatures, bands,
        # within-tick pairs, the final join) — materialize the gate +
        # window subplan once per tick instead of 5-6 times (batch-sized,
        # lineage-truncating; correctness never depended on the re-execs,
        # the (hash, id) rank is deterministic)
        admitted = (
            ranked.withColumn(
                "quota_rank",
                (F.col("__r") + F.col("__n_before")).cast("bigint"),
            )
            .where(F.col("quota_rank") <= quota_cap)
            .select(id_col, text_col, "domain", "quota_rank")
            .localCheckpoint()
        )

        # 3. dedup verdicts vs corpus + prior admissions + within tick
        prior_docs = (
            prior.select(id_col, text_col)
            if prior is not None
            else admitted.select(id_col, text_col).limit(0)
        )
        c_hashes, c_docs = _corpus_artifacts(id_col, text_col)
        v = ingest_tick_verdicts(
            corpus,
            prior_docs,
            admitted.select(id_col, text_col),
            text_col,
            id_col,
            config,
            threshold,
            max_bucket_size=max_bucket_size,
            corpus_hashes=c_hashes,
            corpus_sig_docs=c_docs,
        ).join(admitted.select(id_col, "domain", "quota_rank"), id_col)

        # 4. append-only commit: the tick's admissions and verdicts land
        # as ONE immutable delta — O(batch) bytes — then a single atomic
        # manifest replace publishes both. Old deltas are never touched.
        delta = f"e={epoch}"
        delta_dir = os.path.join(root, _DELTAS, delta)
        shutil.rmtree(delta_dir, ignore_errors=True)  # torn re-delivery
        admitted.write.parquet(os.path.join(delta_dir, "index"))
        v.write.parquet(os.path.join(delta_dir, "verdicts"))
        # {**(man or {})}: preserve fields other commits own (the
        # verdicts_floor retention horizon) — rebuilding from explicit
        # keys silently erased it at the first post-expiry tick
        committed = {
            **(man or {}),
            "applied_epoch": epoch,
            "index": (man["index"] if man else []) + [delta],
            "verdicts": (man["verdicts"] if man else []) + [delta],
        }
        _commit_manifest(root, committed)
        if compact_every is not None and len(committed["index"]) >= compact_every:
            compact_ingest_index(spark, root)

    def release_standing() -> None:
        """Drop the standing-corpus caches. Call after the streaming query
        stops — a session that builds many sinks (test suites, repeated
        replays) would otherwise accumulate two cached tables per sink for
        the session lifetime."""
        while _standing:
            _, cached = _standing.popitem()
            try:
                cached.unpersist()
            except Exception:
                pass

    process.release_standing = release_standing
    return process
