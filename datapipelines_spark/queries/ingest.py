"""The composed web-corpus ingest pipeline, driver-gated end-to-end:
URL parse -> registrable domain -> blocklist gate -> per-domain quota ->
incremental dedup verdicts against the standing corpus.

This is the day-2 story ``examples/corpus_prep.py`` tells, promoted to an
oracle-checked query (VERDICT r10 "Next" #7): each stage is an operator
already benchmarked alone (queries/urls.py, queries/dedup.py); the
composition adds only doc_id-keyed joins. The planted-URL fixture stays
pinned to the V1 host mix (queries/urls.py:_HOSTS_V1) so the ingest
replay outputs remain byte-comparable round over round; the
IDN-extended mix lives in the url_parse_documents family. The 100 TB shape is the sum of
its parts — URL gating is map-only codegen, the quota is one domain-keyed
shuffle, and the dedup stage probes the batch's band keys against the
standing corpus index without ever self-joining the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.operators import dedup as ops
from datapipelines_spark.queries.dedup import (
    _MINHASH,
    _incremental_oracle,
    staged_dup_docs,
)
from datapipelines_spark.queries.urls import _URL_SQL, BLOCKLIST, _planted_urls

__all__ = [
    "corpus_ingest_pipeline",
    "stream_ingest_dedup_replay",
    "stream_ingest_asof_replay",
]

_QUOTA_CAP = 25

#: Staged-fixture version for the streaming replay's source files: bump
#: whenever staged_dup_docs/_planted_urls/the tiling change shape, so a
#: cached /tmp fixture from an older code state is never replayed.
_SRC_FIXTURE_V = 2


#: (applicationId, base dir) pairs whose 4-tick replay state this session
#: already built — the layout.py:_WRITTEN precedent: reuse WITHIN a
#: session (deterministic state, pure manifest read), rebuild across
#: sessions (stale /tmp state from older code can never serve a run).
_REPLAYED: set[tuple[str, str]] = set()


def _read_replay_verdicts(
    spark: SparkSession, state: str, as_of_epoch: int | None = None
) -> DataFrame:
    from datapipelines_spark.streaming.ingest import read_ingest_verdicts

    return (
        read_ingest_verdicts(spark, state, as_of_epoch=as_of_epoch)
        .select(
            "doc_id",
            "verdict",
            "match_id",
            "domain",
            F.col("quota_rank").cast("bigint").alias("quota_rank"),
        )
        .orderBy("doc_id")
    )


def _ingest_base_dir(sf_dir: str) -> str:
    """The streaming replay's /tmp working dir. The key carries
    (basename, hash of full path + source-data fingerprint, fixture
    version): two sf_dirs sharing a basename cannot collide, a change to
    the staged fixture's shape bumps _SRC_FIXTURE_V, and regenerating
    the sf_dir's documents table IN PLACE (new mtime/size) changes the
    fingerprint — so cached src files can never mix with a corpus read
    from newer data (ADVICE r12 #2 + r13 review)."""
    import hashlib
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    ident = os.path.abspath(sf_dir)
    doc = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(doc):
        st = os.stat(doc)
        ident += f"|{st.st_mtime_ns}|{st.st_size}"
    key = hashlib.sha256(ident.encode()).hexdigest()[:8]
    return os.path.join("/tmp", f"spark_graft_ingest_{tag}_{key}_v{_SRC_FIXTURE_V}")

#: URL-gating CTEs spliced into the incremental-dedup replay: the crawl
#: slice (doc_id % 4 = 0) keeps only unblocked registrable domains, then
#: at most _QUOTA_CAP docs per domain by the portable quota hash — the
#: same SQL as the url_parse_documents / domain_quota_sample_docs oracles.
_GATE_CTES = f"""{_URL_SQL},
    gate AS (
        SELECT doc_id, domain FROM dom
        WHERE doc_id % 4 = 0
          AND domain NOT IN ({", ".join(f"'{b}'" for b in BLOCKLIST)})
    ),
    ranked AS (
        SELECT doc_id, domain,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY CAST('0x' || substr(
                            md5('quota-' || CAST(doc_id AS VARCHAR)),
                            1, 8) AS BIGINT),
                            doc_id
               ) AS quota_rank
        FROM gate
    ),
    gated AS (
        SELECT doc_id, domain, quota_rank FROM ranked
        WHERE quota_rank <= {_QUOTA_CAP}
    ),"""


@query(
    "corpus_ingest_pipeline",
    oracle=_incremental_oracle(
        batch_member="{d} % 4 = 0 AND {d} IN (SELECT doc_id FROM gated)",
        prefix_ctes=_GATE_CTES,
        extra_select=(
            ",\n           g.domain AS domain,"
            "\n           CAST(g.quota_rank AS BIGINT) AS quota_rank"
        ),
        extra_joins="\n    JOIN gated g ON g.doc_id = e.doc_id",
    ),
)
def corpus_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ingest tick of a web-corpus pipeline, composed from the
    governance and dedup operators and checked as a single unit:

    1. the crawl slice (doc_id % 4 == 0, duplicate-salted like
       dedup_incremental_batch) gets its planted URL parsed and reduced
       to a registrable domain (operators/urls.py — map-only codegen);
    2. docs whose domain is blocklisted are dropped;
    3. at most 25 docs per domain survive the deterministic quota
       (portable hash order — retry- and partitioning-stable);
    4. the survivors are verdicted against the standing corpus
       (doc_id % 4 != 0) and each other
       (operators/dedup.py:incremental_dedup_verdicts).

    Output: (doc_id, verdict, match_id, domain, quota_rank) per surviving
    batch doc. The oracle replays all four stages in one SQL chain —
    gating changes WHICH docs are batch members, which changes the
    within-batch verdicts too, so the composition is a real integration
    check, not a union of the parts."""
    from datapipelines_spark.operators.urls import (
        domain_blocklist_flag,
        domain_quota_sample,
        parse_urls,
        registrable_domain,
    )

    from datapipelines_spark.functions.caching import managed_persist

    # staged feeds the corpus branch (md5 + signature tables) AND the
    # crawl/gate branch; the quota-gated batch feeds the verdict operator's
    # exact/signature stages AND the final join. Persist both so the
    # staged fixture's 3-scan self-join plan and the URL-parse + quota
    # window run once, not once per consumer (guide §5; without the
    # persists the physical plan re-derives each of them ~5x)
    staged = managed_persist(staged_dup_docs(spark, sf_dir))
    corpus = staged.where(F.col("doc_id") % 4 != 0)
    crawl = staged.where(F.col("doc_id") % 4 == 0)

    parsed = parse_urls(_planted_urls(spark, sf_dir), "url").withColumn(
        "domain", registrable_domain(F.col("host"))
    )
    gate = (
        crawl.join(parsed.select("doc_id", "domain"), "doc_id")
        .transform(lambda df: domain_blocklist_flag(df, "domain", BLOCKLIST))
        .where(~F.col("is_blocked"))
    )
    batch = managed_persist(
        domain_quota_sample(gate, "domain", "doc_id", cap=_QUOTA_CAP)
    )

    verdicts = ops.incremental_dedup_verdicts(
        corpus, batch, "text", "doc_id", _MINHASH, threshold=0.5
    )
    return (
        verdicts.join(
            batch.select(
                "doc_id",
                "domain",
                F.col("quota_rank").cast("bigint").alias("quota_rank"),
            ),
            "doc_id",
        )
        .orderBy("doc_id")
    )


#: The streaming replay's gate CTEs: same URL parse + blocklist, but the
#: quota rank orders by (tile, hash, id) where tile = the micro-batch file
#: the doc was staged into (ntile(4) over ascending doc_id on the crawl
#: slice). For ADMITTED docs this global rank equals the sink's standing-
#: count semantics ("first cap per domain in arrival order"): admitted and
#: gated counts per domain only diverge after the cap is reached, and every
#: doc past that point is rejected under both ranks.
_GATE_TILED_CTES = f"""{_URL_SQL},
    tiles AS (
        SELECT doc_id, ntile(4) OVER (ORDER BY doc_id) AS tile
        FROM documents WHERE doc_id % 4 = 0
    ),
    gate AS (
        SELECT d.doc_id, d.domain, t.tile FROM dom d
        JOIN tiles t ON t.doc_id = d.doc_id
        WHERE d.domain NOT IN ({", ".join(f"'{b}'" for b in BLOCKLIST)})
    ),
    ranked AS (
        SELECT doc_id, domain, tile,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY tile,
                            CAST('0x' || substr(
                            md5('quota-' || CAST(doc_id AS VARCHAR)),
                            1, 8) AS BIGINT),
                            doc_id
               ) AS quota_rank
        FROM gate
    ),
    gated AS (
        SELECT doc_id, domain, tile, quota_rank FROM ranked
        WHERE quota_rank <= {_QUOTA_CAP}
    ),"""


@query(
    "stream_ingest_dedup_replay",
    oracle=_incremental_oracle(
        batch_member="{d} % 4 = 0 AND {d} IN (SELECT doc_id FROM gated)",
        prefix_ctes=_GATE_TILED_CTES,
        extra_select=(
            ",\n           g.domain AS domain,"
            "\n           CAST(g.quota_rank AS BIGINT) AS quota_rank"
        ),
        extra_joins="\n    JOIN gated g ON g.doc_id = e.doc_id",
    ),
)
def stream_ingest_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus ingest (streaming/ingest.py:ingest_dedup_sink,
    VERDICT r11 next #5, append-only since r13): the crawl slice is
    staged as FOUR parquet files in ascending doc_id order (ntile over
    the slice) and replayed one file per micro-batch; every tick is
    URL-gated, quota'd against standing per-domain admission counts,
    verdicted against the standing corpus AND all previously admitted
    docs, and committed as an immutable O(batch) delta under one atomic
    manifest replace — verdict log and standing index together. The
    returned table is the final cumulative verdict log read across the
    manifest's committed deltas.

    The oracle replays all four ticks in one SQL chain: the quota's
    arrival-order semantics compile to a rank over (tile, quota-hash,
    doc_id), and the dedup verdicts are the SAME spliced incremental
    replay as corpus_ingest_pipeline — which is the point: the streaming
    loop's net effect must equal a batch decision table (replay
    equivalence; a single-tick replay equals corpus_ingest_pipeline
    verbatim, pinned in tests/test_stream_ingest.py along with the
    crash-point sweep of the index swap).

    The built state is memoized per (Spark application, base dir): the
    first call in a session streams all four ticks; later calls — its
    own repeats, and stream_ingest_asof_replay's reuse — are pure
    manifest reads of the identical deterministic state. A new session
    always rebuilds (the memo key carries the applicationId), so stale
    /tmp state from older code can never serve a fresh run."""
    import os
    import shutil

    from pyspark.sql import Window

    from datapipelines_spark.streaming.ingest import (
        ingest_dedup_sink,
        read_ingest_verdicts,
    )

    base = _ingest_base_dir(sf_dir)
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    memo = (spark.sparkContext.applicationId, base)
    if memo in _REPLAYED:
        return _read_replay_verdicts(spark, state)
    staged = staged_dup_docs(spark, sf_dir)
    corpus = staged.where(F.col("doc_id") % 4 != 0)
    if not os.path.isdir(src):
        crawl = (
            staged.where(F.col("doc_id") % 4 == 0)
            .join(_planted_urls(spark, sf_dir), "doc_id")
            .withColumn(
                "__tile", F.ntile(4).over(Window.orderBy("doc_id"))
            )
            # four per-tile writes follow: materialize the staged join +
            # global ntile window once instead of re-running it per write
            # (r13; values are deterministic, staging output unchanged).
            # localCheckpoint blocks are non-replicated and sever lineage:
            # an executor loss mid-staging fails this job instead of
            # recomputing (r14, ADVICE) — acceptable because staging is a
            # one-shot fixture build into a scratch dir; the crash-safe
            # rename below means a failed attempt just re-stages
            .localCheckpoint()
        )
        # Stage into a scratch dir and rename into place only once all 4
        # batch files have landed: a crash mid-staging can never leave a
        # partial `src` that later runs would silently replay (the isdir
        # check above gates on the COMPLETE fixture only).
        staging = src + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        now = 1_600_000_000
        for i in range(1, 5):
            part_dir = os.path.join(base, f"stage_{i}")
            (
                crawl.where(F.col("__tile") == i)
                .drop("__tile")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(part_dir)
            )
            part = [
                n for n in os.listdir(part_dir) if n.endswith(".parquet")
            ][0]
            dst = os.path.join(staging, f"batch-{i:02d}.parquet")
            os.replace(os.path.join(part_dir, part), dst)
            # distinct ascending mtimes: the file stream source orders by
            # modification time, and tick order IS the replay's semantics
            os.utime(dst, (now + i, now + i))
            shutil.rmtree(part_dir, ignore_errors=True)
        os.rename(staging, src)
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ingest_dedup_sink(
        corpus,
        state,
        blocklist=BLOCKLIST,
        quota_cap=_QUOTA_CAP,
        config=_MINHASH,
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the standing-corpus caches are the sink's, not the session's: drop
    # them now that the stream is done (r14, ADVICE — repeated replays in
    # one session would otherwise stack two cached tables per run)
    sink.release_standing()
    _REPLAYED.add(memo)  # only after a fully successful stream run
    return _read_replay_verdicts(spark, state)


@query(
    "stream_ingest_asof_replay",
    oracle=_incremental_oracle(
        batch_member=(
            "{d} % 4 = 0 AND {d} IN (SELECT doc_id FROM gated WHERE tile <= 2)"
        ),
        prefix_ctes=_GATE_TILED_CTES,
        extra_select=(
            ",\n           g.domain AS domain,"
            "\n           CAST(g.quota_rank AS BIGINT) AS quota_rank"
        ),
        extra_joins="\n    JOIN gated g ON g.doc_id = e.doc_id",
    ),
)
def stream_ingest_asof_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the streaming ingest state (the audit face of the
    r13 manifest protocol): run the full 4-tick replay, then read the
    verdict log AS OF epoch 1 — the exact decision table after the first
    TWO ticks committed, reconstructed from the manifest's epoch deltas
    without replaying anything.

    The oracle is the same spliced incremental-dedup chain with batch
    membership restricted to the first two tiles. That restriction is
    sound because the quota rank is PREFIX-STABLE: ranks order by
    (tile, hash, id), so a tile-1/2 doc's rank is identical whether or
    not tiles 3/4 exist — "state as of tick N" is a pure predicate on
    the full replay's gating, which is exactly what makes the manifest
    read equal a batch recomputation. Verdict deltas are never
    compacted, so this read works at any retained epoch even after
    compact_ingest_index folds the search index."""
    import os

    # ensure the 4-tick state exists: first call in the session streams
    # it, later calls are satisfied by the builder's session memo
    stream_ingest_dedup_replay(spark, sf_dir)
    state = os.path.join(_ingest_base_dir(sf_dir), "state")
    return _read_replay_verdicts(spark, state, as_of_epoch=1)
