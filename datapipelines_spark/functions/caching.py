"""Bounded persist registry — cache hygiene for query builders.

Several builders persist an intermediate that their *returned* (still lazy)
DataFrame depends on — e.g. the shingle table a near-dup join reuses three
times (operators/dedup.py), or q21's fact-side pair table. An in-builder
``try/finally: unpersist()`` would release the cache before the caller ever
executes the plan, defeating the persist; but never releasing it means every
builder invocation leaks a cached table for the life of the session. In a
long session (the driver runs every catalog query; bench runs every builder
several times) dozens of orphaned cached tables accumulate and evict each
other.

``managed_persist`` keeps the persist semantics while bounding the leak:
each persisted intermediate is registered, and once more than ``_MAX_LIVE``
are alive the oldest is unpersisted (its consumer has long since executed —
callers materialize the returned DataFrame before building the next query;
if one ever hasn't, unpersist merely falls back to recompute, never wrong
results). Harnesses that know a query is finished (bench.py between
measurements) call ``release_persists()`` to drop everything at once.

At 100 TB the same discipline matters more, not less: executor storage
memory evicting shuffle/operator memory is a throughput cliff, so cached
intermediates must die with the query that needed them.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

#: Builders may register persists from concurrent driver threads
#: (queries/recall.py builds its independent family arms from a thread
#: pool), so the lookup-then-mutate sequences below run under one lock.
_REG_LOCK = threading.Lock()

_LIVE: list[DataFrame] = []
#: Enough headroom that one composed pipeline keeps ALL its intermediates
#: hot, small enough that a whole-catalog driver session holds a bounded
#: set of cached tables, not dozens. The accuracy harnesses
#: (queries/recall.py) register 8-14 persists while building one plan (7
#: ANN family arms / 4 LSH arms sharing signature tables); at 6 the
#: registry evicted the earliest arms' caches BEFORE the plan ever
#: executed, and the final sim_recall_harness plan scanned parquet 83
#: times (counted in its physical plan) because the shared
#: e/ranked/signature subtrees it was built around were no longer cached.
#: Whatever a harness forgets to release still dies after 16 newer
#: persists.
_MAX_LIVE = 16


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        # Session already stopped / executor gone — nothing left to release.
        pass


def _same_cache(a: DataFrame, b: DataFrame) -> bool:
    """Whether ``a`` and ``b`` share one cache entry: the same context and
    ``sameResult`` analyzed plans, the test Spark's CacheManager applies.
    Unlike a plan string, ``sameResult`` compares what the leaves read (file
    locations, local rows, RDD ids), so two datasets with one schema stay
    apart while a rebuild of the same query matches."""
    try:
        return a.sparkSession.sparkContext is b.sparkSession.sparkContext and (
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )
    except Py4JError:
        return False  # a plan Spark cannot compare takes its own slot


def managed_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with idempotent registration in the bounded live
    set: one registry slot per cache entry.

    Spark keeps one storage entry for equivalent plans, so a bench repeat
    loop (or a harness that rebuilds the same subplan per arm) persists the
    same entry again and again. Appending each call would blow through
    ``_MAX_LIVE`` and evict the very cache every live consumer shares
    (sim_ivf_sq8_topk registers 3 persists per build: 5 bench repeats are
    15 registrations of 3 caches). A re-persist of a registered plan only
    moves it to the newest end."""
    persisted = df.persist()
    with _REG_LOCK:
        for i, old in enumerate(_LIVE):
            if _same_cache(old, persisted):
                _LIVE.append(_LIVE.pop(i))
                return persisted
        _LIVE.append(persisted)
        evict = _LIVE[:-_MAX_LIVE]
        del _LIVE[:-_MAX_LIVE]
    for df_old in evict:
        _unpersist_quietly(df_old)
    return persisted


def release_persists() -> None:
    """Unpersist every registered intermediate (bench/driver hygiene hook)."""
    with _REG_LOCK:
        drop, _LIVE[:] = list(_LIVE), []
    for df_old in drop:
        _unpersist_quietly(df_old)


#: (applicationId, site key) -> Column (or tuple of Columns). Plan-build
#: memo: every ``F.*`` call is a py4j round trip, and the engine's deep
#: expression trees — minhash banding/signatures (~8000 calls per
#: ingest-tick build), the Hilbert FST chains, the LSH hyperplane sums —
#: re-spend 0.5-2 s of pure driver time per plan build on IDENTICAL
#: expressions. Columns are unresolved, name-based, immutable expression
#: objects — reusable across DataFrames and plans within one JVM; keying
#: on the applicationId means a fresh context never sees another
#: application's entries. Memoized trees must reference columns by FIXED
#: names only — data-dependent literals (quantization bounds, counts)
#: stay OUT of the memoized fragment and ride separate placeholder
#: columns at the call site.
_EXPR_CACHE: dict[tuple, object] = {}


def expr_memo(key: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    k = (sc.applicationId,) + key
    expr = _EXPR_CACHE.get(k)
    if expr is None:
        if len(_EXPR_CACHE) > 1024:
            _EXPR_CACHE.clear()
        expr = build()
        _EXPR_CACHE[k] = expr
    return expr
