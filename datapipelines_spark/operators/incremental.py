"""Incremental aggregate maintenance — keep a materialized rollup current
without rescanning the base table.

A 100 TB corpus with a daily delta should not pay a 100 TB scan to refresh
``revenue by month``: for distributive aggregates (COUNT, SUM — and AVG as
SUM/COUNT at read time) the classic counting algorithm (Gupta/Mumick's
incremental view maintenance, public literature) maintains the view as a
PARTIAL-AGGREGATE STATE table merged with each delta's partial aggregate:

  state:   (keys..., __cnt, sum_<c>...) — one row per group;
  delta:   the same aggregate over the new rows only; DELETES/corrections
           ride along as retraction rows (sign -1), so an upstream fix
           subtracts exactly what it once added;
  merge:   union the two states and re-sum per group — the shuffle carries
           O(|state| + |delta groups|) rows, never the base table; groups
           whose count reaches zero vanish (retractions consumed them).

Numeric discipline: sums are kept as DECIMAL(18,4)-based accumulators, so
merging is exact and order-independent — a state merged in any delta order
equals the full recompute to the last digit (the property the catalog
oracle checks). Doubles would drift under reordering; decimals cannot.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

CNT_COL = "__cnt"


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    retract_col: str | None = None,
) -> DataFrame:
    """Partial-aggregate state (keys..., __cnt, sum_<c>...) for a slice of
    the base table. ``retract_col`` (boolean) marks rows whose prior
    contribution must be SUBTRACTED (sign -1) — the delta encoding for
    deletes and corrections."""
    sign = (
        F.when(F.col(retract_col), F.lit(-1)).otherwise(F.lit(1))
        if retract_col
        else F.lit(1)
    )
    aggs = [F.sum(sign).alias(CNT_COL)] + [
        F.sum(F.col(c).cast("decimal(18,4)") * sign).alias(f"sum_{c}")
        for c in sum_cols
    ]
    return df.groupBy(*keys).agg(*aggs)


def merge_states(state: DataFrame, delta_state: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two partial-aggregate states: union + one re-sum per group
    (every non-key column is a mergeable accumulator by construction).
    Groups whose merged count is 0 are dropped — fully retracted. The
    shuffle is state-sized; the base table is never touched."""
    acc_cols = [c for c in state.columns if c not in keys]
    merged = (
        state.unionByName(delta_state)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in acc_cols])
    )
    return merged.where(F.col(CNT_COL) != 0)


def distinct_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    retract_col: str | None = None,
) -> DataFrame:
    """Auxiliary state for incremental COUNT(DISTINCT value) — the classic
    NON-distributive aggregate the counting algorithm handles with one
    extra level (Gupta/Mumick §duplicate counts): keep the signed
    multiplicity of every (keys..., value) pair. Deltas (and their
    retractions) merge with the SAME ``merge_states`` used for sums, just
    keyed on ``keys + [value_col]``; a value whose merged multiplicity
    reaches zero vanishes from the state, and the view is then one exact
    count per group — no sketch, no approximation, no base rescan.

    State size is O(#distinct (keys, value) pairs) — the irreducible cost
    of EXACT incremental distinct counts; use the HLL sketch aggregate
    (queries: agg_approx_distinct_parts) when an approximate view is
    acceptable at a fraction of the state."""
    sign = (
        F.when(F.col(retract_col), F.lit(-1)).otherwise(F.lit(1))
        if retract_col
        else F.lit(1)
    )
    return df.groupBy(*keys, value_col).agg(F.sum(sign).alias(CNT_COL))


def distinct_view(state: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., n_distinct) from the auxiliary state: surviving values
    (multiplicity != 0) count once each. The zero-multiplicity filter is
    applied HERE, not assumed: merge_states output never carries zeros,
    but a raw ``distinct_state`` delta can (an insert and a retraction of
    the same (keys, value) pair in one batch), and counting that value as
    present would be wrong. One partial-aggregated shuffle
    over state rows."""
    return (
        state.where(F.col(CNT_COL) != 0)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    )


def extreme_view(state: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """(keys..., min_<v>, max_<v>) from the SAME signed-multiplicity
    auxiliary state ``distinct_state`` maintains — exact incremental
    MIN/MAX under retractions, the other classically non-distributive
    pair (Gupta/Mumick): a deleted extreme cannot be "un-maxed" from a
    scalar accumulator, but the per-(keys, value) multiplicity table
    knows the runner-up, so the view is one aggregate over surviving
    values. Zero-multiplicity rows are filtered here for the same
    raw-delta correctness as ``distinct_view``.

    State size is O(#distinct (keys, value) pairs) — the irreducible
    cost of exact extremes under deletion (no sketch supports it);
    bucket/quantize the value upstream when that is too much state."""
    return (
        state.where(F.col(CNT_COL) != 0)
        .groupBy(*keys)
        .agg(
            F.min(value_col).alias(f"min_{value_col}"),
            F.max(value_col).alias(f"max_{value_col}"),
        )
    )


_APPLIED_PREFIX = "_applied-"  # underscore-prefixed: ignored by parquet readers


def _applied_epoch(state_dir: str) -> int | None:
    """Highest epoch folded into the state, read from the marker file the
    swap commits atomically WITH the state (it rides inside the renamed
    dir, so state and provenance can never disagree)."""
    import os

    epochs = [
        int(name[len(_APPLIED_PREFIX) :])
        for name in os.listdir(state_dir)
        if name.startswith(_APPLIED_PREFIX)
    ]
    return max(epochs) if epochs else None


def incremental_state_sink(
    state_dir: str,
    keys: list[str],
    sum_cols: list[str],
    retract_col: str | None = None,
    on_metrics=None,
):
    """foreachBatch callback maintaining a MATERIALIZED VIEW state table on
    disk — streaming incremental view maintenance: each micro-batch
    collapses to its partial aggregate (delta) and merges with the current
    state; the view is always the aggregate of everything streamed so far,
    and per-batch cost is O(|state| + |batch|), independent of stream
    history.

    Crash-safe commit: the merged state is written to ``<root>.staging-E``
    together with an ``_applied-E`` epoch marker (materializing the read of
    the old state BEFORE it is replaced), then ``sinks/swap.py:replace_dir``
    renames the old state aside to ``<root>.old-E``, the staging in, and
    deletes the aside last. Each batch starts with ``recover_dir``, which
    only restores: if the state dir is missing (a crash between the two
    renames) the aside goes back, and every staging is deleted. The crashed
    epoch is re-delivered and merged again; on the first epoch there is no
    aside, so the re-delivery seeds the view. The marker, committed inside
    the state it describes, makes a re-delivered epoch that did commit a
    no-op (epochs ≤ the marker are skipped).

    Observability (the ``df.observe`` machinery applied to the sink's own
    state store): every applied epoch appends
    one JSON line to ``<state_dir>.metrics.jsonl`` with ``epoch``,
    ``delta_groups`` (groups in this batch's partial aggregate),
    ``state_groups`` (groups in the merged view — the state-size series
    whose growth a long-running view is monitored by), and
    ``epochs_behind`` (gap to the last applied epoch; >0 means upstream
    epochs were skipped/compacted). The counters ride the staging write
    itself as observations — no extra pass over state or delta. Skipped
    re-deliveries log nothing (the view did not change). ``on_metrics``
    additionally receives each metrics dict.

    Contract: the state dir and the stream's checkpointLocation form a
    unit — reset both together (a fresh checkpoint replays the source
    from scratch, so pairing it with existing state would double-count
    regardless of any marker scheme)."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import Observation

    from datapipelines_spark.sinks.swap import recover_dir, replace_dir

    root = state_dir.rstrip("/")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        recover_dir(root, glob.glob(root + ".staging-*"), glob.glob(root + ".old-*"))
        last = None
        obs_delta, obs_state = Observation(), Observation()
        delta = delta_of(batch_df).observe(
            obs_delta, F.count(F.lit(1)).alias("delta_groups")
        )
        if os.path.isdir(root):
            last = _applied_epoch(root)
            if last is not None and epoch <= last:
                return  # retry / re-delivery of an epoch already folded in
            merged = merge_states(spark.read.parquet(root), delta, keys)
        else:
            merged = delta
        merged = merged.observe(obs_state, F.count(F.lit(1)).alias("state_groups"))
        staging = f"{root}.staging-{epoch}"
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(staging)  # materializes read
        open(os.path.join(staging, f"{_APPLIED_PREFIX}{epoch}"), "w").close()
        replace_dir(staging, root, f"{root}.old-{epoch}")
        metrics = {
            "epoch": epoch,
            "delta_groups": obs_delta.get["delta_groups"],
            "state_groups": obs_state.get["state_groups"],
            "epochs_behind": epoch - last - 1 if last is not None else 0,
        }
        with open(f"{root}.metrics.jsonl", "a") as fh:
            fh.write(json.dumps(metrics) + "\n")
        if on_metrics is not None:
            on_metrics(metrics)

    def delta_of(batch_df: DataFrame) -> DataFrame:
        return aggregate_state(batch_df, keys, sum_cols, retract_col)

    return process
