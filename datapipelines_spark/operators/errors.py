"""Permissive error handling + pipeline observability (SURVEY §2.7 E1-E3, E5).

The reference's default posture is *skip-and-warn*: any stage exception drops
the sample and continues (`warn_and_continue`,
/root/reference/sdata/datapipeline.py:86-91), with strict mode re-raising.
Relationally:

- expression stages: ANSI-off casts/parsers yield NULL on bad input;
  ``drop_failed`` turns null-on-required into row-skip, ``quarantine`` splits
  failures into a side output instead of losing them silently;
- per-payload media stages (multimodal.py, imageops.py) take
  ``on_error='quarantine'|'skip'|'fail'``, routed in one place: the runner
  ``operators/multimodal.py:_payload_stage``, which rejects any other value
  and ``'quarantine'`` on a stage with no ``decode_error`` column;
- counting: ``observed`` attaches named accumulators via ``df.observe`` so a
  run reports how many rows each permissive stage dropped — the engine's
  answer to the reference's warn-spam (you get numbers, not log lines).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def drop_failed(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """Skip-and-continue for expression stages: drop rows where a permissive
    decode/cast produced NULL in any required output column."""
    pred = F.lit(True)
    for c in required:
        pred = pred & F.col(c).isNotNull()
    return df.where(pred)


def quarantine(df: DataFrame, required: Sequence[str]) -> tuple[DataFrame, DataFrame]:
    """Split into (good, bad) on required-column nullness. ``bad`` carries a
    ``__failed_columns`` array naming what was missing — write it to a
    quarantine path instead of dropping (at 100 TB, silent row loss is an
    incident; a quarantine table is a diff)."""
    pred = F.lit(True)
    for c in required:
        pred = pred & F.col(c).isNotNull()
    good = df.where(pred)
    bad = df.where(~pred).withColumn(
        "__failed_columns",
        F.array_compact(
            F.array(*[F.when(F.col(c).isNull(), F.lit(c)) for c in required])
        ),
    )
    return good, bad


def observed(
    df: DataFrame, name: str, required: Sequence[str]
) -> tuple[DataFrame, Observation]:
    """Attach row/null counters to a stage; metrics surface after the first
    action via ``observation.get`` (E5 profiling parity — numbers instead of
    per-sample timing keys)."""
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("rows_seen")]
    for c in required:
        metrics.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}"))
    return df.observe(obs, *metrics), obs


def permissive_from_json(df: DataFrame, col: str, schema: str) -> DataFrame:
    """JSON decode that never fails: malformed input -> NULL (pair with
    drop_failed/quarantine for E1 semantics).

    Spark's PERMISSIVE from_json maps malformed input to an *all-null
    struct*, which would slip past null checks; normalize that (and inputs
    that parse to zero fields) to a NULL column so downstream skip/quarantine
    semantics are uniform."""
    parsed = F.from_json(F.col(col).cast("string"), schema)
    return df.withColumn(
        col, F.when(F.to_json(parsed) == "{}", F.lit(None)).otherwise(parsed)
    )
