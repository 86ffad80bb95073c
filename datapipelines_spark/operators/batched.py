"""Batch-level transforms (M6 parity).

The reference's ``BatchedEinopsTransform``
(/root/reference/sdata/mappers/batched_mappers.py:9-34) applies
rearrange/repeat/reduce to already-collated batches. A DataFrame is columnar
already, so batch-level work is ``mapInPandas``: the engine hands the
transform a pandas DataFrame per Arrow batch — the same dict-of-columns
shape the reference's batched mappers see — and batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py).

Reduce-style patterns ('b h w c -> b') should be native aggregates instead;
this operator exists for genuinely imperative per-batch logic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def batched_transform(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    on_error: str = "fail",
) -> DataFrame:
    """Apply ``fn`` to each Arrow batch (pandas in, pandas out).

    ``on_error='skip'`` drops a failing batch (E1 at batch granularity,
    matching how the reference's loader-level handler skips whole collated
    batches); 'fail' re-raises.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                yield fn(pdf)
            except Exception:  # noqa: BLE001
                if on_error != "skip":
                    raise

    return df.mapInPandas(run, schema)
