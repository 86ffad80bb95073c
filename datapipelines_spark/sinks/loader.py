"""Training-loader sink: DataFrame → iterator of collated dict-of-numpy batches.

Reference parity for ``create_loader`` + ``dict_collation_fn``
(/root/reference/sdata/dataset.py:51-121 and :14-48): the reference batches
``batch_size`` consecutive sample dicts and collates them into a dict of
same-length columns (scalars → np.array, tensors stacked, other → list).

A DataFrame already *is* columnar, so collation is a representation change,
not a compute step. The sink streams rows to the driver with
``df.toLocalIterator(prefetchPartitions=True)`` — one partition at a time,
with the next one computed while the current one is consumed — and
assembles batches only there, as the reference's DataLoader funnels batches
into the training process. Nothing upstream ever collects.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame


def dict_collate(rows: list[dict]) -> dict:
    """Collate row dicts → dict of columns, reference semantics
    (dataset.py:26 keeps only keys present in every row; numeric → np.array,
    arrays → stacked np.array when shapes agree, else list)."""
    if not rows:
        return {}
    keys = set(rows[0])
    for r in rows[1:]:
        keys &= set(r)
    out: dict = {}
    for k in sorted(keys):
        vals = [r[k] for r in rows]
        first = vals[0]
        if isinstance(first, (int, float, bool, np.number)):
            out[k] = np.asarray(vals)
        elif isinstance(first, (list, np.ndarray)):
            arrs = [np.asarray(v) for v in vals]
            if len({a.shape for a in arrs}) == 1:
                out[k] = np.stack(arrs)
            else:
                out[k] = vals
        else:
            out[k] = vals
    return out


def create_loader(
    df: DataFrame,
    batch_size: int = 256,
    partial: bool = True,
    collation_fn=dict_collate,
) -> Iterator[dict]:
    """Yield collated batches of ``batch_size`` rows (B1/B2/B3 parity).

    ``partial=False`` drops the trailing short batch, matching the
    reference's ``.batched(partial=...)`` flag (dataset.py:91-93).
    ``toLocalIterator`` pulls one partition at a time — driver memory stays
    O(partition), not O(dataset). ``batch_size < 1`` raises ``ValueError``
    at the call, before any job runs.
    """
    if batch_size < 1:
        raise ValueError(f"create_loader: batch_size must be >= 1, got {batch_size}")
    return _batches(df, batch_size, partial, collation_fn)


def _batches(df: DataFrame, batch_size: int, partial: bool, collation_fn) -> Iterator[dict]:
    buf: list[dict] = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row.asDict(recursive=True))
        if len(buf) == batch_size:
            yield collation_fn(buf)
            buf = []
    if buf and partial:
        yield collation_fn(buf)
