"""Crash-safe replacement of a directory by a fully written sibling.

Sinks that replace a whole directory (the incremental view's state, a
vacuumed upsert version, an overwritten tar-shard set) write the new
contents into a staging dir beside it, then call ``replace_dir``: the old
dir is renamed aside, the staging renamed in, and the aside deleted last.
A crash leaves ``target`` in place or, between the two renames, absent
with its aside beside it. ``recover_dir``, run before the next write or
read, only restores: it never promotes a staging dir, whose write is run
again (a re-delivered micro-batch, a repeated call) or was never visible.
Directory rename is atomic on local and HDFS-like filesystems; object
stores need a manifest commit instead. ``os.rename``/``shutil.rmtree``
are called through their modules so crash tests can intercept each op.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence


def replace_dir(staging: str, target: str, aside: str) -> None:
    """Publish ``staging`` as ``target``; the previous ``target`` (if any)
    is moved to ``aside`` until the new one is in place, then deleted."""
    if os.path.exists(target):
        shutil.rmtree(aside, ignore_errors=True)
        os.rename(target, aside)
    os.rename(staging, target)
    shutil.rmtree(aside, ignore_errors=True)


def recover_dir(target: str, stagings: Sequence[str], asides: Sequence[str]) -> None:
    """Undo a ``replace_dir`` cut short: if ``target`` is absent, rename its
    aside back (at most one exists then), and delete every other leftover."""
    asides = list(asides)
    if asides and not os.path.exists(target):
        os.rename(asides.pop(), target)
    for d in [*stagings, *asides]:
        shutil.rmtree(d, ignore_errors=True)
