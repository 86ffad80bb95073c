"""Python worker daemon: ``pyspark.daemon`` with stat-checked zip imports
and a frozen, preloaded heap.

Spark forks every Python worker from this daemon and reuses it for later
tasks. The daemon prepares two things before the first fork.

Zip imports (Python < 3.13). Before every task a Spark Python worker runs
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python < 3.13 that makes every
``zipimport.zipimporter`` re-parse its archive's whole central directory —
one importer per package inside ``pyspark.zip`` (1328 entries) and the py4j
zip, ~14-16 in all. Measured on a 4-vCPU VM with Python 3.11.7 that is
~146 ms per call, and ~240-315 ms of worker CPU between two back-to-back
empty tasks. Python 3.13 made the call cheap (2.8 ms), so there the zip
patch is not installed.

The daemon patches ``zipimporter.invalidate_caches`` to re-read an archive
only when its ``os.stat`` ``(st_mtime_ns, st_size)`` differs from the stamp
taken when it was last read. Workers are forked from the daemon, so each
inherits the patch and the stamps. An archive that does change — a zip
shipped with ``addPyFile`` — is still re-read, which is why Spark calls
``invalidate_caches`` at all. A rewrite that keeps both the size and the
mtime (within the filesystem's timestamp resolution) goes unnoticed, as it
would for any stat-based cache.

Frozen heap (every Python version). A reused worker runs a full
``gc.collect()`` after every task, and its next task waits for it. Once a
worker has imported pandas and pyarrow that walks ~73k objects, 28-85 ms
per task on the same VM. The daemon imports the modules every Arrow worker
loads, collects once and calls ``gc.freeze()``: everything alive at that
point moves to the permanent generation, which later collections skip.
Each worker inherits the libraries already imported and frozen, so its
per-task collection walks only the objects made after the fork (~500,
~0.1 ms). Cyclic garbage among frozen objects is never collected; they
are module-level objects that live as long as the worker anyway.

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

#: archive path -> (stat stamp taken before the read, directory it read)
_read_stamps: dict[str, tuple[tuple[int, int], dict]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    # stat before reading: a change racing the read leaves a stale stamp,
    # so the next call re-reads rather than missing the change
    stamp = _stamp(self.archive)
    seen = _read_stamps.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    if stamp is not None:
        _read_stamps[self.archive] = (stamp, self._files)


def _preload_and_freeze() -> None:
    """Import what every Arrow worker loads, then freeze the whole heap so
    that the collection after each task skips it."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        # stamp the archives already on the import path, before any fork
        importlib.invalidate_caches()
    from pyspark import daemon

    # after the zip stamping, so that the directories it read are frozen too
    _preload_and_freeze()
    daemon.manager()
