"""Python worker daemon: ``pyspark.daemon`` with stat-checked zip imports.

Before every task a Spark Python worker runs
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python < 3.13 that makes every
``zipimport.zipimporter`` re-parse its archive's whole central directory —
one importer per package inside ``pyspark.zip`` (1328 entries) and the py4j
zip, ~14-16 in all. Measured on a 4-vCPU VM with Python 3.11.7 that is
~146 ms per call, and ~240-315 ms of worker CPU between two back-to-back
empty tasks. Python 3.13 made the call cheap (2.8 ms), so there the daemon
changes nothing.

This module patches ``zipimporter.invalidate_caches`` to re-read an archive
only when its ``os.stat`` ``(st_mtime_ns, st_size)`` differs from the stamp
taken when it was last read, then hands off to ``pyspark.daemon.manager``.
Workers are forked from the daemon, so each inherits the patch and the
stamps. An archive that does change — a zip shipped with ``addPyFile`` —
is still re-read, which is why Spark calls ``invalidate_caches`` at all.
A rewrite that keeps both the size and the mtime (within the filesystem's
timestamp resolution) goes unnoticed, as it would for any stat-based cache.

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
"""

from __future__ import annotations

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


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        # stamp the archives already on the import path, before any fork
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
