"""The worker daemon (``datapipelines_spark/_daemon.py``), without Spark:
its stat-checked ``zipimporter.invalidate_caches`` does not re-read an
unchanged archive, re-reads a rewritten one and imports its new modules;
its preload-and-freeze step leaves pandas and pyarrow out of the heap that
``gc`` walks."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from datapipelines_spark import _daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

zip_patch_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the daemon patches zipimport only on Python < 3.13"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture()
def reads(monkeypatch):
    """Install the patch for this test only; returns the archives whose
    directory ``zipimport`` read, in order."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon._invalidate_if_changed)
    monkeypatch.setattr(_daemon, "_read_stamps", {})
    seen: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield seen
    for name in [m for m in sys.modules if m.startswith("dps_zipmod")]:
        del sys.modules[name]


def _archive_reads(reads, archive) -> int:
    return sum(1 for a in reads if a == str(archive))


@zip_patch_only
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"dps_zipmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("dps_zipmod_a").X == 1
    importlib.invalidate_caches()  # first sighting stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert _archive_reads(reads, archive) == 0


@zip_patch_only
def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, monkeypatch, reads):
    archive = tmp_path / "mods.zip"
    files = {"dps_zipmod_pkg/__init__.py": "", "dps_zipmod_pkg/old.py": "X = 1\n"}
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(str(archive))
    # two importers share the archive: the top level and the package's
    # own path entry, as for every package inside pyspark.zip
    assert importlib.import_module("dps_zipmod_pkg.old").X == 1
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(archive, {**files, "dps_zipmod_pkg/new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    # one read serves both importers
    assert _archive_reads(reads, archive) == 1
    assert importlib.import_module("dps_zipmod_pkg.new").Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert _archive_reads(reads, archive) == 0


_FREEZE = """
import gc
import sys

from datapipelines_spark import _daemon

_daemon._preload_and_freeze()
tracked = gc.get_objects()
print(gc.get_freeze_count())
print(any(o is sys.modules[m] for o in tracked for m in ("pandas", "pyarrow")))
"""


def test_preload_and_freeze_moves_pandas_and_pyarrow_out_of_gc():
    # a subprocess: freezing this pytest process would outlive the test
    out = subprocess.run(
        [sys.executable, "-c", _FREEZE],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    frozen, libs_tracked = out.stdout.split()
    assert int(frozen) > 10_000
    assert libs_tracked == "False"
