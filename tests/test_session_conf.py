"""Session factory posture: the confs that encode scale/timeout policy must
actually be set on the live session (VERDICT r2 #7 — coarse E4 equivalent),
and Python workers must run through the package's worker daemon."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_task_reaper_and_core_confs(spark):
    conf = spark.sparkContext.getConf()
    # E4 coarse equivalent: hung-JVM-stage containment via the task reaper.
    assert conf.get("spark.task.reaper.enabled") == "true"
    assert conf.get("spark.task.reaper.killTimeout") == "120s"
    # Python workers fork from the stat-checked zip-import daemon.
    assert conf.get("spark.python.daemon.module") == "datapipelines_spark._daemon"
    # Scale posture that every plan in this repo assumes.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="invalidate_caches no longer re-reads zips on 3.13+"
)
def test_workers_do_not_reread_unchanged_zips(spark):
    # Spark calls invalidate_caches before every task; without the daemon
    # each call re-parses pyspark.zip once per importer (~16 reads, ~150 ms)
    def zip_reads_per_invalidate(_):
        import importlib
        import zipimport

        read_directory = zipimport._read_directory
        calls = [0]

        def counting(archive):
            calls[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield calls[0]

    rdd = spark.sparkContext.parallelize(range(8), 8)
    for _ in range(2):
        assert rdd.mapPartitions(zip_reads_per_invalidate).collect() == [0] * 8


def test_workers_fork_with_pandas_and_pyarrow_frozen(spark):
    # the daemon freezes its preloaded heap before forking, so the
    # gc.collect() after every task skips pandas and pyarrow
    def heap(batches):
        import gc

        import pandas as pd
        import pyarrow as pa

        for _ in batches:
            pass
        tracked = gc.get_objects()
        yield pd.DataFrame(
            {
                "frozen": [gc.get_freeze_count()],
                "libs_tracked": [any(o is pd or o is pa for o in tracked)],
            }
        )

    df = spark.range(0, 8, 1, 8)
    for _ in range(2):
        rows = df.mapInPandas(heap, "frozen long, libs_tracked boolean").collect()
        assert len(rows) == 8
        assert all(r.frozen > 10_000 for r in rows), rows
        assert not any(r.libs_tracked for r in rows), rows


def test_add_py_file_after_workers_are_warm(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(8), 8).count()
    archive = tmp_path / "dps_late_dep.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("dps_late_dep.py", "VALUE = 'shipped late'\n")
    sc.addPyFile(str(archive))

    def use(_):
        import dps_late_dep

        yield dps_late_dep.VALUE

    assert set(sc.parallelize(range(4), 4).mapPartitions(use).collect()) == {"shipped late"}


_ELSEWHERE = """
import sys
sys.path.insert(0, {root!r})
from datapipelines_spark.session import get_spark

spark = get_spark(master="local[2]", extra_conf={{"spark.driver.memory": "512m"}})

def package_name(rows):
    import datapipelines_spark
    yield datapipelines_spark.__name__

def tagged(batches):
    import datapipelines_spark
    for b in batches:
        b["pkg"] = datapipelines_spark.__name__
        yield b

print("rdd", spark.sparkContext.parallelize(range(2), 2).mapPartitions(package_name).collect())
rows = spark.range(0, 4, 1, 2).mapInPandas(tagged, "id long, pkg string").collect()
print("pandas", sorted({{r.pkg for r in rows}}), len(rows))
spark.stop()
"""


def test_session_launched_from_another_directory(tmp_path):
    # the daemon is a package module: workers must import it whatever the
    # caller's working directory and PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    script = tmp_path / "elsewhere.py"
    script.write_text(textwrap.dedent(_ELSEWHERE.format(root=REPO_ROOT)))
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert "rdd ['datapipelines_spark', 'datapipelines_spark']" in lines
    assert "pandas ['datapipelines_spark'] 4" in lines


@pytest.mark.parametrize("shuffle_partitions", [0, -3])
def test_shuffle_partitions_below_one_raises_before_launch(monkeypatch, shuffle_partitions):
    from datapipelines_spark import session

    def no_launch(*args, **kwargs):
        raise AssertionError("a session was launched")

    monkeypatch.setattr(session, "_archive_launch", no_launch)
    monkeypatch.setattr(session, "_launch", no_launch)
    with pytest.raises(ValueError, match="shuffle_partitions"):
        session.get_spark(shuffle_partitions=shuffle_partitions)
