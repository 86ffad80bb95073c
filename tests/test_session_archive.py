"""The driver JVM's class-data archive (``session._archive_launch``).

The Spark tests launch sessions in subprocesses whose ``XDG_CACHE_HOME`` is
a temporary directory, so they never touch this process's session or the
user's cache. The archive they share is dumped once per module.
"""

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from datapipelines_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TOP_LAYER = "source: shared objects file (top)"
_JVM_CRASH = "A fatal error has been detected by the Java Runtime Environment"

_SCRIPT = """
import atexit, glob, json, os, signal, sys, time
from pyspark import SparkContext
from datapipelines_spark.session import get_spark

extra = {"spark.driver.memory": "1g", **json.loads(sys.argv[1])}

def report(result):
    # a file of its own: a crashing JVM writes its report to this stdout
    with open(sys.argv[2], "a") as f:
        f.write(json.dumps(result) + "\\n")

spark = get_spark(app_name="archive-test", master="local[2]", shuffle_partitions=2,
                  extra_conf=extra)
total = spark.range(100).selectExpr("sum(id) AS s").collect()[0].s

def plus_one(batches):
    for b in batches:
        yield b + 1

ids = sorted(r.id for r in spark.range(0, 8, 1, 2).mapInPandas(plus_one, "id long").collect())
report({
    "sum": total,
    "ids": ids,
    "java_options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"),
    "marker": spark.conf.get("spark.datapipelines.test.marker", None),
})

if sys.argv[3:] == ["kill-dump"]:
    # registered after get_spark's hook, so it runs first: end the session,
    # then SIGKILL the JVM as soon as its dump file appears
    proc = SparkContext._gateway.proc
    cache = os.path.join(os.environ["XDG_CACHE_HOME"], "datapipelines_spark")

    def kill_during_dump():
        spark.stop()
        proc.stdin.close()
        deadline = time.monotonic() + 120
        while proc.poll() is None and not glob.glob(os.path.join(cache, "*.tmp")):
            if time.monotonic() > deadline:
                break
            time.sleep(0.005)
        seen = bool(glob.glob(os.path.join(cache, "*.tmp")))
        if proc.poll() is None:
            proc.send_signal(signal.SIGKILL)
        report({"tmp_seen": seen, "returncode": proc.wait()})

    atexit.register(kill_during_dump)
"""


def _run(tmp_path, xdg, extra_conf=None, mode=None, env_extra=None) -> tuple[list[dict], str]:
    """Run the session script; returns its result lines and all its output."""
    script = tmp_path / "archive_session.py"
    script.write_text(textwrap.dedent(_SCRIPT))
    results = tmp_path / "archive_results.jsonl"
    results.unlink(missing_ok=True)
    env = dict(os.environ)
    env.update(env_extra or {})
    env["XDG_CACHE_HOME"] = str(xdg)
    env["PYTHONPATH"] = REPO_ROOT
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    args = [sys.executable, str(script), json.dumps(extra_conf or {}), str(results)]
    args += [mode] if mode else []
    out = subprocess.run(
        args, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [json.loads(line) for line in results.read_text().splitlines()] if results.exists() else []
    assert lines, f"no result lines\nstdout:\n{out.stdout[-2000:]}\nstderr:\n{out.stderr[-2000:]}"
    assert lines[0]["sum"] == 4950 and lines[0]["ids"] == list(range(1, 9)), lines
    return lines, out.stdout + out.stderr


def _archives(xdg) -> list[str]:
    return glob.glob(os.path.join(xdg, "datapipelines_spark", "*.jsa"))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache holding one archive, dumped by a first launch, and a copy of
    that archive to restore it from."""
    xdg = tmp_path_factory.mktemp("xdg")
    first = _run(tmp_path_factory.mktemp("cold"), xdg)[0][0]
    assert first["java_options"].startswith("-XX:ArchiveClassesAtExit="), first
    (archive,) = _archives(xdg)
    pristine = tmp_path_factory.mktemp("pristine") / "archive.jsa"
    shutil.copyfile(archive, pristine)
    return xdg, archive, pristine


@pytest.fixture
def cache(built):
    """The built cache, restored to its one archive after the test."""
    xdg, archive, pristine = built
    yield xdg, archive
    for path in glob.glob(os.path.join(xdg, "datapipelines_spark", "*.*")):
        if not path.endswith(".lock"):
            os.remove(path)
    shutil.copyfile(pristine, archive)


# ---------------------------------------------------------------------------
# Spark-free: eligibility and key


def _spark_home(tmp_path, conf_files=("spark-defaults.conf.template", "workers.template")):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("# inert\n")
    for name in ("spark-core.jar", "spark-sql.jar"):
        (home / "jars" / name).write_bytes(b"PK")
    return home


@pytest.fixture
def plain_env(monkeypatch):
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)


def test_conf_dir_of_templates_is_eligible(tmp_path, plain_env):
    assert session._archive_eligible(str(_spark_home(tmp_path)))


def test_missing_conf_dir_is_eligible(tmp_path, plain_env, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "absent"))
    assert session._archive_eligible(str(_spark_home(tmp_path)))


def test_conf_dir_with_real_file_is_not_eligible(tmp_path, plain_env):
    home = _spark_home(tmp_path, ("spark-defaults.conf", "workers.template"))
    assert not session._archive_eligible(str(home))


def test_non_empty_hadoop_conf_dir_is_not_eligible(tmp_path, plain_env, monkeypatch):
    home = _spark_home(tmp_path)
    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert session._archive_eligible(str(home))
    (hadoop / "core-site.xml").write_text("<configuration/>")
    assert not session._archive_eligible(str(home))


def test_key_follows_jar_mtime_and_jvm(tmp_path, monkeypatch):
    home = _spark_home(tmp_path)
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "lib" / "server" / "libjvm.so").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jdk))

    def key():
        return session._archive_key(str(home), "/cache/conf", "")

    first = key()
    assert key() == first
    jar = home / "jars" / "spark-sql.jar"
    os.utime(jar, ns=(jar.stat().st_atime_ns, jar.stat().st_mtime_ns + 1_000_000_000))
    second = key()
    assert second != first
    (jdk / "lib" / "server" / "libjvm.so").write_text("rebuilt")
    assert key() != second
    assert session._archive_key(str(home), "/other/conf", "") != key()


# ---------------------------------------------------------------------------
# Spark launches, in subprocesses


def test_second_launch_maps_the_archive(cache, tmp_path):
    xdg, archive = cache
    log = tmp_path / "class-load.log"
    extra = {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"}
    result = _run(tmp_path, xdg, extra)[0][0]
    assert result["java_options"].startswith(f"-XX:SharedArchiveFile={archive} "), result
    mapped = sum(_TOP_LAYER in line for line in log.read_text().splitlines())
    assert mapped > 1000, mapped


def test_junk_archive_still_gives_a_working_session(cache, tmp_path):
    xdg, archive = cache
    key = os.path.basename(archive).split("-")[0]
    os.remove(archive)
    junk = os.path.join(os.path.dirname(archive), f"{key}-4096.jsa")
    with open(junk, "wb") as f:
        f.write(os.urandom(4096))
    # the size matches its name, so the JVM is handed the junk, and skips it
    (result,), output = _run(tmp_path, xdg)
    assert _JVM_CRASH not in output
    assert result["java_options"].startswith(f"-XX:SharedArchiveFile={junk} "), result


def test_truncated_archive_is_dropped_and_launch_is_plain(cache, tmp_path):
    xdg, archive = cache
    with open(archive, "rb") as f:
        head = f.read(50_000_000)
    os.remove(archive)
    with open(archive, "wb") as f:
        f.write(head)
    (result,), output = _run(tmp_path, xdg)
    assert result["java_options"] is None, result
    assert _JVM_CRASH not in output  # never handed to the JVM
    assert _archives(xdg) == []


def test_archive_corrupted_in_place_falls_back_to_plain(cache, tmp_path):
    # same size as promoted, so it is mapped; the JVM crashes on it, and
    # the launch is retried plain
    xdg, archive = cache
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        f.seek(os.path.getsize(archive) // 2)
        f.write(bytes(10_000_000))
    (result,), output = _run(tmp_path, xdg)
    assert _JVM_CRASH in output
    assert result["java_options"] is None, result
    assert _archives(xdg) == []


def test_real_conf_dir_launches_plain_and_takes_effect(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.datapipelines.test.marker from-defaults\n")
    xdg = tmp_path / "xdg"
    (result,), _ = _run(tmp_path, xdg, env_extra={"SPARK_CONF_DIR": str(conf)})
    assert result["marker"] == "from-defaults", result
    assert result["java_options"] is None, result
    assert not os.path.exists(xdg / "datapipelines_spark")


def test_killed_dump_leaves_no_archive(tmp_path):
    xdg = tmp_path / "xdg"
    (launched, killed), _ = _run(tmp_path, xdg, mode="kill-dump")
    assert launched["java_options"].startswith("-XX:ArchiveClassesAtExit="), launched
    assert killed == {"tmp_seen": True, "returncode": -9}, killed
    leftovers = os.listdir(xdg / "datapipelines_spark")
    assert sorted(leftovers) == ["conf", "dump.lock"], leftovers
