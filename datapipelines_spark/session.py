"""SparkSession factory tuned for this engine.

Local-mode defaults here are for the test/bench harness; the same builder
settings (AQE, skew-join handling, Arrow, pushdown) are what we would ship on a
1000-executor cluster — only master/memory/shuffle-partition count change.

Scale posture (100 TB):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- ``spark.sql.files.maxPartitionBytes`` kept at the 128 MB default so a scan of
  100 TB yields ~800k input splits — fine for a large cluster's scheduler.
- Arrow enabled for every pandas_udf / mapInPandas / toPandas path.
- Timezone pinned to UTC so timestamp semantics match the DuckDB oracle.
- Python workers fork from this package's daemon (``_daemon.py``), which
  stops each task from re-reading ``pyspark.zip``'s import directory on
  Python < 3.13, and forks them with pandas and pyarrow already imported
  and frozen out of the ``gc.collect()`` that follows every task;
  ``spark.executorEnv.PYTHONPATH`` points at the package root
  so the daemon imports from any working directory. On a cluster the
  package must be installed on the executors: the daemon starts before any
  ``addPyFile`` reaches them.
- The driver JVM launches from a dynamic class-data archive (JDK 13+'s
  AppCDS, JEP 350) instead of loading and verifying Spark's ~14k classes
  again on every launch. The archive lives in
  ``$XDG_CACHE_HOME/datapipelines_spark/`` (else ``~/.cache/...``), one per
  key: the JVM build, the Spark home, its jars by size and mtime, and the
  rest of the driver classpath. A launch that finds none passes
  ``-XX:ArchiveClassesAtExit`` and dumps one to a temporary name when its
  JVM exits, which takes ~11 s longer; this process renames it to the final
  name, which carries its size, only after that JVM exited with status 0
  (``_ArchiveDump``). Later launches pass ``-XX:SharedArchiveFile``. The
  flags go in ``spark.driver.defaultJavaOptions``, ahead of any the caller
  sets there; ``extraJavaOptions`` stays the caller's. The JVM dumps no
  classpath holding a non-empty directory and the launcher always adds the
  conf dir, so a conf dir that is missing or holds only ``*.template``
  files is swapped, for that launch, for an empty one in the cache. A real
  conf file, a non-empty ``HADOOP_CONF_DIR``/``YARN_CONF_DIR``, an
  unwritable cache, an earlier dump that produced nothing, another process
  dumping, or an archive whose size no longer matches its name means a
  plain launch; a JVM that dies mapping an archive has it deleted and the
  launch retried plain.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: directory holding the ``datapipelines_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ANSI off: silent-null on bad casts matches the reference's permissive,
    # skip-and-continue posture (SURVEY §2.7 E1) and DuckDB's TRY_CAST-style
    # oracle comparisons.
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Coarse per-stage timeout posture (reference E4 parity: sdata watchdogs
    # every operator call with a per-call timeout, datapipeline.py:31-83).
    # Spark has no per-row timeout on JVM stages; the engine's Python stages
    # use SIGALRM (operators/multimodal.py). JVM-side the honest statement
    # is: the task reaper only ESCALATES a task that has already received a
    # kill request (it terminates the executor JVM if the task ignores the
    # kill for killTimeout) — it does not itself time out a hung task. Kill
    # requests come from speculation re-launches or stage cancellation,
    # which exist on a real cluster (enable spark.speculation there; it is
    # meaningless on local[n]). So: reaper = containment once a kill is
    # issued; the per-row JVM timeout remains a documented gap (SURVEY
    # §7.6). Reaper confs are static SparkConf — set at JVM launch, hence
    # here in the session factory.
    "spark.task.reaper.enabled": "true",
    "spark.task.reaper.pollingInterval": "10s",
    "spark.task.reaper.killTimeout": "120s",
    # Workers fork from a daemon that skips re-reading unchanged zip
    # archives on every task and freezes its preloaded heap (_daemon.py).
    # Spark prepends its own pyspark.zip/py4j paths and appends the JVM's
    # PYTHONPATH to this one.
    "spark.python.daemon.module": "datapipelines_spark._daemon",
    "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
}

#: seconds an exiting process waits for its JVM to finish dumping the
#: class-data archive (the dump itself takes ~12 s on 4 vCPUs)
_DUMP_EXIT_TIMEOUT_S = 120


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "datapipelines_spark")


def _listing(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _archive_eligible(spark_home: str) -> bool:
    """Whether the driver classpath can be archived. The JVM dumps no
    classpath holding a non-empty directory, and the launcher always puts
    the conf dir on it: a conf dir that is missing or holds only
    ``*.template`` files (never read) is swapped for an empty one, while a
    real conf file, or a Hadoop or YARN conf dir with files in it, means a
    plain launch."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if any(not name.endswith(".template") for name in _listing(conf_dir)):
        return False
    return not any(_listing(os.environ.get(v, "")) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"))


def _archive_key(spark_home: str, conf_dir: str, extra_class_path: str) -> str:
    """Hash of what an archive is valid for: the JVM build (the launcher's
    ``java`` and its ``libjvm``) and every driver classpath entry, Spark's
    jars by size and mtime. Raises ``OSError`` if a file cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    jars = os.path.join(spark_home, "jars")
    files = [java, *glob.glob(os.path.join(jdk, "lib", "server", "libjvm.*"))]
    files += [os.path.join(jars, name) for name in sorted(os.listdir(jars))]
    parts = [os.path.realpath(spark_home), conf_dir, extra_class_path]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS"):
        parts.append(os.environ.get(var, ""))
    for path in files:
        st = os.stat(path)
        parts.append(f"{path} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:24]


class _ArchiveDump:
    """A launch that dumps the class-data archive at JVM exit. It holds the
    cache's dump lock until ``finish``, so a key is dumped at most once at a
    time. The JVM writes to a temporary name, and only this process renames
    it to the final one, after its JVM has exited with status 0: mapping a
    partial archive crashes the JVM."""

    def __init__(self, cache: str, key: str, lock_fd: int):
        self.cache, self.key, self.lock_fd = cache, key, lock_fd
        self.pid = os.getpid()
        self.tmp = os.path.join(cache, f"{key}.{self.pid}.tmp")

    def finish(self, proc: subprocess.Popen | None) -> None:
        """Wait, bounded, for the gateway JVM ``proc`` to exit, then promote
        its archive; a dump that produced nothing leaves a marker so that no
        later launch pays for it again. Runs at interpreter exit."""
        if os.getpid() != self.pid:  # a forked child inherited the hook
            return
        try:
            if proc is not None and proc.poll() is None:
                active = SparkContext._active_spark_context
                if active is not None:
                    active.stop()  # else its accumulator server sees the JVM go
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=_DUMP_EXIT_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            if proc is None or proc.returncode != 0:
                return
            size = os.path.getsize(self.tmp) if os.path.isfile(self.tmp) else 0
            if not size:
                open(os.path.join(self.cache, f"{self.key}.failed"), "w").close()
                return
            # the size in the name is checked before every use
            final = f"{self.key}-{size}.jsa"
            os.replace(self.tmp, os.path.join(self.cache, final))
            for name in os.listdir(self.cache):
                if name != final and name.endswith((".jsa", ".failed", ".tmp")):
                    os.remove(os.path.join(self.cache, name))
        except OSError:
            pass
        finally:
            try:
                os.remove(self.tmp)
            except OSError:
                pass
            os.close(self.lock_fd)


@dataclass
class _ArchiveLaunch:
    conf_dir: str
    #: the archive to map, or the dump that writes one at JVM exit
    archive: str | None = None
    dump: _ArchiveDump | None = None

    @property
    def java_options(self) -> str:
        # -Xlog:cds*=off: a skipped archive or the dump's thousands of
        # signed-jar warnings never reach the console
        if self.dump is not None:
            return f"-XX:ArchiveClassesAtExit={self.dump.tmp} -Xlog:cds*=off"
        return f"-XX:SharedArchiveFile={self.archive} -Xlog:cds*=off"


def _archive_launch(extra_class_path: str) -> _ArchiveLaunch | None:
    """How to launch the driver JVM from a dynamic class-data archive
    (JEP 350) of this JDK and driver classpath: map the archive if one
    exists, else dump one at JVM exit. ``None`` means a plain launch: no
    JVM launches, the classpath cannot be archived, the cache is unusable,
    an earlier dump produced nothing, or another process is dumping."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    cache = _cache_dir()
    # the paths go on the classpath and into space-separated JVM options
    if not _archive_eligible(spark_home) or re.search(r"[\s'\"\\:]", cache):
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        key = _archive_key(spark_home, conf_dir, extra_class_path)
        names = os.listdir(cache)
        for name in names:
            if name.startswith(f"{key}-") and name.endswith(".jsa"):
                path = os.path.join(cache, name)
                if name == f"{key}-{os.path.getsize(path)}.jsa":
                    return _ArchiveLaunch(conf_dir, archive=path)
                os.remove(path)  # changed since it was promoted
                return None
        if f"{key}.failed" in names:
            return None
        lock_fd = os.open(os.path.join(cache, "dump.lock"), os.O_RDWR | os.O_CREAT, 0o600)
    except OSError:
        return None
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(lock_fd)
        return None
    return _ArchiveLaunch(conf_dir, dump=_ArchiveDump(cache, key, lock_fd))


def _launch(
    app_name: str, master: str, conf: dict[str, str], launch: _ArchiveLaunch | None
) -> SparkSession:
    """``getOrCreate`` the session; an archive launch adds its JVM options
    to ``spark.driver.defaultJavaOptions`` (``extraJavaOptions`` is the
    caller's, and the caller's own default options follow, so they win)
    and sets its conf dir for that launch only."""
    builder = SparkSession.builder.appName(app_name).master(master)
    if launch is not None:
        key = "spark.driver.defaultJavaOptions"
        conf = {**conf, key: " ".join(filter(None, (launch.java_options, conf.get(key))))}
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    proc = None
    try:
        spark = builder.getOrCreate()
        proc = getattr(SparkContext._gateway, "proc", None)
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        if launch.dump is not None:
            atexit.register(launch.dump.finish, proc)
    return spark


def get_spark(
    app_name: str = "datapipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32);
    ``shuffle_partitions`` defaults to the same width so local shuffles use
    every core without oversplitting tiny test data (AQE coalesces further).
    A new driver JVM launches from this JDK's class-data archive of the
    driver classpath, which the first launch dumps (module docstring).
    """
    if shuffle_partitions is not None and shuffle_partitions < 1:
        raise ValueError(f"shuffle_partitions must be >= 1, got {shuffle_partitions}")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    launch = _archive_launch(conf.get("spark.driver.extraClassPath", ""))
    try:
        spark = _launch(app_name, master, conf, launch)
    except PySparkRuntimeError as e:
        if launch is None or launch.archive is None or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # the JVM died mapping the archive (it was corrupted in place):
        # drop it, so the next launch dumps a new one, and launch plain
        try:
            os.remove(launch.archive)
        except OSError:
            pass
        spark = _launch(app_name, master, conf, None)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
