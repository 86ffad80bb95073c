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
"""

from __future__ import annotations

import os

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
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
