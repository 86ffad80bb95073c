"""Spark process lifecycle for the benchmark: session start with the run
settings, warm-up, full shutdown (JVM and Python workers), the status-store
read the traced run attributes to spans, and a peak-RSS sampler."""

from __future__ import annotations

import json
import os
import threading
import time

#: confs the benchmark sets on top of ``get_spark``'s defaults; paths are
#: filled in by ``session_conf``
BASE_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
}


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = dict(BASE_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # a fixed heap, touched at launch: otherwise the JVM's resident memory,
    # and so peak_rss_mb, follows how far the collector grew and touched
    # the heap, which differs from run to run by several hundred MB
    conf["spark.driver.extraJavaOptions"] = (
        f"-Xms{BASE_CONF['spark.driver.memory']} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
    )
    if trace:
        # the traced run reads every stage and job back from the status store
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedTasks"] = "10"
    return conf


def warm_up(spark, cpus: int) -> None:
    """One JVM job and one Python-worker job per core, so the first timed
    operation finds codegen warm and the worker pool running."""
    spark.range(1000).selectExpr("sum(id)").collect()

    def ident(batches):
        yield from batches

    spark.range(0, cpus * 64, 1, cpus).mapInPandas(ident, "id long").count()


def start(cpus: int, conf: dict[str, str]):
    """Launch the JVM and session, warm up; returns (spark, seconds)."""
    from datapipelines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    warm_up(spark, cpus)
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit,
    so the next ``start`` pays the full launch again."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def status_records(spark) -> tuple[list[dict], list[dict]]:
    """Every stage and job the status store holds, as plain dicts with epoch
    millisecond submission times (one JSON round trip through the JVM)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    stages = store.stageList(
        None,
        False,
        False,
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    jobs = store.jobsList(None)
    return json.loads(mapper.writeValueAsString(stages)), json.loads(
        mapper.writeValueAsString(jobs)
    )


# ---------------------------------------------------------------------------
# memory


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    children = _children_map()
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        stack.extend(children.get(pid, ()))
    return total / 1e6


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a daemon
    thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
