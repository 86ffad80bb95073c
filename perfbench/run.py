"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_prep --seed 1 --seconds 10 --trace 0

Runs one workload against the ``datapipelines_spark`` package of the
checkout this file sits in, on ``local[nproc]``, and prints a human-readable
report followed by one JSON line: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Everything it writes goes under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("corpus_prep", "shard_loader")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(cpus: int) -> None:
    """Run settings, from the benchmark side only: the Python workers import
    the package from this checkout, and Spark, the JVMs and Python keep
    their scratch files under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # both JVMs (launcher and driver): no hsperfdata files, temp under WORK
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def install_wrappers(tracer) -> None:
    """Record spans around every call into the two layers the catalog
    builders and operators call internally. Must run before those modules
    are imported elsewhere, since they bind the functions at import."""
    import datapipelines_spark.functions.caching as caching
    import datapipelines_spark.sources.parquet as parquet

    parquet.load_table = tracer.wrap("sources.parquet", parquet.load_table)
    caching.managed_persist = tracer.wrap("functions.caching", caching.managed_persist)


def end_to_end(outcome, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench import stats

    return {
        "items_per_s": stats.median(outcome.op_rates),
        "latency_p50_ms": stats.median(outcome.latencies_s) * 1e3,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(tracer, outcome, stages: list[dict], jobs: list[dict]) -> dict[str, float]:
    from perfbench import stats

    m = tracer.layer_metrics(stages, jobs)
    out = {name: m.get(name, 0.0) for name in stats.PER_LAYER}
    out["functions.caching.persists"] = m["functions.caching.calls"]
    cand = m.get("operators.dedup.lsh_candidates", 0.0)
    out["operators.dedup.lsh_verified_per_candidate"] = (
        m.get("operators.dedup.verified_pairs", 0.0) / cand if cand else 0.0
    )
    samples = m.get("sources.shards.samples", 0.0)
    out["operators.imageops.decode_errors_per_sample"] = (
        m.get("operators.imageops.decode_errors", 0.0) / samples if samples else 0.0
    )
    n_exec = m.get("queries.executions", 0.0)
    out["queries.jobs_per_query"] = (
        tracer.layer_inclusive("queries", stages, jobs)["jobs"] / n_exec if n_exec else 0.0
    )
    if outcome.traced_op_s and outcome.untraced_op_s:
        out["trace.overhead_ratio"] = (
            stats.median(outcome.traced_op_s) / outcome.untraced_op_s
        )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datapipelines_spark")):
        print(
            f"perfbench: no datapipelines_spark package in {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    # import the benchmark as the ``perfbench`` package, not as loose modules
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from perfbench import sparkrt, stats
    from perfbench.common import span
    from perfbench.spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    configure_env(cpus)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_wrappers(tracer)
    workload = importlib.import_module(f"perfbench.{args.workload}")
    t0 = time.perf_counter()
    inp = workload.prepare(WORK, args.seed)
    t_prepare = time.perf_counter() - t0
    conf = sparkrt.session_conf(WORK, tracer is not None)
    with sparkrt.RssSampler() as rss:
        with span(tracer, "session"):
            spark, setup_s = sparkrt.start(cpus, conf)
        try:
            t0 = time.perf_counter()
            outcome = workload.run(spark, inp, args.seconds, tracer)
            t_run = time.perf_counter() - t0
            if tracer is not None:
                stages, jobs = sparkrt.status_records(spark)
        finally:
            sparkrt.stop(spark)
    print(
        f"phases: inputs {t_prepare:.1f} s, setup {setup_s:.1f} s, "
        f"timed {outcome.wall_s:.1f} s, warm-up and checks "
        f"{t_run - outcome.wall_s:.1f} s",
        file=sys.stderr,
    )

    e2e = end_to_end(outcome, setup_s, rss.peak_mb)
    n = len(outcome.latencies_s)
    tail = stats.tail_percentile(n)
    print(f"workload={args.workload} seed={args.seed} cpus={cpus} "
          f"latency_samples={n} tail_rule_percentile={tail}")
    for name, value in e2e.items():
        alias = workload.ALIASES.get(name)
        label = f"{name} ({alias[0]})" if alias else name
        value_shown = value * alias[1] if alias else value
        unit = alias[2] if alias else stats.END_TO_END[name][0]
        print(f"  {label}: {value_shown:.6g} {unit}")
    for name, (value, unit) in outcome.named.items():
        print(f"  {name}: {value:.6g} {unit}")

    correct = outcome.failed == 0
    if tracer is None:
        units = {k: u for k, (u, _) in stats.END_TO_END.items()}
        print(stats.result_line(correct, outcome.attempted, outcome.failed, e2e, units))
    else:
        layers = per_layer(tracer, outcome, stages, jobs)
        path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.dump(path, stages, jobs)
        print(f"spans written to {path}", file=sys.stderr)
        units = {k: u for k, (u, _) in stats.PER_LAYER.items()}
        print(stats.result_line(correct, outcome.attempted, outcome.failed, layers, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
