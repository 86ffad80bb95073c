"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, stats
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected", [(100, 90), (1000, 99), (50, 80), (20, 50), (11, 9), (10, None), (3, None)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_is_the_highest_with_ten_beyond():
    rng = random.Random(0)
    for n in range(11, 400, 7):
        values = [rng.random() for _ in range(n)]
        p = stats.tail_percentile(n)
        assert sum(v > stats.percentile(values, p) for v in values) >= 10
        if p < 99:
            assert sum(v > stats.percentile(values, p + 1) for v in values) < 10


def test_percentile_nearest_rank_and_median():
    values = list(range(1, 101))
    random.Random(1).shuffle(values)
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- spans -------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _nested_trace():
    """parent [0, 10] > child [2, 5] > grandchild [3, 4]; sibling [6, 9]."""
    clock = FakeClock()
    tr = Tracer(clock=clock, wall_ms=lambda: clock.t * 1000.0)
    with tr.span("operators.dedup"):
        clock.t = 2.0
        with tr.span("operators.components"):
            clock.t = 3.0
            with tr.span("functions.caching"):
                clock.t = 4.0
            clock.t = 5.0
        clock.t = 6.0
        with tr.span("operators.bloom"):
            clock.t = 9.0
        clock.t = 10.0
    return tr


def test_self_time_subtracts_children():
    tr = _nested_trace()
    own = tr.self_values(tr.inclusive([], []))
    assert [round(v["self_s"], 9) for v in own] == [4.0, 2.0, 1.0, 3.0]
    m = tr.layer_metrics([], [])
    assert m["operators.dedup.self_s"] == pytest.approx(4.0)
    assert m["operators.components.self_s"] == pytest.approx(2.0)
    assert m["operators.dedup.calls"] == 1
    assert sum(m[f"{layer}.self_s"] for layer in ("operators.dedup", "operators.components",
               "functions.caching", "operators.bloom")) == pytest.approx(10.0)


def test_status_store_records_land_on_the_innermost_span():
    tr = _nested_trace()

    def stage(t_s, cpu_s, failed=0):
        return {"submissionTime": t_s * 1000.0, "numCompleteTasks": 2,
                "numFailedTasks": failed, "executorCpuTime": cpu_s * 1e9,
                "shuffleWriteBytes": 1e6, "jvmGcTime": 0}

    stages = [stage(1.0, 1.0), stage(3.5, 2.0, failed=1), stage(7.0, 4.0), stage(11.0, 8.0),
              {"submissionTime": None}]
    jobs = [{"submissionTime": 1000.0}, {"submissionTime": 3500.0}, {"submissionTime": 7000.0}]
    m = tr.layer_metrics(stages, jobs)
    assert m["operators.dedup.task_cpu_s"] == pytest.approx(1.0)
    assert m["functions.caching.task_cpu_s"] == pytest.approx(2.0)
    assert m["functions.caching.failed_tasks"] == 1
    assert m["functions.caching.tasks"] == 3
    assert m["operators.components.task_cpu_s"] == pytest.approx(0.0)
    assert m["operators.bloom.task_cpu_s"] == pytest.approx(4.0)
    assert m["operators.bloom.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["operators.dedup.jobs"] == 1 and m["functions.caching.jobs"] == 1
    inc = tr.layer_inclusive("operators.dedup", stages, jobs)
    assert inc["task_cpu_s"] == pytest.approx(7.0) and inc["jobs"] == 3


def test_dump_writes_every_span_with_its_self_values(tmp_path):
    tr = _nested_trace()
    path = tmp_path / "traces" / "t.json"
    tr.dump(str(path), [], [])
    spans = json.loads(path.read_text())["spans"]
    assert [s["layer"] for s in spans] == [
        "operators.dedup", "operators.components", "functions.caching", "operators.bloom"]
    assert [s["parent"] for s in spans] == [None, 0, 1, 0]
    assert spans[0]["self"]["self_s"] == pytest.approx(4.0)


def test_wrap_records_only_while_active():
    tr = Tracer()
    f = tr.wrap("sources.parquet", lambda x: x + 1)
    assert f(1) == 2 and tr.spans == []
    tr.active = True
    assert f(2) == 3 and [s.layer for s in tr.spans] == ["sources.parquet"]
    with pytest.raises(ValueError):
        with tr.span("not.a.layer"):
            pass


# -- metric names and units --------------------------------------------------


def test_catalog_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == stats.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == stats.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_every_metric_name_and_unit_is_valid():
    for name, (unit, better) in {**stats.END_TO_END, **stats.PER_LAYER}.items():
        assert stats.NAME_RE.match(name), name
        assert stats.UNIT_RE.match(unit), unit
        assert better in ("higher", "lower")


def test_result_line_carries_units_and_rejects_bad_names():
    units = {k: u for k, (u, _) in stats.END_TO_END.items()}
    values = {k: 1.5 for k in units}
    out = json.loads(stats.result_line(True, 3, 0, values, units))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"bad name": 1.0}, {"bad name": "s"})


# -- inputs and entry point --------------------------------------------------


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.corpus(str(tmp_path / "a"), 5, 200, 2)
    b = inputs.corpus(str(tmp_path / "b"), 5, 200, 2)
    c = inputs.corpus(str(tmp_path / "c"), 6, 200, 2)
    read = lambda d: open(os.path.join(d, "documents.parquet"), "rb").read()  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "shard_loader", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
