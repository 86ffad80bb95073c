"""Differential fuzz for STREAMING replay semantics.

The batch fuzz surfaces (joins/windows/setops/scalars/rollup) are covered by
tests/test_differential_fuzz.py; what was left unpinned is the WATERMARK
EMISSION boundary — which windows a bounded append-mode replay flushes for a
given (watermark delay × window width) pair.

Oracle: the engine's own BATCH window aggregation plus the documented
emission rule (queries/streamrep.py module docstring, verified empirically
on Spark 4.1): the final watermark of a bounded replay is
``max(event_ts) - delay``, and the no-data batch after the last file flushes
exactly the windows with ``end <= watermark``. A window ending exactly ON
the watermark IS emitted; the window containing ``max_ts`` is not.

Each example starts a real streaming query (file replay -> watermarked
tumbling agg -> memory sink), so examples are capped and the fixture is the
small sf0.001 events table.
"""

import itertools

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datapipelines_spark.streaming.windows import (
    read_events_stream,
    run_bounded_to_memory,
)

_SEQ = itertools.count()

#: width/delay grids in minutes: mixes aligned (60/120) and awkward (7/13/
#: 45/90) widths with delays shorter, equal to, and longer than the widths,
#: including zero (the streamrep queries' own setting).
WIDTHS_MIN = [7, 13, 30, 45, 60, 90, 120]
DELAYS_MIN = [0, 10, 37, 60, 180]


def _batch_expected(spark, sf_dir: str, width_min: int, delay_min: int):
    """Batch replica + emission rule: tumbling windows of ``width_min``
    whose end is <= max(ts) - delay."""
    from datapipelines_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    width_us = width_min * 60_000_000
    start = us - (us % width_us)
    agg = (
        ev.select(start.alias("window_start_us"), "value")
        .groupBy("window_start_us")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    max_us = ev.agg(F.max(us)).collect()[0][0]
    watermark_us = max_us - delay_min * 60_000_000
    return {
        r["window_start_us"]: (r["n_events"], r["sum_value"])
        for r in agg.where(
            F.col("window_start_us") + width_us <= F.lit(watermark_us)
        ).collect()
    }


@settings(
    max_examples=7,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    width_min=st.sampled_from(WIDTHS_MIN),
    delay_min=st.sampled_from(DELAYS_MIN),
)
def test_tumbling_replay_matches_batch_emission_rule(
    spark, sf_dir, width_min, delay_min
):
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", f"{delay_min} minutes")
        .groupBy(F.window("ts", f"{width_min} minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )
    out = run_bounded_to_memory(
        agg, f"fuzz_tumbling_{next(_SEQ)}", output_mode="append"
    )
    got = {
        r["window_start_us"]: (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    expect = _batch_expected(spark, sf_dir, width_min, delay_min)
    assert set(got) == set(expect), (
        f"width={width_min}m delay={delay_min}m: stream emitted "
        f"{sorted(set(got) ^ set(expect))} asymmetric windows "
        f"({len(got)} vs {len(expect)})"
    )
    for w in expect:
        assert got[w][0] == expect[w][0], f"n_events mismatch in window {w}"
        # double sums may differ by accumulation order between the batch
        # and streaming partial aggregates — compare to 6 decimals, the
        # same tolerance the oracle hash discipline uses
        assert got[w][1] == pytest.approx(expect[w][1], abs=1e-6)
