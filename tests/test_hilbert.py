"""Hilbert layout (operators/zorder.py): the FST compilation must equal the
classic xy2d recursion on the full grid, consecutive codes must be adjacent
cells (the locality property Morton lacks), and the written layout must
prune both dimensions at least as well as Z-order."""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from datapipelines_spark.operators.zorder import (
    hilbert_code,
    hilbert_layout,
    zorder_layout,
)


def _xy2d_reference(n, x, y):
    """The textbook recursion the FST tables were compiled from."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def _grid_codes(spark, bits):
    n = 1 << bits
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    return {
        (r["x"], r["y"]): r["h"]
        for r in grid.select(
            "x", "y", hilbert_code(F.col("x"), F.col("y"), bits).alias("h")
        ).collect()
    }


def test_fst_equals_reference_recursion_full_grid(spark):
    bits = 4
    n = 1 << bits
    got = _grid_codes(spark, bits)
    for (x, y), h in got.items():
        assert h == _xy2d_reference(n, x, y), (x, y)


def test_consecutive_codes_are_adjacent_cells(spark):
    bits = 4
    n = 1 << bits
    pos = {h: xy for xy, h in _grid_codes(spark, bits).items()}
    assert sorted(pos) == list(range(n * n)), "codes must be a bijection"
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = pos[d], pos[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, f"jump at {d}"


def _file_spans(path, cols):
    spans = []
    files = sorted(
        glob.glob(os.path.join(path, "*.parquet"))
        + glob.glob(os.path.join(path, "*", "*.parquet"))
    )
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins = {c: None for c in cols}
        maxs = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in cols and col.statistics is not None:
                    c, st = col.path_in_schema, col.statistics
                    mins[c] = st.min if mins[c] is None else min(mins[c], st.min)
                    maxs[c] = st.max if maxs[c] is None else max(maxs[c], st.max)
        spans.append({c: (mins[c], maxs[c]) for c in cols})
    return spans


def _hits(spans, col, lo, hi):
    return sum(1 for s in spans if not (s[col][1] < lo or s[col][0] > hi))


def test_hilbert_layout_prunes_both_dimensions(spark, tmp_path):
    """Written-layout check, now exact: a 16-way EQUAL-CODE Hilbert split
    of the full 256x256 grid makes each file one level-2 quadrant (a
    64x64 square — 4096 consecutive codes ARE one quadrant on a Hilbert
    curve), so a [100, 125] band sits inside the [64, 127] strip and hits
    exactly 4 of the 16 files on either dimension. Deterministic because
    the segments are equal CODE ranges, not sampled row-count ranges."""
    n = 256
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "a long, b long"
    )
    hdir = str(tmp_path / "h")
    hilbert_layout(grid, "a", "b", num_files=16).write.partitionBy(
        "hilbert_seg"
    ).parquet(hdir)
    hs = _file_spans(hdir, ["a", "b"])
    assert len(hs) == 16
    for s in hs:
        (a0, a1), (b0, b1) = s["a"], s["b"]
        assert (a0 % 64, b0 % 64) == (0, 0) and (a1 - a0, b1 - b0) == (63, 63), s
    for col in ("a", "b"):
        assert _hits(hs, col, 100, 125) == 4, f"{col}: expected exactly 1 strip"


def test_hilbert_locality_beats_morton_on_equal_segments(spark):
    """The actual locality theorem, measured deterministically: split each
    curve into EQUAL code segments (no sampled boundaries) over the full
    256x256 grid; the mean bounding-box half-perimeter of Hilbert segments
    — what a file's footer min/max covers — must beat Morton's, and no
    Hilbert segment's bbox may exceed the worst Morton bbox. The file
    count is deliberately NOT a power of 4: at power-of-4 counts both
    curves' segments are exact quadrant squares (identical bboxes) —
    Hilbert wins where segment boundaries cut mid-quadrant and Morton's
    cross-quadrant jumps fatten the box (measured here: mean 135 vs 170,
    worst 156 vs 317)."""
    from datapipelines_spark.operators.zorder import morton_code

    n, files = 256, 24
    seg = (n * n) // files
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "a long, b long"
    )

    def seg_of(code):
        return F.least((code / seg).cast("int"), F.lit(files - 1))

    coded = grid.select(
        "a",
        "b",
        seg_of(hilbert_code(F.col("a"), F.col("b"), 8)).alias("hseg"),
        seg_of(morton_code(F.col("a"), F.col("b"), 8)).alias("zseg"),
    )

    def half_perims(col):
        rows = (
            coded.groupBy(col)
            .agg(
                (F.max("a") - F.min("a") + F.max("b") - F.min("b")).alias("hp")
            )
            .collect()
        )
        return [r["hp"] for r in rows]

    h, z = half_perims("hseg"), half_perims("zseg")
    assert len(h) == files and len(z) == files
    assert sum(h) / files < sum(z) / files, (sum(h), sum(z))
    assert max(h) <= max(z), (max(h), max(z))


# --- 3-D ---------------------------------------------------------------


def _skilling_d(coords, bits):
    """Skilling's transpose algorithm (AIP Conf. Proc. 707, 2004) — the
    public reference the 24-state tables were compiled from."""
    n = len(coords)
    X = list(coords)
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:
        P = Q - 1
        for i in range(n):
            if X[i] & Q:
                X[0] ^= P
            else:
                tt = (X[0] ^ X[i]) & P
                X[0] ^= tt
                X[i] ^= tt
        Q >>= 1
    for i in range(1, n):
        X[i] ^= X[i - 1]
    tt = 0
    Q = M
    while Q > 1:
        if X[n - 1] & Q:
            tt ^= Q - 1
        Q >>= 1
    for i in range(n):
        X[i] ^= tt
    d = 0
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            d = (d << 1) | ((X[i] >> b) & 1)
    return d


def test_hilbert3_fst_equals_skilling_reference_full_grid(spark):
    from datapipelines_spark.operators.zorder import hilbert3_code

    bits = 3
    n = 1 << bits
    grid = spark.createDataFrame(
        [(x, y, z) for x in range(n) for y in range(n) for z in range(n)],
        "x long, y long, z long",
    )
    got = {
        (r["x"], r["y"], r["z"]): r["h"]
        for r in grid.select(
            "x", "y", "z",
            hilbert3_code(F.col("x"), F.col("y"), F.col("z"), bits).alias("h"),
        ).collect()
    }
    for (x, y, z), h in got.items():
        assert h == _skilling_d([x, y, z], bits), (x, y, z)


def test_hilbert3_consecutive_codes_are_adjacent_cells(spark):
    from datapipelines_spark.operators.zorder import hilbert3_code

    bits = 3
    n = 1 << bits
    grid = spark.createDataFrame(
        [(x, y, z) for x in range(n) for y in range(n) for z in range(n)],
        "x long, y long, z long",
    )
    pos = {
        r["h"]: (r["x"], r["y"], r["z"])
        for r in grid.select(
            "x", "y", "z",
            hilbert3_code(F.col("x"), F.col("y"), F.col("z"), bits).alias("h"),
        ).collect()
    }
    assert sorted(pos) == list(range(n**3)), "codes must be a bijection"
    for d in range(n**3 - 1):
        a, b = pos[d], pos[d + 1]
        assert sum(abs(i - j) for i, j in zip(a, b)) == 1, f"jump at {d}"


def test_hilbert3_locality_beats_morton3_on_equal_segments(spark):
    """3-D equal-segment bbox comparison at a non-power-of-8 file count:
    a Morton segment crossing an octant seam spans a whole cube edge,
    while every Hilbert segment stays connected."""
    from datapipelines_spark.operators.zorder import hilbert3_code

    bits, files = 3, 12
    n = 1 << bits
    seg = (n**3) // files
    grid = spark.createDataFrame(
        [(x, y, z) for x in range(n) for y in range(n) for z in range(n)],
        "a long, b long, c long",
    )

    def morton3(x, y, z):
        out = F.lit(0).cast("bigint")
        for i in range(bits):
            out = (
                out.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 3 * i))
                .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 3 * i + 1))
                .bitwiseOR(F.shiftleft(F.shiftright(z, i).bitwiseAND(F.lit(1)), 3 * i + 2))
            )
        return out

    def seg_of(code):
        return F.least((code / seg).cast("int"), F.lit(files - 1))

    coded = grid.select(
        "a", "b", "c",
        seg_of(hilbert3_code(F.col("a"), F.col("b"), F.col("c"), bits)).alias("hseg"),
        seg_of(morton3(F.col("a"), F.col("b"), F.col("c"))).alias("zseg"),
    )

    def half_perims(col):
        return [
            r["hp"]
            for r in coded.groupBy(col)
            .agg(
                (
                    F.max("a") - F.min("a")
                    + F.max("b") - F.min("b")
                    + F.max("c") - F.min("c")
                ).alias("hp")
            )
            .collect()
        ]

    h, z = half_perims("hseg"), half_perims("zseg")
    assert len(h) == files and len(z) == files
    assert sum(h) / files < sum(z) / files, (sum(h), sum(z))
    assert max(h) <= max(z), (max(h), max(z))


# ---------------------------------------------------------------------------
# generic d-dimensional FST (mechanically fitted from the Skilling curve)


def _fst_code_py(out, nxt, n, coords, bits):
    radix = 1 << n
    st = d = 0
    for i in range(bits - 1, -1, -1):
        q = 0
        for j in range(n):
            q = q * 2 + ((coords[j] >> i) & 1)
        idx = st * radix + q
        d = d * radix + out[idx]
        st = nxt[idx]
    return d


def test_fitted_fst_equals_skilling_full_grid_d2_to_d5():
    """The mechanical fitter must reproduce the Skilling curve exactly at
    every dimension — and rediscover the canonical orientation counts
    (4, 24, 192, 1920: the reachable subset of the hyperoctahedral
    group)."""
    import itertools

    from datapipelines_spark.operators.zorder import (
        _skilling_transpose,
        hilbert_fst_tables,
    )

    expected_states = {2: 4, 3: 24, 4: 192, 5: 1920}
    for n, bits in ((2, 5), (3, 4), (4, 3), (5, 2)):
        out, nxt, ns = hilbert_fst_tables(n)
        assert ns == expected_states[n]
        side = 1 << bits
        for c in itertools.product(range(side), repeat=n):
            assert _fst_code_py(out, nxt, n, list(c), bits) == _skilling_transpose(
                list(c), bits
            ), (n, c)


def test_hilbertd_spark_expression_matches_reference_4d(spark):
    from datapipelines_spark.operators.zorder import hilbertd_code

    bits = 2
    side = 1 << bits
    rows = [
        (a, b, c, d)
        for a in range(side)
        for b in range(side)
        for c in range(side)
        for d in range(side)
    ]
    grid = spark.createDataFrame(rows, "a long, b long, c long, d long")
    got = {
        (r["a"], r["b"], r["c"], r["d"]): r["h"]
        for r in grid.select(
            "a", "b", "c", "d",
            hilbertd_code(
                [F.col("a"), F.col("b"), F.col("c"), F.col("d")], bits
            ).alias("h"),
        ).collect()
    }
    for coords, h in got.items():
        assert h == _skilling_d(list(coords), bits), coords


def test_hilbertd_spark_expression_matches_reference_5d(spark):
    """5-D is where fixed hex widths broke (out digits reach 31 = 2 hex
    chars, states 1919 = 3 chars): the Spark expression
    must match Skilling with the per-table computed widths."""
    from datapipelines_spark.operators.zorder import hilbertd_code

    bits = 2
    side = 1 << bits
    import itertools

    rows = [tuple(c) for c in itertools.product(range(side), repeat=5)]
    grid = spark.createDataFrame(rows, "a long, b long, c long, d long, e long")
    cols = ["a", "b", "c", "d", "e"]
    got = {
        tuple(r[c] for c in cols): r["h"]
        for r in grid.select(
            *cols,
            hilbertd_code([F.col(c) for c in cols], bits).alias("h"),
        ).collect()
    }
    assert len(got) == side**5
    for coords, h in got.items():
        assert h == _skilling_d(list(coords), bits), coords


def test_hilbertd_consecutive_codes_are_adjacent_cells_4d():
    """The defining Hilbert property at 4 dimensions: consecutive indices
    differ by exactly 1 in exactly one axis."""
    from datapipelines_spark.operators.zorder import hilbert_fst_tables

    import itertools

    n, bits = 4, 3
    out, nxt, _ = hilbert_fst_tables(n)
    side = 1 << bits
    by_code = {}
    for c in itertools.product(range(side), repeat=n):
        by_code[_fst_code_py(out, nxt, n, list(c), bits)] = c
    assert len(by_code) == side**n  # bijective
    for k in range(len(by_code) - 1):
        a, b = by_code[k], by_code[k + 1]
        diffs = [abs(x - y) for x, y in zip(a, b)]
        assert sum(diffs) == 1, (a, b)


def test_hilbertd_rejects_unsupported_dims():
    import pytest as _pytest

    from datapipelines_spark.operators.zorder import hilbert_fst_tables

    with _pytest.raises(ValueError):
        hilbert_fst_tables(1)
    with _pytest.raises(ValueError):
        hilbert_fst_tables(7)
