"""Z-order (Morton) clustering — multi-dimensional data skipping layout.

A table range-partitioned and sorted by ONE column prunes scans on that
column only; filters on a second dimension read every file. Interleaving
the bits of two quantized dimensions into one Morton code (the public
Z-order curve used by Delta/Iceberg OPTIMIZE ZORDER and databases since
Orenstein/Merrett 1984) gives a single sort key under which files are
rectangles in (a, b) space — per-file min/max footer stats then prune
selective filters on EITHER dimension.

Spark shape: quantization needs one global min/max aggregate per dimension
(a single 1-row collect); the code itself is pure JVM bit arithmetic
(shiftright/and/shiftleft chains inside whole-stage codegen — no UDF); the
layout is ``repartitionByRange`` on the code (one range shuffle, the same
cost as any sorted write) + ``sortWithinPartitions``. At 100 TB this is
exactly the lakehouse OPTIMIZE job: one pass, one shuffle, and every
subsequent scan with a filter on either dimension prunes at the file level
before a byte is read.

Determinism: integer quantization — ``(v - min) * 2^bits // (max - min + 1)``
— stays within the double mantissa for any realistic range (see _quantize),
so the code (and its DuckDB oracle replay) is bit-identical across engines;
doubles must be converted to a fixed-point integer by the caller (e.g.
cents) before quantizing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from datapipelines_spark.functions.caching import expr_memo as _expr_memo


def _quantize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """floor(((v - lo) * 2^bits) / (hi - lo + 1)) — integer quantization to
    [0, 2^bits). Exact (and therefore oracle-reproducible) while
    ``(hi - lo) * 2^bits < 2^53``: the numerator is an integer-valued
    double inside the mantissa range, so the division+floor equals integer
    division. bits=8 leaves 45 bits of input range — far beyond any
    quantization a layout job needs; pre-bucket wider domains first."""
    v = col.cast("bigint") - lo.cast("bigint")
    width = hi.cast("bigint") - lo.cast("bigint") + F.lit(1)
    return F.floor((v * F.lit(1 << bits)) / width).cast("bigint")


def _spread(col: Column, bits: int, offset: int) -> Column:
    """Move bit i of ``col`` to bit 2*i + offset (bit interleaving)."""
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)), 2 * i + offset)
        )
    return out


def morton_code(qa: Column, qb: Column, bits: int = 8) -> Column:
    """Interleave two ``bits``-bit quantized columns into a 2*bits-bit
    Morton code (qa on even bits, qb on odd) — pure codegen bit math."""
    return _spread(qa, bits, 0).bitwiseOR(_spread(qb, bits, 1))


def zorder_codes(
    df: DataFrame, a_col: str, b_col: str, bits: int = 8
) -> DataFrame:
    """Input plus ``zorder`` (the Morton code of the min/max-quantized
    integer columns ``a_col``/``b_col``). One 1-row stats collect + one
    narrow codegen stage; doubles must be fixed-pointed by the caller."""
    stats = df.agg(
        F.min(a_col).cast("bigint").alias("amin"),
        F.max(a_col).cast("bigint").alias("amax"),
        F.min(b_col).cast("bigint").alias("bmin"),
        F.max(b_col).cast("bigint").alias("bmax"),
    ).collect()[0]
    qa = _quantize(F.col(a_col), F.lit(stats["amin"]), F.lit(stats["amax"]), bits)
    qb = _quantize(F.col(b_col), F.lit(stats["bmin"]), F.lit(stats["bmax"]), bits)
    return df.withColumn("zorder", morton_code(qa, qb, bits))


def _equal_code_layout(
    coded: DataFrame, code_col: str, num_files: int, domain_bits: int
) -> DataFrame:
    """Deterministic layout: slice the CODE RANGE into ``num_files``
    equal-width segments (``<code_col>_seg``), hash-repartition on the
    segment, and sort within partitions by (segment, code).

    Write with ``.write.partitionBy("<code_col>_seg")`` and exactly ONE
    file per segment is produced (each segment lives in exactly one task;
    the partitioned writer splits a task's rows by segment value), so the
    written rectangles are a pure function of the data — no
    ``repartitionByRange``, whose reservoir-sampled boundaries shift run
    to run (a layout-pruning test bar cannot be tight over sampled file
    splits). At 100 TB this is the
    lakehouse OPTIMIZE shape unchanged: one hash shuffle on an integer
    key, one sorted partitioned write; raise ``num_files`` (or shuffle
    partitions) for write parallelism — determinism does not depend on
    either."""
    seg = F.floor(
        (F.col(code_col) * F.lit(int(num_files))) / F.lit(1 << domain_bits)
    ).cast("int")
    return (
        coded.withColumn(f"{code_col}_seg", seg)
        .repartition(num_files, f"{code_col}_seg")
        .sortWithinPartitions(f"{code_col}_seg", code_col)
    )


def write_equal_code_layout(
    laid: DataFrame, path: str, code_col: str, mode: str = "overwrite"
) -> None:
    """Commit a ``*_layout`` result to parquet the ONE correct way:
    ``.write.partitionBy("<code_col>_seg")``. The partitioned write is
    load-bearing, not cosmetic — a plain ``.write.parquet()`` still runs
    but silently merges hash-colliding segments into one file whose
    footer min/max unions distant rectangles, quietly destroying the
    pruning the layout exists for. Data that does not
    span the full code domain leaves some segments empty and yields
    FEWER than ``num_files`` files — expected, not an error. Drop
    ``<code_col>`` / ``<code_col>_seg`` on read if the consumer schema
    must stay unchanged."""
    laid.write.mode(mode).partitionBy(f"{code_col}_seg").parquet(path)


def optimize_table(
    df: DataFrame,
    a_col: str,
    b_col: str,
    path: str,
    bits: int = 8,
    num_files: int = 48,
    mode: str = "overwrite",
) -> dict:
    """The one-call OPTIMIZE verb: run
    ``layout_advisor`` over (a_col, b_col), pick the layout with the
    smallest Σ bbox area (ties by name — deterministic, SQL-replayable),
    rewrite the table under that key via the equal-code layout, and
    commit with the partitioned-write contract (``write_equal_code_layout``).
    Advisor segments and written files are the SAME code-range slicing,
    so the advisor's predicted per-segment rectangles are exactly the
    written files' footer rectangles — the property the composed catalog
    query ``layout_optimize_orders`` oracle-checks end to end.

    Returns ``{"layout", "code_col", "path"}``. The advisor collect is 3
    rows; everything else is the ordinary one-shuffle OPTIMIZE job."""
    adv = layout_advisor(df, a_col, b_col, bits, n_segments=num_files).collect()
    pick = min(adv, key=lambda r: (r["sum_bbox_area"], r["layout"]))["layout"]
    if pick == "morton":
        coded, code_col, dom = zorder_codes(df, a_col, b_col, bits), "zorder", 2 * bits
    elif pick == "hilbert":
        coded, code_col, dom = (
            hilbert_codes(df, a_col, b_col, bits),
            "hilbert",
            2 * bits,
        )
    else:  # sort_a: single-dimension sort on the quantized a column
        stats = df.agg(
            F.min(a_col).cast("bigint").alias("amin"),
            F.max(a_col).cast("bigint").alias("amax"),
        ).collect()[0]
        coded = df.withColumn(
            "sortkey",
            _quantize(F.col(a_col), F.lit(stats["amin"]), F.lit(stats["amax"]), bits),
        )
        code_col, dom = "sortkey", bits
    laid = _equal_code_layout(coded, code_col, num_files, dom)
    write_equal_code_layout(laid, path, code_col, mode)
    return {"layout": pick, "code_col": code_col, "path": path}


def zorder_layout(
    df: DataFrame,
    a_col: str,
    b_col: str,
    num_files: int,
    bits: int = 8,
) -> DataFrame:
    """Equal-code-segment layout on the Morton code: write the result with
    ``write_equal_code_layout`` (i.e. ``.write.partitionBy("zorder_seg")``
    — the partitioning is REQUIRED for the one-file-per-segment
    guarantee; see that helper) and each nonempty segment becomes one
    file covering a deterministic RECTANGLE of (a, b) space, so footer
    min/max stats prune filters on either column. Drop ``zorder`` /
    ``zorder_seg`` after writing if the storage schema must stay
    unchanged."""
    coded = zorder_codes(df, a_col, b_col, bits)
    return _equal_code_layout(coded, "zorder", num_files, 2 * bits)


# Hilbert curve as a 4-state transducer over MSB-first (x-bit, y-bit) pairs.
# Unlike Morton interleaving, consecutive Hilbert codes are ALWAYS adjacent
# cells (no quadrant jumps), so range-split files cover tighter rectangles —
# measurably better locality, same one-shuffle layout job. The tables encode
# the classic xy2d recursion (Hilbert 1891; the C formulation popularized by
# Wikipedia/Warren's Hacker's Delight) compiled to a finite-state transducer:
# state = sub-curve orientation (4 reachable of the dihedral group), input
# q = 2*bit(x) + bit(y), output = the 2-bit code digit. Fitted AND verified
# against the reference recursion over the full 256x256 grid in
# tests/test_hilbert.py — the FST form exists because per-level coordinate
# mutation (the textbook loop) would nest O(3^bits) expression copies into
# the plan, while the FST references only the RAW quantized bits: the whole
# code is O(bits) small codegen expressions, no UDF, no blowup.
_HILBERT_OUT = [0, 1, 3, 2, 0, 3, 1, 2, 2, 3, 1, 0, 2, 1, 3, 0]
_HILBERT_NXT = [1, 0, 3, 0, 0, 2, 1, 1, 2, 1, 2, 3, 3, 3, 0, 2]


def _fst_expr(qcols: list[Column], bits: int, out: list[int], nxt: list[int]) -> Column:
    """The FST table-lookup chain as ONE small codegen expression: the
    tables ride as HEX STRING literals looked up with substr+conv — a
    single plan node per table, regardless of table size. Digit/state
    widths are computed from the tables themselves (a fixed ``{v:x}`` /
    ``{v:02x}`` pair silently misaligned at 5-D, where out digits reach 31
    and states 1919). An array literal here is a trap
    twice over: PySpark expands ``array(*lits)`` into a CreateArray with
    one py4j call PER ELEMENT (2 tables x 3072 entries ~ 5 s of DRIVER
    time per plan build at 4-D), and the huge-child expression then bloats
    analysis/codegen — the 4-D string-table fix measured 4.3 s -> 0.85 s
    of plan build."""
    n = len(qcols)
    radix = 1 << n
    wd = len(f"{max(out):x}")
    ws = len(f"{max(nxt):x}")
    out_str = F.lit("".join(f"{v:0{wd}x}" for v in out))
    nxt_str = F.lit("".join(f"{v:0{ws}x}" for v in nxt))
    st = F.lit(0).cast("bigint")
    d = F.lit(0).cast("bigint")
    for i in range(bits - 1, -1, -1):
        q = F.lit(0).cast("bigint")
        for j, qc in enumerate(qcols):
            q = q + F.shiftright(qc, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (n - 1 - j)
            )
        idx = (st * radix + q).cast("bigint")
        d = d * radix + F.conv(
            out_str.substr(idx * wd + 1, F.lit(wd)), 16, 10
        ).cast("bigint")
        st = F.conv(
            nxt_str.substr(idx * ws + 1, F.lit(ws)), 16, 10
        ).cast("bigint")
    return d


def _with_fst_code(
    df: DataFrame,
    qexprs: list[Column],
    bits: int,
    out: list[int],
    nxt: list[int],
    dest: str,
    fst_key: str,
) -> DataFrame:
    """Attach an FST code column with the chain expression MEMOIZED
    (functions/caching.py:expr_memo): the per-bit-level lookup
    chain is hundreds of py4j calls per build, but it is a pure function
    of (tables, dims, bits) over column NAMES — the data-dependent
    quantization bounds ride separate placeholder columns so the
    memoized fragment never embeds a stats literal. Measured:
    layout_hilbert_orders spent 0.7-1.2 s building vs 0.07 s executing."""
    names = [f"__fstq{j}" for j in range(len(qexprs))]
    code = _expr_memo(
        ("fst_code", fst_key, len(qexprs), bits),
        lambda: _fst_expr([F.col(n) for n in names], bits, out, nxt),
    )
    return (
        df.withColumns(dict(zip(names, qexprs)))
        .withColumn(dest, code)
        .drop(*names)
    )


def hilbert_code(qa: Column, qb: Column, bits: int = 8) -> Column:
    """Hilbert index of two ``bits``-bit quantized columns — pure codegen
    hex-string table lookups, one per bit level."""
    return _fst_expr([qa, qb], bits, _HILBERT_OUT, _HILBERT_NXT)


def hilbert_codes(
    df: DataFrame, a_col: str, b_col: str, bits: int = 8
) -> DataFrame:
    """Input plus ``hilbert`` (the Hilbert index of the min/max-quantized
    integer columns) — same stats collect and quantization as
    ``zorder_codes``, different space-filling curve."""
    stats = df.agg(
        F.min(a_col).cast("bigint").alias("amin"),
        F.max(a_col).cast("bigint").alias("amax"),
        F.min(b_col).cast("bigint").alias("bmin"),
        F.max(b_col).cast("bigint").alias("bmax"),
    ).collect()[0]
    qa = _quantize(F.col(a_col), F.lit(stats["amin"]), F.lit(stats["amax"]), bits)
    qb = _quantize(F.col(b_col), F.lit(stats["bmin"]), F.lit(stats["bmax"]), bits)
    return _with_fst_code(
        df, [qa, qb], bits, _HILBERT_OUT, _HILBERT_NXT, "hilbert", "h2"
    )


def hilbert_layout(
    df: DataFrame,
    a_col: str,
    b_col: str,
    num_files: int,
    bits: int = 8,
) -> DataFrame:
    """Range-partition and sort by the Hilbert index — the OPTIMIZE job
    with the curve whose consecutive codes never jump quadrants, so each
    written file covers a tighter (a, b) rectangle than the Morton split
    of the same data (asserted in tests/test_hilbert.py). Commit with
    ``write_equal_code_layout`` — the partitioned write is required for
    the one-file-per-segment guarantee."""
    coded = hilbert_codes(df, a_col, b_col, bits)
    return _equal_code_layout(coded, "hilbert", num_files, 2 * bits)


# 3-D Hilbert as a 24-state transducer over MSB-first (x, y, z) bit triples
# — the same compilation as the 2-D tables above, fitted from Skilling's
# transpose algorithm ("Programming the Hilbert curve", AIP Conf. Proc. 707,
# 2004 — public) and verified against it over the full 8^3 and 16^3 grids in
# tests/test_hilbert.py. 24 orientations of the base curve are reachable
# (of the cube's 48 signed permutations); input q = 4*bit(x) + 2*bit(y) +
# bit(z), output = the 3-bit code digit. Locality at 3 dimensions is where
# the Hilbert/Morton gap widens: a Morton segment that crosses an octant
# seam spans the whole cube edge, while every Hilbert segment stays a
# connected blob.
_HILBERT3_OUT = [
    0, 1, 3, 2, 7, 6, 4, 5, 2, 3, 1, 0, 5, 4, 6, 7, 6, 7, 5, 4, 1, 0, 2, 3,
    4, 5, 7, 6, 3, 2, 0, 1, 0, 3, 1, 2, 7, 4, 6, 5, 2, 1, 3, 0, 5, 6, 4, 7,
    6, 5, 7, 4, 1, 2, 0, 3, 4, 7, 5, 6, 3, 0, 2, 1, 0, 1, 7, 6, 3, 2, 4, 5,
    2, 3, 5, 4, 1, 0, 6, 7, 6, 7, 1, 0, 5, 4, 2, 3, 4, 5, 3, 2, 7, 6, 0, 1,
    0, 3, 7, 4, 1, 2, 6, 5, 2, 1, 5, 6, 3, 0, 4, 7, 6, 5, 1, 2, 7, 4, 0, 3,
    4, 7, 3, 0, 5, 6, 2, 1, 0, 7, 1, 6, 3, 4, 2, 5, 2, 5, 3, 4, 1, 6, 0, 7,
    6, 1, 7, 0, 5, 2, 4, 3, 4, 3, 5, 2, 7, 0, 6, 1, 0, 7, 3, 4, 1, 6, 2, 5,
    2, 5, 1, 6, 3, 4, 0, 7, 6, 1, 5, 2, 7, 0, 4, 3, 4, 3, 7, 0, 5, 2, 6, 1,
]
_HILBERT3_NXT = [
    16, 8, 22, 0, 19, 11, 20, 0, 1, 21, 10, 18, 1, 23, 9, 17, 10, 16, 2, 22,
    9, 19, 2, 20, 21, 3, 18, 8, 23, 3, 17, 11, 8, 14, 16, 4, 11, 12, 19, 4,
    5, 18, 13, 10, 5, 17, 15, 9, 18, 6, 8, 14, 17, 6, 11, 12, 13, 10, 7, 16,
    15, 9, 7, 19, 20, 0, 23, 3, 18, 8, 16, 8, 9, 17, 9, 19, 2, 22, 1, 21,
    2, 20, 1, 23, 10, 18, 10, 16, 17, 11, 19, 11, 22, 0, 21, 3, 0, 6, 3, 4,
    20, 12, 23, 12, 13, 22, 13, 21, 5, 2, 7, 1, 22, 14, 21, 14, 0, 6, 3, 4,
    5, 2, 7, 1, 15, 20, 15, 23, 12, 15, 4, 7, 10, 8, 16, 16, 17, 17, 9, 11,
    6, 5, 14, 13, 6, 5, 12, 15, 18, 18, 10, 8, 9, 11, 19, 19, 14, 13, 4, 7,
    4, 7, 2, 0, 12, 15, 20, 20, 21, 21, 14, 13, 1, 3, 6, 5, 14, 13, 22, 22,
    4, 7, 2, 0, 1, 3, 6, 5, 23, 23, 12, 15,
]


def hilbert3_code(qa: Column, qb: Column, qc: Column, bits: int = 6) -> Column:
    """3-D Hilbert index of three ``bits``-bit quantized columns — O(bits)
    codegen hex-string table lookups, the 2-D ``hilbert_code`` machinery
    with the 24-state cube tables."""
    return _fst_expr([qa, qb, qc], bits, _HILBERT3_OUT, _HILBERT3_NXT)


def hilbert3_codes(
    df: DataFrame, a_col: str, b_col: str, c_col: str, bits: int = 6
) -> DataFrame:
    """Input plus ``hilbert3`` over three min/max-quantized integer
    columns; one 3-dimension stats collect + one codegen stage."""
    stats = df.agg(
        F.min(a_col).cast("bigint").alias("amin"),
        F.max(a_col).cast("bigint").alias("amax"),
        F.min(b_col).cast("bigint").alias("bmin"),
        F.max(b_col).cast("bigint").alias("bmax"),
        F.min(c_col).cast("bigint").alias("cmin"),
        F.max(c_col).cast("bigint").alias("cmax"),
    ).collect()[0]
    qa = _quantize(F.col(a_col), F.lit(stats["amin"]), F.lit(stats["amax"]), bits)
    qb = _quantize(F.col(b_col), F.lit(stats["bmin"]), F.lit(stats["bmax"]), bits)
    qc = _quantize(F.col(c_col), F.lit(stats["cmin"]), F.lit(stats["cmax"]), bits)
    return _with_fst_code(
        df, [qa, qb, qc], bits, _HILBERT3_OUT, _HILBERT3_NXT, "hilbert3", "h3"
    )


def hilbert3_layout(
    df: DataFrame,
    a_col: str,
    b_col: str,
    c_col: str,
    num_files: int,
    bits: int = 6,
) -> DataFrame:
    """Range-partition and sort by the 3-D Hilbert index: every written
    file's footer stats cover a connected blob of (a, b, c) space, so
    selective filters on ANY of the three columns prune files. Commit
    with ``write_equal_code_layout`` — the partitioned write is required
    for the one-file-per-segment guarantee."""
    coded = hilbert3_codes(df, a_col, b_col, c_col, bits)
    return _equal_code_layout(coded, "hilbert3", num_files, 3 * bits)


def layout_advisor(
    df: DataFrame,
    a_col: str,
    b_col: str,
    bits: int = 8,
    n_segments: int = 48,
) -> DataFrame:
    """Data-driven layout choice (Morton vs Hilbert vs single-sort): one
    pass over the table reports, per candidate sort key, the min/max
    footer rectangles an OPTIMIZE write under that key would produce — so
    "which layout should this table use" is answered from the data
    instead of folklore.

    Per layout, the key's CODE RANGE is sliced into ``n_segments``
    equal-width segments (the stand-in for files) and each nonempty
    segment's bounding box over the quantized dims is aggregated:

      layout         'sort_a' | 'morton' | 'hilbert'
      n_nonempty     segments holding >= 1 row
      sum_bbox_area  Σ (a_span+1)·(b_span+1) — expected footer hits of a
                     uniform point lookup scale with this
      sum_span_a     Σ (a_span+1) — segments a selective filter on ``a``
                     cannot prune; ditto ``sum_span_b``

    A single-sort layout minimizes sum_span_a but its b-spans cover the
    whole domain; the curves trade a little of ``a`` for pruning on BOTH
    — these three rows make the trade measurable per table.

    Equal-CODE segments, not equal-count: per-file row counts under
    ``repartitionByRange`` come from sampling and shift run to run, while
    code-range segments are a pure function of the data — deterministic,
    hence SQL-replayable. Pick ``n_segments`` that is NOT a power of
    2^dims: at exact powers both curves tile identical quadrant cubes and
    the comparison degenerates (the known equal-power identity).

    Plan shape: one 1-row stats collect, one codegen map producing all
    three keys (no extra scans — the union is three projections of the
    same scan), ONE shuffle on (layout, segment) carrying five integer
    columns, then a 3-row rollup. No window, no global sort; at 100 TB
    run it on a uniform sample — the metric is occupancy-shape-relative,
    not row-count-relative."""
    stats = df.agg(
        F.min(a_col).cast("bigint").alias("amin"),
        F.max(a_col).cast("bigint").alias("amax"),
        F.min(b_col).cast("bigint").alias("bmin"),
        F.max(b_col).cast("bigint").alias("bmax"),
    ).collect()[0]
    qa = _quantize(F.col(a_col), F.lit(stats["amin"]), F.lit(stats["amax"]), bits)
    qb = _quantize(F.col(b_col), F.lit(stats["bmin"]), F.lit(stats["bmax"]), bits)
    q = df.select(qa.alias("qa"), qb.alias("qb"))

    def seg(key: Column, domain_bits: int) -> Column:
        # (key * S) // 2^domain_bits — exact while S * 2^domain_bits < 2^53
        return F.floor(
            (key * F.lit(int(n_segments))) / F.lit(1 << domain_bits)
        ).cast("bigint")

    # all three keys from ONE scan: each row explodes into its three
    # (layout, segment) assignments — a narrow op, not three table reads
    keyed = q.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("sort_a").alias("layout"),
                    seg(F.col("qa"), bits).alias("seg"),
                ),
                F.struct(
                    F.lit("morton").alias("layout"),
                    seg(
                        # fixed ("qa","qb") names -> memoizable directly
                        _expr_memo(
                            ("adv_morton", bits),
                            lambda: morton_code(F.col("qa"), F.col("qb"), bits),
                        ),
                        2 * bits,
                    ).alias("seg"),
                ),
                F.struct(
                    F.lit("hilbert").alias("layout"),
                    seg(
                        _expr_memo(
                            ("adv_h2", bits),
                            lambda: hilbert_code(F.col("qa"), F.col("qb"), bits),
                        ),
                        2 * bits,
                    ).alias("seg"),
                ),
            )
        ).alias("t"),
        "qa",
        "qb",
    ).select(F.col("t.layout").alias("layout"), F.col("t.seg").alias("seg"), "qa", "qb")
    boxes = keyed.groupBy("layout", "seg").agg(
        F.min("qa").alias("a0"),
        F.max("qa").alias("a1"),
        F.min("qb").alias("b0"),
        F.max("qb").alias("b1"),
    )
    return boxes.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonempty"),
        F.sum(
            (F.col("a1") - F.col("a0") + 1) * (F.col("b1") - F.col("b0") + 1)
        )
        .cast("bigint")
        .alias("sum_bbox_area"),
        F.sum(F.col("a1") - F.col("a0") + 1).cast("bigint").alias("sum_span_a"),
        F.sum(F.col("b1") - F.col("b0") + 1).cast("bigint").alias("sum_span_b"),
    )


# ---------------------------------------------------------------------------
# generic d-dimensional Hilbert: the 2-D (4-state) and 3-D (24-state) tables
# above are hand-fitted instances of one construction — every sub-cube of
# the Skilling curve is a SIGNED-PERMUTATION copy of the base curve (axis
# permutation + per-axis complement), so the transducer for ANY dimension
# can be fitted mechanically: find each top cell's sub-transform by search
# over the hyperoctahedral group, then BFS-close the reachable orientation
# set. Fitted tables are cached per dimension and verified against the
# Skilling reference on full grids in tests/test_hilbert.py.


def _skilling_transpose(coords: list[int], bits: int) -> int:
    """Skilling's transpose algorithm (AIP Conf. Proc. 707, 2004 — public):
    the d-dimensional Hilbert index of ``coords`` at ``bits`` per axis.
    Reference implementation, used only at FIT time (never in a plan)."""
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
                t = (X[0] ^ X[i]) & P
                X[0] ^= t
                X[i] ^= t
        Q >>= 1
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = 0
    Q = M
    while Q > 1:
        if X[n - 1] & Q:
            t ^= Q - 1
        Q >>= 1
    for i in range(n):
        X[i] ^= t
    d = 0
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            d = (d << 1) | ((X[i] >> b) & 1)
    return d


def _sp_apply(perm: tuple, flip: int, coords: list[int], width: int) -> list[int]:
    """Apply the signed permutation (axis perm + per-axis complement) at the
    given bit width. Complement over w bits splits per level, which is the
    property that lets ONE (perm, flip) describe a sub-curve at every
    depth."""
    m = (1 << width) - 1
    return [
        coords[perm[i]] ^ (m if (flip >> i) & 1 else 0)
        for i in range(len(perm))
    ]


def _fit_hilbert_fst(n: int) -> tuple[list[int], list[int], int]:
    """(OUT, NXT, n_states) for the n-dimensional Hilbert transducer.

    Top-digit map D and per-cell sub-transforms S are extracted from the
    Skilling reference at 3 bits (1 top level + a full 2-level sub-grid to
    identify S uniquely); the state set is the orientations reachable from
    the identity under T -> S(T(q)) ∘ T. A cell whose sub-curve is NOT a
    signed-perm copy of the base would fail the search loudly — it cannot
    happen for the Skilling construction, and the fitted tables are grid-
    verified anyway."""
    import itertools

    bf = 3
    m = 1 << (bf - 1)
    radix = 1 << n
    top_shift = n * (bf - 1)
    cells = list(itertools.product(range(2), repeat=n))
    d_map = {
        c: _skilling_transpose([ci * m for ci in c], bf) >> top_shift
        for c in cells
    }
    sub_grid = list(itertools.product(range(m), repeat=n))
    base_sub = {y: _skilling_transpose(list(y), bf - 1) for y in sub_grid}
    cands = [
        (perm, flip)
        for perm in itertools.permutations(range(n))
        for flip in range(radix)
    ]
    probes = sub_grid[:: max(1, len(sub_grid) // 5)][:5]
    s_map = {}
    for c in cells:
        offset = d_map[c] << top_shift
        g = {
            y: _skilling_transpose([c[i] * m + y[i] for i in range(n)], bf)
            - offset
            for y in sub_grid
        }
        for perm, flip in cands:
            if any(
                g[y] != base_sub[tuple(_sp_apply(perm, flip, list(y), bf - 1))]
                for y in probes
            ):
                continue
            if all(
                g[y] == base_sub[tuple(_sp_apply(perm, flip, list(y), bf - 1))]
                for y in sub_grid
            ):
                s_map[c] = (perm, flip)
                break
        else:
            raise AssertionError(
                f"hilbert fit: no signed-perm sub-transform for cell {c}"
            )
    ident = (tuple(range(n)), 0)
    states: dict[tuple, int] = {ident: 0}
    order = [ident]
    out: list[int] = []
    nxt: list[int] = []
    i = 0
    while i < len(order):
        perm, flip = order[i]
        for q in range(radix):
            qbits = [(q >> (n - 1 - j)) & 1 for j in range(n)]
            c = tuple(_sp_apply(perm, flip, qbits, 1))
            sp, sf = s_map[c]
            # S(c) ∘ T: x -> S(c)(T(x))
            nperm = tuple(perm[sp[j]] for j in range(n))
            nflip = 0
            for j in range(n):
                nflip |= (((sf >> j) & 1) ^ ((flip >> sp[j]) & 1)) << j
            nt = (nperm, nflip)
            if nt not in states:
                states[nt] = len(order)
                order.append(nt)
            out.append(d_map[c])
            nxt.append(states[nt])
        i += 1
    return out, nxt, len(order)


_HILBERT_FST_CACHE: dict[int, tuple[list[int], list[int], int]] = {}


def hilbert_fst_tables(n_dims: int) -> tuple[list[int], list[int], int]:
    """Fitted (OUT, NXT, n_states) for ``n_dims``, cached per dimension
    (fit is pure Python, runs once per process, and is deterministic — the
    SQL oracles inline the same tables)."""
    if not 2 <= n_dims <= 6:
        raise ValueError("hilbert_fst_tables supports 2..6 dimensions")
    if n_dims not in _HILBERT_FST_CACHE:
        _HILBERT_FST_CACHE[n_dims] = _fit_hilbert_fst(n_dims)
    return _HILBERT_FST_CACHE[n_dims]


def hilbertd_code(qcols: list[Column], bits: int) -> Column:
    """d-dimensional Hilbert index of ``len(qcols)`` quantized columns —
    the same O(bits) codegen table-lookup chain as the 2-D/3-D forms, with
    mechanically fitted tables (hex-string widths computed per table in
    ``_fst_expr``, so e.g. the 1920-state 5-D transducer's 2-hex-char
    digits and 3-hex-char states align correctly)."""
    out, nxt, _ = hilbert_fst_tables(len(qcols))
    return _fst_expr(qcols, bits, out, nxt)


def hilbertd_codes(df: DataFrame, cols: list[str], bits: int = 4) -> DataFrame:
    """Input plus ``hilbertd`` over d min/max-quantized integer columns —
    one d-dimension stats collect + one codegen stage."""
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("bigint").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("bigint").alias(f"{c}__max"))
    stats = df.agg(*aggs).collect()[0]
    qcols = [
        _quantize(
            F.col(c),
            F.lit(stats[f"{c}__min"]),
            F.lit(stats[f"{c}__max"]),
            bits,
        )
        for c in cols
    ]
    out, nxt, _ = hilbert_fst_tables(len(cols))
    return _with_fst_code(df, qcols, bits, out, nxt, "hilbertd", f"hd{len(cols)}")
