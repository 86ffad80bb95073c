"""Scaled bench fixtures: replicate the sf parquet tables ×K with consistent
key shifts, so the expensive bench queries can be re-measured above Spark's
fixed scheduler floor (per-query ratio flags at sf0.1 are dominated by
~0.5 s overhead; a 4× pass separates real regressions from noise).

Design choices, stated so the numbers are interpretable:

- **Relational tables** (lineitem/orders/customer/supplier/part): replica i
  shifts every key by ``i * (max_key + 1)`` consistently across tables, so
  joins hit exactly K× the rows with K× distinct keys — the same shape a
  K×-bigger TPC-H SF would have. nation/region stay unreplicated (dimension
  keys are referenced unshifted).
- **events**: ids shift, timestamps stay — K× the events per time window,
  i.e. a busier stream over the same wall-clock range.
- **documents**: replica i applies a bijective per-replica token renaming
  (suffix every word with a replica tag). Plain replication would make every
  doc an exact duplicate of its K-1 siblings, growing near-dup candidate
  PAIRS quadratically (K²) while data grows K× — a different workload, not a
  bigger one. Token renaming is injective, so shingle-Jaccard WITHIN a
  replica is exactly the original corpus's (near-dup structure replicates
  linearly), while cross-replica shingle overlap is zero.
- **embeddings**: replica vectors are fresh seeded random unit vectors
  (same reasoning: exact-duplicate vectors would add K² cosine-1 pairs).

Generation is pyarrow/numpy only (no Spark) and writes SINGLE parquet files
per table so both ``load_table`` and DuckDB's ``read_parquet`` work
unchanged. A marker file makes the build one-time per (src, factor).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: table -> columns shifted by i * (max+1) of the NAMED base column; the base
#: column's max defines the stride so FKs stay consistent across tables.
_KEY_BASES = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}

_SHIFT_COLS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}

_COPY_ONLY = ("region", "nation")


def _strides(src_dir: str) -> dict[str, int]:
    strides = {}
    for key, (table, col) in _KEY_BASES.items():
        t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"), columns=[col])
        strides[key] = int(pc.max(t.column(0)).as_py()) + 1
    return strides


def _rename_tokens(text: str, tag: str) -> str:
    return " ".join(w + tag for w in text.split())


def _scaled_replica(name: str, base: pa.Table, i: int, strides) -> pa.Table:
    if i == 0:
        return base  # replica 0 is the original data, byte-for-byte
    t = base
    for col, key in _SHIFT_COLS.get(name, {}).items():
        idx = t.schema.get_field_index(col)
        shifted = pc.add(t.column(idx), i * strides[key])
        t = t.set_column(idx, t.field(idx), shifted.cast(t.field(idx).type))
    if name == "documents":
        tag = f"_{i}"  # ASCII tag: keeps charset stats (langid etc.) intact
        texts = t.column("text").to_pylist()
        new_texts = [
            _rename_tokens(x, tag) if x is not None else None for x in texts
        ]
        ti = t.schema.get_field_index("text")
        t = t.set_column(ti, t.field(ti), pa.array(new_texts, type=t.field(ti).type))
        ni = t.schema.get_field_index("n_chars")
        n_chars = pa.array(
            [len(x) if x is not None else None for x in new_texts]
        ).cast(t.field(ni).type)
        t = t.set_column(ni, t.field(ni), n_chars)
    elif name == "embeddings":
        rng = np.random.default_rng(700_000 + i)
        col = t.column("embedding").combine_chunks()
        n = len(col)
        dim = len(col[0].as_py())
        vecs = rng.standard_normal((n, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        value_type = t.field("embedding").type.value_type
        flat = pa.array(vecs.reshape(-1), type=value_type)
        arr = pa.FixedSizeListArray.from_arrays(flat, dim) if pa.types.is_fixed_size_list(
            t.field("embedding").type
        ) else pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), flat
        )
        ei = t.schema.get_field_index("embedding")
        t = t.set_column(ei, t.field(ei), arr.cast(t.field(ei).type))
    return t


def build_scaled_dir(src_dir: str, factor: int, out_root: str = "/tmp") -> str:
    """Materialize ``factor``× replicas of every fixture table under
    ``out_root``; returns the directory. Idempotent via a marker file."""
    tag = os.path.basename(os.path.normpath(src_dir))
    out_dir = os.path.join(out_root, f"spark_graft_scaled_{tag}_x{factor}")
    marker = os.path.join(out_dir, "_SCALED_OK.json")
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if meta.get("factor") == factor and meta.get("src") == os.path.abspath(src_dir):
            return out_dir
    os.makedirs(out_dir, exist_ok=True)
    strides = _strides(src_dir)
    from datapipelines_spark.sources.parquet import TABLES

    for name in TABLES:
        src = os.path.join(src_dir, f"{name}.parquet")
        base = pq.read_table(src)
        if name in _COPY_ONLY or factor <= 1:
            out = base
        else:
            out = pa.concat_tables(
                [_scaled_replica(name, base, i, strides) for i in range(factor)]
            )
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump({"factor": factor, "src": os.path.abspath(src_dir)}, f)
    return out_dir
