"""corpus_prep: the LLM-corpus batch ETL.

The catalog's config-declared corpus profile (``create_dataset`` with size
and key filters, then per-language counts) -> quality_score ->
gopher_quality_rules -> drop_exact_duplicates -> minhash_lsh_pairs ->
duplicate_clusters -> contamination_overlap_bloom -> pack_sequences ->
write_tar_shards of the kept documents, over N_BASE generated documents
replicated xK. One operation is one pipeline run; an item is one input
document.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
import time

from perfbench import inputs
from perfbench.common import Outcome, layer_call, span, timed_loop

N_BASE = inputs.EVAL_MOD * 26  # 2522: replicas keep doc_id % EVAL_MOD
K = 4
#: a pipeline run costs ~10 s on 4 vCPUs, mostly the per-job floor of its ~50
#: Spark jobs; the median needs at least this many timed runs
MIN_OPS = 4
PROFILE_QUERY = "config_pipeline_quality_filter"
PACK_BUDGET = 2048
SHARD_ROWS = 4096
#: end-to-end metric -> (name in this workload's terms, scale, unit)
ALIASES = {
    "items_per_s": ("prep_docs_per_s", 1.0, "1/s"),
    "latency_p50_ms": ("pipeline_run_p50_s", 1e-3, "s"),
}
#: the Gopher stopwords under every replica's token renaming
STOPWORDS = tuple(
    w + (f"_{i}" if i else "") for i in range(K) for w in inputs.STOPWORDS
)
STAGES = ("input", "quality", "gopher", "exact_dedup", "near_dedup", "decontaminated")


def prepare(work: str, seed: int) -> dict:
    return {
        "corpus": inputs.corpus(work, seed, N_BASE, K),
        "out": os.path.join(work, "out", "corpus_prep"),
    }


def profile(spark, corpus_dir: str, tracer) -> tuple[list[str], list[tuple]]:
    """The catalog's corpus-profile query, built and collected in a
    ``queries`` span; returns its columns and rows."""
    from datapipelines_spark.catalog import all_queries

    t0 = time.perf_counter()
    with span(tracer, "queries"):
        df = all_queries()[PROFILE_QUERY].builder(spark, corpus_dir)
        df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
    if tracer is not None:
        tracer.count("queries.plan_s", t1 - t0)
        tracer.count("queries.exec_s", time.perf_counter() - t1)
        tracer.count("queries.executions", 1)
    return df.columns, rows


def profile_oracle(corpus_dir: str) -> list[tuple]:
    """The profile query's DuckDB oracle over the corpus, normalized the way
    ``testing.compare_query`` normalizes."""
    import duckdb

    from datapipelines_spark.catalog import all_queries
    from datapipelines_spark.testing import duckdb_result, normalize_rows

    path = os.path.join(corpus_dir, "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return normalize_rows(*duckdb_result(con, all_queries()[PROFILE_QUERY].oracle))
    finally:
        con.close()


def build(spark, corpus_dir: str, tracer) -> dict:
    """The pipeline's DataFrames by stage name; the last is ``samples``,
    ready for the tar writer."""
    import pyspark.sql.functions as F

    from datapipelines_spark.operators.bloom import contamination_overlap_bloom
    from datapipelines_spark.operators.components import duplicate_clusters
    from datapipelines_spark.operators.dedup import (
        MinHashConfig,
        drop_exact_duplicates,
        minhash_lsh_candidates,
        minhash_lsh_pairs,
    )
    from datapipelines_spark.operators.packing import pack_sequences
    from datapipelines_spark.operators.text import gopher_quality_rules, quality_score
    from datapipelines_spark.sources.parquet import load_table

    out = {"input": load_table(spark, corpus_dir, "documents")}
    docs = out["input"]

    def quality():
        q = quality_score(docs, "text", "doc_id")
        return docs.join(q.where(F.col("quality_score") >= 0.5).select("doc_id"), "doc_id")

    out["quality"] = layer_call(tracer, "operators.text", quality)

    def gopher():
        # replica i renames every token, stopwords included
        g = gopher_quality_rules(out["quality"], "text", "doc_id", stopwords=STOPWORDS)
        return out["quality"].join(g.where(F.col("passes_all")).select("doc_id"), "doc_id")

    out["gopher"] = layer_call(tracer, "operators.text", gopher)
    exact = layer_call(
        tracer,
        "operators.dedup",
        lambda: drop_exact_duplicates(out["gopher"], "text", "doc_id"),
    )
    # near-dup and decontamination both re-read the deduplicated corpus
    out["exact_dedup"] = exact = exact.localCheckpoint(eager=True)

    config = MinHashConfig(16, 4, 3)
    pairs = layer_call(
        tracer, "operators.dedup", lambda: minhash_lsh_pairs(exact, "text", "doc_id", config)
    )
    if tracer is not None:
        with span(tracer, "operators.dedup"):
            n_cand = minhash_lsh_candidates(exact, "text", "doc_id", config).count()
            n_pairs = pairs.count()
        tracer.count("operators.dedup.lsh_candidates", n_cand)
        tracer.count("operators.dedup.verified_pairs", n_pairs)
    clusters = layer_call(tracer, "operators.components", lambda: duplicate_clusters(pairs))
    drop = clusters.where(~F.col("is_canonical")).select(F.col("node").alias("doc_id"))
    # the near-dup survivors feed both bloom sides, the packer and the writer
    out["near_dedup"] = near = exact.join(drop, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )

    is_eval = F.col("doc_id") % inputs.EVAL_MOD == 0
    contaminated = layer_call(
        tracer,
        "operators.bloom",
        lambda: contamination_overlap_bloom(
            near.where(~is_eval), near.where(is_eval), "text", "doc_id",
            n=5, min_overlap=1, fpp=1e-6,
        ),
    )
    out["decontaminated"] = kept = near.where(~is_eval).join(
        contaminated.select("doc_id"), "doc_id", "left_anti"
    )

    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    packed = layer_call(
        tracer,
        "operators.packing",
        lambda: pack_sequences(
            kept.withColumn("n_tokens", n_tokens), "n_tokens", "doc_id",
            budget=PACK_BUDGET, partition_cols=("source",),
        ),
    )
    meta = F.to_json(F.struct("doc_id", "source", "pack_id", "pack_offset", "n_tokens"))
    out["samples"] = packed.select(
        F.format_string("doc%012d", F.col("doc_id")).alias("__key__"),
        F.create_map(
            F.lit("txt"), F.encode(F.col("text"), "UTF-8"),
            F.lit("json"), F.encode(meta, "UTF-8"),
        ).alias("data"),
    )
    return out


def write(spark, stages: dict, out_dir: str, tracer) -> int:
    from datapipelines_spark.sinks.writer import write_tar_shards

    with span(tracer, "sinks.writer"):
        summary = write_tar_shards(
            stages["samples"], out_dir, shard_rows=SHARD_ROWS, mode="overwrite"
        )
    return sum(n for _, n in summary)


def read_back(out_dir: str) -> tuple[list[int], list[str]]:
    """doc ids and texts from the written shards, with plain ``tarfile``."""
    ids, texts = [], []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".tar"):
            continue
        with tarfile.open(os.path.join(out_dir, name)) as tf:
            for info in tf:
                data = tf.extractfile(info).read()
                if info.name.endswith(".json"):
                    ids.append(json.loads(data)["doc_id"])
                elif info.name.endswith(".txt"):
                    texts.append(io.TextIOWrapper(io.BytesIO(data), "utf-8").read())
    return ids, texts


def _expected_counts(corpus_dir: str, counts: dict) -> list[str]:
    """Compare with the counts recorded for this seed's inputs (the first run
    on them records), and check the planted duplicates and contamination
    were found. Returns the problems."""
    problems = []
    path = os.path.join(corpus_dir, "stage_counts.json")
    if os.path.exists(path):
        with open(path) as f:
            recorded = json.load(f)
        if recorded != counts:
            problems.append(f"stage counts {counts} != recorded {recorded}")
    else:
        with open(path, "w") as f:
            json.dump(counts, f)
    if counts["input"] != N_BASE * K:
        problems.append(f"input count {counts['input']} != {N_BASE * K}")
    seq = [counts[s] for s in STAGES]
    if any(b > a for a, b in zip(seq, seq[1:])):
        problems.append(f"a filter stage grew: {counts}")
    for a, b in (("gopher", "exact_dedup"), ("exact_dedup", "near_dedup"),
                 ("near_dedup", "decontaminated")):
        if counts[b] >= counts[a]:
            problems.append(f"{b} removed nothing: {counts}")
    return problems


def run(spark, inp: dict, seconds: float, tracer) -> Outcome:
    from datapipelines_spark.testing import normalize_rows

    out = Outcome()
    corpus = inp["corpus"]
    expected_profile = profile_oracle(corpus)
    problems = []

    # untimed warm-up: one operation as the timed loop runs it, whose stage
    # DataFrames then give the stage counts and the kept ids
    if normalize_rows(*profile(spark, corpus, None)) != expected_profile:
        problems.append(f"{PROFILE_QUERY} differs from its DuckDB oracle")
    stages = build(spark, corpus, None)
    write(spark, stages, inp["out"], None)
    kept_ids = sorted(r[0] for r in stages["decontaminated"].select("doc_id").collect())
    counts = {s: stages[s].count() for s in STAGES[:-1]}
    counts["decontaminated"] = len(kept_ids)
    problems += _expected_counts(corpus, counts)

    def op(tr):
        t0 = time.perf_counter()
        columns, rows = profile(spark, corpus, tr)
        n_written = write(spark, build(spark, corpus, tr), inp["out"], tr)
        dt = time.perf_counter() - t0
        ok = n_written == len(kept_ids)
        if not ok:
            problems.append(f"wrote {n_written} documents, expected {len(kept_ids)}")
        if normalize_rows(columns, rows) != expected_profile:
            problems.append(f"{PROFILE_QUERY} differs from its DuckDB oracle")
            ok = False
        return N_BASE * K, [dt], 1, 0 if ok else 1, dt

    timed_loop(seconds, op, tracer, out, MIN_OPS)

    ids, texts = read_back(inp["out"])
    if sorted(ids) != kept_ids:
        problems.append("doc ids read back from the shards differ from the DataFrame's")
    if len(set(texts)) != len(texts):
        problems.append("exact duplicate texts survived into the shards")
    if problems:
        out.failed += 1
        out.attempted += 1
    for p in problems:
        print(f"corpus_prep check failed: {p}")
    out.named = {
        "docs_in": (N_BASE * K, "count"),
        "docs_kept": (len(kept_ids), "count"),
    }
    out.named.update({f"stage_{s}": (n, "count") for s, n in counts.items()})
    return out
