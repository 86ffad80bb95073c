"""Null/edge-row differential: every catalog query consuming the documents,
events, or embeddings tables must agree with its DuckDB oracle on fixtures
containing the rows real data contains and the driver fixtures don't —
NULL text / lang / source / n_chars, empty and whitespace-only texts,
multi-byte scripts, embedded tabs/newlines, NULL ts / event_type / value /
user_id, duplicate timestamps, NULL embeddings, zero vectors, NULL labels.

This audit found: an ANSI 1/0 crash in the quality score, md5('')
fingerprints for NULL texts, NULLS FIRST/LAST rank shifts in winsorize /
percent-rank / MAD / moving averages, XML whitespace trimming, to_json
dropping null fields, engine-vs-oracle row contracts on unnest-dropped
NULL texts, cosine 0/0 crashes on zero vectors, PythonExceptions on NULL
embeddings in the kmeans/PQ stack, and NULL group keys threading
differently through each engine's null-unsafe joins. Every text/vector
query now declares its domain identically on both sides."""

import glob
import inspect
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datapipelines_spark.catalog import all_queries
from datapipelines_spark.testing import compare_query

_EDGE_DOCS = [
    {"doc_id": 9001, "text": None, "lang": "en", "source": "edge", "n_chars": None},
    {"doc_id": 9002, "text": "", "lang": "en", "source": "edge", "n_chars": 0},
    {"doc_id": 9003, "text": "   ", "lang": None, "source": "edge", "n_chars": 3},
    {"doc_id": 9004, "text": "one", "lang": "en", "source": None, "n_chars": 3},
    {"doc_id": 9005, "text": "a b", "lang": "xx", "source": "edge", "n_chars": 3},
    {"doc_id": 9006, "text": "漢字 文本 テキスト déjà vu encore", "lang": "ja",
     "source": "edge", "n_chars": 22},
    {"doc_id": 9007, "text": None, "lang": None, "source": None, "n_chars": None},
    {"doc_id": 9008, "text": "repeat " * 7 + "repeat", "lang": "en",
     "source": "edge", "n_chars": 55},
    {"doc_id": 9009, "text": "tab\tand\nnewline mixed  double  spaces",
     "lang": "en", "source": "edge", "n_chars": 37},
]


def _edge_events(base_ts):
    return [
        {"event_id": 90001, "ts": None, "user_id": 1, "event_type": "click",
         "value": 1.0, "props": "{}"},
        {"event_id": 90002, "ts": base_ts, "user_id": None, "event_type": "click",
         "value": 2.0, "props": None},
        {"event_id": 90003, "ts": base_ts, "user_id": 2, "event_type": None,
         "value": None, "props": "{}"},
        {"event_id": 90004, "ts": base_ts, "user_id": 2, "event_type": "click",
         "value": None, "props": '{"k": null}'},
        # duplicate-timestamp pair: window tie order must stay pinned
        {"event_id": 90005, "ts": base_ts, "user_id": 3, "event_type": "view",
         "value": 0.5, "props": "{}"},
        {"event_id": 90006, "ts": base_ts, "user_id": 3, "event_type": "view",
         "value": 0.5, "props": "{}"},
    ]


def _edge_embeddings(dim):
    return [
        {"vec_id": 90001, "embedding": None, "label": 1},
        {"vec_id": 90002, "embedding": [0.0] * dim, "label": None},  # zero norm
    ]


def _consumes(src_text, table):
    return table in src_text


# A builder may reach a table only through a helper (_synthetic_image_set),
# which a source-text grep misses — but every query's oracle
# is a fully-expanded SQL string that must name the views it reads, so grep
# builder source AND oracle SQL together.
_TARGETS = sorted(
    n for n, s in all_queries().items()
    if any(
        _consumes(inspect.getsource(s.builder) + "\n" + (s.oracle or ""), t)
        for t in ("documents", "events", "embeddings")
    )
    # streaming replays included: event-time processing drops NULL
    # timestamps at ingestion, and each oracle declares the same domain
)


@pytest.fixture(scope="session")
def null_edge_dir(sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_null_edge")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)
        if name not in ("documents.parquet", "events.parquet", "embeddings.parquet"):
            shutil.copy(p, out / name)

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            docs.to_pylist() + _EDGE_DOCS, schema=docs.schema.remove_metadata()
        ),
        out / "documents.parquet",
    )

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    rows = ev.to_pylist()
    pq.write_table(
        pa.Table.from_pylist(
            rows + _edge_events(rows[0]["ts"]), schema=ev.schema.remove_metadata()
        ),
        out / "events.parquet",
    )

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    erows = emb.to_pylist()
    pq.write_table(
        pa.Table.from_pylist(
            erows + _edge_embeddings(len(erows[0]["embedding"])),
            schema=emb.schema.remove_metadata(),
        ),
        out / "embeddings.parquet",
    )
    return str(out)


@pytest.mark.parametrize("name", _TARGETS)
def test_query_matches_oracle_on_null_edge_corpus(spark, null_edge_dir, name):
    ok, detail = compare_query(spark, null_edge_dir, name)
    assert ok, f"{name}: {detail}"
