"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes its output under
``<work>/inputs/<name>-s<seed>-<size>/``; a ``_DONE`` marker written last
makes a finished directory a cache hit for the same (seed, size). Inputs are
built with numpy/pyarrow only (no Spark), before the session starts, so
neither the timed region nor ``setup_s`` pays for them.

- ``corpus``: a document table with planted exact and near duplicates and
  eval-slice contamination, replicated xK with ``benchscale``'s bijective
  per-replica token renaming, so near-duplicate structure grows linearly.
- ``shards``: WebDataset tar shards whose samples carry a small jpg (the
  in-repo T.81 encoder) or png, plus json and txt members.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
STOPWORDS = ("the", "a", "of", "to", "in", "and")
CONTENT_WORDS = (
    "spark line column order small sort fast value scan hash slow group agg "
    "filter query big key window row part table stream merge data join "
    "customer vector batch shard token index cache plan stage task worker "
    "driver memory disk network file schema record field page block"
).split()
#: distinct image payloads in the tar shards
POOL = 64
#: eval slice of the corpus: doc_id % EVAL_MOD == 0 (decontamination target)
EVAL_MOD = 97


def _cached(work: str, name: str, build) -> str:
    """Return ``work/inputs/name``, building it via ``build(tmp_dir)`` once."""
    out = os.path.join(work, "inputs", name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ---------------------------------------------------------------------------
# documents


def _vocabulary(n: int = 800) -> list[str]:
    """The fixture's content words plus syllable-built words, most frequent
    first (the same list for every seed)."""
    sy = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "do", "ga", "zu")
    made = [a + b + c for a in sy for b in sy for c in ("", "n", "r", "s", "l")]
    return (CONTENT_WORDS + made)[:n]


VOCAB = _vocabulary()
_VOCAB_P = 1.0 / (np.arange(len(VOCAB)) + 8.0)
_VOCAB_P /= _VOCAB_P.sum()


def _random_text(rng, n_words: int) -> str:
    # Zipf-like content words and ~15% stopwords: most documents pass the
    # quality and Gopher gates; short or stopword-poor ones do not
    words = list(rng.choice(VOCAB, n_words, p=_VOCAB_P))
    for i in np.flatnonzero(rng.random(n_words) < 0.15):
        words[i] = STOPWORDS[rng.integers(len(STOPWORDS))]
    return " ".join(words)


def _near_copy(rng, text: str) -> str:
    words = text.split()
    for _ in range(max(1, len(words) // 25)):
        words[rng.integers(len(words))] = VOCAB[rng.integers(len(VOCAB))]
    return " ".join(words)


def _documents(rng, n: int) -> pa.Table:
    """``n`` documents: ~3% exact copies, ~6% near copies (one word in 25
    replaced) and ~1% near copies of an eval-slice document. Each original
    is copied at most once, so every duplicate cluster is a single pair and
    ``duplicate_clusters`` runs the same number of rounds for every seed."""
    texts: list[str] = []
    free: list[int] = []  # originals not copied yet
    pos: dict[int, int] = {}  # original -> its index in ``free``

    def take(k: int) -> int:
        src = free[k]
        del pos[src]
        last = free.pop()
        if last != src:
            free[k] = last
            pos[last] = k
        return src

    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.09 and free:
            src = take(int(rng.integers(len(free))))
            texts.append(texts[src] if u < 0.03 else _near_copy(rng, texts[src]))
            continue
        if i > EVAL_MOD and u < 0.10:
            src = EVAL_MOD * int(rng.integers((i - 1) // EVAL_MOD + 1))
            if src in pos:
                take(pos[src])
                texts.append(_near_copy(rng, texts[src]))
                continue
        pos[i] = len(free)
        free.append(i)
        texts.append(_random_text(rng, int(rng.integers(6, 90))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _build_corpus(tmp: str, seed: int, n_base: int, k: int) -> None:
    from datapipelines_spark.benchscale import _scaled_replica

    base = _documents(np.random.default_rng([seed, 2]), n_base)
    strides = {"doc_id": n_base}
    out = pa.concat_tables(
        [_scaled_replica("documents", base, i, strides) for i in range(k)]
    )
    pq.write_table(out, os.path.join(tmp, "documents.parquet"))


def corpus(work: str, seed: int, n_base: int, k: int) -> str:
    """``n_base`` documents replicated ``k`` times; returns the directory."""
    return _cached(
        work,
        f"corpus-s{seed}-n{n_base}-k{k}",
        lambda tmp: _build_corpus(tmp, seed, n_base, k),
    )


# ---------------------------------------------------------------------------
# WebDataset tar shards


def _image(rng, h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    a, b, c = rng.integers(1, 7, 3)
    img = np.stack([(yy * a + xx) % 256, (xx * b) % 256, (yy + xx * c) % 256], -1)
    return img.astype(np.uint8)


def _build_shards(tmp: str, seed: int, n_samples: int, n_shards: int) -> None:
    from datapipelines_spark.operators.jpegcodec import encode_jpeg
    from datapipelines_spark.operators.pngcodec import encode_png

    rng = np.random.default_rng([seed, 3])
    # a pool of distinct payloads, reused across samples: the pure-numpy
    # encoder is too slow to give every sample its own image. The sizes are
    # the same for every seed and each payload is used equally often, so
    # the decode work does not depend on the seed; the pixels and the
    # sample order do.
    pool = []
    for j in range(POOL):
        if j % 2:
            h, w = 12 + (5 * j) % 13, 12 + (7 * j) % 13
            pool.append(("jpg", encode_jpeg(_image(rng, h, w), quality=85), h, w))
        else:
            h, w = 16 + (5 * j) % 25, 16 + (11 * j) % 25
            pool.append(("png", encode_png(_image(rng, h, w)), h, w))
    picks = rng.permutation(np.arange(n_samples) % POOL)
    manifest = {}
    per_shard = -(-n_samples // n_shards)
    for s in range(n_shards):
        with tarfile.open(os.path.join(tmp, f"shard-{s:04d}.tar"), "w") as tf:
            for i in range(s * per_shard, min(n_samples, (s + 1) * per_shard)):
                key = f"s{seed}_{i:07d}"
                ext, payload, h, w = pool[int(picks[i])]
                meta = json.dumps({"idx": i, "height": h, "width": w}).encode()
                caption = f"sample {i} of shard {s}".encode()
                for member_ext, data in sorted(
                    {ext: payload, "json": meta, "txt": caption}.items()
                ):
                    info = tarfile.TarInfo(f"{key}.{member_ext}")
                    info.size = len(data)
                    tf.addfile(info, io.BytesIO(data))
                manifest[key] = [ext, h, w]
    os.makedirs(os.path.join(tmp, "meta"))
    with open(os.path.join(tmp, "meta", "manifest.json"), "w") as f:
        json.dump(manifest, f)


def shards(work: str, seed: int, n_samples: int, n_shards: int) -> str:
    """Tar shards under ``<dir>`` plus ``<dir>/meta/manifest.json`` mapping
    every key to [extension, height, width]; returns the directory."""
    return _cached(
        work,
        f"shards-s{seed}-n{n_samples}-p{n_shards}",
        lambda tmp: _build_shards(tmp, seed, n_samples, n_shards),
    )
