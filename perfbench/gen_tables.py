"""Seeded generators for the ``curation`` workload.

Writes the two tables the curation queries read (``documents`` and
``embeddings``, with the column names and types of the engine's
catalog) and the distinct documents that arrive at the streaming
ensemble probe. Every draw comes from ``random.Random(seed)`` or a
numpy generator seeded from it, so the same seed gives the same files.

The corpus has near-duplicate structure on purpose: a share of the
documents are lightly edited copies of earlier long originals (one
word in forty replaced, word-bigram Jaccard about 0.9 to the original
and about 0.8 between two copies), so the dedup queries find pairs. Pairs that close to a 0.6 threshold are where MinHash-LSH
recall is below one, so they are kept out of the corpus: there
``dedup_minhash_lsh`` (LSH candidates) and its exact all-pairs oracle
would legitimately differ.

The arrivals are all distinct from each other and from the corpus;
``PROBE_EDIT_SHARE`` of them are edited copies of corpus documents (one
word in twelve replaced), which the probe should flag. The probe is
checked against the engine's own incremental operator, so near-threshold
pairs are fine there.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "customer",
         "query", "big", "stream", "filter", "group", "index", "log")
LANGS = ("en",) * 3 + ("es", "zh", "de", "fr")
CORPUS_EDIT_SHARE = 0.15
PROBE_EDIT_SHARE = 0.25
PROBE_ID_BASE = 1_000_000


@dataclass
class Sizes:
    docs: int = 350
    vectors: int = 350
    dim: int = 64
    clusters: int = 10
    probe_docs: int = 200
    probe_files: int = 10


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 90)))


def _edit(rng: random.Random, text: str, every: int = 12) -> str:
    """An edited copy: about one word in ``every`` replaced."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // every)):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def _doc_rows(rng, ids, texts):
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in ids], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(sf_dir: str, probe_dir: str, seed: int, sizes: Sizes) -> dict:
    """Write documents/embeddings parquet into ``sf_dir`` and the probe
    arrivals (``sizes.probe_files`` parquet files) into ``probe_dir``.
    Returns the input sizes for the record."""
    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    os.makedirs(probe_dir, exist_ok=True)

    texts: list[str] = []
    long_docs: list[str] = []  # originals only: a copy of a copy drifts
    for _ in range(sizes.docs):
        if long_docs and rng.random() < CORPUS_EDIT_SHARE:
            texts.append(_edit(rng, rng.choice(long_docs), every=40))
            continue
        t = _text(rng)
        texts.append(t)
        if t.count(" ") >= 40:
            long_docs.append(t)
    # identical texts would make the corpus itself carry exact
    # duplicates; re-draw the (rare) collisions
    seen = set()
    for i, t in enumerate(texts):
        while t in seen:
            t = _text(rng)
        texts[i] = t
        seen.add(t)
    pq.write_table(pa.table(_doc_rows(rng, list(range(sizes.docs)), texts)),
                   os.path.join(sf_dir, "documents.parquet"))

    nrng = np.random.default_rng(rng.getrandbits(63))
    centers = nrng.normal(0.0, 1.0, (sizes.clusters, sizes.dim))
    labels = nrng.integers(0, sizes.clusters, sizes.vectors)
    vecs = centers[labels] + nrng.normal(0.0, 0.35, (sizes.vectors, sizes.dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(sizes.vectors), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))

    arrivals, edited = [], 0
    while len(arrivals) < sizes.probe_docs:
        if rng.random() < PROBE_EDIT_SHARE:
            t = _edit(rng, texts[rng.randrange(sizes.docs)])
            is_edit = True
        else:
            t = _text(rng)
            is_edit = False
        if t in seen:
            continue
        seen.add(t)
        arrivals.append(t)
        edited += is_edit
    ids = [PROBE_ID_BASE + i for i in range(len(arrivals))]
    rows = _doc_rows(rng, ids, arrivals)
    step = -(-len(arrivals) // sizes.probe_files)
    table = pa.table(rows)
    for k in range(sizes.probe_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(probe_dir, f"arrivals_{k:03d}.parquet"))
    return {"docs": sizes.docs, "vectors": sizes.vectors,
            "probe_docs": len(arrivals), "probe_edited": edited}
