"""The benchmark's inputs.

``FIXTURES`` holds a copy of the engine's sf0.01 fixture tables: the
deterministic parquet files (seed 42) that the DuckDB oracle tests run
on, with the schemas of FIXTURES.md. They are stored with the benchmark
because a run reads only files inside its checkout. The relational
workload reads them as they are, so every seed sees the same tables.

``build_replica`` derives the curation workload's 2x corpus from them
the way ``tools/scale_probe.py:build_replica`` does: copy ``i`` of every
document gets each token suffixed with a seed-derived salt, and copy
``i`` of every embedding gets a seed-derived +-1 sign flip per
dimension. Copies therefore share no vocabulary and are near-orthogonal,
while within-copy duplicate structure is preserved exactly. A fresh seed
changes the salt and the sign pattern, and so the MinHash/SimHash
buckets; the amount of work stays the same. The other tables are
symlinked.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


def _salt(seed: int, copy: int) -> str:
    return hashlib.sha256(f"{seed}:{copy}".encode()).hexdigest()[:6]


def _signs(seed: int, copy: int, dim: int) -> np.ndarray:
    digest = hashlib.sha256(f"{seed}:{copy}:signs".encode()).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))[:dim]
    return 1 - 2 * bits.astype(np.float32)


def build_replica(base_dir: str, out_dir: str, seed: int, mult: int = 2) -> str:
    """Write a ``mult``-times documents + embeddings corpus over ``base_dir``.

    Copy 0 is the base itself. Copy ``i`` shifts the ids by ``i * n``,
    suffixes every token with a salt hashed from (seed, i), and flips the
    sign of each embedding dimension by a hash of (seed, i, dim). Every
    other table is a symlink to the base file.
    """
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    n_docs = docs.num_rows
    parts = [docs]
    for i in range(1, mult):
        salt = _salt(seed, i)
        text = [" ".join(f"{w}_{salt}" for w in t.split()) for t in docs["text"].to_pylist()]
        parts.append(pa.table({
            "doc_id": pa.array(docs["doc_id"].to_numpy() + i * n_docs),
            "text": pa.array(text),
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
        }).cast(docs.schema))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    n_vec = emb.num_rows
    x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    dim = x.shape[1]
    parts = [emb]
    for i in range(1, mult):
        flipped = x * _signs(seed, i, dim)
        offsets = pa.array(np.arange(0, n_vec * dim + 1, dim, dtype=np.int32))
        parts.append(pa.table({
            "vec_id": pa.array(emb["vec_id"].to_numpy() + i * n_vec),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(flipped.ravel())),
            "label": emb["label"],
        }).cast(emb.schema))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "embeddings.parquet"))

    for f in os.listdir(base_dir):
        dst = os.path.join(out_dir, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.abspath(os.path.join(base_dir, f)), dst)
    return out_dir
