"""Seeded input tables for the benchmark.

The base tables in ``data/`` are the deterministic sf0.01 star schema the
engine is certified on. A seed derives one input set from them:

- every table's row order is a seeded permutation, so file layout and
  tie-breaking differ between seeds;
- ``documents.text``: every document's token sequence is rotated left by a
  seeded 1 to 4 tokens. The vocabulary, term frequencies, exact duplicates
  and nearly all shingles stay; every text hash and signature differs.
  A token salt (a suffix on every token) was rejected because the query
  builders hard-code corpus words (the BM25 terms ``spark shuffle window
  merge``), which a salt would turn into misses;
- ``embeddings.embedding``: dimension 1 is shifted by a seeded constant in
  [-1/32, 1/32]. Pairwise L2 distances, and so every cluster and
  near-duplicate relation, stay as they were.

Row counts and every time range stay those of the base tables. Ids are kept:
the query builders hard-code ids (``vec_id = 0`` query vectors,
``doc_id < 100`` subsets, ``event_id % 40`` levels), so an id offset would
empty or reshape those ops instead of varying them.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
def _rotate_tokens(texts: pa.Array, k: int) -> pa.Array:
    def rotate(text: str) -> str:
        toks = text.split(" ")
        j = k % len(toks)
        return " ".join(toks[j:] + toks[:j])

    return pa.array(
        [None if t is None else rotate(t) for t in texts.to_pylist()], type=texts.type
    )


def _shift_first_dim(col: pa.ChunkedArray, delta: float) -> pa.Array:
    arr = col.combine_chunks()
    values = arr.values.to_numpy(zero_copy_only=False).copy()
    offsets = arr.offsets.to_numpy()
    lengths = np.diff(offsets)
    firsts = offsets[:-1][lengths > 0]
    values[firsts] = values[firsts] + np.float32(delta)
    return pa.ListArray.from_arrays(
        arr.offsets, pa.array(values, type=arr.type.value_type), mask=arr.is_null()
    )


def seed_params(seed: int) -> dict:
    rng = random.Random(seed)
    return {"rotate": rng.randint(1, 4), "delta": rng.randint(-32, 32) / 1024.0}


def make_inputs(seed: int, out_dir: str) -> str:
    """Write the seed's tables as ``out_dir/<table>.parquet``; return a
    digest of their content (the oracle cache key)."""
    os.makedirs(out_dir, exist_ok=True)
    params = seed_params(seed)
    digest = hashlib.sha256(repr((seed, sorted(params.items()))).encode())
    with open(__file__, "rb") as fh:
        digest.update(fh.read())
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        table = table.take(pa.array(perm))
        if name == "documents":
            text = _rotate_tokens(table.column("text").combine_chunks(), params["rotate"])
            table = table.set_column(table.schema.get_field_index("text"), "text", text)
        elif name == "embeddings":
            emb = _shift_first_dim(table.column("embedding"), params["delta"])
            table = table.set_column(
                table.schema.get_field_index("embedding"), "embedding", emb
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        with open(os.path.join(BASE_DIR, f"{name}.parquet"), "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    return digest.hexdigest()[:16]
