"""Seeded input generator for the benchmark workloads.

Every input a workload feeds the engine comes from here, and only from
the seed: the same seed gives the same arrays and the same Parquet
bytes. The engine receives the generated inputs (Parquet files or
Python lists) and nothing else.

- ``corpus``: clustered 128-dim float32 vectors with the FIXTURES F1
  metadata (``id``, ``type``, ``size``, ``volume``, ``expand``).
- ``serve_ops``: single-search requests in the F1 query shapes —
  noisy corpus points and fresh random vectors.
- ``churn_batch``: one write cycle — half new primary keys, half
  updates of live keys — plus the keys to delete.
- ``documents``: random-word documents with planted near-duplicate
  groups and a quality score per document.

Run ``python3 perfbench/gen.py --workload serve_blocks --seed 1 --out DIR``
to write one workload's Parquet inputs.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
N_CLUSTERS = 64
CLUSTER_NOISE = 0.35

# stream tags keep each kind of input on its own random stream, so
# changing how many of one kind a run draws never shifts another
_CENTERS, _CORPUS, _QUERIES, _CHURN, _DOCS = 1, 2, 3, 4, 5

#: the F1 query shapes (FIXTURES.md, queries 1-4 and 6)
SHAPES = ("plain", "type_ge", "type_and_size", "nested_or", "page")


@dataclass
class Rows:
    """Column arrays of F1 rows; ``vec`` is (n, DIM) float32 as given
    to the engine (cosine collections normalize at write)."""

    ids: list[str]
    vec: np.ndarray
    type: np.ndarray
    size: np.ndarray
    volume: np.ndarray
    expand: list[bool | None]

    def __len__(self) -> int:
        return len(self.ids)

    def to_arrow(self) -> pa.Table:
        flat = pa.array(np.ascontiguousarray(self.vec, dtype=np.float32).ravel())
        return pa.table(
            {
                "id": pa.array(self.ids, pa.string()),
                "type": pa.array(self.type, pa.int64()),
                "size": pa.array(self.size, pa.int64()),
                "volume": pa.array(self.volume, pa.float64()),
                "expand": pa.array(self.expand, pa.bool_()),
                "vector": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
                    pa.list_(pa.float32())
                ),
            }
        )


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _centers(seed: int) -> np.ndarray:
    return _rng(seed, _CENTERS).standard_normal((N_CLUSTERS, DIM))


def _rows(rng: np.random.Generator, centers: np.ndarray, ids: list[str]) -> Rows:
    n = len(ids)
    member = rng.integers(0, N_CLUSTERS, n)
    vec = (centers[member] + CLUSTER_NOISE * rng.standard_normal((n, DIM))).astype(
        np.float32
    )
    expand_draw = rng.random(n)
    absent = rng.random(n) < 0.1
    expand = [None if a else bool(e < 0.5) for a, e in zip(absent, expand_draw)]
    return Rows(
        ids=ids,
        vec=vec,
        type=rng.integers(1, 11, n).astype(np.int64),
        size=rng.integers(1, 11, n).astype(np.int64),
        volume=rng.random(n),
        expand=expand,
    )


def key(i: int) -> str:
    return f"id-{i:08d}"


def corpus(seed: int, n: int) -> Rows:
    return _rows(_rng(seed, _CORPUS), _centers(seed), [key(i) for i in range(n)])


def filter_for(shape: str) -> dict | None:
    leaf_type = {"index_name": "type", "op": "gte", "value": 5}
    leaf_size = {"index_name": "size", "op": "lt", "value": 4}
    if shape == "type_ge":
        return leaf_type
    if shape == "type_and_size":
        return {"op": "and", "expressions": [leaf_type, leaf_size]}
    if shape == "nested_or":
        return {
            "op": "or",
            "expressions": [
                {"op": "and", "expressions": [leaf_type, leaf_size]},
                {"index_name": "volume", "op": "lt", "value": 0.5},
            ],
        }
    return None


@dataclass
class SearchOp:
    shape: str
    query: list[float]
    filter_ast: dict | None
    limit: int
    offset: int


def queries(seed: int, base: Rows, n: int, *, stream: int = 0) -> np.ndarray:
    """``n`` query vectors: even slots are noisy copies of corpus
    points (a near neighbour exists), odd slots fresh random vectors
    (the answer is spread across clusters)."""
    rng = _rng(seed, _QUERIES, stream)
    pick = rng.integers(0, len(base), n)
    noisy = base.vec[pick].astype(np.float64) + 0.05 * rng.standard_normal((n, DIM))
    fresh = rng.standard_normal((n, DIM))
    out = np.where((np.arange(n) % 2 == 0)[:, None], noisy, fresh)
    return out.astype(np.float32)


def serve_ops(seed: int, base: Rows, n: int) -> list[SearchOp]:
    """``n`` single-search requests cycling through the F1 shapes."""
    Q = queries(seed, base, n)
    ops = []
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        ops.append(
            SearchOp(
                shape=shape,
                query=[float(x) for x in Q[i]],
                filter_ast=filter_for(shape),
                limit=10,
                offset=5 if shape == "page" else 0,
            )
        )
    return ops


@dataclass
class ChurnBatch:
    upserts: Rows
    deletes: list[str]
    n_new: int


def churn_batch(
    seed: int, cycle: int, live: list[str], next_key: int, n_rows: int, n_deletes: int
) -> ChurnBatch:
    """One write cycle against the live key set ``live`` (sorted):
    ``n_rows`` upserts, half of them new keys from ``next_key`` on and
    half updates of live keys (fresh vector and metadata), then
    ``n_deletes`` other live keys to delete by equality."""
    rng = _rng(seed, _CHURN, cycle)
    n_new = n_rows // 2
    picked = rng.choice(len(live), n_rows - n_new + n_deletes, replace=False)
    updated = [live[i] for i in picked[: n_rows - n_new]]
    deleted = [live[i] for i in picked[n_rows - n_new :]]
    ids = [key(next_key + i) for i in range(n_new)] + updated
    return ChurnBatch(_rows(rng, _centers(seed), ids), deleted, n_new)


@dataclass
class Documents:
    ids: np.ndarray  # int64
    texts: list[str]
    quality: np.ndarray  # float64
    groups: list[list[int]]  # planted near-duplicate groups (doc ids)

    def to_arrow(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
                "quality_score": pa.array(self.quality, pa.float64()),
            }
        )


def documents(
    seed: int, n_base: int, n_groups: int, *, words: int = 120, vocab: int = 20000
) -> Documents:
    """``n_base`` random-word documents; ``n_groups`` of them each get
    two near copies (one word substituted, at different positions:
    3-shingle Jaccard ≈ 0.95 to the base, ≈ 0.90 between the copies)
    and every other group also an exact copy. Unplanted documents
    share essentially no shingles, so any group that joins two of them
    is wrong."""
    rng = _rng(seed, _DOCS)
    base = rng.integers(0, vocab, (n_base, words))
    texts = [" ".join(f"w{t}" for t in row) for row in base]
    groups: list[list[int]] = []
    for g, src in enumerate(rng.choice(n_base, n_groups, replace=False)):
        members = [int(src)]
        pos = rng.choice(words, 2, replace=False)
        for p in pos:
            toks = base[src].copy()
            toks[p] = vocab + int(rng.integers(0, vocab))  # word no base doc uses
            members.append(len(texts))
            texts.append(" ".join(f"w{t}" for t in toks))
        if g % 2 == 0:
            members.append(len(texts))
            texts.append(texts[src])
        groups.append(members)
    n = len(texts)
    return Documents(
        ids=np.arange(n, dtype=np.int64),
        texts=texts,
        quality=rng.random(n),
        groups=groups,
    )


#: input sizes per workload (the note in this directory relates them
#: to the block spool, the page cache and host RAM)
SIZES = {
    "ingest_churn": {"rows": 5000, "batch": 50, "deletes": 5},
    "dedup_minhash": {"docs": 1000, "groups": 100},
    "serve_blocks": {"rows": 20000},
}


def write_inputs(workload: str, seed: int, out: str) -> dict[str, str]:
    """Write the Parquet inputs of ``workload`` under ``out``; returns
    name -> path. Churn batches depend on the live key set, so the
    ingest workload draws them per cycle with :func:`churn_batch`."""
    size = SIZES[workload]
    if workload == "dedup_minhash":
        docs = documents(seed, size["docs"], size["groups"])
        paths = {"documents": os.path.join(out, "documents.parquet")}
        pq.write_table(docs.to_arrow(), paths["documents"])
        return paths
    paths = {"corpus": os.path.join(out, "corpus.parquet")}
    pq.write_table(corpus(seed, size["rows"]).to_arrow(), paths["corpus"])
    return paths


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, path in write_inputs(a.workload, a.seed, a.out).items():
        print(name, path)
