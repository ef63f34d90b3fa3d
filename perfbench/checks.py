"""Reference answers and result checks, in numpy, for every workload.

A search is checked against an exact float64 top-k over a model of the
live rows (primary key breaks distance ties). Two rows whose distances
differ by less than :data:`DIST_TOL` may swap places: stored vectors are
float32 and the engine sums in another order than numpy does.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

#: distance agreement required between the engine and the reference
DIST_TOL = 1e-5


def normalize_rows(X: np.ndarray) -> np.ndarray:
    """Unit rows stored as float32 — what a cosine collection keeps
    (normalize in float64 at write, then store float32)."""
    X64 = X.astype(np.float64)
    n = np.sqrt(np.einsum("ij,ij->i", X64, X64))
    return (X64 / np.where(n > 0, n, 1.0)[:, None]).astype(np.float32)


def normalize_query(q) -> np.ndarray:
    q = np.asarray(q, dtype=np.float64)
    n = math.sqrt(float(q @ q))
    return q / n if n else q


def eval_filter(ast: dict | None, cols: dict[str, np.ndarray]) -> np.ndarray:
    """Boolean row mask of a filter AST (the subset of the filter
    language the workloads send) over metadata columns."""
    n = len(next(iter(cols.values())))
    if ast is None:
        return np.ones(n, dtype=bool)
    op = ast["op"]
    if op in ("and", "or"):
        masks = [eval_filter(e, cols) for e in ast["expressions"]]
        return np.logical_and.reduce(masks) if op == "and" else np.logical_or.reduce(masks)
    if op == "not":
        return ~eval_filter(ast["expressions"][0], cols)
    col, v = cols[ast["index_name"]], ast["value"]
    cmp = {
        "eq": np.equal,
        "neq": np.not_equal,
        "gt": np.greater,
        "gte": np.greater_equal,
        "lt": np.less,
        "lte": np.less_equal,
    }[op]
    return cmp(col, v)


class VectorModel:
    """The live rows a cosine collection should hold after a sequence
    of upserts (last writer wins) and deletes."""

    def __init__(self, dim: int):
        self.dim = dim
        self.ids: list[str] = []
        self.row_of: dict[str, int] = {}
        self.vec = np.empty((0, dim), np.float32)
        self.type = np.empty(0, np.int64)
        self.size = np.empty(0, np.int64)
        self.volume = np.empty(0, np.float64)
        self.live = np.empty(0, bool)

    def upsert(self, rows) -> None:
        for i in (self.row_of[k] for k in rows.ids if k in self.row_of):
            self.live[i] = False
        start = len(self.ids)
        self.ids.extend(rows.ids)
        self.row_of.update({k: start + j for j, k in enumerate(rows.ids)})
        self.vec = np.concatenate([self.vec, normalize_rows(rows.vec)])
        self.type = np.concatenate([self.type, rows.type])
        self.size = np.concatenate([self.size, rows.size])
        self.volume = np.concatenate([self.volume, rows.volume])
        self.live = np.concatenate([self.live, np.ones(len(rows.ids), bool)])

    def delete(self, ids) -> None:
        for k in ids:
            self.live[self.row_of.pop(k)] = False

    def count(self) -> int:
        return int(self.live.sum())

    def live_ids(self) -> list[str]:
        return sorted(self.row_of)

    def _cols(self) -> dict[str, np.ndarray]:
        return {"type": self.type, "size": self.size, "volume": self.volume}

    def distances(self, q) -> np.ndarray:
        return np.abs(1.0 - self.vec.astype(np.float64) @ normalize_query(q))

    def exact(self, q, filter_ast: dict | None, k: int) -> list[tuple[str, float]]:
        """Exact top-``k`` (id, dist) among live rows passing the filter,
        ordered by (dist, id)."""
        d = self.distances(q)
        idx = np.flatnonzero(self.live & eval_filter(filter_ast, self._cols()))
        if len(idx) > 4 * k:
            idx = idx[np.argpartition(d[idx], 4 * k)[: 4 * k]]
        ranked = sorted(((d[i], self.ids[i]) for i in idx))[:k]
        return [(key, float(dist)) for dist, key in ranked]


@dataclass
class Verdict:
    ok: bool
    recall: float
    reason: str = ""


def check_search(
    rows: list[dict],
    model: VectorModel,
    q,
    filter_ast: dict | None,
    *,
    limit: int,
    offset: int = 0,
    exact: bool = True,
) -> Verdict:
    """Check one search answer (rows with ``id``, ``type``, ``size``,
    ``volume``, ``dist``). Every answer must hold live rows with their
    current metadata and distance, pass the filter, and be ordered.
    ``exact`` answers must also equal the reference top-k up to
    distance ties; approximate (IVF) answers are only scored by recall."""
    want = model.exact(q, filter_ast, offset + limit)[offset:]
    got_ids = [r["id"] for r in rows]
    recall = (
        len(set(got_ids) & {k for k, _ in want}) / len(want) if want else 1.0
    )
    d_all = model.distances(q)
    cols = model._cols()
    passes = eval_filter(filter_ast, cols)
    if len(rows) != len(want):
        return Verdict(False, recall, f"{len(rows)} rows, expected {len(want)}")
    if len(set(got_ids)) != len(got_ids):
        return Verdict(False, recall, "duplicate ids in answer")
    prev = -1.0
    for pos, r in enumerate(rows):
        i = model.row_of.get(r["id"])
        if i is None:
            return Verdict(False, recall, f"{r['id']} is not a live row")
        if (r["type"], r["size"]) != (model.type[i], model.size[i]) or not math.isclose(
            r["volume"], model.volume[i], rel_tol=0, abs_tol=1e-12
        ):
            return Verdict(False, recall, f"{r['id']} has stale metadata")
        if abs(r["dist"] - d_all[i]) > DIST_TOL:
            return Verdict(False, recall, f"{r['id']} dist {r['dist']} != {d_all[i]}")
        if not passes[i]:
            return Verdict(False, recall, f"{r['id']} fails the filter")
        if r["dist"] < prev - DIST_TOL:
            return Verdict(False, recall, "answer not ordered by distance")
        prev = r["dist"]
        if exact and abs(d_all[i] - want[pos][1]) > DIST_TOL:
            return Verdict(
                False, recall, f"rank {pos + offset}: {r['id']} is not in the exact top-k"
            )
    return Verdict(True, recall)


#: least share of planted pairs one dedup pass must group together
RECALL_FLOOR = 0.9


def check_dedup(group_rows: list[dict], kept_rows: list[dict], docs) -> Verdict:
    """Check ``dedup_groups`` (id, root, group_size) and
    ``keep_canonical`` (root, kept_id, group_size, kept_score) against
    the planted groups of ``docs``.

    What the pipeline guarantees is checked exactly: candidate pairs are
    verified by exact Jaccard, so no group may hold documents of two
    planted groups or any unplanted document; an exact copy has its
    base's shingle set, so it always lands with its base; each group
    keeps its best-scored member (smallest id on ties). Whether LSH
    banding finds a near copy is a matter of probability — with the 16
    permutations here a few near copies in a thousand fall in no band
    with their group, even at Jaccard 0.985 — so near copies are
    scored: recall is the share of planted pairs that share a group,
    and must reach :data:`RECALL_FLOOR`."""
    planted_of = {d: g for g, members in enumerate(docs.groups) for d in members}
    root_of = {r["id"]: r["root"] for r in group_rows}
    members: dict[int, list[int]] = {}
    for r in group_rows:
        members.setdefault(r["root"], []).append(r["id"])
    pairs = hit = 0
    for group in docs.groups:
        for a_i, a in enumerate(group):
            for b in group[a_i + 1 :]:
                pairs += 1
                hit += a in root_of and root_of.get(a) == root_of.get(b)
    recall = hit / pairs if pairs else 1.0
    sizes = {r["root"]: r["group_size"] for r in group_rows}
    for root, ids in members.items():
        tags = {planted_of.get(d) for d in ids}
        if len(tags) != 1 or None in tags:
            return Verdict(False, recall, f"group {root} joins unrelated documents")
        if sizes[root] != len(ids) or root != min(ids):
            return Verdict(False, recall, f"group {root} has a wrong size or root")
    for group in docs.groups:
        base = group[0]
        for d in group[1:]:
            if docs.texts[d] == docs.texts[base] and (
                d not in root_of or root_of[d] != root_of.get(base)
            ):
                return Verdict(False, recall, f"exact copy {d} not grouped with {base}")
    if recall < RECALL_FLOOR:
        return Verdict(False, recall, f"recall {recall:.3f} below {RECALL_FLOOR}")
    kept = {r["root"]: r for r in kept_rows}
    if set(kept) != set(members):
        return Verdict(False, recall, "keep_canonical groups differ from dedup_groups")
    for root, ids in members.items():
        best = min(ids, key=lambda d: (-docs.quality[d], d))
        if kept[root]["kept_id"] != best or kept[root]["kept_score"] != docs.quality[best]:
            return Verdict(False, recall, f"group {root} kept {kept[root]['kept_id']}, not {best}")
    return Verdict(True, recall)
