"""Packed block-matrix layout: equivalence with the row-layout FLAT
scan, multi-block packing, and the written-index serving path."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np

from pyspark.sql import functions as F

from coltt_spark.operators.blocks import (
    block_index_topk,
    block_topk,
    pack_blocks,
    write_block_index,
)
from coltt_spark.operators.search import vertex_search
from coltt_spark.sources.tables import load_table

from .conftest import SF_CORRECT

K = 10


def _q(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    return list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])


def _truth(spark, distance):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    res = vertex_search(
        emb, _q(spark), vector_col="embedding", distance=distance, limit=K,
        tie_break="vec_id",
    )
    return [(r["vec_id"], round(r["dist"], 6)) for r in res.collect()]


def test_block_topk_matches_row_layout_all_distances(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = _q(spark)
    blocks = pack_blocks(
        emb, id_col="vec_id", vec_col="embedding", dim=len(q), dtype="float64"
    ).cache()
    try:
        for distance in ("cosine", "euclidean", "manhattan"):
            got = block_topk(
                blocks, q, dim=len(q), k=K, distance=distance, dtype="float64"
            ).collect()
            assert [(r["id"], round(r["dist"], 6)) for r in got] == _truth(
                spark, distance
            )
    finally:
        blocks.unpersist()


def test_pack_splits_into_multiple_blocks(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings").repartition(2)
    q = _q(spark)
    n = emb.count()
    blocks = pack_blocks(
        emb, id_col="vec_id", vec_col="embedding", dim=len(q), block_rows=100
    )
    rows = blocks.collect()
    assert len(rows) >= n // 100  # forced many small blocks
    assert sum(r["n"] for r in rows) == n
    assert len({r["block_id"] for r in rows}) == len(rows)
    got = block_topk(blocks, q, dim=len(q), k=K, distance="cosine").collect()
    # float32 storage: ids must match the float64 truth (margin >> f32 eps)
    assert [r["id"] for r in got] == [i for i, _ in _truth(spark, "cosine")]


def test_written_index_serving_path(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = _q(spark)
    blocks = pack_blocks(emb, id_col="vec_id", vec_col="embedding", dim=len(q))
    path = tempfile.mkdtemp(prefix="blockidx_")
    try:
        write_block_index(blocks, path, n_files=4)
        for max_tasks in (None, 2):  # second pass: grouped tasks + warm spool
            got = block_index_topk(
                spark, path, q, dim=len(q), k=K, distance="cosine", max_tasks=max_tasks
            ).collect()
            assert [r["id"] for r in got] == [i for i, _ in _truth(spark, "cosine")]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_written_index_batch_queries(spark):
    from coltt_spark.operators.blocks import block_index_topk_batch

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    dim = len(next(iter(qs.values())))
    blocks = pack_blocks(emb, id_col="vec_id", vec_col="embedding", dim=dim)
    path = tempfile.mkdtemp(prefix="blockidx_b_")
    try:
        write_block_index(blocks, path, n_files=4)
        for distance in ("cosine", "euclidean"):
            got = block_index_topk_batch(
                spark, path, qs, dim=dim, k=K, distance=distance, max_tasks=2
            ).collect()
            by_q = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append(r["id"])
            assert set(by_q) == set(qs)
            for qid, vec in qs.items():
                single = block_index_topk(
                    spark, path, vec, dim=dim, k=K, distance=distance
                ).collect()
                assert by_q[qid] == [r["id"] for r in single]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_collection_search_batch_paths_agree(spark):
    """Collection.search_batch: the blocks fast path (one X@Qᵀ per
    file + broadcast metadata join) and the row-layout fallback must
    return identical result sets."""
    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(300)
    dim = len(emb.select("embedding").first()["embedding"])
    rows = emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding").collect()
    qs = {int(r["vec_id"]): list(r["embedding"]) for r in rows}

    def build(layout):
        wh = tempfile.mkdtemp(prefix=f"coltt_wh_sb_{layout}_")
        coll = Catalog(spark, wh).create_collection(
            f"sb_{layout}", dim=dim, distance="euclidean",
            fields=[IndexField("id", "string", primary_key=True)],
            layout=layout, block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()
        return wh, coll

    wh_b, blocks = build("blocks")
    wh_r, rowlay = build("rows")
    try:
        got_b = sorted(
            (r["query_id"], r["id"], round(r["dist"], 6))
            for r in blocks.search_batch(qs, limit=5).collect()
        )
        got_r = sorted(
            (r["query_id"], r["id"], round(r["dist"], 6))
            for r in rowlay.search_batch(qs, limit=5).collect()
        )
        assert got_b == got_r
        assert len(got_b) == 2 * 5
    finally:
        shutil.rmtree(wh_b, ignore_errors=True)
        shutil.rmtree(wh_r, ignore_errors=True)


def test_blocks_filtered_search_extended_ops(spark, tmp_path):
    """The block-path mask compiler must agree with the row path on
    the extended ops (in/not_in/between/like/not), including NULL
    three-valued logic under NOT."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(11)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("tag", "string", enable_null=True),
        IndexField("n", "integer"),
    ]
    rows = [
        {
            "id": f"r{i}",
            "tag": rng.choice(["alpha", "beta", "gamma", None]),
            "n": rng.randint(0, 50),
            "vector": [rng.gauss(0, 1) for _ in range(6)],
        }
        for i in range(120)
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    blk = cat.create_collection(
        "b", dim=6, distance="euclidean", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    twin = cat.create_collection("r", dim=6, distance="euclidean", fields=fields)
    for c in (blk, twin):
        c.upsert(rows)
    blk.flush()
    q = [rng.gauss(0, 1) for _ in range(6)]
    asts = [
        {"index_name": "tag", "op": "in", "value": ["alpha", "beta"]},
        {"index_name": "tag", "op": "not_in", "value": ["alpha"]},
        {"index_name": "n", "op": "between", "value": [10, 30]},
        {"index_name": "tag", "op": "like", "value": "%et%"},
        {"op": "not", "expressions": [
            {"index_name": "tag", "op": "like", "value": "a%"}]},
        {"op": "and", "expressions": [
            {"index_name": "n", "op": "between", "value": ["5", 45]},
            {"op": "not", "expressions": [
                {"index_name": "tag", "op": "in", "value": ["gamma"]}]},
        ]},
    ]
    for ast in asts:
        a = [(r["id"], round(r["dist"], 6))
             for r in blk.search(q, filter_ast=ast, limit=25).collect()]
        b = [(r["id"], round(r["dist"], 6))
             for r in twin.search(q, filter_ast=ast, limit=25).collect()]
        assert a == b, ast


def test_search_batch_filtered_all_paths(spark, tmp_path):
    """Batch + filter must agree with per-query filtered single search
    on every serving path: packed blocks, IVF (all partitions probed),
    and the rows fallback."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(23)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    rows = [
        {"id": f"r{i}", "label": rng.randint(0, 9),
         "vector": [rng.gauss(0, 1) for _ in range(6)]}
        for i in range(150)
    ]
    qs = {j: [rng.gauss(0, 1) for _ in range(6)] for j in range(3)}
    ast = {"index_name": "label", "op": "gte", "value": 5}
    cat = Catalog(spark, str(tmp_path / "wh"))
    colls = {
        "blocks": cat.create_collection(
            "b", dim=6, distance="euclidean", fields=fields,
            layout="blocks", block_dtype="float64"),
        "ivf": cat.create_collection(
            "i", dim=6, distance="euclidean", fields=fields,
            layout="ivf", ivf_centroids=4, ivf_nprobe=4, block_dtype="float64"),
        "rows": cat.create_collection(
            "r", dim=6, distance="euclidean", fields=fields),
    }
    for c in colls.values():
        c.upsert(rows)
        c.flush()
    for name, c in colls.items():
        batch = c.search_batch(qs, limit=7, filter_ast=ast).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append((round(r["dist"], 6), r["id"]))
        for qid, qv in qs.items():
            single = [
                (round(r["dist"], 6), r["id"])
                for r in c.search(qv, filter_ast=ast, limit=7).collect()
            ]
            assert sorted(got.get(qid, [])) == sorted(single), (name, qid)
            assert all(x >= 5 for x in
                       [r["label"] for r in batch if r["query_id"] == qid])


def test_blocks_pagination_matches_rows(spark, tmp_path):
    """offset+limit pagination through the packed index must page
    exactly like the row path (same order, no overlap, no gap)."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(31)
    fields = [IndexField("id", "string", primary_key=True)]
    rows = [
        {"id": f"r{i}", "vector": [rng.gauss(0, 1) for _ in range(8)]}
        for i in range(120)
    ]
    q = [rng.gauss(0, 1) for _ in range(8)]
    cat = Catalog(spark, str(tmp_path / "wh"))
    blk = cat.create_collection(
        "b", dim=8, distance="cosine", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    twin = cat.create_collection("r", dim=8, distance="cosine", fields=fields)
    blk.upsert(rows); twin.upsert(rows); blk.flush()
    pages_b, pages_r = [], []
    for off in (0, 7, 14):
        pages_b += [(r["id"], round(r["dist"], 6))
                    for r in blk.search(q, limit=7, offset=off).collect()]
        pages_r += [(r["id"], round(r["dist"], 6))
                    for r in twin.search(q, limit=7, offset=off).collect()]
    assert pages_b == pages_r
    assert len(set(x[0] for x in pages_b)) == 21  # no overlap across pages


def test_quantized_delta_flush_and_filtered_batch(spark, tmp_path):
    """Two uncovered seams at once: (1) an incremental flush of a
    QUANTIZED blocks collection packs the delta at stored precision;
    (2) the batched scan applies a payload filter AND the tombstone
    mask together. Both must match a quantized rows twin."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(41)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    rows = [
        {"id": f"r{i}", "label": rng.randint(0, 9),
         "vector": [rng.gauss(0, 1) for _ in range(8)]}
        for i in range(150)
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    blk = cat.create_collection(
        "qb", dim=8, distance="cosine", fields=fields,
        layout="blocks", block_dtype="float64", quantization="sq8",
    )
    twin = cat.create_collection(
        "qr", dim=8, distance="cosine", fields=fields, quantization="sq8",
    )
    for c in (blk, twin):
        c.upsert(rows)
    blk.flush(); twin.flush()
    updates = [dict(r, label=r["label"] + 10) for r in rows[:12]]
    for c in (blk, twin):
        c.upsert(updates)
        c.delete_where({"index_name": "label", "op": "eq", "value": 3})
    blk.flush()  # delta: quantized rows packed incrementally
    twin.flush()
    import os

    assert os.path.isdir(blk._tombstones_dir(blk.manifest.version))

    qs = {j: [rng.gauss(0, 1) for _ in range(8)] for j in range(2)}
    ast = {"index_name": "label", "op": "gte", "value": 5}
    batch = blk.search_batch(qs, limit=9, filter_ast=ast).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((round(r["dist"], 6), r["id"]))
    for qid, qv in qs.items():
        single = [(round(r["dist"], 6), r["id"])
                  for r in twin.search(qv, filter_ast=ast, limit=9).collect()]
        assert sorted(got.get(qid, [])) == sorted(single), qid


def test_grouped_search_blocks_fast_path_matches_rows(spark, tmp_path):
    """Grouped search served from the packed index (per-block
    per-group winners + keyed merge) must equal the row-view path,
    with and without filters, across distances."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(91)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    rows = [
        {"id": f"r{i}", "label": rng.randint(0, 7),
         "vector": [rng.gauss(0, 1) for _ in range(8)]}
        for i in range(160)
    ]
    q = [rng.gauss(0, 1) for _ in range(8)]
    for distance in ("cosine", "euclidean"):
        cat = Catalog(spark, str(tmp_path / f"wh_{distance}"))
        blk = cat.create_collection(
            "b", dim=8, distance=distance, fields=fields,
            layout="blocks", block_dtype="float64",
        )
        twin = cat.create_collection("r", dim=8, distance=distance, fields=fields)
        blk.upsert(rows); twin.upsert(rows); blk.flush()
        for kw in (
            dict(limit=10, per_group=2),
            dict(limit=6, per_group=1,
                 filter_ast={"index_name": "label", "op": "gte", "value": 3}),
        ):
            a = [(r["id"], r["label"], round(r["dist"], 6))
                 for r in blk.search_grouped(q, "label", **kw).collect()]
            b = [(r["id"], r["label"], round(r["dist"], 6))
                 for r in twin.search_grouped(q, "label", **kw).collect()]
            assert a == b, (distance, kw)
        # delta-flushed state: grouped fast path masks tombstones too
        updates = [dict(r, label=r["label"] + 10) for r in rows[:10]]
        for c in (blk, twin):
            c.upsert(updates)
            c.delete_where({"index_name": "label", "op": "eq", "value": 2})
        blk.flush(); twin.flush()
        a = [(r["id"], r["label"], round(r["dist"], 6))
             for r in blk.search_grouped(q, "label", limit=10, per_group=2).collect()]
        b = [(r["id"], r["label"], round(r["dist"], 6))
             for r in twin.search_grouped(q, "label", limit=10, per_group=2).collect()]
        assert a == b, (distance, "delta")


def test_distance_tie_break_by_pk_not_commit_order(spark, tmp_path):
    """Exact-distance ties (duplicate vectors — routine in dedup
    corpora) must resolve by PRIMARY KEY on every packed path, even
    when pk order opposes insertion (commit-id) order: single search,
    grouped search, and batch search all match the row twin."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(3)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("label", "integer"),
    ]
    # 30 distinct vectors, each duplicated 4× under ids whose lexic
    # order INVERTS insertion order (z.., y.., .., a..)
    base = [[rng.gauss(0, 1) for _ in range(6)] for _ in range(30)]
    rows = []
    for i, v in enumerate(base):
        for j, prefix in enumerate("zyxw"):
            rows.append({"id": f"{prefix}{i:02d}", "label": j, "vector": list(v)})
    q = [rng.gauss(0, 1) for _ in range(6)]
    cat = Catalog(spark, str(tmp_path / "wh"))
    blk = cat.create_collection(
        "b", dim=6, distance="euclidean", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    twin = cat.create_collection("r", dim=6, distance="euclidean", fields=fields)
    blk.upsert(rows); twin.upsert(rows); blk.flush()

    def tuples(res):
        return [(r["id"], round(r["dist"], 6)) for r in res.collect()]

    for lim in (1, 3, 7, 10):
        assert tuples(blk.search(q, limit=lim)) == tuples(twin.search(q, limit=lim)), lim
    a = tuples(blk.search_grouped(q, "label", limit=8, per_group=1))
    b = tuples(twin.search_grouped(q, "label", limit=8, per_group=1))
    assert a == b
    qs = {0: q, 1: base[0]}
    ba = blk.search_batch(qs, limit=3).collect()
    got = sorted((r["query_id"], r["id"], round(r["dist"], 6)) for r in ba)
    exp = []
    for qid, qv in qs.items():
        exp += [(qid, r["id"], round(r["dist"], 6))
                for r in twin.search(qv, limit=3).collect()]
    assert got == sorted(exp)


def test_spool_eviction_and_invalidation(spark, tmp_path, monkeypatch):
    """Direct spool-cache contract: entries evict LRU once the byte
    budget is exceeded, an evicted file transparently re-spools with
    identical data, and rewriting an index file (new mtime/inode)
    invalidates its entry instead of serving stale arrays."""
    import os
    import time as _time

    import numpy as np

    from coltt_spark.operators import blocks as B

    spool = tmp_path / "spool"
    spool.mkdir()
    monkeypatch.setattr(B, "_SPOOL_DIR", str(spool))

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 6)]) for i in range(1200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "idx")
    B.write_block_index(
        B.pack_blocks(df.repartition(6), id_col="vec_id", vec_col="embedding", dim=6),
        idx_dir, n_files=6,
    )
    files = B._index_files(idx_dir)
    assert len(files) >= 4
    first = {}
    for f in files:
        ids, X, _, _ = B._spool_file(f, 6, np.float32)
        first[f] = (np.asarray(ids).copy(), np.asarray(X).copy())
        _time.sleep(0.01)  # distinct LRU mtimes

    def entries():
        return [p for p in os.listdir(str(spool)) if not p.endswith("tmp")]

    assert len(entries()) == len(files)
    # shrink the budget to ~2 entries and trigger a prune
    sizes = [
        sum(os.path.getsize(os.path.join(str(spool), e, f))
            for f in os.listdir(os.path.join(str(spool), e)))
        for e in entries()
    ]
    monkeypatch.setattr(B, "_SPOOL_MAX_BYTES", int(sum(sorted(sizes)[:2]) + 10))
    B._prune_spool()
    assert len(entries()) <= 2, "LRU prune must respect the byte budget"
    # evicted files re-spool transparently with identical data
    for f in files:
        ids, X, _, _ = B._spool_file(f, 6, np.float32)
        assert np.array_equal(np.asarray(ids), first[f][0])
        assert np.allclose(np.asarray(X), first[f][1])
    # rewriting a file invalidates: same path, new content ≠ stale read
    monkeypatch.setattr(B, "_SPOOL_MAX_BYTES", 1 << 30)
    target = files[0]
    before = len(entries())
    df2 = spark.createDataFrame(
        [(i + 10_000, v) for i, v in rows], "vec_id long, embedding array<float>"
    )
    tmp_idx = str(tmp_path / "idx2")
    B.write_block_index(
        B.pack_blocks(df2.repartition(1), id_col="vec_id", vec_col="embedding", dim=6),
        tmp_idx, n_files=1,
    )
    os.replace(B._index_files(tmp_idx)[0], target)
    ids2, _, _, _ = B._spool_file(target, 6, np.float32)
    assert np.asarray(ids2).min() >= 10_000, "stale spool entry served"
    assert len(entries()) >= before  # a NEW entry was created for the rewrite


def test_multi_vector_blocks_per_field_indexes(spark, tmp_path):
    """A multi-vector (CFLAT) collection with layout="blocks" packs
    ONE index per vector field at flush; vector_field selects which
    packed index serves, each matching its own row-twin ranking."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = random.Random(9)
    fields = [
        IndexField("id", "string", primary_key=True),
        IndexField("title_vec", "vector"),
        IndexField("body_vec", "vector"),
    ]
    rows = [
        {
            "id": f"d{i}",
            "title_vec": [rng.gauss(0, 1) for _ in range(6)],
            "body_vec": [rng.gauss(0, 1) for _ in range(6)],
        }
        for i in range(120)
    ]
    cat = Catalog(spark, str(tmp_path / "wh"))
    blk = cat.create_collection(
        "mv", dim=6, distance="cosine", fields=fields,
        layout="blocks", block_dtype="float64",
    )
    twin = cat.create_collection("mv_r", dim=6, distance="cosine", fields=fields)
    blk.upsert(rows)
    twin.upsert(rows)
    blk.flush()
    import os

    assert os.path.isdir(blk._blocks_dir("title_vec"))
    assert os.path.isdir(blk._blocks_dir("body_vec"))
    q = [rng.gauss(0, 1) for _ in range(6)]
    for vf in ("title_vec", "body_vec"):
        got = [(r["id"], round(r["dist"], 6))
               for r in blk.search(q, vector_field=vf, limit=8).collect()]
        want = [(r["id"], round(r["dist"], 6))
                for r in twin.search(q, vector_field=vf, limit=8).collect()]
        assert got == want, vf
    # the two fields genuinely rank differently (distinct indexes)
    a = [r["id"] for r in blk.search(q, vector_field="title_vec", limit=8).collect()]
    b = [r["id"] for r in blk.search(q, vector_field="body_vec", limit=8).collect()]
    assert a != b


def test_scan_mode_guards(spark):
    """API misuse fails loudly: radius and grouped modes are mutually
    exclusive, and a pack group column cannot shadow another role."""
    import pytest as _pytest

    from coltt_spark.operators.blocks import block_index_scan, pack_blocks
    from pyspark.sql import types as T2

    df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="mutually exclusive"):
        block_index_scan(
            spark, "/nonexistent", [0.1, 0.2], dim=2, radius=0.5,
            group_col="g", per_group=1,
            payload_schema=T2.StructType([T2.StructField("g", T2.LongType())]),
        )
    with _pytest.raises(ValueError, match="collides"):
        pack_blocks(df, id_col="vec_id", vec_col="embedding", dim=2,
                    group_col="vec_id")


def test_ivf_recall_monotone_in_nprobe(spark, tmp_path):
    """The IVF dial's contract (catalog serving path): probe sets are
    NESTED in nprobe (top-n centroids by cosine), so recall@k against
    the exact answer is non-decreasing in nprobe — and at full probes
    the search IS exact (every inverted list scanned). Verified on a
    clustered corpus with real inter-cluster overlap, against an
    independent numpy brute-force oracle. The 1M-scale recall/latency
    curve lives in bench.py (_bench_ivf_recall_curve)."""
    import numpy as np

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    n, dim, n_clusters, n_centroids = 400, 8, 10, 8
    centers = np.random.default_rng(42).normal(0.0, 1.0, (n_clusters, dim))
    vecs = np.array(
        [
            centers[i % n_clusters]
            + np.random.default_rng(10_000 + i).normal(0.0, 1.2, dim)
            for i in range(n)
        ]
    ).astype(np.float32)
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "recall", dim=dim, distance="euclidean",
        fields=[IndexField("id", "string", primary_key=True)],
        layout="ivf", ivf_centroids=n_centroids, ivf_nprobe=2,
        block_dtype="float64",
    )
    coll.upsert(
        [{"id": f"{i:04d}", "vector": [float(x) for x in vecs[i]]} for i in range(n)]
    )
    coll.flush()
    q = centers[3] + np.random.default_rng(999).normal(0.0, 1.2, dim)
    # independent exact oracle on the float32-stored values
    d = np.linalg.norm(vecs.astype(np.float64) - q[None, :], axis=1)
    exact = {f"{i:04d}" for i in np.lexsort((np.arange(n), d))[:10]}
    qv = [float(x) for x in q]
    recalls = []
    for nprobe in range(1, n_centroids + 1):
        got = {r["id"] for r in coll.search(qv, limit=10, nprobe=nprobe).collect()}
        recalls.append(len(got & exact) / 10.0)
    assert recalls == sorted(recalls), recalls  # non-decreasing in nprobe
    assert recalls[-1] == 1.0, recalls          # exact at full probes
    assert recalls[0] < 1.0, recalls            # and the dial is real:
    # nprobe=1 on an overlapping corpus must actually miss neighbors,
    # otherwise this test would pass vacuously on a degenerate corpus


def test_scan_task_count_sized_by_bytes():
    """The block-scan task count follows bytes, like a Spark file scan:
    tiny files run as one task; more bytes mean more tasks, capped at
    the parallelism and at the file count."""
    from coltt_spark.operators.blocks import _scan_task_count

    mb = 1 << 20
    split = 128 * mb
    assert _scan_task_count([40_000] * 8, 4, split) == 1
    assert _scan_task_count([100 * mb] * 2, 8, split) == 2
    assert _scan_task_count([100 * mb] * 3, 8, split) == 3
    assert _scan_task_count([100 * mb] * 40, 4, split) == 4  # parallelism cap
    assert _scan_task_count([900 * mb], 8, split) == 1  # file-count cap
    counts = [_scan_task_count([64 * mb] * 16, 32, b) for b in (512 * mb, 256 * mb, 64 * mb)]
    assert counts == [2, 4, 16]


def test_block_scans_independent_of_task_count(spark, tmp_path):
    """Config independence: the byte-sized default (one task here), a
    forced split by a small ``maxPartitionBytes``, and one task per
    file all return identical rows from the single-query, batch and
    filtered scans."""
    import numpy as np

    from pyspark.sql import types as T2

    from coltt_spark.operators.blocks import (
        _index_files,
        block_index_scan,
        block_index_topk_batch,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings").withColumn(
        "g", F.col("vec_id") % 3
    )
    q = _q(spark)
    dim = len(q)
    qs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    path = str(tmp_path / "idx")
    write_block_index(
        pack_blocks(
            emb, id_col="vec_id", vec_col="embedding", dim=dim,
            block_rows=200, payload_cols=["g"],
        ),
        path, n_files=6,
    )
    files = _index_files(path)
    payload = T2.StructType([T2.StructField("g", T2.LongType())])

    def run(max_tasks):
        top = block_index_topk(spark, path, q, dim=dim, k=K, max_tasks=max_tasks)
        batch = block_index_topk_batch(
            spark, path, qs, dim=dim, k=K, distance="euclidean", max_tasks=max_tasks
        )
        filtered = block_index_scan(
            spark, path, q, dim=dim, k=K, max_tasks=max_tasks,
            payload_schema=payload,
            payload_filter=lambda t: np.asarray(t.column("g")) != 0,
        )
        return (
            [tuple(r) for r in top.collect()],
            sorted(map(tuple, batch.collect())),
            sorted(map(tuple, filtered.collect())),
        )

    default = run(None)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(1, sum(map(os.path.getsize, files)) // 3)))
    try:
        split = run(None)
    finally:
        spark.conf.set(key, prev)
    per_file = run(len(files))
    assert default[0] and default[1] and default[2]
    assert all(r[2] != 0 for r in default[2])
    assert default == split == per_file


def test_ivf_search_is_one_job_of_one_task(spark, tmp_path):
    """Job-shape guard: a search on a small ivf collection reads a few
    KB of probed block files, so it runs as one job of one task, not
    one task per file."""
    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rng = np.random.default_rng(5)
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "shape", dim=8, distance="cosine",
        fields=[IndexField("id", "string", primary_key=True)],
        layout="ivf", ivf_centroids=8, ivf_nprobe=4,
    )
    coll.upsert(
        [{"id": f"{i:04d}", "vector": rng.normal(size=8).tolist()} for i in range(400)]
    )
    coll.flush()
    q = rng.normal(size=8).tolist()
    coll.search(q, limit=10).collect()  # warm the spool
    hits, tasks = _stage_tasks(spark, lambda: coll.search(q, limit=10).collect())
    assert len(hits) == 10
    assert tasks == [[1]], tasks


def _stage_tasks(spark, action):
    """Run ``action`` under a fresh job group; return its result and
    the task count of every stage, per job."""
    import uuid

    sc = spark.sparkContext
    group = f"test-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scan job shape")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return out, [
        [st.getStageInfo(sid).numTasks for sid in sorted(st.getJobInfo(j).stageIds)]
        for j in sorted(st.getJobIdsForGroup(group))
    ]


def test_batch_scan_tasks_scale_with_batch_size(spark, tmp_path):
    """A batch of B queries does B times the matmul work per byte, so
    its scan counts B times the file bytes: with the split set to the
    whole index, one query scans as one task and a batch of three as
    three (capped at the parallelism)."""
    from coltt_spark.operators.blocks import _index_files, block_index_topk_batch

    emb = load_table(spark, SF_CORRECT, "embeddings")
    dim = len(_q(spark))
    qs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    path = str(tmp_path / "idx")
    write_block_index(
        pack_blocks(emb, id_col="vec_id", vec_col="embedding", dim=dim, block_rows=200),
        path, n_files=6,
    )
    files = _index_files(path)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(sum(map(os.path.getsize, files))))
    try:
        shapes = {
            b: _stage_tasks(
                spark,
                lambda b=b: block_index_topk_batch(
                    spark, path, dict(list(qs.items())[:b]), dim=dim, k=K
                ).collect(),
            )[1]
            for b in (1, 3)
        }
    finally:
        spark.conf.set(key, prev)
    par = spark.sparkContext.defaultParallelism
    # the scan is the first stage of the first job; the rank() merge follows
    assert shapes[1][0][0] == 1, shapes
    assert shapes[3][0][0] == min(3, par, len(files)), shapes
