"""The benchmark workloads: each a closed loop with one client.

A workload sets up three times, the first time on a cold JVM (the
median is ``setup_s``), then sends requests one after another for the
run's seconds, checking each answer against :mod:`checks`. Every run
makes at least :data:`MIN_REQUESTS` requests (for ``ingest_churn``,
compaction periods), so the medians of any two runs are taken over as
many samples; a traced run alternates traced and bare ones, so that it
can measure the tracing overhead.

Every workload reports the same end-to-end quantities, so one metric
name means the same kind of thing on each:

- ``op_ms``: latency of the workload's request (a search; a search
  under churn; a full dedup pass),
- ``items_per_s``: work completed per second of request time, from
  median request times (upserted rows; documents),
- ``recall``: answer quality against the reference.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from checks import VectorModel, check_dedup, check_search
from tracing import Tracer, median

SETUP_REPS = 3

F1_FIELDS = (
    ("id", "string", False, True),
    ("type", "integer", False, False),
    ("size", "integer", False, False),
    ("volume", "float", False, False),
    ("expand", "boolean", True, False),
)

#: IVF geometry of the ingest workload (64 lists, 8 probed); a flush
#: compacts once any list gained a part file since the last full build
IVF = {"ivf_centroids": 64, "ivf_nprobe": 8, "ivf_max_list_files": 1}

#: with ``ivf_max_list_files=1`` every second flush compacts; a period
#: that reaches this many flushes without one fails its check
MAX_PERIOD_CYCLES = 4

#: the fewest requests a run makes, however long they take: with
#: fewer, a run slower than ``--seconds`` allows would take its median
#: over fewer and earlier (less warm) requests than a faster run
MIN_REQUESTS = {"ingest_churn": 2, "dedup_minhash": 3}

#: the F1 shapes of the searches each churn cycle sends
CHURN_SHAPES = ("plain", "nested_or")

#: queries in the batch that scores the churned index's recall@10
RECALL_QUERIES = 128


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    items: int = 0
    busy_s: float = 0.0
    #: items per second of request time, from median request times
    items_per_s: float = 0.0
    recalls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: further latencies by name (ms), reported beside the metrics
    extra_ms: dict[str, list[float]] = field(default_factory=dict)
    #: per-layer values only this workload can take
    layer: dict[str, float] = field(default_factory=dict)
    setup_spool: tuple[int, int] = (0, 0)

    def verdict(self, ok: bool, reason: str, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(f"{what}: {reason}")

    def add_ms(self, name: str, ms: float) -> None:
        self.extra_ms.setdefault(name, []).append(ms)

    def add_op(self, seconds: float, traced: bool) -> None:
        self.op_ms.append(seconds * 1e3)
        self.op_traced.append(traced)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    workdir: str
    spool: str


def spool_usage(spool: str) -> tuple[int, int]:
    """(entries, bytes) of the block spool — each entry is one decoded
    index file."""
    entries = size = 0
    if os.path.isdir(spool):
        for name in os.listdir(spool):
            p = os.path.join(spool, name)
            if ".tmp." in name or not os.path.isdir(p):
                continue
            entries += 1
            size += sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))
    return entries, size


def _fields():
    from coltt_spark.schema import IndexField

    return [
        IndexField(n, t, enable_null=nullable, primary_key=pk)
        for n, t, nullable, pk in F1_FIELDS
    ]


def _rows(rows) -> list[dict]:
    return [r.asDict() for r in rows]


def _by_query(rows) -> dict[int, list[dict]]:
    """``search_batch`` rows grouped per query, best first."""
    out: dict[int, list[dict]] = {}
    for r in sorted(_rows(rows), key=lambda r: (r["query_id"], r["dist"], r["id"])):
        out.setdefault(r["query_id"], []).append(r)
    return out


def _build(ctx: Context, rep: int, corpus_path: str, layout: str, warm_query, **kw):
    """One set-up: create the collection, ingest the corpus, flush
    (which builds the serving index) and run one search so the block
    spool is warm."""
    from coltt_spark.catalog import Catalog

    cat = Catalog(ctx.spark, os.path.join(ctx.workdir, f"wh{rep}"))
    coll = cat.create_collection(
        "items", dim=gen.DIM, distance="cosine", fields=_fields(), layout=layout, **kw
    )
    coll.upsert_df(ctx.spark.read.parquet(corpus_path), dedupe_batch=False)
    coll.flush()
    coll.search(warm_query, limit=10).collect()
    return coll


def _setup_collection(ctx: Context, out: Outcome, corpus_path: str, layout: str, warm, **kw):
    """:data:`SETUP_REPS` timed builds, the first on a cold JVM; the
    last is the collection the workload serves."""
    coll = None
    for rep in range(SETUP_REPS):
        if coll is not None:
            shutil.rmtree(os.path.join(ctx.workdir, f"wh{rep - 1}"))
        t0 = time.perf_counter()
        coll = _build(ctx, rep, corpus_path, layout, warm, **kw)
        out.setup_s.append(time.perf_counter() - t0)
    return coll


def serve_blocks(ctx: Context, inputs: dict[str, str]) -> Outcome:
    """Single ``Collection.search`` calls on a ``layout="blocks"``
    collection, cycling through the F1 query shapes."""
    out = Outcome()
    base = gen.corpus(ctx.seed, gen.SIZES["serve_blocks"]["rows"])
    model = VectorModel(gen.DIM)
    model.upsert(base)
    ops = gen.serve_ops(ctx.seed, base, 1000)
    spool0 = spool_usage(ctx.spool)
    coll = _setup_collection(ctx, out, inputs["corpus"], "blocks", ops[-1].query)
    out.setup_spool = tuple(a - b for a, b in zip(spool_usage(ctx.spool), spool0))

    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < t_end and i < len(ops):
        op = ops[i]
        traced = i % 2 == 0
        with ctx.tracer.op(f"search-{i}", "search", traced=traced):
            t0 = time.perf_counter()
            rows = ctx.tracer.collect(
                coll.search(op.query, filter_ast=op.filter_ast, limit=op.limit, offset=op.offset)
            )
            wall = time.perf_counter() - t0
        v = check_search(
            _rows(rows), model, op.query, op.filter_ast, limit=op.limit, offset=op.offset
        )
        out.verdict(v.ok, v.reason, f"search {i} ({op.shape})")
        out.recalls.append(v.recall)
        out.add_op(wall, traced)
        out.busy_s += wall
        out.items += 1
        out.add_ms("filtered_search" if op.filter_ast else "unfiltered_search", wall * 1e3)
        i += 1
    out.items_per_s = 1e3 / median(out.op_ms)
    return out


def _version(root: str) -> int:
    with open(os.path.join(root, "manifest.json")) as f:
        return json.load(f)["version"]


def _is_compacted(root: str) -> bool:
    """A full (compacting) flush leaves its version without tombstones;
    an incremental one always writes them."""
    return not os.path.isdir(os.path.join(root, f"v{_version(root)}_tombstones"))


def _ivf_worst_list_files(root: str) -> int:
    """Largest part-file count of one inverted list — what a probe of
    that list opens."""
    blocks = os.path.join(root, f"v{_version(root)}_ivf", "vector", "blocks")
    return max(
        sum(1 for f in os.listdir(os.path.join(blocks, d)) if f.endswith(".parquet"))
        for d in os.listdir(blocks)
        if d.startswith("centroid=")
    )


def _inodes(root: str) -> dict[int, int]:
    """inode -> size of every file under ``root`` (hardlinks once)."""
    seen: dict[int, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            seen[st.st_ino] = st.st_size
    return seen


def _user_bytes(n_rows: int) -> int:
    """Bytes of user data in ``n_rows`` F1 rows: the float32 vector,
    three 8-byte fields, the boolean and the 11-character key."""
    return n_rows * (gen.DIM * 4 + 3 * 8 + 1 + len(gen.key(0)))


def ingest_churn(ctx: Context, inputs: dict[str, str]) -> Outcome:
    """Writes beside reads on an ``ivf`` collection. A cycle upserts 1%
    of the rows (half new keys), deletes a few keys by equality,
    flushes, and sends an unfiltered and a filtered search. Cycles
    run in whole compaction periods (up to and including the flush
    that compacts), so every run weighs compaction the same. A traced
    run alternates traced and bare periods, so both halves of the
    tracing overhead see the same mix of flushes, and each traced
    period records the compaction's ``ivf_build``."""
    out = Outcome()
    size = gen.SIZES["ingest_churn"]
    base = gen.corpus(ctx.seed, size["rows"])
    model = VectorModel(gen.DIM)
    model.upsert(base)
    warm = gen.queries(ctx.seed, base, 1, stream=1)[0].tolist()
    spool0 = spool_usage(ctx.spool)
    coll = _setup_collection(ctx, out, inputs["corpus"], "ivf", warm, **IVF)
    out.setup_spool = tuple(a - b for a, b in zip(spool_usage(ctx.spool), spool0))

    tracer = ctx.tracer
    seen = _inodes(coll.root) if tracer.enabled else {}
    written = compactions = worst_files = upserted = 0
    next_key, cycle, period = size["rows"], 0, 0
    filters = [gen.filter_for(shape) for shape in CHURN_SHAPES]
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or period < MIN_REQUESTS["ingest_churn"]:
        traced = period % 2 == 0
        compacted, period_cycles = False, 0
        while not compacted and period_cycles < MAX_PERIOD_CYCLES:
            batch = gen.churn_batch(
                ctx.seed, cycle, model.live_ids(), next_key, size["batch"], size["deletes"]
            )
            path = os.path.join(ctx.workdir, f"batch{cycle}.parquet")
            pq.write_table(batch.upserts.to_arrow(), path)
            Q = gen.queries(ctx.seed, base, len(filters), stream=2 + cycle)
            op_id = f"cycle-{cycle}"
            with tracer.op(op_id, "churn_cycle", traced=traced):
                t0 = time.perf_counter()
                n = coll.upsert_df(ctx.spark.read.parquet(path), dedupe_batch=False)
                t1 = time.perf_counter()
                for k in batch.deletes:
                    coll.delete_where({"index_name": "id", "op": "eq", "value": k})
                t2 = time.perf_counter()
                coll.flush()
                t3 = time.perf_counter()
                answers = []
                for j, filt in enumerate(filters):
                    s0 = time.perf_counter()
                    rows = tracer.collect(coll.search(Q[j].tolist(), filter_ast=filt, limit=10))
                    answers.append((rows, filt, time.perf_counter() - s0))
                t4 = time.perf_counter()
            compacted = _is_compacted(coll.root)
            model.upsert(batch.upserts)
            model.delete(batch.deletes)
            out.verdict(n == len(batch.upserts), f"upsert_df returned {n}", f"cycle {cycle} upsert")
            for j, (rows, filt, wall) in enumerate(answers):
                v = check_search(_rows(rows), model, Q[j], filt, limit=10, exact=False)
                out.verdict(v.ok, v.reason, f"cycle {cycle} search {j}")
                out.add_op(wall, traced)
                out.add_ms("search", wall * 1e3)
            out.add_ms("upsert", (t1 - t0) * 1e3)
            out.add_ms("delete", (t2 - t1) * 1e3)
            out.add_ms("compacting_flush" if compacted else "flush", (t3 - t2) * 1e3)
            out.add_ms("compacting_cycle" if compacted else "cycle", (t4 - t0) * 1e3)
            out.busy_s += t4 - t0
            upserted += len(batch.upserts)
            compactions += compacted
            next_key += batch.n_new
            cycle += 1
            period_cycles += 1
            if tracer.enabled:
                worst_files = max(worst_files, _ivf_worst_list_files(coll.root))
                now = _inodes(coll.root)
                written += sum(s for ino, s in now.items() if ino not in seen)
                seen = now
                if compacted and traced:
                    built = any(
                        s["name"] == "operators.ann.ivf_build" and s["op"] == op_id
                        for s in tracer.spans
                    )
                    out.verdict(built, "no ivf_build span in its compacting flush", op_id)
        out.verdict(
            compacted, f"no auto-compaction within {MAX_PERIOD_CYCLES} flushes", f"period {period}"
        )
        period += 1
    out.items = upserted
    # a period is one incremental and one compacting cycle: rows per
    # second of the median of each, so a stray slow cycle moves neither
    kinds = [out.extra_ms.get(k) for k in ("cycle", "compacting_cycle")]
    if all(kinds):
        period_s = sum(median(ms) for ms in kinds) / 1e3
        out.items_per_s = 2 * upserted / cycle / period_s
    else:  # a period that never compacted has failed its check
        out.items_per_s = upserted / out.busy_s

    # final state: the row count, then two batch searches scored
    # against the model — every list probed (the answer must be exact)
    # and the collection's own nprobe (recall@10 of the churned index)
    n = coll.count()
    out.verdict(n == model.count(), f"count {n}, model {model.count()}", "final count")
    Q = gen.queries(ctx.seed, base, RECALL_QUERIES, stream=1)
    exhaustive = _by_query(
        coll.search_batch(
            {j: Q[j].tolist() for j in range(8)}, limit=10, nprobe=IVF["ivf_centroids"]
        ).collect()
    )
    for j in range(8):
        v = check_search(exhaustive.get(j, []), model, Q[j], None, limit=10)
        out.verdict(v.ok, v.reason, f"final exhaustive search {j}")
    t0 = time.perf_counter()
    probed = _by_query(
        coll.search_batch({j: q.tolist() for j, q in enumerate(Q)}, limit=10).collect()
    )
    out.add_ms("batch_search", (time.perf_counter() - t0) * 1e3)
    for j, q in enumerate(Q):
        v = check_search(probed.get(j, []), model, q, None, limit=10, exact=False)
        out.verdict(v.ok, v.reason, f"final batch search {j}")
        out.recalls.append(v.recall)
    out.layer.update(
        {
            "catalog.compactions": compactions,
            "catalog.ivf_worst_list_files": worst_files,
            "catalog.space_amp": sum(_inodes(coll.root).values()) / _user_bytes(model.count()),
            "catalog.write_amp": written / _user_bytes(upserted) if tracer.enabled else 0.0,
        }
    )
    return out


def dedup_minhash(ctx: Context, inputs: dict[str, str]) -> Outcome:
    """``minhash_lsh_pairs`` → ``dedup_groups`` → ``keep_canonical`` over
    documents with planted near-duplicates; one request is one pass."""
    from pyspark.sql import functions as F

    from coltt_spark.operators import components, dedup

    out = Outcome()
    size = gen.SIZES["dedup_minhash"]
    docs = gen.documents(ctx.seed, size["docs"], size["groups"])
    spark = ctx.spark

    def one_pass(df):
        pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
        groups = components.dedup_groups(pairs)
        scores = df.select(F.col("doc_id").alias("id"), "quality_score")
        group_rows = ctx.tracer.collect(groups)
        kept_rows = ctx.tracer.collect(components.keep_canonical(groups, scores))
        return pairs, group_rows, kept_rows

    def sketch():
        """One set-up: load the documents and compute their MinHash
        signatures, the shingling and hashing every pass starts with."""
        df = spark.read.parquet(inputs["documents"])
        return df, dedup.minhash_signatures(df, "doc_id", "text").collect()

    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        df, sigs = sketch()
        out.setup_s.append(time.perf_counter() - t0)
        out.verdict(
            len(sigs) == len(docs.ids), f"{len(sigs)} signatures", f"set-up {rep} sketch"
        )
    # one untimed pass, so no timed pass is the process's first: a pass
    # costs about the same over 500 documents as over all of them (its
    # time is planning, code generation and job launches), so warming
    # on the whole set costs no more and compiles exactly its plans
    one_pass(df)

    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < t_end or i < MIN_REQUESTS["dedup_minhash"]:
        traced = i % 2 == 0
        with ctx.tracer.op(f"dedup-{i}", "dedup_pass", traced=traced):
            t0 = time.perf_counter()
            pairs, group_rows, kept_rows = one_pass(df)
            wall = time.perf_counter() - t0
        if ctx.tracer.enabled and traced:
            # a work count, taken outside the request's job group
            ctx.tracer.per_op[f"dedup-{i}"]["operators.dedup.verified_pairs"] = pairs.count()
        v = check_dedup(_rows(group_rows), _rows(kept_rows), docs)
        out.verdict(v.ok, v.reason, f"dedup pass {i}")
        out.recalls.append(v.recall)
        out.add_op(wall, traced)
        out.busy_s += wall
        out.items += len(docs.ids)
        i += 1
    out.items_per_s = len(docs.ids) / (median(out.op_ms) / 1e3)
    return out


WORKLOADS = {
    "ingest_churn": ingest_churn,
    "dedup_minhash": dedup_minhash,
    "serve_blocks": serve_blocks,
}

