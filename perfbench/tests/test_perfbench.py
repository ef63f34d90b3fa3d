"""Self-tests of the benchmark (no Spark): generator determinism, the
tail-percentile rule, the result checkers, the event-log parser, and
agreement between BENCHMARK.json and what ``run.py`` reports.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_bytes(tmp_path, workload):
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        gen.write_inputs(workload, seed, str(d))
    assert _files(str(a)) == _files(str(b))
    assert _files(str(a)) != _files(str(c))


def test_requests_are_seeded():
    base = gen.corpus(5, 500)
    ops1, ops2 = gen.serve_ops(5, base, 20), gen.serve_ops(5, base, 20)
    assert [o.query for o in ops1] == [o.query for o in ops2]
    assert {o.shape for o in ops1} == set(gen.SHAPES)
    live = sorted(base.ids)
    b1 = gen.churn_batch(5, 3, live, 500, 10, 4)
    b2 = gen.churn_batch(5, 3, live, 500, 10, 4)
    assert b1.upserts.ids == b2.upserts.ids and b1.deletes == b2.deletes
    assert np.array_equal(b1.upserts.vec, b2.upserts.vec)
    # half new keys, half updates of live keys, deletes disjoint from both
    assert b1.upserts.ids[:5] == [gen.key(500 + i) for i in range(5)]
    assert set(b1.upserts.ids[5:]) <= set(live)
    assert not set(b1.deletes) & set(b1.upserts.ids)


def test_tail_is_highest_level_with_ten_samples_beyond():
    assert tracing.tail(list(range(20))) is None
    assert tracing.tail(list(range(1, 41))) == (75.0, 30)
    assert tracing.tail(list(range(1, 101))) == (90.0, 90)
    assert tracing.tail(list(range(1, 1001))) == (99.0, 990)
    assert tracing.tail(list(range(1, 10011))) == (99.9, 10000)
    s = tracing.summary([5.0, 1.0, 3.0, 2.0])
    assert s == {"n": 4, "p50": 2.5}


def _model(n=300, seed=1):
    rows = gen.corpus(seed, n)
    m = checks.VectorModel(gen.DIM)
    m.upsert(rows)
    return rows, m


def _answer(m, q, filt, limit, offset=0):
    """Rows as the engine returns them, built from the reference."""
    out = []
    for key, dist in m.exact(q, filt, offset + limit)[offset:]:
        i = m.row_of[key]
        out.append(
            {"id": key, "type": int(m.type[i]), "size": int(m.size[i]),
             "volume": float(m.volume[i]), "dist": dist}
        )
    return out


def test_check_search_accepts_the_reference_and_rejects_corruption():
    rows, m = _model()
    q = gen.queries(1, rows, 1)[0]
    filt = gen.filter_for("type_and_size")
    good = _answer(m, q, filt, 10, offset=5)
    assert checks.check_search(good, m, q, filt, limit=10, offset=5).ok

    outsider = next(
        k for k in m.ids if not checks.eval_filter(filt, m._cols())[m.row_of[k]]
    )
    corruptions = {
        "swapped row": lambda a: a.__setitem__(0, {**a[0], "id": outsider}),
        "stale dist": lambda a: a.__setitem__(3, {**a[3], "dist": a[3]["dist"] + 1e-3}),
        "stale metadata": lambda a: a.__setitem__(2, {**a[2], "type": a[2]["type"] + 1}),
        "missing row": lambda a: a.pop(),
        "reordered": lambda a: a.reverse(),
    }
    for name, corrupt in corruptions.items():
        bad = [dict(r) for r in good]
        corrupt(bad)
        assert not checks.check_search(bad, m, q, filt, limit=10, offset=5).ok, name


def test_check_search_allows_ties_and_scores_approximate_answers():
    rows, m = _model()
    q = gen.queries(1, rows, 1)[0]
    good = _answer(m, q, None, 10)
    # a deleted row must not be served, even by an approximate search
    m.delete([good[0]["id"]])
    v = checks.check_search(good, m, q, None, limit=10, exact=False)
    assert not v.ok and "not a live row" in v.reason
    # an approximate answer that misses one true neighbour is valid
    # but loses recall
    good = _answer(m, q, None, 11)
    approx = good[:9] + good[10:11]
    v = checks.check_search(approx, m, q, None, limit=10, exact=False)
    assert v.ok and v.recall == pytest.approx(0.9)
    assert not checks.check_search(approx, m, q, None, limit=10).ok


def _dedup_answer(docs):
    groups, kept = [], []
    for members in docs.groups:
        root = min(members)
        groups += [{"id": d, "root": root, "group_size": len(members)} for d in members]
        best = min(members, key=lambda d: (-docs.quality[d], d))
        kept.append(
            {"root": root, "kept_id": best, "group_size": len(members),
             "kept_score": docs.quality[best]}
        )
    return groups, kept


def test_check_dedup_accepts_planted_groups_and_rejects_corruption():
    docs = gen.documents(3, 60, 6)
    groups, kept = _dedup_answer(docs)
    assert checks.check_dedup(groups, kept, docs).ok

    # one near copy left out of its group: valid, at lower recall
    near = docs.groups[1][1]
    lost = [r for r in groups if r["id"] != near]
    lost = [
        {**r, "group_size": r["group_size"] - 1} if r["root"] == min(docs.groups[1]) else r
        for r in lost
    ]
    v = checks.check_dedup(lost, kept, docs)
    assert v.ok and v.recall < 1.0

    # an exact copy must always land with its base
    exact = docs.groups[0][-1]
    assert docs.texts[exact] == docs.texts[docs.groups[0][0]]
    split = [dict(r) for r in groups]
    i = next(i for i, r in enumerate(split) if r["id"] == exact)
    split[i] = {**split[i], "root": exact}
    assert not checks.check_dedup(split, kept, docs).ok

    planted = {d for g in docs.groups for d in g}
    loner = next(d for d in docs.ids.tolist() if d not in planted)
    root = groups[0]["root"]
    joined = groups + [{"id": loner, "root": root, "group_size": groups[0]["group_size"]}]
    assert not checks.check_dedup(joined, kept, docs).ok

    wrong = [dict(r) for r in kept]
    members = docs.groups[0]
    wrong[0]["kept_id"] = next(d for d in members if d != wrong[0]["kept_id"])
    assert not checks.check_dedup(groups, wrong, docs).ok

    # most planted pairs missing: below the recall floor
    bare = [r for r in groups if r["root"] == min(docs.groups[0])]
    assert not checks.check_dedup(bare, kept[:1], docs).ok


def test_planted_near_duplicates_are_near():
    docs = gen.documents(4, 40, 5)

    def shingles(t):
        w = t.split()
        return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}

    for members in docs.groups:
        base = shingles(docs.texts[members[0]])
        for d in members[1:]:
            other = shingles(docs.texts[d])
            assert len(base & other) / len(base | other) > 0.85


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "data", "eventlog_tiny.json")) as f:
        totals = tracing.parse_event_log(f)
    # the ungrouped job in the recording is left out
    assert set(totals) == {"op-a", "op-b"}
    a, b = totals["op-a"], totals["op-b"]
    assert a["spark.exec.cpu_ms"] == pytest.approx((196005454 + 76403514 + 73108964) / 1e6)
    assert a["spark.exec.gc_ms"] == 76 and b["spark.exec.gc_ms"] == 50
    assert a["spark.shuffle.write_bytes"] == 302 and a["spark.shuffle.read_bytes"] == 302
    assert b["spark.shuffle.write_bytes"] == 0 and a["spark.spill_bytes"] == 0
    # launch minus stage submission, summed over the group's tasks
    assert a["spark.sched.delay_ms"] == (179 + 200) + 31
    assert b["spark.sched.delay_ms"] == 71 + 73
    # every figure is a per-layer metric
    assert set(a) | set(b) <= {name for name, _ in run.PER_LAYER}


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "layer": "client", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "layer": "catalog", "parent": 0, "start": 0.1, "end": 0.5},
        {"id": 2, "layer": "blocks", "parent": 1, "start": 0.2, "end": 0.3},
        {"id": 3, "layer": "collect", "parent": 0, "start": 0.5, "end": 0.9},
    ]
    st = tracing.self_times(spans)
    assert st["client"] == pytest.approx(200.0)
    assert st["catalog"] == pytest.approx(300.0)
    assert st["blocks"] == pytest.approx(100.0)
    assert st["collect"] == pytest.approx(400.0)


def test_benchmark_json_matches_run():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(gen.SIZES)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
