"""Measurement from outside the engine: statistics, spans, Spark's own
trackers, the Spark event log, and host counters from ``/proc``.

Nothing here edits the engine. A traced run wraps the public functions
of each layer (``catalog.Collection``, ``operators.blocks``,
``operators.ann``, ``operators.dedup``, ``operators.components``) at
their module attributes, counts py4j round-trips at
``ClientServerConnection.send_command``, runs every request under its
own Spark job group, and reads the Catalyst phase tracker of each
collected DataFrame. Spans stay in memory until :meth:`Tracer.dump`.
An untraced run installs none of this.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import time
from collections import defaultdict

# ---------------------------------------------------------------- statistics


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


#: the tail levels a report may name, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile in :data:`TAIL_LEVELS` that has at least
    ten samples beyond it, as ``(level, value)``; None when even the
    lowest level has fewer than ten samples above its rank."""
    n = len(values)
    for level in TAIL_LEVELS:
        rank = max(1, math.ceil(level / 100.0 * n))
        if n - rank >= 10:
            return level, percentile(values, level)
    return None


def summary(values: list[float]) -> dict:
    """Median, tail (when the sample supports one) and sample count."""
    out = {"n": len(values), "p50": median(values) if values else None}
    t = tail(values)
    if t is not None:
        out[f"p{t[0]:g}"] = t[1]
    return out


# ---------------------------------------------------------------- /proc


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(name))
    return kids


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (``VmHWM``) over ``root_pid`` and
    all its descendants — for Spark in local mode, the JVM and the
    Python workers it forks. An upper bound on their joint peak."""
    total_kb = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- event log


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per-job-group task totals from a Spark JSON event log.

    Returns group -> {``spark.exec.cpu_ms``, ``spark.exec.gc_ms``,
    ``spark.sched.delay_ms``, ``spark.shuffle.read_bytes``,
    ``spark.shuffle.write_bytes``, ``spark.spill_bytes``}, named as the
    per-layer metrics they become. Scheduling delay is the time a task
    waited for a core: its launch time minus its stage's submission
    time. Jobs outside any group are ignored."""
    stage_group: dict[int, str] = {}
    submitted: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                submitted.setdefault(info["Stage ID"], info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            acc = out[group]
            acc["spark.exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["spark.exec.gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            acc["spark.shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["spark.shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sub = submitted.get(ev["Stage ID"])
            if sub is not None:
                acc["spark.sched.delay_ms"] += max(0, ev["Task Info"]["Launch Time"] - sub)
    return {g: dict(v) for g, v in out.items()}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    totals: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            totals.update(parse_event_log(f))
    return totals


# ---------------------------------------------------------------- spans


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer in ms: each span's duration minus the time
    its direct children cover (children of one span never overlap —
    the client is single-threaded)."""
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]]
    return dict(out)


#: (module, attribute, layer) of every wrapped public function
WRAPPED_FUNCTIONS = (
    ("coltt_spark.operators.blocks", "block_index_scan", "blocks"),
    ("coltt_spark.operators.blocks", "block_index_topk_batch", "blocks"),
    ("coltt_spark.operators.blocks", "pack_blocks", "blocks"),
    ("coltt_spark.operators.blocks", "write_block_index", "blocks"),
    ("coltt_spark.operators.ann", "ivf_build", "ann"),
    ("coltt_spark.operators.ann", "ivf_assign", "ann"),
    ("coltt_spark.operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("coltt_spark.operators.components", "connected_components", "components"),
    ("coltt_spark.operators.components", "dedup_groups", "components"),
    ("coltt_spark.operators.components", "keep_canonical", "components"),
)

#: public ``Collection`` methods recorded as catalog spans
COLLECTION_METHODS = ("search", "search_batch", "upsert_df", "delete_where", "flush", "count")

#: methods timed as ``catalog.construct_ms``: they hand back a lazy
#: DataFrame or, for ``upsert_df``, a row count once the batch is staged
CONSTRUCT_METHODS = ("catalog.search", "catalog.search_batch", "catalog.upsert_df")

#: wrapped functions whose Spark jobs are counted per request, as
#: ``<module>.jobs``
JOB_COUNTED = ("operators.components.dedup_groups",)

#: calls that only build a lazy DataFrame; py4j round-trips are counted
#: inside them, because construction repeats exactly and execution does not
LAZY_CALLS = (
    "catalog.search",
    "catalog.search_batch",
    "operators.dedup.minhash_lsh_pairs",
    "operators.components.keep_canonical",
)


class Tracer:
    """Spans, counters and per-request Spark bookkeeping of one run.

    Counters and timings are kept under the names of the per-layer
    metrics they become: :attr:`per_op` maps a request id to its
    ``/op`` metrics, and :attr:`fn_ms` maps ``<module>.<function>_ms``
    (``operators.ann.ivf_build_ms``, ``catalog.search_ms``) to the
    duration of each call. Spans are named ``<module>.<function>``.

    ``enabled=False`` is the untraced run: :meth:`op` and
    :meth:`collect` only time their block and nothing is installed."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._installed: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self._count_py4j = False
        self.per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.fn_ms: dict[str, list[float]] = defaultdict(list)

    # -- installation ---------------------------------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        import py4j.clientserver as cs

        from coltt_spark.catalog import Collection

        for mod_name, attr, layer in WRAPPED_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            name = f"{mod_name.removeprefix('coltt_spark.')}.{attr}"
            self._patch(mod, attr, self._wrap(getattr(mod, attr), layer, name))
        for meth in COLLECTION_METHODS:
            wrapped = self._wrap(getattr(Collection, meth), "catalog", f"catalog.{meth}")
            self._patch(Collection, meth, wrapped)
        send = cs.ClientServerConnection.send_command
        tracer = self

        @functools.wraps(send)
        def counted(conn, command):
            if tracer._count_py4j:
                tracer.py4j_calls += 1
            return send(conn, command)

        self._patch(cs.ClientServerConnection, "send_command", counted)

    def _patch(self, owner, attr, new) -> None:
        self._installed.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._installed):
            setattr(owner, attr, old)
        self._installed.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        jobs_key = f"{name.rsplit('.', 1)[0]}.jobs" if name in JOB_COUNTED else None
        lazy = name in LAZY_CALLS
        construct = name in CONSTRUCT_METHODS

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = tracer._op
            if jobs_key and op is not None:
                jobs0 = tracer._jobs_so_far()
            counting = lazy and not tracer._count_py4j
            if counting:
                tracer._count_py4j = True
                calls0 = tracer.py4j_calls
            t0 = time.perf_counter()
            try:
                with tracer.span(name, layer):
                    return fn(*args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                tracer.fn_ms[f"{name}_ms"].append(ms)
                if counting:
                    tracer._count_py4j = False
                if op is not None:
                    acc = tracer.per_op[op]
                    if counting:
                        acc["spark.py4j.construct_calls"] += tracer.py4j_calls - calls0
                    if construct:
                        acc["catalog.construct_ms"] += ms
                    if jobs_key:
                        acc[jobs_key] += tracer._jobs_so_far() - jobs0

        return traced

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled or self._op is None:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, *, traced: bool = True):
        """One request unit: a root span and its own job group, so jobs,
        stages, tasks and event-log metrics attribute to it. With
        ``traced=False`` (or tracing off) the request runs bare — a
        traced run alternates the two to measure tracing overhead."""
        if not (self.enabled and traced):
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self._op = op_id
        try:
            with self.span(kind, "client"):
                yield
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(op_id)

    def collect(self, df):
        """``df.collect()`` as a span; when traced, also the Catalyst
        analysis / optimization / planning ms of its query."""
        with self.span("spark.collect", "collect"):
            t0 = time.perf_counter()
            rows = df.collect()
            ms = (time.perf_counter() - t0) * 1e3
        if self.enabled and self._op is not None:
            acc = self.per_op[self._op]
            acc["spark.exec.collect_ms"] += ms
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    acc[f"spark.catalyst.{phase}_ms"] += opt.get().durationMs()
        return rows

    def _jobs_so_far(self) -> int:
        st = self.spark.sparkContext.statusTracker()
        return len(st.getJobIdsForGroup(self._op))

    def _count_jobs(self, op_id: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        acc = self.per_op[op_id]
        for jid in st.getJobIdsForGroup(op_id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            acc["spark.jobs"] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    acc["spark.stages"] += 1
                    acc["spark.tasks"] += stage.numCompletedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "per_op": self.per_op}, f)
