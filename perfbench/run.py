"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_churn --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout (the directory holding
``coltt_spark/``). Inputs come from ``--seed`` alone. Every answer is
checked; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``README.md`` in this directory). The line before it holds the details
— every latency with its sample count, the error rate, and the
workload-specific timings.

Each run works in its own directory under ``.perfbench/`` (warehouse,
block spool, Spark local dirs, temp files, event log), removed at exit;
a traced run leaves its spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from gen import SIZES, write_inputs  # noqa: E402

#: (name, unit) of the end-to-end metrics, reported with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("items_per_s", "1/s"),
    ("recall", "ratio"),
    ("peak_rss_mb", "MB"),
)

#: (name, unit) of the per-layer metrics, reported with --trace 1.
#: "/op" is per traced request of the workload.
PER_LAYER = (
    ("spark.py4j.construct_calls", "count/op"),
    ("catalog.construct_ms", "ms/op"),
    ("spark.catalyst.analysis_ms", "ms/op"),
    ("spark.catalyst.optimization_ms", "ms/op"),
    ("spark.catalyst.planning_ms", "ms/op"),
    ("spark.exec.collect_ms", "ms/op"),
    ("spark.jobs", "count/op"),
    ("spark.stages", "count/op"),
    ("spark.tasks", "count/op"),
    ("spark.exec.cpu_ms", "ms/op"),
    ("spark.exec.gc_ms", "ms/op"),
    ("spark.sched.delay_ms", "ms/op"),
    ("spark.shuffle.read_bytes", "B/op"),
    ("spark.shuffle.write_bytes", "B/op"),
    ("spark.spill_bytes", "B/op"),
    ("operators.blocks.spool_decodes", "count"),
    ("operators.blocks.spool_bytes", "B"),
    ("operators.blocks.setup_spool_decodes", "count"),
    ("operators.blocks.write_block_index_ms", "ms/call"),
    ("operators.ann.ivf_build_ms", "ms/call"),
    ("operators.ann.ivf_assign_ms", "ms/call"),
    ("catalog.compactions", "count"),
    ("catalog.ivf_worst_list_files", "count"),
    ("catalog.space_amp", "ratio"),
    ("catalog.write_amp", "ratio"),
    ("operators.dedup.verified_pairs", "count/op"),
    ("operators.components.jobs", "count/op"),
    ("layer.client.self_ms", "ms/op"),
    ("layer.catalog.self_ms", "ms/op"),
    ("layer.blocks.self_ms", "ms/op"),
    ("layer.ann.self_ms", "ms/op"),
    ("layer.dedup.self_ms", "ms/op"),
    ("layer.components.self_ms", "ms/op"),
    ("layer.collect.self_ms", "ms/op"),
    ("host.steal_pct", "%"),
    ("tracing.overhead_ms", "ms"),
)

def driver_memory() -> str:
    """A quarter of host RAM, at most 2 GiB: every workload's data is
    tens of MB, and the engine's 24g default exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def start_spark(run_dir: str, traced: bool):
    from coltt_spark import get_spark

    heap_mb = int(os.environ["SPARK_GRAFT_DRIVER_MEM"].rstrip("m"))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "sql-warehouse"),
        # a fixed heap and a fixed young generation: G1 then neither
        # grows the heap nor resizes eden differently from run to run,
        # so peak_rss_mb follows what the program keeps live
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Xmn{heap_mb // 8}m",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers it forked have exited. A no-op without a JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    tree = tracing.process_tree(gateway.proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    deadline = time.monotonic() + 60
    while any(tracing.alive(pid) for pid in tree):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes still running: {tree}")
        time.sleep(0.1)


def end_to_end(out) -> dict[str, float]:
    return {
        "setup_s": tracing.median(out.setup_s),
        "op_p50_ms": tracing.median(out.op_ms),
        "items_per_s": out.items_per_s,
        "recall": sum(out.recalls) / len(out.recalls),
    }


def per_layer(out, tracer, events: dict, spool_measured: tuple[int, int]) -> dict[str, float]:
    """The per-layer metrics. The tracer and the event-log parser keep
    their figures under these names already: ``/op`` metrics are
    averaged over the traced requests, ``/call`` ones over the calls."""
    ops = list(tracer.per_op)
    n_ops = max(1, len(ops))
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    for o in ops:
        for name, value in [*tracer.per_op[o].items(), *events.get(o, {}).items()]:
            m[name] += value / n_ops
    for layer, ms in tracing.self_times(tracer.spans).items():
        m[f"layer.{layer}.self_ms"] = ms / n_ops
    for name, unit in PER_LAYER:
        calls = tracer.fn_ms.get(name)
        if unit.endswith("/call") and calls:
            m[name] = sum(calls) / len(calls)
    m["operators.blocks.spool_decodes"] = spool_measured[0]
    m["operators.blocks.spool_bytes"] = spool_measured[1]
    m["operators.blocks.setup_spool_decodes"] = out.setup_spool[0]
    m.update(out.layer)
    traced = [ms for ms, t in zip(out.op_ms, out.op_traced) if t]
    bare = [ms for ms, t in zip(out.op_ms, out.op_traced) if not t]
    if traced and bare:
        m["tracing.overhead_ms"] = tracing.median(traced) - tracing.median(bare)
    return m


def details(out, steal: float) -> dict:
    lat = {"op_ms": tracing.summary(out.op_ms)}
    lat.update({k: tracing.summary(v) for k, v in out.extra_ms.items()})
    return {
        "details": {
            "setup_s": out.setup_s,
            "host_steal_pct": steal,
            "latency_ms": lat,
            "error_rate": out.failed / max(1, out.attempted),
            "failures": out.failures,
            "items": out.items,
            "busy_s": out.busy_s,
        }
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "coltt_spark", "__init__.py")):
        print(f"no coltt_spark package under {root}: run from a source checkout", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=base)
    spool = os.path.join(run_dir, "spool")
    for d in ("spool", "local", "tmp", "events", "inputs", "work"):
        os.makedirs(os.path.join(run_dir, d))
    # the block spool path is read when coltt_spark.operators.blocks is
    # imported, so all of this precedes the first coltt_spark import
    os.environ.update(
        {
            "COLTT_BLOCK_SPOOL": spool,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # every JVM, the launcher included: temp files in the run
            # directory, no /tmp/hsperfdata_* entry
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData",
            "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, root)
    try:
        inputs = write_inputs(a.workload, a.seed, os.path.join(run_dir, "inputs"))
        spark = start_spark(run_dir, bool(a.trace))
        from workloads import WORKLOADS, Context, spool_usage

        tracer = tracing.Tracer(spark, bool(a.trace))
        tracer.install()
        ctx = Context(spark, tracer, a.seed, a.seconds, os.path.join(run_dir, "work"), spool)
        cpu0 = tracing.cpu_times()
        out = WORKLOADS[a.workload](ctx, inputs)
        steal = tracing.steal_pct(cpu0, tracing.cpu_times())
        spool_end = spool_usage(spool)
        rss = tracing.tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        tracer.uninstall()
        stop_spark()

        if a.trace:
            events = tracing.read_event_log(os.path.join(run_dir, "events"))
            measured = tuple(e - s for e, s in zip(spool_end, out.setup_spool))
            metrics = per_layer(out, tracer, events, measured)
            metrics["host.steal_pct"] = steal
            units = dict(PER_LAYER)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json"))
        else:
            metrics = end_to_end(out)
            metrics["peak_rss_mb"] = rss
            units = dict(END_TO_END)
        report = details(out, steal)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": out.failed == 0 and out.attempted > 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    name: {"value": float(metrics[name]), "unit": units[name]} for name in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
