"""Sales-pipeline benchmark: one command, three seeded workloads.

    python3 salesbench/run.py --workload backfill_rebuild --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, taken from spans the benchmark records around its
calls into the package (the spans themselves go to
``.salesbench_out/trace-<workload>-seed<seed>.json``). See README.md in
this directory for what each metric means.

Everything the run writes lives under ``.salesbench_tmp/`` in the current
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

START = time.perf_counter()  # setup_s runs from here to the first timed op

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "z316_sales_data_pipeline_spark"
WORKLOADS = ("backfill_rebuild", "webhook_stream", "bi_audit")
LAYERS = ["streaming", "sources", "operators", "plans", "sinks"]

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s"}
# span name -> metric reported as the median span duration
SPAN_METRICS = [
    "session.get_spark",
    "sources.json_ingest.parse_and_explode",
    "operators.joins.lookup_join",
    "operators.windows.dedup_keep_rule",
    "operators.setops.difference",
    "plans.sales_facts.itens_fact",
    "plans.sales_facts.pedidos_fact",
    "plans.pipeline.run_sales_pipeline",
    "plans.reconcile.reconciliation_summary",
    "sinks.write_partitioned",
    "sinks.overwrite_dimension",
    "sinks.read_appended",
]
COUNT_METRICS = {  # per-layer metrics a workload reports itself, with units
    "sources.json_ingest.docs_in": "count",
    "sources.json_ingest.items_out": "count",
    "operators.joins.lookup_hit_ratio": "ratio",
    "operators.windows.dedup_kept_ratio": "ratio",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.partitions_written": "count",
    "sinks.segments": "count",
    "streaming.batches": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms",
    "streaming.commit_offsets_p50_ms": "ms",
    "streaming.query_planning_p50_ms": "ms",
    "streaming.latest_offset_p50_ms": "ms",
    "streaming.rows_per_batch_p50": "count",
    "streaming.backlog_files_max": "count",
    "streaming.generator_late_p95_s": "s",
}
ENGINE_UNITS = {
    "engine.shuffle_write_bytes": "bytes",
    "engine.input_bytes": "bytes",
    "engine.tasks": "count",
    "engine.task_time_s": "s",
    "engine.gc_s": "s",
    "engine.jvm_peak_rss_mb": "MB",
    # stolen shares of the windows setup_s, the op latencies and the
    # throughput were measured in (see README.md)
    "engine.cpu_steal_share_setup": "ratio",
    "engine.cpu_steal_share_ops": "ratio",
    "engine.cpu_steal_share_work": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured phase")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a small one)")
    return ap.parse_args(argv)


def hermetic_env(root: str) -> None:
    """Pin the session to this machine's cores and keep every file Spark,
    the JVM and Python write under ``root``. Must run before the package
    is imported: ``session`` reads ``SPARK_GRAFT_CPUS`` at import."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    os.chdir(root)  # the default warehouse, metastore and derby.log land here


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the process wait below decides
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {f"{name}_s": "s" for name in SPAN_METRICS}
    units.update({
        "sinks.write_partitioned_self_s": "s",
        "sinks.append_snapshot_p50_s": "s",
        "sinks.append_snapshot_calls": "count",
        "sources.tables.input_bytes": "bytes",
    })
    units.update(COUNT_METRICS)
    units.update({f"{layer}.self_s": "s" for layer in LAYERS})
    units.update(ENGINE_UNITS)
    units.update({f"trace.overhead_{k}": E2E_UNITS[k] for k in ("op_p50_s", "op_tail_s", "ops_per_s")})
    units.update({f"e2e_raw.{k}": unit for k, unit in E2E_UNITS.items()})
    return units


def layer_metrics(
    wl, measured_ops: set[int], engine: dict[str, float], overhead: dict[str, float], raw: dict[str, float]
) -> dict[str, float]:
    """Per-layer values of a traced run (see README.md for each)."""
    from statistics import median

    from tracing import layer_self_times, self_times

    spans = wl.tracer.spans
    own = self_times(spans)

    def med(values: list[float]) -> float:
        return median(values) if values else 0.0  # 0 for a layer the workload bypasses

    out = {f"{name}_s": med([s.duration for s in spans if s.name == name]) for name in SPAN_METRICS}
    out["sinks.write_partitioned_self_s"] = med([own[s.id] for s in spans if s.name == "sinks.write_partitioned"])
    appends = [s.duration for s in spans if s.name == "sinks.append_snapshot"]
    out["sinks.append_snapshot_p50_s"] = med(appends)
    out["sinks.append_snapshot_calls"] = float(len(appends))
    out["sources.tables.input_bytes"] = float(wl.source_input_bytes())
    counts = wl.layer_counts()
    out.update({name: float(counts.get(name, 0.0)) for name in COUNT_METRICS})
    measured = [s for s in spans if s.op in measured_ops]
    out.update({f"{layer}.self_s": secs for layer, secs in layer_self_times(measured, LAYERS).items()})
    out.update(engine)
    out.update({f"trace.overhead_{k}": v for k, v in overhead.items()})
    out.update({f"e2e_raw.{k}": v for k, v in raw.items()})
    return out


def run(args: argparse.Namespace, out_dir: str, cpu0: tuple[int, int]) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS, trace_writes

    wl = WORKLOADS[args.workload](os.getcwd(), args.seed, args.scale)
    wl.tracer = Tracer(wl.name, enabled=bool(args.trace))
    with trace_writes(wl.tracer) if args.trace else contextlib.nullcontext():
        result = run_workload(args, wl, out_dir, cpu0)
    wl.close()
    return result


def run_workload(args: argparse.Namespace, wl, out_dir: str, cpu0: tuple[int, int]) -> dict:
    from tracing import cpu_ticks, steal_share, without_steal
    from workloads import engine_snapshot, jvm_peak_rss_mb

    wl.setup()
    setup_raw = time.perf_counter() - START
    setup_steal = steal_share(cpu0, cpu_ticks())
    wl.load_truth()

    if args.trace:
        # half the measured time untraced, half traced: the difference
        # between the halves is the tracing overhead
        wl.tracer.enabled = False
        untraced = wl.measure(args.seconds / 2.0, "untraced")
        wl.tracer.enabled = True
        first_traced = wl.op_id + 1
        engine0 = engine_snapshot(wl.spark)
        measured = wl.measure(args.seconds / 2.0, "traced")
        engine1 = engine_snapshot(wl.spark)
        phases = [untraced, measured]
    else:
        measured = wl.measure(args.seconds, "run")
        phases = [measured]
    e2e = dict(measured.e2e(), setup_s=without_steal(setup_raw, setup_steal))
    raw = dict(measured.e2e(adjusted=False), setup_s=setup_raw)
    steal = {"setup": setup_steal, "ops": measured.lat_cpu.share, "work": measured.work_cpu.share}
    print(f"[salesbench] {wl.name} seed={args.seed}: " + json.dumps({
        "adjusted": e2e, "raw": raw, "stolen_share": steal, "tail_pct": measured.tail_pct,
        "work_units": measured.work, "busy_s": measured.busy_s, "latencies": measured.latencies,
    }), file=sys.stderr)
    if args.trace:
        engine = {f"engine.{k}": engine1[k] - engine0[k] for k in engine0}
        engine["engine.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
        engine.update({f"engine.cpu_steal_share_{k}": v for k, v in steal.items()})
        before = untraced.e2e()
        overhead = {k: e2e[k] - before[k] for k in before}
        values = layer_metrics(wl, set(range(first_traced, wl.op_id + 1)), engine, overhead, raw)
        units = per_layer_units()
        os.makedirs(os.path.join(out_dir, ".salesbench_out"), exist_ok=True)
        wl.tracer.dump(os.path.join(out_dir, ".salesbench_out", f"trace-{wl.name}-seed{args.seed}.json"))
    else:
        values = e2e
        units = E2E_UNITS
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(values.keys() ^ units.keys())} are not both measured and declared")
    failed = sum(p.failed for p in phases)
    return {
        "correct": failed == 0,
        "attempted": sum(p.attempted for p in phases),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [REPO, HERE]
    from tracing import cpu_ticks

    cpu0 = cpu_ticks()
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"salesbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    out_dir = os.getcwd()
    base = os.path.join(out_dir, ".salesbench_tmp")
    root = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        hermetic_env(root)
        result = run(args, out_dir, cpu0)
    finally:
        try:
            stop_jvm()
        finally:
            os.chdir(out_dir)
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
