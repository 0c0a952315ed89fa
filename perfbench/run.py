#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client in this process
drives a fresh Spark session (``local[SPARK_GRAFT_CPUS]``, every other
setting left to ``session.get_spark``) through the workload's fixed op
sequence, then checks the engine's outputs. The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the host readings (steal and a
fixed CPU probe), set-up phases and per-class latencies. The exit code is
non-zero when any output check failed or the run could not start.

Each run gets its own TMPDIR, SPARK_LOCAL_DIRS and warehouse under
``.perfbench/`` and removes them afterwards; it refuses to start while a
JVM launched by the engine is still alive, and waits for its own JVM and
Python workers to exit before it returns.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench")
# warm-up cycles repeat until one cycle's time is within this share of
# the previous cycle's, for at most WARM_MAX cycles
SETTLE = 0.25
WARM_MAX = 3


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def class_p50(lat: dict[str, list[float]], classes=None) -> float:
    """Geometric mean over op classes of each class's median latency."""
    keys = [c for c in lat if classes is None or c in classes]
    return geomean([statistics.median(lat[c]) for c in keys])


def isolate(run_dir: str) -> None:
    """Point every temp and scratch location of this process and its
    children at ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = None


def stop_session(spark) -> list[int]:
    """Stop the session and its JVM; return processes still alive below
    this one after waiting for them."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.terminate()
    try:
        proc.wait(60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(30)
    return layers.wait_gone(layers.process_tree(os.getpid())[1:], 60)


def patch_layers(tracer) -> None:
    """Wrap the engine's public layer entry points with spans."""
    from dbms_query_optimizer_spark.plans import JoinOptimizer, TableStats, pipeline
    from dbms_query_optimizer_spark.sources.manifest import Transaction, TransactionalTable

    def memo(opt, _plan) -> None:
        tracer.counts["plans.dp_memo_entries"] += len(opt.last_plan_cache._best)

    tracer.patch(TableStats, "from_dataframe", "plans.stats_build")
    tracer.patch(JoinOptimizer, "order_joins", "plans.dp", after=memo)
    tracer.patch(pipeline, "emit_plan", "plans.emit")
    for attr in ("insert", "merge", "delete_mor"):
        tracer.patch(Transaction, attr, "manifest.stage")
    tracer.patch(Transaction, "commit", "manifest.commit")
    for attr in ("compact", "materialize_dvs", "vacuum"):
        tracer.patch(TransactionalTable, attr, "manifest.compact")


def run_ops(ops, meter, tracer=None, after=None) -> tuple[list[tuple], int]:
    """Run ops back to back; return (class, kind, seconds, CPU seconds by
    ``CpuMeter`` group) per op that completed and the number that raised."""
    done, errors = [], 0
    for op in ops:
        if tracer is not None:
            first = tracer.status.next_job_id()
        c0 = meter.read()
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op.kind}.{op.cls}") if tracer else contextlib.nullcontext():
                op.run()
            seconds = time.perf_counter() - t0
            done.append((op.cls, op.kind, seconds, meter.delta(c0, meter.read())))
        except Exception as exc:  # one failed op must not end the run
            errors += 1
            print(f"op {op.cls} failed: {exc!r}"[:2000], file=sys.stderr)
        if after is not None:
            after()
        if tracer is not None:
            t1 = time.perf_counter()
            for k, v in tracer.status.counters(first, tracer.status.next_job_id()).items():
                tracer.counts[f"spark.{k}"] += v
            tracer.overhead_s += time.perf_counter() - t1
            tracer.op += 1
    return done, errors


def warm_up(workload, meter, after) -> tuple[float, list[float]]:
    """Run warm-up cycles until per-cycle time settles."""
    cycles = workload.warm_cycles()
    times: list[float] = []
    t0 = time.perf_counter()
    try:
        for ops in cycles:
            c0 = time.perf_counter()
            _done, errors = run_ops(ops, meter, after=after)
            if errors:
                raise RuntimeError(f"{errors} op(s) failed during warm-up")
            times.append(time.perf_counter() - c0)
            settled = len(times) >= 2 and abs(times[-1] - times[-2]) <= SETTLE * times[-2]
            if settled or len(times) >= WARM_MAX:
                break
    finally:
        cycles.close()
    return time.perf_counter() - t0, times


def bench(args, run_dir: str) -> dict:
    steal0 = layers.host_cpu_ticks()
    probe_before = layers.cpu_probe_s()
    tracer = Tracer() if args.trace else None
    ctx = Ctx(spark=None, run_dir=run_dir, seed=args.seed, seconds=args.seconds, tracer=tracer)

    t0 = time.perf_counter()
    from dbms_query_optimizer_spark.session import get_spark

    with tracer.span("session.start") if tracer else contextlib.nullcontext():
        spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
        )
    ctx.spark = spark
    ctx.setup["session_s"] = time.perf_counter() - t0
    result = None
    try:
        if tracer:
            tracer.status = layers.SparkStatus(spark)
        workload = WORKLOADS[args.workload](ctx)
        if tracer:
            patch_layers(tracer)
        after = getattr(workload, "after_op", None)
        meter = layers.CpuMeter(os.getpid(), spark.sparkContext._gateway.proc.pid)
        workload.setup()
        warm_s, warm_cycles = warm_up(workload, meter, after)
        ctx.setup["warmup_s"] = warm_s
        if tracer:
            tracer.counts.clear()
            tracer.op = 0
        ops = workload.schedule()
        # the Python heap starts collected, so a collection the warm-up
        # left pending does not land in some windows only. The JVM is left
        # alone: a full G1 collection shrinks its heap, and regrowing it
        # made the window's GC CPU swing from 0.3 to 4 s between runs.
        gc.collect()

        pid = os.getpid()
        steal_w0 = layers.host_cpu_ticks()
        cpu0 = layers.tree_cpu_s(pid)
        w0 = time.perf_counter()
        done, errors = run_ops(ops, meter, tracer=tracer, after=after)
        window_s = time.perf_counter() - w0
        cpu_s = layers.tree_cpu_s(pid) - cpu0
        steal_window = layers.steal_frac(steal_w0, layers.host_cpu_ticks())
        rss_mb = layers.tree_peak_rss_mb(pid)
        if tracer:
            # the checks below call the same entry points; keep them out
            tracer.op = None
            tracer.unpatch()
            counts = dict(tracer.counts)

        n_checks = workload.check()
        probe_after = layers.cpu_probe_s()
        lat: dict[str, list[float]] = {}
        work: dict[str, list[float]] = {}
        kinds: dict[str, str] = {}
        cpu_groups: dict[str, float] = collections.defaultdict(float)
        for cls, kind, s, cpu in done:
            lat.setdefault(cls, []).append(s)
            # the op's CPU outside the JVM's JIT compiler and GC threads,
            # whose timing-driven bursts swamp it (see README)
            work.setdefault(cls, []).append(cpu["jvm"] + cpu["proc"])
            kinds[cls] = kind
            for g, v in cpu.items():
                cpu_groups[g] += v
        n_ops = max(len(done), 1)
        op_p50_s = class_p50(lat) if lat else 0.0
        # contention only ever adds CPU time, so each class's least
        # reading is its steadiest cost estimate
        cpu_s_per_op = geomean([min(v) for v in work.values()]) if work else 0.0
        ops_per_s = len(done) / window_s
        setup_s = sum(v for k, v in ctx.setup.items() if k.endswith("_s"))
        attempted = len(ops) + n_checks
        failed = errors + len(ctx.failures)
        host = {
            "steal_frac": layers.steal_frac(steal0, layers.host_cpu_ticks()),
            "steal_frac_window": steal_window,
            "cpu_probe_s_before": probe_before,
            "cpu_probe_s_after": probe_after,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "ops": len(ops),
            "window_s": window_s,
            "cpu_s": cpu_s,
            "cpu_s_by_group": cpu_groups,
            "cpu_s_per_op": cpu_s_per_op,
            "peak_rss_mb": rss_mb,
            "warmup_cycle_s": warm_cycles,
            "setup": ctx.setup,
            "host": host,
            "op_p50_s": op_p50_s,
            "ops_per_s": ops_per_s,
            "class_p50_s": {c: statistics.median(v) for c, v in lat.items()},
            "class_cpu_min_s": {c: min(v) for c, v in work.items()},
            "class_n": {c: len(v) for c, v in lat.items()},
            "failures": ctx.failures[:20],
            **getattr(workload, "detail", {}),
        }
        if not tracer:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cpu_s_per_op": (cpu_s_per_op, "s"),
            }
        else:
            metrics = {
                "client.op_p50_s": (op_p50_s, "s"),
                "client.ops_per_s": (ops_per_s, "1/s"),
                "jvm.jit_cpu_s": (cpu_groups["jit"] / n_ops, "s"),
                "jvm.gc_cpu_s": (cpu_groups["gc"] / n_ops, "s"),
                **layer_metrics(tracer, counts, ctx, workload, lat, kinds, n_ops, host, rss_mb),
            }
            detail["trace_file"] = dump_trace(tracer, args)
        print(json.dumps(detail))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if tracer:
            tracer.unpatch()
        survivors = stop_session(spark)
        if survivors:
            print(f"processes still alive after stop: {survivors}", file=sys.stderr)
            result = None
    return result


def dump_trace(tracer, args) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(path)
    return os.path.relpath(path, ROOT)


def layer_metrics(tracer, counts, ctx, workload, lat, kinds, n_ops, host, rss_mb) -> dict:
    c = collections.defaultdict(float, counts)
    per_op = lambda v: v / n_ops  # noqa: E731
    t = tracer.total_s
    writes = [k for k in lat if kinds[k] == "write"]
    reads = [k for k in lat if kinds[k] == "read"]
    m = {
        "session.start_s": (ctx.setup["session_s"], "s"),
        "engine.load_tables_s": (ctx.setup.get("load_tables_s", 0.0), "s"),
        "plans.stats_build_s": (ctx.setup.get("stats_build_s", 0.0), "s"),
        "plans.stats_jobs": (ctx.setup.get("stats_jobs", 0.0), "count"),
        "plans.dp_s": (per_op(t("plans.dp")), "s"),
        "plans.dp_memo_entries": (per_op(c["plans.dp_memo_entries"]), "count"),
        "plans.emit_s": (per_op(t("plans.emit")), "s"),
        "catalyst.plan_ms": (per_op(c["catalyst.plan_ms"]), "ms"),
        "operators.construct_s": (per_op(t("operators.construct")), "s"),
        "operators.construct_jobs": (per_op(c["operators.construct_jobs"]), "count"),
        "spark.execute_s": (per_op(t("spark.execute")), "s"),
        "spark.job_s": (per_op(c["spark.job_s"]), "s"),
    }
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ):
        m[f"spark.{k}"] = (per_op(c[f"spark.{k}"]), unit)
    state = workload.manifest_state() if hasattr(workload, "manifest_state") else {}
    files_total = c["manifest.files_total"]
    submitted = getattr(workload, "rows_submitted", 0) * getattr(workload, "row_bytes", 0)
    written = getattr(workload, "bytes_written", 0) or 0
    m.update(
        {
            "manifest.stage_s": (per_op(t("manifest.stage")), "s"),
            "manifest.commit_s": (per_op(t("manifest.commit")), "s"),
            "manifest.manifest_bytes": (state.get("manifest_bytes", 0.0), "bytes"),
            "manifest.live_files": (state.get("live_files", 0.0), "count"),
            "manifest.read_s": (per_op(t("manifest.read")), "s"),
            "manifest.files_read_frac": (
                c["manifest.files_read"] / files_total if files_total else 0.0,
                "ratio",
            ),
            "manifest.compact_s": (per_op(t("manifest.compact")), "s"),
            "manifest.bytes_written": (per_op(written), "bytes"),
            "manifest.write_p50_s": (class_p50(lat, writes) if writes else 0.0, "s"),
            "manifest.read_p50_s": (class_p50(lat, reads) if reads else 0.0, "s"),
            "manifest.write_amp": (written / submitted if submitted else 0.0, "ratio"),
            "cache.released": (per_op(c["cache.released"]), "count"),
            "host.steal_frac": (host["steal_frac"], "ratio"),
            "host.cpu_probe_s": (
                min(host["cpu_probe_s_before"], host["cpu_probe_s_after"]),
                "s",
            ),
            "process.peak_rss_mb": (rss_mb, "MB"),
            "trace.overhead_s": (per_op(tracer.overhead_s), "s"),
        }
    )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not os.path.isdir(os.path.join(ROOT, "dbms_query_optimizer_spark")):
        print(f"no engine package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    strays = layers.wait_gone(layers.engine_jvms(), 30)
    if strays:
        print(f"refusing to start: engine JVMs still running: {strays}", file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    try:
        isolate(run_dir)
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 4
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
