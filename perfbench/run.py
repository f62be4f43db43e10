"""framequery_spark benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload sql_session --seed 1 --seconds 1 \
        --trace 0

Builds a host-sized Spark session, generates the inputs from ``--seed``,
computes DuckDB references, warms up, then runs the workload for at least
``--seconds`` and at least its fixed minimum of work (two statement laps,
one operator pass), and checks every response. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the comparability facts; the same record, plus the
spans of a traced run, is written under ``perfbench/results/``.
``python3 perfbench/table.py`` prints the layer x workload self-time table
from those records.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generation + references, repeated; median reported
SQL_KINDS = ("cached", "dbapi_read", "write", "session_read")
TAIL_MIN = 10  # calls averaged into stmt_tail_s, at least


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # the benchmark also runs from plain source trees
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def latency(calls, wall_s: float) -> dict:
    """Throughput and latency of the timed calls. A run mixes statements
    whose latencies differ several-fold, and a plain percentile of such a
    mixture jumps between the clusters, so the typical latency is taken per
    statement (its median) and combined by geometric mean, and the tail is
    the mean of the slowest fifth of the calls (at least ten)."""
    lat = sorted(c.seconds for c in calls)
    by_name: dict = {}
    for c in calls:
        by_name.setdefault(c.name, []).append(c.seconds)
    tail = lat[-min(len(lat), max(TAIL_MIN, -(-len(lat) // 5))):]
    return {
        "stmt_per_s": len(lat) / wall_s,
        "stmt_p50_gm_s": statistics.geometric_mean(
            statistics.median(v) for v in by_name.values()),
        "stmt_tail_s": statistics.fmean(tail),
    }


def end_to_end(calls, setup_s: float, cpu_s: float) -> dict:
    """Set-up wall time, and the CPU time (JVM, its Python workers and this
    process) the timed part cost per call. Wall-clock throughput and latency
    move with the load of the other tenants of a shared host by more than
    the benchmark's bounds, CPU time far less, so the latency figures are
    recorded with the run's facts and in the traced run's metrics."""
    return {
        "setup_s": (setup_s, "s"),
        "stmt_cpu_s": (cpu_s / len(calls), "s"),
    }


def per_layer(wl, tracer, wall_s: float, heap_peak_mb: float,
              heap_retained_mb: float) -> dict:
    """Per-layer metrics of a traced run. A name ending in ``_p50_s`` is a
    median call latency; other times and counters are means per timed call
    of the kind the layer serves. A layer the workload does not load
    reads 0."""
    tracer.stage_counters()
    calls = wl.calls

    def total(key, kinds=None):
        return sum(tracer.calls[c.call_id].get(key, 0.0) for c in calls
                   if kinds is None or c.kind in kinds)

    def count(kinds):
        return sum(1 for c in calls if c.kind in kinds)

    def mean(key, kinds=None):
        n = len(calls) if kinds is None else count(kinds)
        return total(key, kinds) / n if n else 0.0

    def p50(*kinds):
        lat = [c.seconds for c in calls if c.kind in kinds]
        return statistics.median(lat) if lat else 0.0

    n = len(calls)
    n_sql = count(SQL_KINDS)
    lookups = total("plan_cache_lookups")
    hits = total("plan_cache_hits")
    # build = the time execute() takes to return, less the parse it ran
    # (a plan-cache hit skips the parse)
    build = sum(tracer.calls[c.call_id].get("t.executor", 0.0)
                - tracer.calls[c.call_id].get("parse_s", 0.0)
                * (1 - tracer.calls[c.call_id].get("plan_cache_hits", 0.0))
                for c in calls if c.kind in SQL_KINDS)
    dbapi = ("dbapi_read", "write", "session_read")
    ops, streams = ("operator",), ("stream",)
    op_rows = total("rows_out", ops)
    op_s = sum(c.seconds for c in calls if c.kind == "operator")
    stream_s = total("t.streaming", streams)
    self_s = tracer.self_seconds()
    m = {
        "parser.parse_s": (mean("parse_s", SQL_KINDS), "s/call"),
        "compiler.build_s": (max(0.0, build) / n_sql if n_sql else 0.0,
                             "s/call"),
        "executor.plan_cache_lookups": (lookups, "count"),
        "executor.plan_cache_hits": (hits, "count"),
        "executor.plan_cache_hit_ratio": (hits / lookups if lookups else 0.0,
                                          "ratio"),
        "executor.write_s": (mean("t.executor", ("write",)), "s/call"),
        "executor.session_plan_leaves": (mean("plan_leaves", ("write",)),
                                         "count"),
        "executor.read_p50_s": (p50("session_read"), "s"),
        "executor.write_p50_s": (p50("write"), "s"),
        "executor.cached_read_p50_s": (p50("cached"), "s"),
        "executor.compiled_read_p50_s": (p50("dbapi_read"), "s"),
        "alchemy.cursor_overhead_s": (
            (total("t.alchemy", dbapi) - total("t.executor", dbapi)
             - total("t.spark", dbapi)) / count(dbapi)
            if count(dbapi) else 0.0, "s/call"),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (mean(f"{phase}_ms"), "ms/call")
    m["spark.exec_s"] = (mean("t.spark"), "s/call")
    for key, unit in (("jobs", "count/call"), ("stages", "count/call"),
                      ("tasks", "count/call"), ("failed_tasks", "count/call"),
                      ("input_bytes", "B/call"),
                      ("shuffle_read_bytes", "B/call"),
                      ("shuffle_write_bytes", "B/call"),
                      ("spill_bytes", "B/call"),
                      ("executor_run_s", "s/call"),
                      ("executor_cpu_s", "s/call")):
        m[f"spark.{key}"] = (mean(key), unit)
    m["jvm.gc_ms"] = (mean("gc_ms"), "ms/call")
    m["jvm.jit_ms"] = (mean("jit_ms"), "ms/call")
    m["jvm.heap_used_mb"] = (mean("heap_used_mb"), "MB")
    m["jvm.heap_peak_mb"] = (heap_peak_mb, "MB")
    m["jvm.heap_retained_mb"] = (heap_retained_mb, "MB")
    m.update({
        "operators.call_s": (mean("t.operators", ops), "s/call"),
        "operators.exec_s": (mean("t.spark", ops), "s/call"),
        "operators.rows_out": (mean("rows_out", ops), "count/call"),
        "operators.shuffle_bytes_per_row_out": (
            total("shuffle_write_bytes", ops) / op_rows if op_rows else 0.0,
            "B/row"),
        "operators.docs_per_s": (
            count(ops) * wl.docs_in / op_s if op_s else 0.0, "1/s"),
        "operators.cache.released": (mean("released"), "count/call"),
        "operators.cache.persistent_rdds_left": (
            max((tracer.calls[c.call_id].get("persistent_rdds_left", 0.0)
                 for c in calls), default=0.0), "count"),
        "streaming.run_s": (mean("t.streaming", streams), "s/call"),
        "streaming.batches": (mean("stream_batches", streams), "count/call"),
        "streaming.rows_per_s": (
            total("rows_in", streams) / stream_s if stream_s else 0.0, "1/s"),
        "failed_ratio": (sum(not c.ok for c in calls) / n, "ratio"),
    })
    m.update({f"latency.{k}": (v, "1/s" if k == "stmt_per_s" else "s")
              for k, v in latency(calls, wall_s).items()})
    for layer, s in self_s.items():
        m[f"self.{layer}_s"] = (s / n, "s/call")
    return m


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


def main(argv=None) -> int:
    t_boot = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_start = os.getloadavg()[0]
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    import session

    session.prepare_env(ROOT, work)
    sys.path.insert(0, ROOT)
    try:
        import tracing
        import workloads  # imports the engine and __spark_entry__

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of "
                     f"{sorted(workloads.WORKLOADS)}")
        spark = session.start(work, bool(args.trace))
        try:
            boot_s = time.perf_counter() - t_boot
            tracer = tracing.Tracer(spark, bool(args.trace))
            wl = workloads.WORKLOADS[args.workload](
                spark, work, args.seed, tracer)
            reps = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.prepare()
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            setup_s = boot_s + statistics.median(reps) + warm_s
            tracer.jvm.reset_heap_peak()
            jvm_pid = spark.sparkContext._gateway.proc.pid
            cpu0 = setup_cpu_s = tracing.process_tree_cpu_s(jvm_pid)
            jit0, gc0 = tracer.jvm.jit_ms(), tracer.jvm.gc_ms()
            t0 = time.perf_counter()
            wl.run(args.seconds)
            wall_s = time.perf_counter() - t0
            cpu_s = tracing.process_tree_cpu_s(jvm_pid) - cpu0
            jit_s = (tracer.jvm.jit_ms() - jit0) / 1e3
            gc_s = (tracer.jvm.gc_ms() - gc0) / 1e3
            heap_pools = tracer.jvm.heap_pool_peaks_mb()
            heap_retained = tracer.jvm.heap_retained_mb()
            wl.close()
            if args.trace:
                metrics = per_layer(wl, tracer, wall_s,
                                    sum(heap_pools.values()), heap_retained)
            else:
                metrics = end_to_end(wl.calls, setup_s, cpu_s)
            versions = session.versions(spark)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    calls = wl.calls
    failed = sum(not c.ok for c in calls)
    load_end = os.getloadavg()[0]
    cpus = session.host_cpus()
    facts = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": _git_commit(), "nproc": cpus,
        "load1_start": load_start, "load1_end": load_end,
        # bench.py's guard: a host already half-busy before the run
        "contended": load_start > 0.5 * cpus,
        **versions, "platform": platform.platform(),
        "calls_by_kind": {k: sum(1 for c in calls if c.kind == k)
                          for k in sorted({c.kind for c in calls})},
        "p50_s_by_kind": {k: statistics.median(
            c.seconds for c in calls if c.kind == k)
            for k in sorted({c.kind for c in calls})},
        "latency": latency(calls, wall_s),
        "timed_wall_s": wall_s, "timed_cpu_s": cpu_s,
        "timed_jit_s": jit_s, "timed_gc_s": gc_s,
        "setup_cpu_s": setup_cpu_s, "setup_boot_s": boot_s,
        "setup_prepare_s": reps, "setup_warm_s": warm_s,
        "heap_pool_peaks_mb": heap_pools, "heap_retained_mb": heap_retained,
    }
    result = {
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                                 f"trace{args.trace}-{int(time.time())}")
    with open(base + ".json", "w") as fh:
        json.dump({"facts": facts, **result,
                   "calls": [[c.kind, c.name, c.seconds, c.ok]
                             for c in calls]}, fh, indent=1)
    if args.trace:
        tracer.dump(base + ".spans.json")
    print(json.dumps({"facts": facts}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
