#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric", "value", "unit", "queries", "sf"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def compact_summary(total: float, batch_s: float, streaming_s: float,
                    timings: dict, streaming_names, floor_s: float,
                    sf_val, reps: int, failed: list, ckpt_root: str,
                    load1_start: float, load1_end: float,
                    contended: bool) -> str:
    """The LAST stdout line: the driver captures only a byte-bounded tail
    of the output, so this line must stay compact (< ~1.5 KB) no matter
    how large the inventory grows.  BENCH_r10 went unparsed (parsed: null)
    because this line embedded slowest_reps + cache_diag and overflowed
    the tail capture — those now live ONLY in the penultimate full-JSON
    line and bench_entries.json.  tests/test_bench_artifacts.py asserts
    the size bound for a 200-entry inventory."""
    return json.dumps({
        "metric": "total_query_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "total_s": round(total, 3),
        "batch_s": round(batch_s, 3),
        "streaming_s": round(streaming_s, 3),
        "n": len(timings),
        "n_streaming": sum(1 for k in timings if k in streaming_names),
        "floor_s": floor_s,
        "sf": sf_val,
        "reps": reps,
        # bound the failure list too: a catastrophic run (every entry
        # failing) must still produce a parseable last line
        "failed": failed[:10],
        "n_failed": len(failed),
        "ckpt_root": ckpt_root,
        "load1_start": round(load1_start, 1),
        "load1_end": round(load1_end, 1),
        "contended": contended,
    })


def per_query_brief(timings: dict, all_runs: dict, here: str) -> str:
    """The PENULTIMATE stdout line: a bounded per-query signal for the
    driver's byte-truncated tail capture. PERF_r11/r12 had n_common=0 —
    no per-query comparison was possible for two rounds because the full
    per-entry map only appears in the (huge) full-JSON line, which the
    tail always truncates. This line carries just enough to attribute a
    total-seconds move: the 12 slowest entries, the 12 biggest movers vs
    the last committed bench_entries_r*.json snapshot (|delta| >= 0.2 s),
    and the stall self-diagnostic (entries whose worst rep exceeded 2.5x
    their median — a high count marks a JIT/GC-stall-family run whose
    total is host noise, not plan cost). Caps keep it < ~1 KB for ANY
    inventory size, so it and the compact summary both fit the ~2 KB
    tail; tests/test_bench_artifacts.py asserts the bound."""
    import glob
    import re

    prev, prev_rnd = {}, None
    snaps = {}
    for path in glob.glob(os.path.join(here, "bench_entries_r*.json")):
        m = re.search(r"bench_entries_r(\d+)\.json$", path)
        if m:
            snaps[int(m.group(1))] = path
    if snaps:
        prev_rnd = max(snaps)
        try:
            with open(snaps[prev_rnd]) as fh:
                prev = {k: v.get("median", -1.0)
                        for k, v in json.load(fh).get("entries", {}).items()}
        except (OSError, ValueError):
            prev = {}
    top = sorted(((v, k) for k, v in timings.items() if v > 0),
                 reverse=True)[:12]
    movers = sorted(
        ((round(v - prev[k], 1), k) for k, v in timings.items()
         if v > 0 and prev.get(k, -1.0) > 0 and abs(v - prev[k]) >= 0.2),
        key=lambda dk: -abs(dk[0]))[:12]
    n_stalled = sum(
        1 for k, runs in all_runs.items()
        if timings.get(k, 0) > 0 and runs
        and max(runs) / timings[k] > 2.5)
    return json.dumps({
        "metric": "per_query_brief",
        "prev_snapshot": prev_rnd,
        "top": {k: round(v, 1) for v, k in top},
        "movers_vs_prev": {k: d for d, k in movers},
        "n_stalled": n_stalled,
    })


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Load guard: the r07 driver bench recorded 311 s for plans whose solo
    # steady state sums to ~120 s — a contention-poisoned artifact is worse
    # than none because it is the driver's regression signal. Record host
    # load at start and end; when the 1-minute loadavg already exceeds half
    # the bench's own CPU budget BEFORE we start, flag the run as contended
    # in the output JSON (and say so on stderr) so a slow total is
    # attributable to the host, not the plans.
    try:
        load1_start = os.getloadavg()[0]
    except OSError:
        load1_start = -1.0
    contended_start = load1_start > 0.5 * cpus
    if contended_start:
        print(f"bench: WARNING host 1-min loadavg {load1_start:.1f} exceeds "
              f"half the bench budget ({cpus} cpus) before start — timings "
              "will be flagged contended", file=sys.stderr)

    # Streaming entries fsync their offset/commit logs per micro-batch; the
    # resolved scratch root decides whether that is tmpfs or disk. Log it so
    # a streaming_s regression is attributable (r07: 33.3 s vs r06 17.1 s
    # with no way to tell whether /dev/shm was engaged in the driver env).
    from framequery_spark.streaming.stream import scratch_dir

    ckpt_root = scratch_dir()
    print(f"bench: streaming checkpoint root = {ckpt_root} "
          f"({'tmpfs' if ckpt_root == '/dev/shm' else 'disk-backed'})",
          file=sys.stderr)

    from framequery_spark.plans.tuning import local_session

    spark = local_session(cpus, "framequery_spark_bench")

    import __spark_entry__ as entry

    qs = entry.queries()
    # SPARK_GRAFT_ONLY=name1,name2 — solo / isolation runs (r12: used to
    # re-measure regression suspects outside suite-order effects) and
    # per-entry build/exec profiles (bench_entries.json "build_exec"). The
    # driver never sets it, so the recorded BENCH_r*.json is always full.
    only = os.environ.get("SPARK_GRAFT_ONLY", "")
    if only.strip():
        wanted = {s.strip() for s in only.split(",") if s.strip()}
        missing = wanted - qs.keys()
        if missing:
            print(f"bench: SPARK_GRAFT_ONLY unknown entries: {sorted(missing)}",
                  file=sys.stderr)
        qs = {k: v for k, v in qs.items() if k in wanted}

    # Warm up JVM, codegen, and the parquet read path before timing anything:
    # run EVERY query once at the smallest scale factor. The expensive
    # generated classes (wide minhash/simhash aggregates, GEMM pandas UDFs)
    # have identical source at every scale, so this populates the Janino
    # compile cache and the Arrow python-worker pool; the timed sf runs then
    # measure steady-state data throughput, not one-time JIT.
    spark.range(1000).count()
    warm_dir = "/root/testdata/sf0.001"
    t0 = time.perf_counter()
    for name, fn in qs.items():
        try:
            fn(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir).collect()
        except Exception as exc:
            print(f"bench: warmup {name} failed: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
    print(f"bench: warmup pass done in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    # quiesce before timing: the warmup pass leaves ~60 queries of shuffle
    # files, broadcast blocks, and plan state for the async ContextCleaner;
    # force the collection now so its pauses don't land inside the first
    # timed queries
    spark._jvm.System.gc()
    time.sleep(3.0)
    # re-establish the hot JIT paths the GC/safepoint churn may have
    # deoptimized: a couple of real scan+agg jobs before the first timed
    # query (the first query otherwise absorbs several seconds of
    # recompilation that no later query pays)
    for _ in range(2):
        try:
            entry.entry(spark).collect()
        except Exception:
            break
    # warm the TIMED scale factor's scope as well: the first query touching
    # sf_dir otherwise pays all 10 table loads (footer reads, the events
    # ns-timestamp rewrite, OS page-cache misses) inside its timed window
    try:
        from framequery_spark.sources.testdata import load_tables

        for tdf in load_tables(spark, sf_dir).values():
            tdf.count()
    except Exception as exc:
        print(f"bench: scope warmup failed: {exc}", file=sys.stderr)
    spark.catalog.clearCache()

    # n>=3 repetitions, median per query: single runs showed +-2-4s swings
    # on the heavier operators across rounds (GC/compile noise), which made
    # real regressions indistinguishable from variance.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    timings: dict[str, float] = {}
    all_runs: dict[str, list] = {}
    rep_diag: dict[str, list] = {}  # per-rep [released, persistent-after]
    rep_phase: dict[str, list] = {}  # per-rep [build_s, exec_s]
    rep_compiles: dict[str, list] = {}  # per-rep Janino compiles
    total = 0.0
    from framequery_spark.operators.cache import release_cached
    from framequery_spark.plans.tuning import codegen_compiles

    def _rep(name, fn, runs: list) -> int:
        """One timed rep: build the frame (Python/py4j plus any driver-side
        materialization the operator does), collect it, then release.
        Appends the total to `runs` and records the build/exec split, the
        Janino compile count (non-zero when warm: the entry's generated
        code is not resident) and the cache diagnostic. Raises whatever
        the entry raises; returns the row count."""
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        n = len(df.collect())
        t2 = time.perf_counter()
        runs.append(t2 - t0)
        rep_phase.setdefault(name, []).append(
            [round(t1 - t0, 3), round(t2 - t1, 3)])
        rep_compiles.setdefault(name, []).append(codegen_compiles(spark) - c0)
        # reps stay independent: drop persisted intermediates the
        # operators leave behind. BLOCKING release — the r09 full
        # bench showed op_jaccard_pairs reps rising monotonically
        # [3.65, 5.62, 8.05]; with fire-and-forget unpersist the async
        # block removal can lag back-to-back reps, so each rep runs
        # against the previous rep's still-resident gram cache.
        # Blocking removal keeps reps independent, and the per-rep
        # diagnostic records (released handles, persistent RDDs still
        # registered after release) as the attribution evidence.
        n_released = release_cached(blocking=True)
        spark.catalog.clearCache()
        try:
            n_left = spark.sparkContext._jsc.getPersistentRDDs().size()
        except Exception:
            n_left = -1
        rep_diag.setdefault(name, []).append([n_released, n_left])
        return n

    for name, fn in qs.items():
        # NO per-entry System.gc(): with the code cache sized correctly
        # (plans/tuning.py:local_session) the forced gc is purely harmful
        # — its deopt/re-profile storm inflates the following entry's
        # reps 3-4x (measured r09: op_lr_quality [5.3, 16.1, 19.6] with a
        # gc before each entry vs [4.8, 4.2, 4.5] without, idle host,
        # same code). The r08-era gc was treating a symptom of the
        # code-cache thrash.
        runs: list[float] = []
        failed = False
        for r in range(reps):
            try:
                n = _rep(name, fn, runs)
            except Exception as exc:  # a failing query must not zero the bench
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                failed = True
                break
        if failed or not runs:
            timings[name] = -1.0
            continue
        # JVM stall guard: occasional full-GC / deopt pauses inject ~10 s
        # one-sided outliers (measured: op_dsir_select steady 2.2 s with a
        # lone 13.6 s rep). With 3 reps, TWO stalls poison the median, so
        # when the spread is pathological take extra reps — the median over
        # 5 then reflects the steady-state plan cost.
        # still-warming guard: codegen-heavy entries (60-column simhash
        # aggregates) can read strictly-decreasing reps (measured:
        # op_simhash_exact 16.0/11.4/7.7 in-suite vs 1.5 s solo steady
        # state) without tripping the 2.5x spread bound — when the reps
        # are still monotonically falling, the median overstates the
        # plan cost, so keep measuring until the curve flattens.
        still_warming = (
            len(runs) >= 3
            and (all(runs[i] > runs[i + 1] * 1.15
                     for i in range(len(runs) - 1))
                 # slow decay also counts: [12.9, 11.4, 5.3] fails the
                 # per-step 1.15 test (first step 1.13x) yet clearly has
                 # not reached steady state — the last rep far below the
                 # first is the same warm-curve signature
                 or runs[-1] * 1.6 < runs[0]))
        if (len(runs) >= 2 and min(runs) > 0
                and max(runs) / min(runs) > 2.5) or still_warming:
            for _ in range(3 if still_warming else 2):
                try:
                    _rep(name, fn, runs)
                except Exception:
                    break
                if len(runs) >= 2 and runs[-1] >= runs[-2] * 0.9:
                    break  # flattened
        # LOWER median: rep noise is strictly one-sided (GC/JIT stalls
        # only ever ADD time), so for even-length lists the upper-middle
        # element systematically overstates plan cost — with the guard's
        # 4-rep lists like [5.3, 6.6, 11.3, 14.9] the upper median reads
        # the stall (11.3), the lower median the steady state (6.6)
        med = sorted(runs)[(len(runs) - 1) // 2]
        timings[name] = round(med, 3)
        all_runs[name] = [round(x, 3) for x in runs]
        total += med
        print(f"bench: {name}: median {med:.3f}s over {len(runs)} runs "
              f"[{', '.join(f'{x:.3f}' for x in runs)}] ({n} rows)",
              file=sys.stderr)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # batch vs streaming split: the Structured Streaming entries each pay
    # a fixed ~2-5 s checkpoint/trigger startup that is not plan cost —
    # reported separately so it can't mask batch regressions
    streaming_names = getattr(entry, "STREAMING_ENTRIES", frozenset())
    streaming_s = sum(v for k, v in timings.items()
                      if k in streaming_names and v > 0)
    batch_s = sum(v for k, v in timings.items()
                  if k not in streaming_names and v > 0)
    try:
        load1_end = os.getloadavg()[0]
    except OSError:
        load1_end = -1.0
    # end-of-run load minus the bench's own footprint: anything well above
    # the cpu budget means another workload shared the machine mid-run
    contended = contended_start or load1_end > 1.5 * cpus
    # per-rep decomposition of the slowest entries: a high median with a
    # flat run list is plan cost; a high median inside a falling or
    # spiking list is environment (JIT/GC) — recorded so a slow entry in
    # the driver artifact is attributable without a re-run
    slowest = {k: all_runs[k]
               for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:5]
               if k in all_runs}
    # high-spread entries get the same transparency even when their median
    # is small: an entry whose reps read [0.9, 6.6, 0.9] has its median
    # contaminated by an intermittent stall (GC / python-worker respawn),
    # and the per-rep list is the evidence distinguishing that from plan
    # cost. min_s records each entry's best rep — the stall-free floor.
    noisy = {k: v for k, v in all_runs.items()
             if len(v) >= 2 and min(v) > 0 and max(v) / min(v) > 2.5
             and k not in slowest}
    slowest.update(noisy)
    # cache attribution for exactly the entries whose reps are published:
    # [released handles, persistent RDDs left] after each rep — a rising
    # rep curve with zeros here is host/JIT, not leaked operator caches
    cache_diag = {k: rep_diag[k] for k in slowest if k in rep_diag}
    floor_s = round(sum(min(v) for v in all_runs.values()), 3)
    # Full per-entry artifact: the driver's recorded tail is byte-truncated
    # (BENCH_r09 preserved only 16/179 per-entry timings), which makes
    # cross-round regression diffing impossible from artifacts alone. Every
    # run therefore writes the COMPLETE entry->(median, reps) map next to
    # the script; the round close snapshots it to bench_entries_r<N>.json
    # (tools/gen_bench_history.py --snapshot-entries N) and a test asserts
    # the committed snapshot covers the whole inventory.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_entries.json"), "w") as fh:
            json.dump({
                "sf": sf_val, "cpus": cpus, "reps": reps,
                "contended": contended,
                "load1_start": round(load1_start, 1),
                "load1_end": round(load1_end, 1),
                "entries": {k: {"median": v,
                                "reps": all_runs.get(k, []),
                                "build_exec": rep_phase.get(k, []),
                                "compiles": rep_compiles.get(k, []),
                                "cache_diag": rep_diag.get(k, [])}
                            for k, v in timings.items()},
            }, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: could not write bench_entries.json: {exc}",
              file=sys.stderr)
    print(json.dumps({
        "metric": "total_query_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "slowest_reps": slowest,
        "cache_diag": cache_diag,
        "floor_s": floor_s,
        "sf": sf_val,
        "reps": reps,
        "aggregation": "median_per_query",
        "batch_s": round(batch_s, 3),
        "streaming_s": round(streaming_s, 3),
        "ckpt_root": ckpt_root,
        "load1_start": round(load1_start, 1),
        "load1_end": round(load1_end, 1),
        "contended": contended,
    }))
    # the driver records only the tail of the output — the PENULTIMATE
    # line is the bounded per-query brief (top-12 + movers vs the last
    # committed snapshot + stall count), the LAST line the compact
    # machine-parseable summary (see the two docstrings; the complete
    # per-entry map lives in the full line above + bench_entries.json)
    print(per_query_brief(
        timings, all_runs,
        os.path.dirname(os.path.abspath(__file__))))
    print(compact_summary(
        total, batch_s, streaming_s, timings, streaming_names, floor_s,
        sf_val, reps, [k for k, v in timings.items() if v < 0], ckpt_root,
        load1_start, load1_end, contended))


if __name__ == "__main__":
    main()
