#!/usr/bin/env python
"""r12 TPC-H-side scale probe (the other half of VERDICT r11 ask #3): the
x100-documents probe measured the LLM-pipeline operators; this one scales
the RELATIONAL side — lineitem/orders/events replicated x1/x4/x10 from the
sf0.1 base (x10 = 6M lineitem rows, the ~sf1.0 decade the ask named) and
run through the heaviest driver q-entries via their real `queries()`
callables. Replication keeps key relationships: orderkeys offset per
replica (disjoint), custkeys/partkeys/suppkeys shared — every replica adds
orders per customer and lineitems per part, which GROWS join fan-in and
aggregate group sizes instead of just adding disjoint partitions (the
harder scaling shape). Results forced through the noop sink (full plan
executes, nothing collected).

Usage: python tools/tpch_scale_probe.py [--scales 1,4,10] [--reps 2]
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get("TPCH_PROBE_DIR", "/tmp/tpch_probe")
UI_PORT = 4048

STATIC = ["region", "nation", "customer", "supplier", "part",
          "documents", "embeddings"]
SCALED = ["lineitem", "orders", "events"]

ENTRIES = [
    "q01_pricing_summary",   # full-lineitem hash aggregate
    "q03_region_revenue",    # 4-way join + agg
    "q09_yearly_volume",     # part/supplier/lineitem join + year agg
    "q10_top_customers",     # join + agg + top-k
    "q12_running_total",     # window over aggregated series
    "q29_decile_stats",      # ntile window over lineitem
    "q37_big_orders",        # correlated/semi-join shape
    "q41_nation_trade",      # multi-join trade matrix
    "q47_quantiles",         # percentile aggregates over lineitem
    "q63_running_rank",      # rank window + join
]


def build_session(cpus: int = 32):
    from framequery_spark.plans.tuning import local_session

    # the UI is the REST metrics source for the per-run shuffle/spill rows
    return local_session(cpus, "framequery_spark_tpch_scale_probe", ui_port=UI_PORT)


def derive_dir(spark, factor: int) -> str:
    """Materialize a full 10-table dir at `factor`x, shaped like a real
    sf directory so queries() callables read it unchanged."""
    from pyspark.sql import functions as F

    out = os.path.join(SCRATCH, f"x{factor}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for t in STATIC:
        src = spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))
        src.write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet"))
    reps = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    OFF = 1_000_000_000
    li = spark.read.parquet(os.path.join(BASE, "lineitem.parquet")) \
        .select("*", reps.alias("rep"))
    li.select(
        (F.col("l_orderkey") + F.col("rep").cast("long") * OFF)
        .alias("l_orderkey"),
        *[c for c in li.columns if c not in ("l_orderkey", "rep")]) \
        .repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(out, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(BASE, "orders.parquet")) \
        .select("*", reps.alias("rep"))
    od.select(
        (F.col("o_orderkey") + F.col("rep").cast("long") * OFF)
        .alias("o_orderkey"),
        *[c for c in od.columns if c not in ("o_orderkey", "rep")]) \
        .repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(out, "orders.parquet"))
    ev = spark.read.parquet(os.path.join(BASE, "events.parquet")) \
        .select("*", reps.alias("rep"))
    ev.select(
        (F.col("event_id") + F.col("rep").cast("long") * OFF)
        .alias("event_id"),
        *[c for c in ev.columns if c not in ("event_id", "rep")]) \
        .repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(out, "events.parquet"))
    open(done, "w").close()
    return out


def _rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def stage_totals(app_id: str) -> dict:
    tot = {"shuffle_write_b": 0, "mem_spill_b": 0, "disk_spill_b": 0}
    for s in _rest(f"applications/{app_id}/stages?status=complete"):
        tot["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
        tot["mem_spill_b"] += s.get("memoryBytesSpilled", 0)
        tot["disk_spill_b"] += s.get("diskBytesSpilled", 0)
    return tot


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,10")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--entries", default="")
    ap.add_argument("--out",
                    default=os.path.join(SCRATCH, "results.jsonl"))
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    wanted = args.entries.split(",") if args.entries else ENTRIES

    os.makedirs(SCRATCH, exist_ok=True)
    spark = build_session()
    app_id = spark.sparkContext.applicationId
    import __spark_entry__ as entry

    q = entry.queries()
    results = []
    with open(args.out, "a") as out:
        for factor in scales:
            t0 = time.perf_counter()
            sf_dir = derive_dir(spark, factor)
            print(f"probe: x{factor} dir ready "
                  f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
            for name in wanted:
                runs, metas = [], []
                for rep in range(args.reps):
                    before = stage_totals(app_id)
                    t0 = time.perf_counter()
                    df = q[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    after = stage_totals(app_id)
                    spark.catalog.clearCache()
                    runs.append(dt)
                    metas.append({k: after[k] - before[k] for k in after})
                    print(f"probe: x{factor} {name} rep{rep} {dt:.2f}s "
                          f"shw={metas[-1]['shuffle_write_b'] >> 20}MB "
                          f"spill={metas[-1]['disk_spill_b'] >> 20}MB",
                          file=sys.stderr)
                row = {"entry": name, "scale": factor,
                       "best_s": round(min(runs), 3),
                       "runs": [round(r, 3) for r in runs],
                       **{k: max(m[k] for m in metas) for k in metas[0]}}
                results.append(row)
                out.write(json.dumps(row) + "\n")
                out.flush()

    by = {}
    for r in results:
        by.setdefault(r["entry"], {})[r["scale"]] = r
    summary = {}
    for name, rows in by.items():
        ss = sorted(rows)
        alpha = None
        if len(ss) >= 2:
            lo, hi = ss[-2], ss[-1]
            if rows[lo]["best_s"] > 0:
                alpha = round(
                    math.log(rows[hi]["best_s"] / rows[lo]["best_s"])
                    / math.log(hi / lo), 2)
        summary[name] = {
            "t": {s: rows[s]["best_s"] for s in ss},
            "alpha_last": alpha,
            "spill_mb": {s: rows[s]["disk_spill_b"] >> 20 for s in ss},
            "shw_mb": {s: rows[s]["shuffle_write_b"] >> 20 for s in ss},
        }
    print(json.dumps({"metric": "tpch_scale_probe", "summary": summary}))


if __name__ == "__main__":
    main()
