#!/usr/bin/env python
"""Static physical-plan audit over the FULL declared inventory.

For every batch entry, compiles the DataFrame (no execution) and counts the
plan features the optimization guide says to look for (§7.2): Exchange
nodes, join strategies, Python-boundary nodes (BatchEvalPython /
ArrowEvalPython / MapInPandas / PythonUDTF), parquet scans whose
PushedFilters is empty while a Filter sits above them, and interpreted
CodegenFallback markers. Streaming entries are skipped (their per-batch
plans are the batch twins').

Output: one TSV row per entry (committed as reports/r12_plan_audit.tsv) +
a stderr summary of anything that looks like a red flag. Never used by the
driver.

Usage: python tools/plan_audit.py [out.tsv]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PATS = {
    "exchange": re.compile(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)"),
    "bcast_exchange": re.compile(r"\bBroadcastExchange\b"),
    "reused": re.compile(r"\bReusedExchange\b"),
    "smj": re.compile(r"\bSortMergeJoin\b"),
    "shj": re.compile(r"\bShuffledHashJoin\b"),
    "bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "bnlj": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    "py_batch": re.compile(r"\bBatchEvalPython\b"),
    "py_arrow": re.compile(r"\bArrowEvalPython\b"),
    "py_map": re.compile(r"\bMapInPandas\b|\bPythonMapInArrow\b"),
    "py_udtf": re.compile(r"\bBatchEvalPythonUDTF\b|\bArrowEvalPythonUDTF\b"),
    "window": re.compile(r"\bWindow\b"),
    "objhashagg": re.compile(r"\bObjectHashAggregate\b"),
    "sortagg": re.compile(r"\bSortAggregate\b"),
    "inmem": re.compile(r"\bInMemoryTableScan\b"),
}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "reports", "r12_plan_audit.tsv")
    from framequery_spark.plans.tuning import local_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = local_session(cpus, "plan_audit")

    import __spark_entry__ as entry

    qs = entry.queries()
    streaming = getattr(entry, "STREAMING_ENTRIES", frozenset())
    cols = list(PATS) + ["scan_unpushed", "rows"]
    rows = []
    flags = []
    for name, fn in qs.items():
        if name in streaming:
            rows.append((name, {c: "stream" for c in cols}))
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # audit must cover the full inventory
            rows.append((name, {c: f"ERR:{exc}"[:40] for c in cols}))
            continue
        r = {k: str(len(p.findall(plan))) for k, p in PATS.items()}
        # parquet scans with a Filter parent but zero PushedFilters: the
        # pushdown the guide (§6) says to verify. The formatted plan puts
        # PushedFilters on the scan line.
        unpushed = len(re.findall(
            r"PushedFilters: \[\]", plan)) if "Filter" in plan else 0
        r["scan_unpushed"] = str(unpushed)
        r["rows"] = ""
        rows.append((name, r))
        if int(r["cartesian"]):
            flags.append(f"{name}: CartesianProduct present")
        if int(r["py_batch"]):
            flags.append(f"{name}: row-at-a-time BatchEvalPython present")
        from framequery_spark.operators.cache import release_cached

        release_cached(blocking=False)
        spark.catalog.clearCache()

    with open(out_path, "w") as fh:
        fh.write("entry\t" + "\t".join(cols) + "\n")
        for name, r in rows:
            fh.write(name + "\t" + "\t".join(r.get(c, "") for c in cols) + "\n")
    print(f"wrote {out_path} ({len(rows)} entries)")
    for f in flags:
        print("FLAG:", f, file=sys.stderr)


if __name__ == "__main__":
    main()
