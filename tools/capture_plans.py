"""Capture `.explain("formatted")` output for declared entries into files.

Usage:
    python tools/capture_plans.py <suffix> [entry ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<entry>_<suffix>.txt (round default
r13) for each named entry (default: a built-in list of the bench's most
expensive entries and the two DML-core entries). The suffix is "before" / "after". Expression ids
(`#<id>`), exchange `plan_id=<id>` numbers, RDD ids (`RDD[<id>]`, e.g.
a checkpoint scan's `MapPartitionsRDD[36] at localCheckpoint`) and the
random 8-hex suffix of staged hidden columns (`__lat_f4378a6b`) are
stripped before writing, so a before/after pair diffs empty when only ids
moved.

Streaming entries are skipped (a streaming DataFrame's plan is only
meaningful per micro-batch); their batch twins share the physical shape.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_ENTRIES = [
    "op_dedup_quality", "op_near_dup_sweep", "op_split_leakage",
    "op_lr_quality", "op_decontaminate", "op_minhash_clusters",
    "op_trgm_dedup", "q47_quantiles", "op_dedup_against", "op_containment",
    "op_kmeans", "op_profile", "op_simhash_exact", "op_auc",
    "op_jaccard_pairs", "q68_multirange_coverage", "op_dsir_length_norm",
    "q73_fuzzy_costed", "q65_recursive_cycle", "op_dedup_keep_best",
    "op_winnow_pairs", "op_dsir_select", "q01_pricing_summary",
    "op_textrank", "op_bigram_nll",
    # the DML core: MERGE ... RETURNING and the ON CONFLICT DO UPDATE rewrite
    "q60_merge_returning", "q61_upsert_returning",
]


def _strip_ids(txt: str) -> str:
    """Drop the per-session id counters an explain string carries."""
    txt = re.sub(r"RDD\[\d+\]", "RDD[]", txt)
    txt = re.sub(r"\b(__[a-z]+_)[0-9a-f]{8}\b", r"\1", txt)
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", txt))


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    suffix = sys.argv[1]
    names = sys.argv[2:] or DEFAULT_ENTRIES

    import __spark_entry__ as entry
    from framequery_spark.plans.tuning import local_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = local_session(cpus, "capture_plans")

    qs = entry.queries()
    streaming = getattr(entry, "STREAMING_ENTRIES", frozenset())
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"))
    os.makedirs(outdir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        if name not in qs:
            print(f"{name}: UNKNOWN entry", file=sys.stderr)
            continue
        if name in streaming:
            print(f"{name}: streaming — skipped", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, SF_DIR)
            txt = _strip_ids(df._jdf.queryExecution().explainString(mode))
        except Exception as exc:
            print(f"{name}: FAILED: {exc}", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"{name}: wrote {path} ({len(txt.splitlines())} lines)")
        from framequery_spark.operators.cache import release_cached

        release_cached(blocking=False)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
