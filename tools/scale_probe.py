#!/usr/bin/env python
"""r12 scale probe (VERDICT r11 ask #3): one decade beyond the x16 growth
tables — x1 / x10 / x100 derived corpora (5k / 50k / 500k documents,
2k / 20k / 200k embeddings) through the ten most shuffle-intensive
operators, with per-run shuffle + spill metrics from the Spark UI REST
API (the probe session runs with the UI enabled for exactly this).

Corpus derivation — deliberately DIFFERENT from the r11 replication
method: every replica perturbs ~1/7 of its tokens with a
replica-indexed prefix, so replicas are NOT near-duplicates of each
other (3-gram Jaccard vs the original ~0.4, below every configured
threshold). The r11 pure-replication tables measured the output-blowup
regime (every doc gains 15 siblings); this probe holds the DUP RATE
constant — true dup pairs replicate linearly, never quadratically — so
the exponents measure ENGINE scan/shuffle/agg growth, which is the
"would this hold at 1000x" question. Embeddings perturb one dimension
by 1e-3 * replica, and semdedup's n_clusters scales with the corpus
(the published SemDeDup recipe: k grows with N so cluster sizes — and
the quadratic within-cluster comparisons — stay bounded).

Usage: python tools/scale_probe.py [--scales 1,10,100] [--reps 2]
                                   [--ops op1,op2] [--out FILE]
Writes one JSON line per (op, scale) plus a final summary line with
fitted growth exponents alpha (t ~ n^alpha over the largest decade).
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get("SCALE_PROBE_DIR", "/tmp/scale_probe")
UI_PORT = 4049


def build_session(cpus: int = 32):
    from framequery_spark.plans.tuning import local_session

    # the UI is the REST metrics source for the per-run shuffle/spill rows
    return local_session(cpus, "framequery_spark_scale_probe", ui_port=UI_PORT)


# ------------------------------------------------------------- corpora


def derive_corpora(spark, factor: int) -> dict:
    """Replicate documents/embeddings `factor`-fold with disjoint ids and
    per-replica perturbation; materialized once to parquet so every op
    and rep reads the same files (and the read path is the real one)."""
    from pyspark.sql import functions as F

    ddir = os.path.join(SCRATCH, f"docs_x{factor}.parquet")
    edir = os.path.join(SCRATCH, f"emb_x{factor}.parquet")
    if not os.path.isdir(ddir):
        docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
        n_docs = 5000
        reps = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
        d = docs.select("*", reps.alias("rep"))
        toks = F.split(F.col("text"), " ")
        marked = F.transform(
            toks,
            lambda t, i: F.when(
                (i % 7 == 0) & (F.col("rep") > 0),
                F.concat(F.lit("q"), F.col("rep").cast("string"),
                         F.lit("_"), t)).otherwise(t))
        d = d.select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.array_join(marked, " ").alias("text"),
            "lang", "source", "n_chars")
        d.repartition(32).write.mode("overwrite").parquet(ddir)
    if not os.path.isdir(edir):
        emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
        n_vec = 2000
        reps = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
        e = emb.select("*", reps.alias("rep"))
        pert = F.transform(
            F.col("embedding"),
            lambda v, i: F.when(i == 0,
                                v + F.col("rep").cast("float") * 0.001)
            .otherwise(v))
        e = e.select(
            (F.col("vec_id") + F.col("rep") * n_vec).alias("vec_id"),
            pert.alias("embedding"), "label")
        e.repartition(32).write.mode("overwrite").parquet(edir)
    return {"docs": ddir, "emb": edir}


# ------------------------------------------------------------- metrics


def _rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def stage_totals(app_id: str) -> dict:
    tot = {"shuffle_write_b": 0, "shuffle_read_b": 0,
           "mem_spill_b": 0, "disk_spill_b": 0, "max_stage_id": -1}
    for s in _rest(f"applications/{app_id}/stages?status=complete"):
        tot["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read_b"] += s.get("shuffleReadBytes", 0)
        tot["mem_spill_b"] += s.get("memoryBytesSpilled", 0)
        tot["disk_spill_b"] += s.get("diskBytesSpilled", 0)
        tot["max_stage_id"] = max(tot["max_stage_id"], s.get("stageId", -1))
    return tot


# ------------------------------------------------------------- operators


def probe_ops(spark, paths: dict, factor: int):
    """name -> zero-arg callable running the op to completion (count or
    collect of a bounded result)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators import dedup, graph, packing, text
    from framequery_spark.operators.contamination import (
        split_leakage_summary,
    )
    from framequery_spark.operators.retrieval import bm25_topk
    from framequery_spark.operators.similarity import semdedup
    from framequery_spark.operators.text import bigram_lm_nll, tf_idf

    def docs():
        return spark.read.parquet(paths["docs"])

    def emb():
        return spark.read.parquet(paths["emb"])

    queries = spark.createDataFrame(
        [(i, q) for i, q in enumerate(
            ["data pipeline quality", "stream processing engine",
             "vector index search", "language model tokens",
             "duplicate detection shingle"] * 4)],
        "query_id int, query string")

    def run_minhash():
        return dedup.minhash_lsh_pairs(docs()).count()

    def run_near_dup_sweep():
        return dedup.near_dup_config_sweep(
            docs(),
            {"winnow": ("winnow", {"window": 4, "min_shared": 3,
                                   "max_doc_freq": 100}),
             "containment": ("containment", {"threshold": 0.8,
                                             "max_doc_freq": 100})},
            exact_max_doc_freq=100,
        ).collect()

    def run_cc():
        edges = dedup.minhash_lsh_pairs(docs()).select(
            F.col("id1").alias("src"), F.col("id2").alias("dst"))
        return graph.connected_components(edges).count()

    def run_bigram():
        return bigram_lm_nll(docs(), vocab_broadcast=True) \
            .agg(F.sum("n_bigrams")).collect()

    def run_token_budget():
        d = docs().select(
            "doc_id", text.token_count(F.col("text")).alias("n_tokens"),
            text.quality_score(F.col("text")).alias("quality"))
        return packing.take_token_budget(
            d, budget=200_000 * factor).count()

    def run_bm25():
        return bm25_topk(docs(), queries, k=10).count()

    def run_split_leakage():
        d = docs().withColumn(
            "split", F.when(F.col("doc_id") % 10 < 8, "train")
            .otherwise("test"))
        return split_leakage_summary(d).collect()

    def run_trgm():
        return dedup.trgm_pairs(docs(), max_doc_freq=100).count()

    def run_semdedup():
        return semdedup(emb(), n_clusters=16 * factor).count()

    def run_tf_idf():
        return tf_idf(docs()).count()

    return {
        "minhash_lsh_pairs": run_minhash,
        "near_dup_sweep": run_near_dup_sweep,
        "connected_components": run_cc,
        "bigram_nll": run_bigram,
        "take_token_budget": run_token_budget,
        "bm25_topk": run_bm25,
        "split_leakage": run_split_leakage,
        "trgm_dedup": run_trgm,
        "semdedup": run_semdedup,
        "tf_idf": run_tf_idf,
    }


# ------------------------------------------------------------------ main


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--ops", default="")
    ap.add_argument("--out", default=os.path.join(SCRATCH, "results.jsonl"))
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    os.makedirs(SCRATCH, exist_ok=True)
    spark = build_session()
    app_id = spark.sparkContext.applicationId
    from framequery_spark.operators.cache import release_cached

    results = []
    with open(args.out, "a") as out:
        for factor in scales:
            t0 = time.perf_counter()
            paths = derive_corpora(spark, factor)
            print(f"probe: corpora x{factor} ready "
                  f"in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
            ops = probe_ops(spark, paths, factor)
            if args.ops:
                wanted = set(args.ops.split(","))
                ops = {k: v for k, v in ops.items() if k in wanted}
            for name, fn in ops.items():
                runs, metas = [], []
                for rep in range(args.reps):
                    before = stage_totals(app_id)
                    t0 = time.perf_counter()
                    res = fn()
                    dt = time.perf_counter() - t0
                    after = stage_totals(app_id)
                    release_cached()
                    spark.catalog.clearCache()
                    runs.append(dt)
                    metas.append({
                        k: after[k] - before[k]
                        for k in ("shuffle_write_b", "shuffle_read_b",
                                  "mem_spill_b", "disk_spill_b")})
                    print(f"probe: x{factor} {name} rep{rep} {dt:.1f}s "
                          f"shw={metas[-1]['shuffle_write_b'] >> 20}MB "
                          f"spill={metas[-1]['disk_spill_b'] >> 20}MB "
                          f"res={res if isinstance(res, int) else len(res)}",
                          file=sys.stderr)
                best = min(runs)
                row = {"op": name, "scale": factor, "best_s": round(best, 2),
                       "runs": [round(r, 2) for r in runs],
                       **{k: max(m[k] for m in metas) for k in metas[0]}}
                results.append(row)
                out.write(json.dumps(row) + "\n")
                out.flush()

    # summary with fitted exponents over the largest decade
    by_op = {}
    for r in results:
        by_op.setdefault(r["op"], {})[r["scale"]] = r
    summary = {}
    for op, rows in by_op.items():
        ss = sorted(rows)
        if len(ss) >= 2:
            lo, hi = ss[-2], ss[-1]
            alpha = (math.log(rows[hi]["best_s"] / rows[lo]["best_s"])
                     / math.log(hi / lo))
        else:
            alpha = None
        summary[op] = {
            "t": {s: rows[s]["best_s"] for s in ss},
            "alpha_last_decade": round(alpha, 2) if alpha is not None
            else None,
            "spill_mb": {s: rows[s]["disk_spill_b"] >> 20 for s in ss},
            "shuffle_write_mb":
                {s: rows[s]["shuffle_write_b"] >> 20 for s in ss},
        }
    print(json.dumps({"metric": "scale_probe", "summary": summary}))


if __name__ == "__main__":
    main()
