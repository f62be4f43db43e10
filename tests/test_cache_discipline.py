"""Unpersist discipline for multi-consumer operator intermediates.

The dedup/contamination operators persist intermediates (shingle / gram /
signature streams) that feed several plan branches. Those persists are
tracked (operators/cache.py); after the caller materializes the result,
``release_cached()`` must return executor storage to its pre-op state so a
long-lived session running ops repeatedly never accumulates cached
partitions.

``localCheckpoint`` RDDs (the connected-components / PageRank / MMR loop
discipline) are tracked too since round 10: bench.py's per-rep cache_diag
measured +1 persistent RDD per invocation for the checkpointing operators
(ContextCleaner only frees them at some later driver GC), so
local_checkpoint_tracked registers the persisted RDD ids and
release_cached() drops them explicitly. A released checkpoint read again
FAILS (lineage was truncated) rather than recomputing — same release-after-
materialize discipline, louder failure mode.

A checkpoint is registered by the RDD id its own plan holds, so a user's
cache first materialized inside an operator is never mistaken for one;
streaming memory-sink views and broadcasts are registered too, and only
operators/cache.py creates held resources.
"""
import ast
import pathlib

import pytest
from pyspark.sql import functions as F


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _docs(spark, n=60):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [(i, " ".join(words[(i + j) % 6] for j in range(12)),
             "train" if i % 2 == 0 else "test")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, split string")


@pytest.mark.parametrize("run", [
    "jaccard_pairs", "minhash_lsh_pairs", "simhash_near_pairs",
    "dedup_against", "split_leakage_ngrams",
])
def test_tracked_persists_released(spark, run):  # noqa: F811
    from framequery_spark.operators.cache import release_cached

    release_cached()  # drop leftovers from earlier tests
    before = _persistent_rdd_ids(spark)
    df = _docs(spark)

    if run == "jaccard_pairs":
        from framequery_spark.operators.dedup import jaccard_pairs
        out = jaccard_pairs(df, threshold=0.5)
    elif run == "minhash_lsh_pairs":
        from framequery_spark.operators.dedup import minhash_lsh_pairs
        out = minhash_lsh_pairs(df, threshold=0.5, num_perm=32, bands=16)
    elif run == "simhash_near_pairs":
        from framequery_spark.operators.dedup import simhash_near_pairs
        out = simhash_near_pairs(df, max_hamming=16)
    elif run == "dedup_against":
        from framequery_spark.operators.dedup import dedup_against
        out = dedup_against(df.where(F.col("doc_id") >= 30),
                            df.where(F.col("doc_id") < 30),
                            num_perm=32, bands=16)
    else:
        from framequery_spark.operators.contamination import (
            split_leakage_ngrams,
        )
        out = split_leakage_ngrams(df, n=4)

    out.collect()  # materialize end-to-end — persists are now populated
    during = _persistent_rdd_ids(spark)
    assert during - before, f"{run}: expected a tracked persist while live"
    release_cached()
    after = _persistent_rdd_ids(spark)
    assert after - before == set(), (
        f"{run}: persisted RDDs leaked after release_cached(): "
        f"{sorted(after - before)}")


def test_release_cached_is_idempotent_and_safe_before_materialize(spark):  # noqa: F811
    from framequery_spark.operators.cache import release_cached
    from framequery_spark.operators.dedup import jaccard_pairs

    df = _docs(spark, 20)
    out = jaccard_pairs(df, threshold=0.5)
    # release BEFORE materializing: the lazy result must still compute
    # (uncached recompute), and a second release is a no-op
    release_cached()
    assert release_cached() == 0
    assert out.count() >= 0


def test_entry_ops_autorelease_previous_cache(spark):  # noqa: F811
    # each __spark_entry__ op invocation releases the previous op's tracked
    # persists, so repeated op calls hold at most one op's working set
    import __spark_entry__ as entry
    from framequery_spark.operators.cache import _TRACKED, release_cached

    release_cached()
    sf = "/root/testdata/sf0.001"
    q = entry.queries()
    q["op_jaccard_pairs"](spark, sf).collect()
    assert _TRACKED, "op_jaccard_pairs should register a tracked persist"
    n_before = len(_TRACKED)
    q["op_exact_dedup"](spark, sf).collect()
    # the previous op's persists were auto-released at invocation
    assert len(_TRACKED) < n_before or not _TRACKED
    release_cached()


@pytest.mark.parametrize("op", ["connected_components", "pagerank"])
def test_local_checkpoints_released(spark, op):
    """The checkpointing operators must leave ZERO persistent RDDs after
    release_cached() — the +1-per-invocation leak bench.py's cache_diag
    measured in the r10 bench run."""
    from framequery_spark.operators.cache import release_cached

    # (mmr_rerank left this parametrize in r12: its greedy selection now
    # runs row-locally over the collected pool array — single-consumption
    # plan, nothing to checkpoint)
    release_cached()
    before = _persistent_rdd_ids(spark)
    for _ in range(2):  # accumulation, not just a single call
        if op == "connected_components":
            from framequery_spark.operators.graph import connected_components

            edges = spark.createDataFrame(
                [(i, i + 1) for i in range(0, 40, 2)], "a long, b long")
            connected_components(edges, "a", "b").count()
        else:
            from framequery_spark.operators.graph import pagerank

            edges = spark.createDataFrame(
                [(i % 10, (i * 3) % 10) for i in range(30)],
                "src long, dst long")
            pagerank(edges, "src", "dst", iterations=4,
                     checkpoint_every=2).count()
        assert release_cached(blocking=True) >= 1
        leaked = _persistent_rdd_ids(spark) - before
        assert not leaked, f"{op} leaked persistent RDDs: {leaked}"


def test_op_results_stay_readable_across_entry_op_calls(spark):
    """Round-10 review finding: the entry wrappers' auto-release must NOT
    drop tracked checkpoints — a released checkpoint fails on re-read, so
    a caller holding op A's result while invoking op B would break. The
    wrappers release persists only (recompute-safe); checkpoints go to
    the explicit full release / ContextCleaner."""
    from framequery_spark.operators.cache import release_cached

    release_cached()
    import __spark_entry__ as entry
    from framequery_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "a long, b long")
    r1 = connected_components(edges, "a", "b")
    n1 = r1.count()
    # run another entry op: its wrapper auto-releases the previous op's
    # PERSISTS but leaves the checkpoint backing r1
    entry.queries()["op_exact_dedup"](spark, "/root/testdata/sf0.001") \
        .collect()
    assert r1.count() == n1  # still readable — no checkpoint loss
    release_cached(blocking=True)  # full release still works


def test_user_cache_survives_release(spark):
    """A user's own ``edges.cache()``, first materialized inside
    connected_components, is not the operator's to release: it stays
    persisted after a full release, while the operator's checkpoints go."""
    from framequery_spark.operators.cache import release_cached
    from framequery_spark.operators.graph import connected_components

    release_cached(blocking=True)
    before = _persistent_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "a long, b long").cache()
    connected_components(edges, "a", "b").count()
    assert release_cached(blocking=True) >= 1
    assert edges.is_cached
    assert _persistent_rdd_ids(spark) - before, "the user's cache was freed"
    edges.unpersist(blocking=True)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"operator checkpoints leaked: {leaked}"


def test_stream_memory_sink_view_is_pinned(spark):
    """The memory-sink view behind a streaming result survives the
    auto-release hook (the result stays readable) and is dropped by a
    full release."""
    from framequery_spark.operators.cache import release_cached
    from framequery_spark.streaming.stream import run_stream_to_df

    def views():
        return {t.name for t in spark.catalog.listTables()}

    release_cached()
    before = views()
    df = run_stream_to_df(spark, "/root/testdata/sf0.001/events.parquet")
    sink = views() - before
    assert len(sink) == 1, sink
    n = df.count()
    release_cached(checkpoints=False)
    assert sink <= views()
    assert df.count() == n
    release_cached()
    assert not sink & views()


def test_bloom_broadcast_released(spark):
    from framequery_spark.operators.bloom import bloom_dedup_against
    from framequery_spark.operators.cache import release_cached

    release_cached()
    new = spark.createDataFrame([(f"t{i}",) for i in range(20)],
                                "text string")
    corpus = new.where(F.col("text") < "t5")
    bloom_dedup_against(new, corpus, ["text"], num_bits=1024).collect()
    assert release_cached() >= 1


def test_only_the_registry_creates_held_resources():
    """Every persist, cache, checkpoint and SparkContext broadcast in the
    engine goes through operators/cache.py, so release_cached() can free
    it. ``F.broadcast`` is a join hint, not a held resource."""
    root = pathlib.Path(__file__).resolve().parent.parent / "framequery_spark"
    registry = root / "operators" / "cache.py"
    held = {"persist", "cache", "localCheckpoint", "checkpoint"}
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == registry:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            hint = isinstance(f.value, ast.Name) and f.value.id == "F"
            if f.attr in held or (f.attr == "broadcast" and not hint):
                found.append(f"{path.relative_to(root)}:{node.lineno} "
                             f".{f.attr}(")
    assert not found, ("held resources created outside operators/cache.py "
                       f"(use its *_tracked helpers): {found}")
