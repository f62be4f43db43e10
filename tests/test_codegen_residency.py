"""Generated code stays resident across warm statements.

Whole-stage codegen compiles classes through Janino into one JVM-wide LRU
cache that Spark sizes once, at the JVM's first codegen, from
`spark.sql.codegen.cache.maxEntries` (default 100). `configure_session`
sizes it for a mixed session's working set, so a second identical lap of
plan-cached statements compiles nothing. The cache is JVM-global, so the
check runs in a fresh JVM in a subprocess: the shared test session has
compiled long before any test runs.
"""
import json
import os
import subprocess
import sys

from .conftest import SF_DIR

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Plan-cached reads whose first lap together compiles well over 100
# classes, so a 100-entry cache misses on every access of the second lap.
# The ROLLUP/CUBE entries are left out: their empty-input gate plans a
# LIMIT whose generated code names a JVM-global counter, so its source
# (the cache key) differs on every execution.
STATEMENTS = [
    "q02_top_orders", "q03_region_revenue", "q11_segment_top3",
    "q12_running_total", "q13_union_keys", "q39_customer_distribution",
    "q50_quantified_compare", "q54_lateral_topk", "q57_range_interval_window",
    "q58_qualify", "q59_pivot",
]

_SCRIPT = r"""
import json, sys, warnings
from pyspark.sql import SparkSession

import __spark_entry__ as entry
import framequery_spark as fq
from framequery_spark.executor import executor as ex
from framequery_spark.plans.tuning import configure_session
from framequery_spark.sources.testdata import load_tables

sf_dir, names = sys.argv[1], sys.argv[2].split(",")
spark = (SparkSession.builder.master("local[2]")
         .appName("codegen_residency")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "2g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# Spark's own counter, not tuning.codegen_compiles: configure_session's
# decision to size the cache reads that helper
compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())
with warnings.catch_warnings(record=True) as first:
    warnings.simplefilter("always")
    configure_session(spark, 2)
scope = load_tables(spark, sf_dir)
laps, hits = [], []
for _ in range(2):
    c0 = compiles.getCount()
    for k in names:
        sql = entry._Q[k][0]
        hits.append(ex._plan_cache_key(sql, scope, spark, ".") in ex._PLAN_CACHE)
        fq.execute(sql, scope, spark=spark).collect()
    laps.append(compiles.getCount() - c0)
with warnings.catch_warnings(record=True) as late:
    warnings.simplefilter("always")
    configure_session(spark, 2)
print(json.dumps({
    "laps": laps, "second_lap_hits": hits[len(names):],
    "first_warnings": [str(w.message) for w in first],
    "late_warnings": [str(w.message) for w in late
                      if issubclass(w.category, RuntimeWarning)]}))
"""


def test_second_lap_compiles_nothing_and_late_call_warns():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]))
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_DIR, ",".join(STATEMENTS)],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    first_lap, second_lap = res["laps"]
    # the working set exceeds Spark's default 100-entry cache ...
    assert first_lap > 100, res
    # ... every statement of the second lap is served from the plan cache
    assert all(res["second_lap_hits"]), res
    # ... and with the cache sized, none of its classes compiles again
    assert second_lap == 0, res
    assert res["first_warnings"] == [], res
    assert len(res["late_warnings"]) == 1, res
    assert "spark.sql.codegen.cache.maxEntries" in res["late_warnings"][0]
