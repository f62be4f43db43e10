"""Session tuning for scale.

One place for the confs the engine relies on. `configure_session`
applies them idempotently, except the codegen class-cache size, which only
a call before the JVM's first codegen can set; callers pass the target
parallelism (executor cores × executors on a cluster; local CPU count on
local[N]).
`local_session` is the one local[N] session factory for bench.py and the
scripts under tools/: it sets only the static confs, then applies
`configure_session`.

The 100 TB rationale per conf:
  - AQE + coalesce/skew-join: runtime re-planning fixes both over-partitioned
    shuffles (small SFs) and skewed keys (hot join keys at corpus scale).
  - shuffle.partitions ≈ 2-3× total cores: enough tasks for stragglers
    without scheduler overhead; AQE coalesces the excess.
  - files.maxPartitionBytes 128 MB: scan tasks sized so a row-group fits in
    executor memory with headroom for the shingle/hash expression state.
  - autoBroadcastJoinThreshold 64 MB: TPC-H-style dims (region/nation/
    supplier/part at most SFs) broadcast instead of shuffling the fact table.
  - arrow enabled: all pandas_udf / mapInPandas boundaries batch via Arrow.
  - codegen.cache.maxEntries 2000: whole-stage codegen compiles each
    generated class through Janino into one JVM-wide LRU, 100 entries by
    default. A mixed session cycles through more classes than that, so
    every access misses and warm, plan-cached statements compile (and
    HotSpot re-JITs) their classes again on every lap. The conf is static
    and Spark reads it once, when `CodeGenerator` builds the cache at the
    JVM's first codegen; setting it later reads back the new value but
    changes nothing. Verify it by compile counts (`codegen_compiles`), not
    by reading the conf back.
"""

from __future__ import annotations

import os
import warnings
from typing import Optional

from pyspark.sql import SparkSession

# Janino class-cache capacity, well above a mixed session's working set:
# one lap of 11 plan-cached TPC-H-style reads generates ~200 classes.
CODEGEN_CACHE_ENTRIES = 2000
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (Spark's CodegenMetrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def configure_session(spark: SparkSession, parallelism: int = None) -> SparkSession:
    """Apply the engine's confs to `spark` (see the module docstring).

    The codegen class-cache size is static: it is set through the session
    SQLConf (`spark.conf.set` refuses static confs) and takes effect only
    when this runs before the JVM's first codegen. A later call leaves it
    alone and warns, because the cache is already built; check residency by
    compile counts (`codegen_compiles`), not by reading the conf back."""
    cores = parallelism or spark.sparkContext.defaultParallelism
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # coalesce to the 64 MB advisory size rather than padding out to
        # defaultParallelism: a 100 TB shuffle still gets ~1.6M partitions,
        # while a 10 MB shuffle collapses to one task instead of 64 —
        # post-shuffle stage count tracks data volume, not cluster width
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
        # without this, persist() pins the pre-AQE shuffle partitioning and
        # every stage over a cached intermediate runs at the static
        # shuffle.partitions width regardless of data volume
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    # experiment/deploy override hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    # (never set by the driver, so recorded benches always run the
    # defaults above; cluster deployments use it for site-specific
    # values without editing code)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in extra.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            if k.strip():
                conf[k.strip()] = v.strip()
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    if codegen_compiles(spark) == 0:
        spark._jsparkSession.sessionState().conf().setConfString(
            _CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    else:
        warnings.warn(
            f"configure_session: {_CODEGEN_CACHE_CONF} not set — this JVM "
            "already compiled generated code, so its class cache is sized; "
            "call configure_session before the first query or pass the conf "
            "to the session builder", RuntimeWarning, stacklevel=2)
    return spark


def local_session(cpus: int, app_name: str,
                  ui_port: Optional[int] = None) -> SparkSession:
    """A local[cpus] session with the static confs (driver memory from
    SPARK_GRAFT_MEM, default 64g; code-cache JVM flags; the UI only when
    `ui_port` is given, for probes that read stage metrics over its REST
    API), log level ERROR, and `configure_session(spark, cpus)`."""
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "64g"))
        # A 150+-entry bench x (warmup + reps) generates thousands of
        # Janino classes; when the code cache fills, the JIT disables or
        # thrashes and entries intermittently read 5-10x their steady
        # state (measured r09 with the JDK default 240 MB:
        # op_dsir_select [6.0, 4.6, 4.0, 3.7, 11.1, 23.1] idle-host vs
        # [.., 2.3, 2.6, 2.4, 2.0, 2.0] cache-sized — the BENCH_r08
        # 12.6 s anomaly). 1 GiB stopped sufficing when the inventory
        # crossed ~150 entries: op_semdedup read [1.3, 2.7, 6.4, 6.3]
        # in-suite vs 0.8 s solo with 1g, and [1.7, (10.1 stall), 3.9,
        # 1.2, 1.1] with 2g — the flushing-evicts-hot-GEMM-methods
        # signature. Reservation is virtual; flushing evicts cold
        # methods instead of stopping C2.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing")
        .config("spark.ui.enabled", "false" if ui_port is None else "true")
    )
    if ui_port is not None:
        builder = (builder.config("spark.ui.port", str(ui_port))
                   .config("spark.ui.retainedStages", "5000"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark, cpus)
