"""The one place the benchmark builds its Spark session.

Sized from the host, not from constants: ``local[N]`` with N the CPUs this
process may run on, N shuffle partitions, and a JVM heap that is a
quarter of physical memory (1-4 GiB). Every file Spark, the JVM or Python
workers write goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import sys


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    gib = total_kb // (1024 * 1024)
    return f"{min(4, max(1, gib // 4))}g"


def prepare_env(repo_root: str, work: str) -> None:
    """Environment the JVM and the Python workers inherit: the engine on
    PYTHONPATH (pandas-UDF workers import it) and every temp dir inside
    ``work``. Must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n = host_cpus()
    tmp = os.path.join(work, "tmp")
    java_opts = " ".join([
        # bench.py's code-cache sizing: a full code cache stops or thrashes
        # C2 and reads as random 5-10x stalls
        "-XX:ReservedCodeCacheSize=2g", "-XX:+UseCodeCacheFlushing",
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    ])
    spark = (
        SparkSession.builder
        .master(f"local[{n}]")
        .appName("framequery_spark_perfbench")
        .config("spark.driver.memory", heap_size())
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # per-call stage attribution reads the status store at the end of a
        # traced run, so it must still hold every stage of the run
        .config("spark.ui.retainedJobs", "100000" if trace else "1000")
        .config("spark.ui.retainedStages", "100000" if trace else "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from framequery_spark.plans.tuning import configure_session

    configure_session(spark, n)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark


def versions(spark) -> dict:
    jvm = spark._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
