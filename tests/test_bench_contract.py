"""The engine names the repo benchmark (perfbench/) reads.

Each must exist and accept the arguments perfbench passes, so an engine
change that renames or reshapes one fails here instead of breaking the
benchmark silently.
"""
import inspect
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_cache_key_names_a_warm_statement(spark):
    import framequery_spark as fq
    from framequery_spark.executor import executor as ex

    sc = {"t": spark.createDataFrame([(1,)], "a bigint")}
    q = "SELECT a FROM t  -- bench contract"
    fq.execute(q, sc, spark=spark).collect()
    key = ex._plan_cache_key(q, sc, spark, ".")
    assert key in ex._PLAN_CACHE


def test_entry_tables_carry_sql_and_oracle():
    import __spark_entry__ as entry

    qs = [k for k in entry._Q if k.startswith("q")]
    assert qs
    for k in qs:
        sql, oracle = entry._Q[k]
        assert isinstance(sql, str) and isinstance(oracle, str)
    for k in ("op_dedup_against", "op_stream_upsert"):
        fn, oracle = entry._OPS[k]
        inspect.signature(fn).bind("spark", "data_dir")


def test_workloads_resolve_against_the_engine():
    """perfbench's workload module imports the engine and picks its
    statements and operators by name at import time."""
    code = (
        "import sys\n"
        "sys.path[:0] = ['perfbench', '.']\n"
        "import workloads as w\n"
        "import __spark_entry__ as e\n"
        "missing = [k for k in w.OPS if k not in e._OPS]\n"
        "assert not missing, missing\n"
        "assert w.CACHED and w.DBAPI_READS\n"
        "print('ok')\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                         capture_output=True, text=True)
    assert out.stdout.strip() == "ok", out.stdout + out.stderr[-2000:]


def test_release_cached_and_configure_session_signatures():
    from framequery_spark.operators.cache import release_cached
    from framequery_spark.plans.tuning import configure_session

    assert isinstance(release_cached(blocking=True), int)
    inspect.signature(configure_session).bind("spark", 4)


def test_stream_keyword_parameters():
    from framequery_spark.streaming import stream

    inspect.signature(stream.stream_ingest_dedup).bind(
        "spark", "docs_path", "corpus", out_dir="out",
        checkpoint_dir="ckpt", doc_filter=None)
    inspect.signature(stream.stream_upsert_latest).bind(
        "spark", "events_path", out_dir="out", checkpoint_dir="ckpt")


def test_dbapi_connection_exposes_its_executor(spark):
    from framequery_spark.alchemy import dbapi

    conn = dbapi.connect(spark=spark)
    try:
        executor = conn._executor
        executor.update(t=spark.createDataFrame([(1,)], "a bigint"))
        assert isinstance(executor.scope, dict) and "t" in executor.scope
        # perfbench's tracer shadows execute on the instance, then deletes
        # the shadow
        real = executor.execute
        seen = []
        executor.execute = lambda q, *a, **kw: seen.append(q) or real(q)
        cur = conn.cursor()
        cur.execute("SELECT a FROM t")
        assert cur.fetchall() == [(1,)] and seen == ["SELECT a FROM t"]
        del executor.execute
        assert cur.description[0][0] == "a"
    finally:
        conn.close()
