"""Session plan reuse and bounded lineage.

Each Executor (so each DBAPI connection) owns a plan cache: a repeated
query reuses its analyzed plan while every table its compile read is still
bound to the same DataFrame, and — for compiles that reached the column-type
fallback — while the scope keeps its names and dtypes. The first query that
names a table written since its last materialization rebinds it to a local
checkpoint owned by the session, so a read replays only the writes since
the last read.
"""
import threading

import pytest

import framequery_spark as fq
from framequery_spark.alchemy import connect
from framequery_spark.executor import executor as ex_mod
from framequery_spark.operators.cache import release_cached


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _leaves(df) -> int:
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


@pytest.fixture()
def parses(monkeypatch):
    """Every text the executor parses, in order."""
    seen = []
    real = ex_mod.parse

    def spy(q):
        seen.append(q)
        return real(q)

    monkeypatch.setattr(ex_mod, "parse", spy)
    return seen


def _ab(spark):
    return {"t": spark.createDataFrame([(1, 10), (2, 20)],
                                       "a bigint, b bigint"),
            "s": spark.createDataFrame([(2, 200), (3, 300)],
                                       "a bigint, b bigint")}


def test_repeated_dbapi_read_does_not_parse_again(spark, parses):
    conn = connect(spark=spark)
    try:
        conn._executor.update(_ab(spark))
        cur = conn.cursor()
        q = "SELECT a, b * 2 AS b2 FROM t ORDER BY a"
        cur.execute(q)
        first = cur.fetchall()
        cur.execute(q)
        assert cur.fetchall() == first == [(1, 20), (2, 40)]
        assert parses == [q]
        info = conn._executor.plan_cache_info()
        assert (info["hits"], info["misses"], info["entries"]) == (1, 1, 1)
    finally:
        conn.close()


def test_fallback_read_stays_a_hit_across_writes_to_other_tables(
        spark, tpch_scope, parses):
    """q68 reaches the column-type fallback, which reads every scope
    table's dtypes; writes to an unrelated table keep the dtypes, so the
    read keeps its plan."""
    import __spark_entry__ as entry

    q68 = entry._Q["q68_multirange_coverage"][0]
    ex = fq.Executor(scope=dict(tpch_scope), spark=spark)
    try:
        ex.execute("CREATE TABLE w AS SELECT o_orderkey, o_totalprice "
                   "FROM orders WHERE o_orderkey < 100")
        n = ex.execute("SELECT count(*) FROM w").collect()[0][0]
        want = _rows(ex.execute(q68))
        (_, reads), = [v for k, v in ex._plans.entries.items()
                       if k[0] == q68]
        assert reads.schema is not None, "q68 should reach the fallback"
        for i in range(3):
            ex.execute(f"INSERT INTO w VALUES ({10 ** 6 + i}, 1.5)")
            assert ex.execute("SELECT count(*) FROM w").collect()[0][0] \
                == n + i + 1
            assert _rows(ex.execute(q68)) == want
        assert parses.count(q68) == 1
        assert ex.plan_cache_info()["hits"] >= 3
    finally:
        ex.close()


def test_join_condition_keeps_its_hit_across_unrelated_dtype_changes(
        spark):
    """A join ON compiles without an input frame; its `=` must not probe
    the scope dtypes (only `+` and `-` read operand kinds), so rebinding an
    unrelated table with other dtypes keeps the join's plan."""
    ex = fq.Executor(scope={
        "t": spark.createDataFrame([(1, 10), (2, 20)], "a bigint, b bigint"),
        "s": spark.createDataFrame([(2, 7)], "a bigint, c bigint"),
        "u": spark.createDataFrame([(1,)], "x bigint")}, spark=spark)
    q = "SELECT t.a, s.c FROM t JOIN s ON t.a = s.a"
    try:
        assert _rows(ex.execute(q)) == [(2, 7)]
        assert _rows(ex.execute(q)) == [(2, 7)]
        ex.update(u=spark.createDataFrame([("x",)], "x string"))
        assert _rows(ex.execute(q)) == [(2, 7)]
        info = ex.plan_cache_info()
        assert (info["hits"], info["misses"], info["evictions"]) == (2, 1, 0)
    finally:
        ex.close()


def test_written_table_lineage_stays_bounded(spark):
    ex = fq.Executor(scope={"t": spark.createDataFrame(
        [(0, 0.0)], "k bigint, v double")}, spark=spark)
    try:
        leaves = []
        for i in range(1, 21):
            ex.execute(f"INSERT INTO t VALUES ({i}, {i}.5)")
            ex.execute(f"UPDATE t SET v = v + 1 WHERE k = {i - 1}")
            leaves.append(_leaves(ex.scope["t"]))
            assert ex.execute("SELECT count(*) AS n FROM t") \
                .collect()[0][0] == i + 1
        assert max(leaves) <= 3, leaves
        # every row but the last got its +1
        assert ex.execute("SELECT sum(v) FROM t").collect()[0][0] == \
            sum(i + 0.5 for i in range(1, 21)) + 20
    finally:
        ex.close()


@pytest.mark.parametrize("dml, want", [
    ("INSERT INTO t VALUES (3, 30)", [(1, 10), (2, 20), (3, 30)]),
    ("UPDATE t SET b = b + 1 WHERE a = 2", [(1, 10), (2, 21)]),
    ("DELETE FROM t WHERE a = 1", [(2, 20)]),
    ("DELETE FROM t USING s WHERE t.a = s.a", [(1, 10)]),
    ("MERGE INTO t USING s ON t.a = s.a "
     "WHEN MATCHED THEN UPDATE SET b = s.b "
     "WHEN NOT MATCHED THEN INSERT VALUES (s.a, s.b)",
     [(1, 10), (2, 200), (3, 300)]),
    ("INSERT INTO t VALUES (2, 99) ON CONFLICT (a) "
     "DO UPDATE SET b = excluded.b", [(1, 10), (2, 99)]),
    ("WITH n AS (SELECT 5 AS a, 50 AS b) INSERT INTO t SELECT a, b FROM n",
     [(1, 10), (2, 20), (5, 50)]),
], ids=["insert", "update", "delete", "delete_using", "merge",
        "on_conflict", "with_insert"])
def test_read_after_write_sees_new_rows(spark, dml, want):
    conn = connect(spark=spark)
    try:
        conn._executor.update(_ab(spark))
        cur = conn.cursor()
        q = "SELECT a, b FROM t ORDER BY a"
        cur.execute(q)
        assert cur.fetchall() == [(1, 10), (2, 20)]
        cur.execute(dml)
        for _ in range(2):  # a compile, then a hit
            cur.execute(q)
            assert cur.fetchall() == want
    finally:
        conn.close()


def test_session_state_changes_force_a_recompile(spark):
    ex = fq.Executor(scope=_ab(spark), spark=spark)
    try:
        def misses():
            return ex.plan_cache_info()["misses"]

        ex.add_function("f", lambda s: s + 1, returns="bigint")
        q = "SELECT f(a) AS x, current_setting('app.tag') AS tag FROM t " \
            "ORDER BY x"
        ex.execute("SET app.tag TO 'one'")
        assert _rows(ex.execute(q)) == [(2, "one"), (3, "one")]
        n = misses()
        assert _rows(ex.execute(q)) == [(2, "one"), (3, "one")]
        assert misses() == n  # a hit
        ex.execute("SET app.tag TO 'two'")
        assert _rows(ex.execute(q)) == [(2, "two"), (3, "two")]
        assert misses() == n + 1
        ex.add_function("f", lambda s: s + 2, returns="bigint")
        assert _rows(ex.execute(q)) == [(3, "two"), (4, "two")]
        assert misses() == n + 2
        ex.recursive_max_iterations = 5
        assert _rows(ex.execute(q)) == [(3, "two"), (4, "two")]
        assert misses() == n + 3
        assert _rows(ex.execute(q)) == [(3, "two"), (4, "two")]
        assert misses() == n + 3
    finally:
        ex.close()


def test_full_release_keeps_a_live_connection_readable(spark):
    conn = connect(spark=spark)
    try:
        conn._executor.update(_ab(spark))
        cur = conn.cursor()
        cur.execute("INSERT INTO t VALUES (3, 30)")
        cur.execute("SELECT count(*) FROM t")  # materializes t
        assert cur.fetchall() == [(3,)]
        cur.execute("INSERT INTO t VALUES (4, 40)")
        release_cached(blocking=True)
        cur.execute("SELECT a FROM t ORDER BY a")
        assert cur.fetchall() == [(1,), (2,), (3,), (4,)]
        release_cached(blocking=True)
        cur.execute("SELECT a FROM t ORDER BY a")
        assert cur.fetchall() == [(1,), (2,), (3,), (4,)]
    finally:
        conn.close()


def test_connection_close_releases_its_checkpoints(spark):
    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    conn = connect(spark=spark)
    conn._executor.update(_ab(spark))
    cur = conn.cursor()
    for i in range(3):
        cur.execute(f"INSERT INTO t VALUES ({10 + i}, 0)")
        cur.execute("SELECT count(*) FROM t")
        assert cur.fetchall() == [(3 + i,)]
    assert persistent() - before, "reads of written tables materialize"
    conn.close()
    assert not persistent() - before
    assert not conn._executor._plans.entries


def test_prepared_statement_reuses_its_plan(spark, parses):
    ex = fq.Executor(scope=_ab(spark), spark=spark)
    try:
        ex.execute("PREPARE p AS SELECT a, b FROM t WHERE a = $1")
        assert _rows(ex.execute("EXECUTE p(2)")) == [(2, 20)]
        del parses[:]
        assert _rows(ex.execute("EXECUTE p(2)")) == [(2, 20)]
        # only the EXECUTE statement itself; the spliced query is a hit
        assert parses == ["EXECUTE p(2)"]
        assert _rows(ex.execute("EXECUTE p(1)")) == [(1, 10)]
        assert _rows(ex.execute("EXECUTE p(3)")) == []
    finally:
        ex.close()


def test_plan_cache_info_counts_a_warm_repeat_as_one_hit(spark):
    sc = {"t": spark.createDataFrame([(7,)], "a bigint")}
    q = "SELECT a + 1 AS b FROM t  -- plan_cache_info"
    before = ex_mod.plan_cache_info()
    assert _rows(fq.execute(q, sc, spark=spark)) == [(8,)]
    assert _rows(fq.execute(q, sc, spark=spark)) == [(8,)]
    after = fq.plan_cache_info()
    assert after["hits"] - before["hits"] == 1
    assert after["misses"] - before["misses"] == 1
    assert set(after) == {"hits", "misses", "evictions", "entries"}


def test_shared_cache_is_safe_across_threads(spark, monkeypatch):
    """4 threads x 25 calls over distinct scopes, with the cache held
    smaller than the working set so stores and evictions interleave."""
    monkeypatch.setattr(ex_mod, "_PLAN_CACHE_MAX", 8)
    errors, sizes = [], []

    def work(i):
        try:
            sc = {"t": spark.createDataFrame([(i, j) for j in range(5)],
                                             "a bigint, b bigint")}
            for n in range(25):
                q = f"SELECT a, sum(b) + {n % 5} AS s FROM t GROUP BY a"
                got = _rows(fq.execute(q, sc, spark=spark))
                assert got == [(i, 10 + n % 5)], (i, n, got)
                sizes.append(len(ex_mod._PLAN_CACHE))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(sizes) == 100
    assert max(sizes) <= 8
    assert len(ex_mod._PLAN_CACHE) <= 8
