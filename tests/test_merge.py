"""MERGE INTO / INSERT ON CONFLICT / RETURNING tests (beyond parity — the
reference has none of these). DuckDB 1.0 has no MERGE, so the MERGE upsert
case is checked against a composed UPDATE+INSERT DuckDB script; ON CONFLICT
and RETURNING are differentially checked against DuckDB directly."""

import pandas as pd
import pytest

import framequery_spark as fq

from framequery_spark.parser.parser import ParseError


def _executor(spark):
    """A persistent Executor: MERGE rebinds the executor's own scope (the
    one-shot fq.execute copies the caller dict, like the reference)."""
    t = pd.DataFrame({"a": [1, 2, 3], "b": [10, 20, 30]})
    s = pd.DataFrame({"a": [2, 3, 4], "b": [99, 88, 77]})
    return fq.Executor(scope={"t": spark.createDataFrame(t),
                              "s": spark.createDataFrame(s)}, spark=spark)


def _rows(ex):
    return sorted(tuple(r) for r in
                  ex.execute("select * from t order by a").collect())


def test_merge_upsert_matches_duckdb(spark):
    import duckdb

    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.b "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.a, s.b)")

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a INT, b INT); "
                "INSERT INTO t VALUES (1,10),(2,20),(3,30); "
                "CREATE TABLE s(a INT, b INT); "
                "INSERT INTO s VALUES (2,99),(3,88),(4,77); "
                "UPDATE t SET b = s.b FROM s WHERE t.a = s.a; "
                "INSERT INTO t SELECT a, b FROM s "
                "WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.a = s.a)")
    expected = sorted(map(tuple, con.execute(
        "SELECT * FROM t ORDER BY a").fetchall()))
    assert _rows(ex) == expected == [(1, 10), (2, 99), (3, 88), (4, 77)]


def test_merge_conditional_arms_first_match_wins(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED AND s.b > 90 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET b = t.b + s.b "
        "WHEN NOT MATCHED AND s.b < 80 THEN INSERT VALUES (s.a, s.b)")
    # a=2: s.b=99 > 90 -> deleted (first arm wins over the update arm);
    # a=3: updated to 30+88; a=4: s.b=77 < 80 -> inserted; a=1: untouched
    assert _rows(ex) == [(1, 10), (3, 118), (4, 77)]


def test_merge_do_nothing_and_unmatched_default(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED AND s.b = 99 THEN DO NOTHING "
        "WHEN MATCHED THEN UPDATE SET b = 0")
    # no NOT MATCHED arm: source-only rows are not inserted; DO NOTHING
    # shields a=2 from the later update arm
    assert _rows(ex) == [(1, 10), (2, 20), (3, 0)]


def test_merge_not_matched_by_source(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.b "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED BY TARGET THEN INSERT VALUES (s.a, s.b)")
    # full sync: a=1 (target-only) deleted, matched rows updated, a=4 added
    assert _rows(ex) == [(2, 99), (3, 88), (4, 77)]


def test_merge_insert_column_list_fills_null(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN NOT MATCHED THEN INSERT (a) VALUES (s.a)")
    assert _rows(ex) == [(1, 10), (2, 20), (3, 30), (4, None)]


def test_merge_source_subquery_and_aliases(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t AS tgt "
        "USING (SELECT a, b * 2 AS b2 FROM s WHERE a <= 3) src "
        "ON tgt.a = src.a "
        "WHEN MATCHED THEN UPDATE SET b = src.b2")
    assert _rows(ex) == [(1, 10), (2, 198), (3, 176)]


def test_merge_duplicate_source_match_errors(spark):
    ex = _executor(spark)
    dup = pd.DataFrame({"a": [2, 2], "b": [1, 2]})
    ex.update(s=spark.createDataFrame(dup))
    ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.b")
    with pytest.raises(Exception, match="second time"):
        ex.scope["t"].collect()


def test_merge_parse_errors(spark):
    ex = _executor(spark)
    with pytest.raises(ParseError, match="INSERT action"):
        ex.execute("MERGE INTO t USING s ON t.a = s.a "
                   "WHEN MATCHED THEN INSERT VALUES (1, 2)")
    with pytest.raises(ParseError, match="UPDATE action"):
        ex.execute("MERGE INTO t USING s ON t.a = s.a "
                   "WHEN NOT MATCHED THEN UPDATE SET b = 1")
    with pytest.raises(ParseError, match="WHEN clause"):
        ex.execute("MERGE INTO t USING s ON t.a = s.a")


# ---- INSERT ... ON CONFLICT (upsert) and RETURNING -------------------------

def _duck_tables():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a INT PRIMARY KEY, b INT); "
                "INSERT INTO t VALUES (1,10),(2,20),(3,30)")
    return con


def test_insert_on_conflict_do_update_matches_duckdb(spark):
    ex = _executor(spark)
    sql = ("INSERT INTO t VALUES (2, 99), (4, 77) "
           "ON CONFLICT (a) DO UPDATE SET b = excluded.b + 1")
    ex.execute(sql)
    con = _duck_tables()
    con.execute(sql)
    expected = sorted(map(tuple,
                          con.execute("SELECT * FROM t ORDER BY a").fetchall()))
    assert _rows(ex) == expected == [(1, 10), (2, 100), (3, 30), (4, 77)]


def test_insert_on_conflict_do_nothing_matches_duckdb(spark):
    ex = _executor(spark)
    sql = "INSERT INTO t VALUES (2, 99), (5, 55) ON CONFLICT (a) DO NOTHING"
    ex.execute(sql)
    con = _duck_tables()
    con.execute(sql)
    expected = sorted(map(tuple,
                          con.execute("SELECT * FROM t ORDER BY a").fetchall()))
    assert _rows(ex) == expected == [(1, 10), (2, 20), (3, 30), (5, 55)]


def test_insert_on_conflict_do_nothing_batch_first_wins(spark):
    # pg semantics: the first batch row inserts, the second then conflicts
    # with it and is skipped (DuckDB 1.0 errors on this shape — a known
    # limitation of its ART index, so no differential here)
    ex = _executor(spark)
    ex.execute("INSERT INTO t VALUES (5, 55), (5, 66) "
               "ON CONFLICT (a) DO NOTHING")
    assert _rows(ex) == [(1, 10), (2, 20), (3, 30), (5, 55)]


def test_insert_on_conflict_update_where(spark):
    ex = _executor(spark)
    ex.execute("INSERT INTO t VALUES (2, 5), (3, 99) "
               "ON CONFLICT (a) DO UPDATE SET b = excluded.b "
               "WHERE t.b < excluded.b")
    # a=2: 20 < 5 false -> untouched; a=3: 30 < 99 -> updated
    assert _rows(ex) == [(1, 10), (2, 20), (3, 99)]


def test_returning_matches_duckdb(spark):
    import duckdb

    # no PRIMARY KEY: RETURNING needs no constraint, and DuckDB 1.0's
    # delete+insert UPDATE spuriously trips PK checks on keyed tables
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a INT, b INT); "
                "INSERT INTO t VALUES (1,10),(2,20),(3,30)")

    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "INSERT INTO t VALUES (7, 70), (8, 80) RETURNING a, b * 2 AS bb"
    ).collect())
    exp = sorted(map(tuple, con.execute(
        "INSERT INTO t VALUES (7, 70), (8, 80) RETURNING a, b * 2 AS bb"
    ).fetchall()))
    assert got == exp == [(7, 140), (8, 160)]

    got = sorted(tuple(r) for r in ex.execute(
        "UPDATE t SET b = b + 1 WHERE a <= 2 RETURNING *").collect())
    exp = sorted(map(tuple, con.execute(
        "UPDATE t SET b = b + 1 WHERE a <= 2 RETURNING *").fetchall()))
    assert got == exp == [(1, 11), (2, 21)]

    got = sorted(tuple(r) for r in ex.execute(
        "DELETE FROM t WHERE a > 7 RETURNING a").collect())
    exp = sorted(map(tuple, con.execute(
        "DELETE FROM t WHERE a > 7 RETURNING a").fetchall()))
    assert got == exp == [(8,)]
    # the mutations themselves also agree
    assert _rows(ex) == sorted(map(tuple, con.execute(
        "SELECT * FROM t ORDER BY a").fetchall()))


def test_insert_upsert_returning_affected_rows(spark):
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "INSERT INTO t VALUES (2, 99), (4, 77) "
        "ON CONFLICT (a) DO UPDATE SET b = excluded.b RETURNING a, b"
    ).collect())
    assert got == [(2, 99), (4, 77)]  # updated + inserted, post-image


def test_insert_select_returning(spark):
    # "returning" must stop FROM-relation alias parsing: in the
    # query-sourced form the word would otherwise be consumed as the table
    # alias and the statement would fail with 'unexpected trailing input'
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "INSERT INTO t SELECT a + 10, b FROM s RETURNING a").collect())
    assert got == [(12,), (13,), (14,)]
    assert _rows(ex) == [(1, 10), (2, 20), (3, 30),
                         (12, 99), (13, 88), (14, 77)]


def test_insert_on_conflict_do_update_duplicate_batch_key_raises(spark):
    # pg: "ON CONFLICT DO UPDATE command cannot affect row a second time".
    # Both the new-key case (both rows would take the INSERT arm) and the
    # existing-key case must raise rather than silently insert duplicates.
    ex = _executor(spark)
    for values in ["(9, 1), (9, 2)",    # duplicate NEW key
                   "(2, 1), (2, 2)"]:   # duplicate EXISTING key
        with pytest.raises(Exception, match="second time"):
            ex.execute(f"INSERT INTO t VALUES {values} "
                       "ON CONFLICT (a) DO UPDATE SET b = excluded.b")
    assert _rows(ex) == [(1, 10), (2, 20), (3, 30)]  # table untouched


def test_insert_on_conflict_do_update_null_keys_both_insert(spark):
    # pg: NULL conflict keys never conflict (uniqueness treats NULLs as
    # distinct) — two batch rows with NULL keys both take the insert path
    # instead of tripping the cannot-affect-row-a-second-time guard
    ex = _executor(spark)
    ex.execute("INSERT INTO t VALUES (NULL, 1), (NULL, 2) "
               "ON CONFLICT (a) DO UPDATE SET b = excluded.b")
    got = [tuple(r) for r in ex.execute("select * from t").collect()]
    assert sorted(b for a, b in got if a is None) == [1, 2]
    assert sorted((a, b) for a, b in got if a is not None) == \
        [(1, 10), (2, 20), (3, 30)]


def test_merge_values_source_with_column_alias(spark):
    ex = _executor(spark)
    ex.execute(
        "MERGE INTO t USING (VALUES (2, 99), (5, 55)) AS d(a, b) "
        "ON t.a = d.a "
        "WHEN MATCHED THEN UPDATE SET b = d.b "
        "WHEN NOT MATCHED THEN INSERT VALUES (d.a, d.b)")
    assert _rows(ex) == [(1, 10), (2, 99), (3, 30), (5, 55)]


# ---- MERGE ... RETURNING (pg 17) -------------------------------------------

def test_merge_returning_all_arm_kinds(spark):
    # pg 17: one RETURNING row per inserted/updated/deleted row — post-image
    # for insert/update, old image for delete; untouched rows absent
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED AND s.b > 90 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET b = t.b + s.b "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.a, s.b) "
        "RETURNING merge_action() AS act, a, b").collect())
    # a=2 deleted (old image b=20), a=3 updated (30+88), a=4 inserted
    assert got == [("DELETE", 2, 20), ("INSERT", 4, 77), ("UPDATE", 3, 118)]
    assert _rows(ex) == [(1, 10), (3, 118), (4, 77)]


def test_merge_returning_star_and_do_nothing_excluded(spark):
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED AND s.b = 99 THEN DO NOTHING "
        "WHEN MATCHED THEN UPDATE SET b = 0 "
        "RETURNING *").collect())
    # a=2 took DO NOTHING -> not returned; `*` must not leak helper columns
    assert got == [(3, 0)]
    assert _rows(ex) == [(1, 10), (2, 20), (3, 0)]


def test_merge_returning_conditional_arm_miss_not_returned(spark):
    # a matched row whose every arm condition fails falls through to the
    # keep default: untouched AND unreturned
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED AND s.b < 90 THEN UPDATE SET b = s.b "
        "RETURNING a, b").collect())
    assert got == [(3, 88)]  # a=2 (s.b=99) untouched
    assert _rows(ex) == [(1, 10), (2, 20), (3, 88)]


def test_on_conflict_update_where_returning(spark):
    # pg: conflicting rows failing the DO UPDATE ... WHERE are neither
    # updated nor returned; inserts and passing updates return post-images
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "INSERT INTO t VALUES (2, 5), (3, 99), (6, 66) "
        "ON CONFLICT (a) DO UPDATE SET b = excluded.b "
        "WHERE t.b < excluded.b RETURNING a, b").collect())
    # a=2: 20 < 5 false -> skipped; a=3: 30 < 99 -> updated; a=6 inserted
    assert got == [(3, 99), (6, 66)]
    assert _rows(ex) == [(1, 10), (2, 20), (3, 99), (6, 66)]


def test_merge_returning_by_source_arms(spark):
    # pg 17: NOT MATCHED BY SOURCE arms also feed RETURNING (old image for
    # DELETE, post-image for UPDATE)
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.b "
        "WHEN NOT MATCHED BY SOURCE AND t.b >= 10 THEN DELETE "
        "RETURNING merge_action() AS act, a, b").collect())
    # a=1 target-only with b=10 -> deleted (old image); a=2,3 updated
    assert got == [("DELETE", 1, 10), ("UPDATE", 2, 99), ("UPDATE", 3, 88)]
    assert _rows(ex) == [(2, 99), (3, 88)]


def test_merge_returning_source_columns(spark):
    # pg 17: RETURNING may read the matched source row via its alias;
    # target-only (BY SOURCE) rows see NULL source columns
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = t.b + s.b "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.a, 0) "
        "RETURNING a, b, s.b AS src_b").collect())
    # a=2: 20+99; a=3: 30+88; a=4 inserted with b=0, source b=77
    assert got == [(2, 119, 99), (3, 118, 88), (4, 0, 77)]
    # both inside a CASE branch
    ex = _executor(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.b "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.a, s.b) "
        "RETURNING a, CASE WHEN merge_action() = 'INSERT' THEN s.b "
        "ELSE -1 END AS x").collect())
    assert got == [(2, -1), (3, -1), (4, 77)]


def test_merge_returning_source_star_and_null_for_by_source(spark):
    ex = _executor(spark)
    df = ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET b = s.b "
        "RETURNING merge_action() AS act, a, s.*")
    assert df.columns == ["act", "a", "a", "b"]  # s.* keeps pg names
    got = sorted(tuple(r) for r in df.collect())
    # a=1 deleted (target-only): source cols NULL; a=2/3 updated
    assert got == [("DELETE", 1, None, None),
                   ("UPDATE", 2, 2, 99), ("UPDATE", 3, 3, 88)]


# ------------------------------------------------- UPDATE FROM / DELETE USING


def _duck_ts():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(a INT, b INT); "
                "INSERT INTO t VALUES (1,10),(2,20),(3,30); "
                "CREATE TABLE s(a INT, c INT); "
                "INSERT INTO s VALUES (2,99),(3,88),(4,77)")
    return con


def _executor_ts(spark):
    t = pd.DataFrame({"a": [1, 2, 3], "b": [10, 20, 30]})
    s = pd.DataFrame({"a": [2, 3, 4], "c": [99, 88, 77]})
    return fq.Executor(scope={"t": spark.createDataFrame(t),
                              "s": spark.createDataFrame(s)}, spark=spark)


def test_update_from_matches_duckdb(spark):
    ex = _executor_ts(spark)
    con = _duck_ts()
    stmt = "UPDATE t SET b = s.c FROM s WHERE t.a = s.a"
    ex.execute(stmt)
    con.execute(stmt)
    assert _rows(ex) == sorted(map(tuple, con.execute(
        "SELECT * FROM t ORDER BY a").fetchall())) \
        == [(1, 10), (2, 99), (3, 88)]


def test_update_from_returning_post_image_and_source_cols(spark):
    ex = _executor_ts(spark)
    ret = ex.execute(
        "UPDATE t SET b = s.c + 1 FROM s WHERE t.a = s.a "
        "RETURNING a, b, c")
    assert sorted(tuple(r) for r in ret.collect()) == \
        [(2, 100, 99), (3, 89, 88)]
    assert _rows(ex) == [(1, 10), (2, 100), (3, 89)]


def test_update_from_assignment_sees_pre_update_row(spark):
    ex = _executor_ts(spark)
    # RHS mixes target (pre-update) and source columns
    ex.execute("UPDATE t SET b = t.b + s.c FROM s WHERE t.a = s.a")
    assert _rows(ex) == [(1, 10), (2, 119), (3, 118)]


def test_delete_using_matches_duckdb(spark):
    ex = _executor_ts(spark)
    con = _duck_ts()
    stmt = "DELETE FROM t USING s WHERE t.a = s.a"
    ex.execute(stmt)
    con.execute(stmt)
    assert _rows(ex) == sorted(map(tuple, con.execute(
        "SELECT * FROM t ORDER BY a").fetchall())) == [(1, 10)]


def test_delete_using_returning_includes_source_cols(spark):
    ex = _executor_ts(spark)
    ret = ex.execute("DELETE FROM t USING s WHERE t.a = s.a RETURNING a, b, c")
    assert sorted(tuple(r) for r in ret.collect()) == \
        [(2, 20, 99), (3, 30, 88)]
    assert _rows(ex) == [(1, 10)]


def test_update_from_multi_match_updates_once(spark):
    # pg updates each target row ONCE even when several source rows match
    t = pd.DataFrame({"a": [1], "b": [0]})
    s = pd.DataFrame({"a": [1, 1], "c": [5, 7]})
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "s": spark.createDataFrame(s)}, spark=spark)
    ex.execute("UPDATE t SET b = t.b + s.c FROM s WHERE t.a = s.a")
    rows = _rows(ex)
    assert len(rows) == 1 and rows[0][1] in (5, 7)  # one match applied


def test_insert_default_values(spark):
    ex = _executor_ts(spark)
    ex.execute("INSERT INTO t DEFAULT VALUES")
    rows = sorted(((r.a, r.b) for r in
                   ex.execute("SELECT * FROM t").collect()),
                  key=lambda x: (x[0] is None, x))
    assert rows[-1] == (None, None) and len(rows) == 4


def test_update_from_returning_colliding_source_cols(spark):
    """Round 7: alias-qualified source refs in RETURNING resolve even when
    the name collides with a target column (the __src_ carrier rewrite)."""
    import pandas as pd

    t = pd.DataFrame({"id": [1, 2, 3], "v": [10, 20, 30]})
    s = pd.DataFrame({"id": [2, 3], "v": [200, 300], "tag": ["a", "b"]})
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "s": spark.createDataFrame(s)}, spark=spark)
    ret = ex.execute("UPDATE t SET v = s.v + 1 FROM s WHERE t.id = s.id "
                     "RETURNING t.id, t.v, s.v AS src_v, s.tag")
    assert sorted(tuple(r) for r in ret.collect()) == \
        [(2, 201, 200, "a"), (3, 301, 300, "b")]
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "s": spark.createDataFrame(s)}, spark=spark)
    ret = ex.execute("UPDATE t SET v = s.v + 1 FROM s WHERE t.id = s.id "
                     "RETURNING t.v, s.*")
    assert ret.columns == ["v", "id", "v", "tag"]
    assert sorted(tuple(r) for r in ret.collect()) == \
        [(201, 2, 200, "a"), (301, 3, 300, "b")]


def test_delete_using_returning_star_and_source_star(spark):
    """`*` expands to the pg output row (target + non-colliding source)
    without leaking hidden carriers; `s.*` expands the full source row
    including colliding names."""
    import pandas as pd

    t = pd.DataFrame({"id": [1, 2, 3], "v": [10, 20, 30]})
    s = pd.DataFrame({"id": [3], "v": [999], "tag": ["z"]})
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "s": spark.createDataFrame(s)}, spark=spark)
    ret = ex.execute("DELETE FROM t USING s WHERE t.id = s.id "
                     "RETURNING *, s.id AS sid")
    assert [tuple(r) for r in ret.collect()] == [(3, 30, "z", 3)]
    ex2 = fq.Executor(scope={"t": spark.createDataFrame(t),
                             "s": spark.createDataFrame(s)}, spark=spark)
    ret = ex2.execute("DELETE FROM t USING s WHERE t.id = s.id "
                      "RETURNING s.*")
    assert [tuple(r) for r in ret.collect()] == [(3, 999, "z")]


def test_with_cte_on_dml(spark):
    import framequery_spark as fq

    ex = fq.Executor({"w": spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "a long, v double")}, spark=spark)
    ex.execute("WITH m AS (SELECT max(v) AS mx FROM w) "
               "UPDATE w SET v = 0 FROM m WHERE w.v = m.mx")
    assert sorted(tuple(r) for r in ex.execute("SELECT * FROM w").collect()) \
        == [(1, 10.0), (2, 20.0), (3, 0.0)]
    ex.execute("WITH z AS (SELECT a FROM w WHERE v = 0) "
               "DELETE FROM w USING z WHERE w.a = z.a")
    assert ex.execute("SELECT count(*) AS n FROM w").collect()[0].n == 2
    ex.execute("WITH RECURSIVE g(n) AS (SELECT 100 UNION ALL "
               "SELECT n + 1 FROM g WHERE n < 102) "
               "INSERT INTO w SELECT n, 0.0 FROM g")
    assert ex.execute("SELECT count(*) AS n FROM w").collect()[0].n == 5
    # the CTE is not left in the session scope
    with pytest.raises(Exception):
        ex.execute("SELECT * FROM g")
    # RETURNING flows through
    out = ex.execute("WITH m AS (SELECT min(a) AS mn FROM w) "
                     "DELETE FROM w USING m WHERE w.a = m.mn RETURNING a")
    assert [r.a for r in out.collect()] == [1]
    # a CTE named like the DML target would shadow it — rejected
    with pytest.raises(Exception, match="collides with the DML target"):
        ex.execute("WITH w AS (SELECT 1 AS a) UPDATE w SET v = 1")


# ------------------------------------- the join forms run as MERGE rewrites


def _executor_tsu(spark):
    ex = _executor_ts(spark)
    ex.update(u=spark.createDataFrame(
        pd.DataFrame({"c": [99, 88, 1], "d": [5, 6, 7]})))
    return ex


@pytest.mark.parametrize("stmt", [
    "UPDATE t SET b = u.d FROM s, u WHERE t.a = s.a AND s.c = u.c",
    "DELETE FROM t USING s, u WHERE t.a = s.a AND s.c = u.c",
], ids=["update_from", "delete_using"])
def test_join_forms_over_relations_sharing_a_column(spark, stmt):
    # s.c and u.c share a name: a join-tree source keeps each relation's
    # own alias, so both qualified refs resolve
    ex = _executor_tsu(spark)
    con = _duck_ts()
    con.execute("CREATE TABLE u(c INT, d INT); "
                "INSERT INTO u VALUES (99, 5), (88, 6), (1, 7)")
    ex.execute(stmt)
    con.execute(stmt)
    assert _rows(ex) == sorted(map(tuple, con.execute(
        "SELECT * FROM t ORDER BY a").fetchall()))


def test_update_from_set_subquery(spark):
    ex = _executor_ts(spark)
    ex.execute("UPDATE t SET b = (SELECT max(c) FROM s) FROM s "
               "WHERE t.a = s.a")
    assert _rows(ex) == [(1, 10), (2, 99), (3, 99)]


def test_merge_update_unknown_column_raises(spark):
    from framequery_spark.compiler.expressions import CompileError

    ex = _executor_ts(spark)
    with pytest.raises(CompileError, match="nosuch"):
        ex.execute("MERGE INTO t USING s ON t.a = s.a "
                   "WHEN MATCHED THEN UPDATE SET nosuch = 1")
    assert _rows(ex) == [(1, 10), (2, 20), (3, 30)]


def test_merge_returning_bare_source_column(spark):
    # pg 17: a source column no target column shares resolves bare
    ex = _executor_ts(spark)
    got = sorted(tuple(r) for r in ex.execute(
        "MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN UPDATE SET b = s.c + 1 "
        "RETURNING a, c").collect())
    assert got == [(2, 99), (3, 88)]


def test_merge_subquery_in_on_raises_compile_error(spark):
    from framequery_spark.compiler.expressions import CompileError

    ex = _executor_ts(spark)
    with pytest.raises(CompileError, match="join condition"):
        ex.execute("MERGE INTO t USING s "
                   "ON t.a = s.a AND s.c > (SELECT min(c) FROM s) "
                   "WHEN MATCHED THEN DELETE")


def test_delete_using_two_matches_deletes_once(spark):
    # pg deletes a target row once however many USING rows match it, and
    # does not raise the MERGE duplicate-match error
    t = pd.DataFrame({"a": [1, 2], "b": [10, 20]})
    s = pd.DataFrame({"a": [1, 1], "c": [5, 7]})
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "s": spark.createDataFrame(s)}, spark=spark)
    ret = [tuple(r) for r in ex.execute(
        "DELETE FROM t USING s WHERE t.a = s.a RETURNING a, b").collect()]
    assert ret == [(1, 10)]
    assert _rows(ex) == [(2, 20)]
