"""Executor golden tests (reference model: tests/test__executor__execute.py)."""

import pandas as pd
import pytest

import framequery_spark as fq

from .conftest import rows


@pytest.fixture(scope="module")
def scope(spark):
    return {
        "test": spark.createDataFrame(pd.DataFrame({
            "a": [1, 2, 3, 4], "b": [10.0, 20.0, 30.0, 40.0],
            "g": ["x", "x", "y", "y"],
        })),
        "other": spark.createDataFrame(pd.DataFrame({
            "a": [1, 2, 5], "c": ["p", "q", "r"],
        })),
        "withnull": spark.createDataFrame(
            pd.DataFrame({"a": [1.0, None, 3.0], "s": ["u", None, "w"]})),
    }


def run(q, scope, spark):
    return fq.execute(q, scope, spark=spark)


def test_select_star(spark, scope):
    assert rows(run("select * from test", scope, spark)) == [
        (1, 10.0, "x"), (2, 20.0, "x"), (3, 30.0, "y"), (4, 40.0, "y")]


def test_projection_arithmetic(spark, scope):
    assert rows(run("select a + 1 as a1, b * 2 as b2 from test where a <= 2", scope, spark)) == [
        (2, 20.0), (3, 40.0)]


def test_select_no_from(spark, scope):
    assert rows(run("select 1 as x, 'a' as s, true as t, null as n", scope, spark)) == [
        (1, "a", True, None)]


def test_group_by_column(spark, scope):
    assert rows(run("select g, sum(b) as s, count(*) as n from test group by g", scope, spark)) == [
        ("x", 30.0, 2), ("y", 70.0, 2)]


def test_group_by_expression_and_post_agg(spark, scope):
    out = rows(run("select a % 2 as par, sum(a + 1) * 2 as v from test group by a % 2", scope, spark))
    assert out == [(0, 16), (1, 12)]


def test_group_by_ordinal_and_alias(spark, scope):
    expected = [("x", 2), ("y", 2)]
    assert rows(run("select g, count(*) as n from test group by 1", scope, spark)) == expected
    assert rows(run("select g as grp, count(*) as n from test group by grp", scope, spark)) == expected


def test_global_aggregate(spark, scope):
    assert rows(run("select sum(b) as s, avg(a) as m from test", scope, spark)) == [(100.0, 2.5)]


def test_having(spark, scope):
    assert rows(run("select g, sum(b) as s from test group by g having sum(b) > 50", scope, spark)) == [
        ("y", 70.0)]


def test_equi_join(spark, scope):
    q = "select test.a, other.c from test join other on test.a = other.a"
    assert rows(run(q, scope, spark)) == [(1, "p"), (2, "q")]


def test_left_join(spark, scope):
    q = "select test.a, other.c from test left join other on test.a = other.a"
    assert rows(run(q, scope, spark)) == [(1, "p"), (2, "q"), (3, None), (4, None)]


def test_full_join(spark, scope):
    q = "select test.a as ta, other.a as oa from test full join other on test.a = other.a"
    out = rows(run(q, scope, spark))
    assert (None, 5) in out and (3, None) in out and (1, 1) in out


def test_cross_join_with_where_hoist(spark, scope):
    q = "select test.a, other.c from test, other where test.a = other.a and test.a > 1"
    assert rows(run(q, scope, spark)) == [(2, "q")]


def test_non_equi_join(spark, scope):
    q = "select test.a, other.a as oa from test join other on test.a < other.a where other.a = 5"
    assert len(rows(run(q, scope, spark))) == 4


def test_self_join_aliases(spark, scope):
    q = "select x.a as xa, y.a as ya from test as x, test as y where x.a = y.a"
    assert len(rows(run(q, scope, spark))) == 4


def test_order_by_limit_offset(spark, scope):
    q = "select a from test order by a desc limit 2 offset 1"
    assert [r[0] for r in run(q, scope, spark).collect()] == [3, 2]


def test_order_by_expression_not_in_select(spark, scope):
    q = "select g from test order by a desc limit 1"
    assert rows(run(q, scope, spark)) == [("y",)]


def test_distinct(spark, scope):
    assert rows(run("select distinct g from test", scope, spark)) == [("x",), ("y",)]


def test_case_when(spark, scope):
    q = "select case when a < 3 then 'lo' else 'hi' end as c from test"
    assert rows(run(q, scope, spark)) == [("hi",), ("hi",), ("lo",), ("lo",)]


def test_string_ops(spark, scope):
    q = ("select upper(g) as u, g || '!' as e, concat(s, 'z') as c "
         "from test, withnull where test.a = 1 and withnull.a = 1")
    assert rows(run(q, scope, spark)) == [("X", "x!", "uz")]


def test_concat_null_semantics(spark, scope):
    # || propagates NULL (pg); concat() treats NULL as ''
    q = "select s || 'x' as pipe, concat(s, 'x') as cc from withnull where a is null"
    assert rows(run(q, scope, spark)) == [(None, "x")]


def test_in_between_isnull(spark, scope):
    assert rows(run("select a from test where a in (1, 4)", scope, spark)) == [(1,), (4,)]
    assert rows(run("select a from test where a not between 2 and 3", scope, spark)) == [(1,), (4,)]
    assert rows(run("select s from withnull where a is not null", scope, spark)) == [("u",), ("w",)]


def test_like(spark, scope):
    assert rows(run("select c from other where c like '_'", scope, spark)) == [("p",), ("q",), ("r",)]
    assert rows(run("select c from other where c not like 'p%'", scope, spark)) == [("q",), ("r",)]


def test_cast(spark, scope):
    assert rows(run("select cast(a as varchar) as s, b::int as i from test where a = 1", scope, spark)) == [("1", 10)]


def test_subquery_in_from(spark, scope):
    q = "select t.v from (select a * 2 as v from test) t where t.v > 4"
    assert rows(run(q, scope, spark)) == [(6,), (8,)]


def test_cte(spark, scope):
    q = "with doubled as (select a * 2 as v from test) select sum(v) as s from doubled"
    assert rows(run(q, scope, spark)) == [(20,)]


def test_scalar_subquery(spark, scope):
    q = "select a from test where a = (select max(a) from other) - 1"
    assert rows(run(q, scope, spark)) == [(4,)]


def test_correlated_count_subquery_empty_group_is_zero(spark, scope):
    # PostgreSQL/DuckDB: count() over an empty correlated group is 0, not
    # NULL — test rows a=3,4 have no match in other.
    q = ("select a, (select count(*) from other o where o.a = test.a) as n "
         "from test order by a")
    assert rows(run(q, scope, spark)) == [(1, 1), (2, 1), (3, 0), (4, 0)]
    q = ("select a, (select count(c) from other o where o.a = test.a) as n "
         "from test order by a")
    assert rows(run(q, scope, spark)) == [(1, 1), (2, 1), (3, 0), (4, 0)]


def test_correlated_subquery_unqualified_outer_ref(spark, scope):
    # pg scoping: an unqualified ref that names no inner column resolves to
    # the outer relation ('g' exists only in test, not other)
    q = ("select g, (select count(*) from other o where o.c = g) as n "
         "from test order by g")
    assert rows(run(q, scope, spark)) == [
        ("x", 0), ("x", 0), ("y", 0), ("y", 0)]
    # and a shared name keeps resolving inner-first
    q = "select a, (select max(a) from other) as m from test order by a"
    out = rows(run(q, scope, spark))
    assert out == [(1, 5), (2, 5), (3, 5), (4, 5)]


def test_correlated_subquery_schema_qualified_inner_ref(spark):
    # `s.u.k` names the inner table through its schema: the qualifier
    # (`u`), not the schema, decides that the ref is inner
    scope = {"t": spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3]})),
             "s.u": spark.createDataFrame(pd.DataFrame({
                 "k": [1, 1, 2], "y": [10, 20, 30]}))}
    q = ("select k, (select sum(y) from s.u where s.u.k = t.k) as s "
         "from t order by k")
    assert rows(run(q, scope, spark)) == [(1, 30), (2, 30), (3, None)]


def test_correlated_sum_subquery_empty_group_stays_null(spark, scope):
    q = ("select a, (select sum(o.a) from other o where o.a = test.a) as s "
         "from test order by a")
    assert rows(run(q, scope, spark)) == [(1, 1), (2, 2), (3, None), (4, None)]


def test_correlated_count_expr_subquery_empty_group(spark, scope):
    # composite aggregate expression: empty-group value comes from the
    # WHERE-FALSE constant fold (count(*)+1 over zero rows = 1)
    q = ("select a, (select count(*) + 1 from other o where o.a = test.a) "
         "as n from test order by a")
    assert rows(run(q, scope, spark)) == [(1, 2), (2, 2), (3, 1), (4, 1)]


def test_in_subquery(spark, scope):
    q = "select a from test where a in (select a from other)"
    assert rows(run(q, scope, spark)) == [(1,), (2,)]
    q = "select a from test where a not in (select a from other)"
    assert rows(run(q, scope, spark)) == [(3,), (4,)]


def test_set_ops(spark, scope):
    assert rows(run("select a from test union select a from other", scope, spark)) == [
        (1,), (2,), (3,), (4,), (5,)]
    assert rows(run("select a from test intersect select a from other", scope, spark)) == [
        (1,), (2,)]
    assert rows(run("select a from test except select a from other", scope, spark)) == [
        (3,), (4,)]


def test_window_function(spark, scope):
    q = "select a, row_number() over (partition by g order by a) as rn from test"
    assert rows(run(q, scope, spark)) == [(1, 1), (2, 2), (3, 1), (4, 2)]


def test_window_running_sum(spark, scope):
    q = ("select a, sum(b) over (order by a rows between unbounded preceding "
         "and current row) as rs from test")
    assert rows(run(q, scope, spark)) == [
        (1, 10.0), (2, 30.0), (3, 60.0), (4, 100.0)]


def test_executor_session_ddl(spark, scope):
    ex = fq.Executor(dict(scope), spark=spark)
    ex.execute("create table doubled as select a * 2 as v from test")
    assert rows(ex.execute("select max(v) as m from doubled")) == [(8,)]
    ex.execute("drop table doubled")
    assert "doubled" not in ex.scope


def test_user_scalar_function(spark, scope):
    ex = fq.Executor(dict(scope), spark=spark)
    ex.add_function("plus_one", lambda s: s + 1, returns="long")
    assert rows(ex.execute("select plus_one(a) as p from test where a = 1")) == [(2,)]


def test_column_function(spark, scope):
    from pyspark.sql import functions as F

    ex = fq.Executor(dict(scope), spark=spark)
    ex.add_column_function("double_it", lambda c: c * 2)
    assert rows(ex.execute("select double_it(a) as d from test where a = 2")) == [(4,)]


def test_generate_series(spark, scope):
    assert rows(run("select * from generate_series(1, 4)", scope, spark)) == [
        (1,), (2,), (3,), (4,)]


def test_show(spark, scope):
    out = run("show transaction isolation level", scope, spark)
    assert out.collect()[0][0] == "read committed"


def test_version_function(spark, scope):
    assert rows(run("select version() as v", scope, spark)) == [("PostgreSQL 9.6.0",)]


def test_scope_capture_from_frame(spark):
    test_frame = spark.createDataFrame(pd.DataFrame({"q": [1, 2]}))
    out = fq.execute("select sum(q) as s from test_frame", spark=spark)
    assert rows(out) == [(3,)]


def test_pg_namespace(spark, scope):
    out = rows(run("select nspname from pg_namespace", scope, spark))
    assert ("public",) in out


def test_mixed_case_quoted_identifiers(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"MiXeD": [1, 2], "low": [3, 4]}))
    out = fq.execute('select "MiXeD" as m, low from "My Table" where "MiXeD" = 2',
                     {"My Table": df}, spark=spark)
    assert rows(out) == [(2, 4)]


def test_json_cast_variant_roundtrip(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"j": ['{"a": 1, "b": [2, 3]}']}))
    out = fq.execute("select cast(j as json)::varchar as s from t",
                     {"t": df}, spark=spark)
    import json

    assert json.loads(rows(out)[0][0]) == {"a": 1, "b": [2, 3]}


def test_json_cast_then_lateral(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"j": ['{"x": "1"}']}))
    out = fq.execute("select key, value from t, lateral json_each(t.j::json)",
                     {"t": df}, spark=spark)
    assert rows(out) == [("x", "1")]


def test_limit_all_is_noop(spark, scope):
    assert len(rows(run("select a from test limit all", scope, spark))) == 4


def test_is_distinct_from(spark, scope):
    q = "select a from withnull where a is distinct from 1"
    out = rows(run(q, scope, spark))
    assert out == [(3.0,), (None,)]


# --------------------------------------------------------------------------
# aggregate FILTER (WHERE ...)  (pg feature; beyond reference parity)

def test_agg_filter_where(spark, scope):
    q = ("select g, count(*) filter (where a > 1) as c, "
         "sum(a) filter (where a % 2 = 1) as odd_sum from test "
         "group by g order by g")
    assert rows(run(q, scope, spark)) == [("x", 1, 1), ("y", 2, 3)]


def test_agg_filter_all_false_yields_null_sum_zero_count(spark, scope):
    q = ("select count(a) filter (where a > 99) as c, "
         "sum(a) filter (where a > 99) as s from test")
    assert rows(run(q, scope, spark)) == [(0, None)]


def test_agg_filter_with_distinct(spark, scope):
    q = ("select count(distinct g) filter (where a >= 2) as gs from test")
    assert rows(run(q, scope, spark)) == [(2,)]


# --------------------------------------------------------------------------
# ordered-set aggregates: WITHIN GROUP / in-parens ORDER BY

def test_percentile_cont_within_group(spark, scope):
    q = ("select g, percentile_cont(0.5) within group (order by a) as med "
         "from test group by g order by g")
    assert rows(run(q, scope, spark)) == [("x", 1.5), ("y", 3.5)]


def test_percentile_cont_desc_is_symmetric(spark, scope):
    q = ("select percentile_cont(0.25) within group (order by a desc) as p "
         "from test")
    # P_desc(0.25) == P_asc(0.75) == 3.25 over {1,2,3,4}
    assert rows(run(q, scope, spark)) == [(3.25,)]


def test_percentile_disc_within_group(spark, scope):
    # pg: first value whose cume_dist >= f; over {1,2,3,4} f=0.5 -> 2
    q = "select percentile_disc(0.5) within group (order by a) as p from test"
    assert rows(run(q, scope, spark)) == [(2,)]


def test_percentile_disc_desc(spark, scope):
    # pg/DuckDB: over {1,2,3,4} desc, f=0.5 -> 3, f=0.25 -> 4
    q = "select percentile_disc(0.5) within group (order by a desc) as p from test"
    assert rows(run(q, scope, spark)) == [(3,)]
    q = "select percentile_disc(0.25) within group (order by a desc) as p from test"
    assert rows(run(q, scope, spark)) == [(4,)]


def test_mode_within_group(spark, scope):
    q = "select mode() within group (order by g) as m from test where a < 4"
    assert rows(run(q, scope, spark)) == [("x",)]


def test_string_agg_ordered_both_syntaxes(spark, scope):
    q1 = "select string_agg(g, ',' order by a desc) as j from test"
    q2 = "select string_agg(g, ',') within group (order by a desc) as j from test"
    assert rows(run(q1, scope, spark)) == [("y,y,x,x",)]
    assert rows(run(q2, scope, spark)) == [("y,y,x,x",)]


def test_array_agg_ordered(spark, scope):
    q = "select array_agg(a order by b desc) as xs from test"
    assert rows(run(q, scope, spark)) == [([4, 3, 2, 1],)]


def test_array_agg_ordered_with_filter_excludes_rows(spark, scope):
    # filtered rows must vanish, not become NULL elements
    q = ("select array_agg(a order by b desc) filter (where a <> 2) as xs "
         "from test")
    assert rows(run(q, scope, spark)) == [([4, 3, 1],)]


def test_string_agg_ordered_with_filter(spark, scope):
    q = ("select string_agg(g, ',' order by a) filter (where a > 1) as j "
         "from test")
    assert rows(run(q, scope, spark)) == [("x,y,y",)]


def test_percentile_cont_within_group_with_filter(spark, scope):
    # over {2,3,4} (a>1): median = 3; FILTER must hit the rows, not the frac
    q = ("select percentile_cont(0.5) within group (order by a) "
         "filter (where a > 1) as p from test")
    assert rows(run(q, scope, spark)) == [(3.0,)]


def test_mode_within_group_with_filter(spark, scope):
    q = ("select mode() within group (order by g) "
         "filter (where a >= 3) as m from test")
    assert rows(run(q, scope, spark)) == [("y",)]


# --------------------------------------------------------------------------
# IS TRUE/FALSE/UNKNOWN 3-valued semantics + BETWEEN SYMMETRIC

def test_is_true_false_unknown_never_null(spark):
    scope = {"bt": spark.createDataFrame(
        pd.DataFrame({"b": [True, False, None]}))}
    q = ("select b, b is true as t, b is not true as nt, "
         "b is false as f, b is unknown as u, b is not unknown as nu "
         "from bt")
    out = {r[0]: r[1:] for r in rows(run(q, scope, spark))}
    assert out[True] == (True, False, False, False, True)
    assert out[False] == (False, True, True, False, True)
    assert out[None] == (False, True, False, True, False)  # pg: never NULL


def test_similar_to_pg_semantics(spark):
    # PostgreSQL SIMILAR TO: % and _ are wildcards, |()*+?{}[] keep regex
    # meaning, '.' is literal, whole-string anchored. (DuckDB deviates —
    # it treats the pattern as a raw regex — so these are pg-verified.)
    scope = {"st": spark.createDataFrame(
        pd.DataFrame({"s": ["abc", "a.c", "xyz", "ab"]}))}
    q = ("select s, s similar to 'ab%' as pre, s similar to '%(b|y)%' as alt, "
         "s similar to 'a_c' as und, s similar to 'a.c' as dot, "
         "s not similar to '%b%' as neg from st order by s")
    assert rows(run(q, scope, spark)) == [
        ("a.c", False, False, True, True, True),
        ("ab", True, True, False, False, False),
        ("abc", True, True, True, False, False),
        ("xyz", False, True, False, False, True)]


def test_between_symmetric(spark, scope):
    q = ("select a from test where a between symmetric 3 and 2 order by a")
    assert rows(run(q, scope, spark)) == [(2,), (3,)]


# --------------------------------------------------------------------------
# ASOF JOIN (DuckDB-compatible time-series join syntax)

@pytest.fixture(scope="module")
def asof_scope(spark):
    return {
        "trades": spark.createDataFrame(pd.DataFrame({
            "sym": ["a", "a", "b"], "t": [10, 25, 10],
            "px": [1.0, 2.0, 9.0]})),
        "quotes": spark.createDataFrame(pd.DataFrame({
            "sym": ["a", "a", "a", "b"], "qt": [5, 10, 20, 50],
            "bid": [0.9, 1.1, 1.9, 8.5]})),
    }


def test_asof_left_join_strict(spark, asof_scope):
    q = ("select trades.sym, trades.t, quotes.bid from trades "
         "asof left join quotes on trades.sym = quotes.sym "
         "and trades.t > quotes.qt order by trades.sym, trades.t")
    # t=10 strict: quote at 10 excluded -> bid 0.9; t=25 -> 1.9; b: no quote <50
    assert rows(run(q, asof_scope, spark)) == [
        ("a", 10, 0.9), ("a", 25, 1.9), ("b", 10, None)]


def test_asof_inner_join_non_strict(spark, asof_scope):
    q = ("select trades.sym, trades.t, quotes.bid from trades "
         "asof join quotes on trades.sym = quotes.sym "
         "and trades.t >= quotes.qt order by trades.sym, trades.t")
    # non-strict: t=10 matches the qt=10 quote; b unmatched row dropped
    assert rows(run(q, asof_scope, spark)) == [
        ("a", 10, 1.1), ("a", 25, 1.9)]


# --------------------------------------------------------------------------
# pg JSON arrow operators (beyond parity)

@pytest.fixture(scope="module")
def json_scope(spark):
    return {"j": spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "doc": ['{"a": {"b": "x"}, "n": 7, "arr": [10, 20]}',
                '{"a": {"b": "y"}, "n": 8, "arr": [30]}'],
    }))}


def test_json_arrow_field_and_chain(spark, json_scope):
    q = ("select id, doc -> 'a' ->> 'b' as ab, doc ->> 'n' as n "
         "from j order by id")
    assert rows(run(q, json_scope, spark)) == [(1, "x", "7"), (2, "y", "8")]


def test_json_arrow_array_index(spark, json_scope):
    q = "select id, doc -> 'arr' ->> 0 as first from j order by id"
    assert rows(run(q, json_scope, spark)) == [(1, "10"), (2, "30")]


# --------------------------------------------------------------------------
# SQL:2003 multiset aggregates (reference parses but cannot execute these)

@pytest.fixture(scope="module")
def multiset_scope(spark):
    return {"t": spark.createDataFrame(pd.DataFrame({
        "g": ["x", "x", "y"], "m": [[1, 2, 2, 3], [2, 2, 4], [7]]}))}


def test_fusion_multiset_union_all(spark, multiset_scope):
    q = "select g, fusion(m) as f from t group by g order by g"
    assert rows(run(q, multiset_scope, spark)) == [
        ("x", [1, 2, 2, 2, 2, 3, 4]), ("y", [7])]


def test_intersection_multiset_min_counts(spark, multiset_scope):
    q = "select g, intersection(m) as i from t group by g order by g"
    assert rows(run(q, multiset_scope, spark)) == [("x", [2, 2]), ("y", [7])]


# --------------------------------------------------------------------------
# Datasketches HLL (mergeable-sketch distinct counts; beyond parity)

def test_hll_sketch_group_union_estimate(spark, scope):
    # sketches built per group merge into a global estimate — the
    # partial-aggregate pattern that scales distinct counts to 100 TB
    q = ("with sk as (select g, hll_sketch_agg(a) as s from test group by g) "
         "select hll_sketch_estimate(hll_union(a.s, b.s)) as est "
         "from sk a join sk b on a.g = 'x' and b.g = 'y'")
    assert rows(run(q, scope, spark)) == [(4,)]


def test_theta_sketch_set_algebra(spark, scope):
    # Theta sketches add set ALGEBRA over sketches: distinct counts of the
    # union, intersection, and difference of two groups without rescanning
    q = ("with sk as (select g, theta_sketch_agg(a) as s from test group by g) "
         "select theta_sketch_estimate(theta_union(a.s, b.s)) as u, "
         "       theta_sketch_estimate(theta_intersection(a.s, b.s)) as i, "
         "       theta_sketch_estimate(theta_difference(a.s, b.s)) as d "
         "from sk a join sk b on a.g = 'x' and b.g = 'y'")
    [(u, i, d)] = rows(run(q, scope, spark))
    # exact at this cardinality: g='x' has {0,2,4}? derive from the live data
    xs = {r.a for r in scope["test"].where("g = 'x'").collect()}
    ys = {r.a for r in scope["test"].where("g = 'y'").collect()}
    assert (u, i, d) == (len(xs | ys), len(xs & ys), len(xs - ys))


def test_theta_intersection_agg_rollup(spark, scope):
    # re-merge stored sketches with the intersection aggregate
    q = ("with sk as (select g, theta_sketch_agg(a) as s from test group by g) "
         "select theta_sketch_estimate(theta_intersection_agg(s)) as i from sk")
    [(i,)] = rows(run(q, scope, spark))
    sets = [
        {r.a for r in scope["test"].where(f"g = '{g}'").collect()}
        for (g,) in scope["test"].select("g").distinct().collect()]
    expect = set.intersection(*sets) if sets else set()
    assert i == len(expect)


# --------------------------------------------------------------------------
# WITH RECURSIVE (beyond reference parity)

def test_recursive_union_all_sequence(spark, scope):
    q = ("with recursive seq(n) as (select 1 union all "
         "select n + 1 from seq where n < 10) "
         "select count(*) as c, sum(n) as s from seq")
    assert rows(run(q, scope, spark)) == [(10, 55)]


def test_recursive_union_distinct_converges_on_cycle(spark, scope):
    q = ("with recursive c(n) as (select 1 union select (n % 3) + 1 from c) "
         "select count(*) as c from c")
    assert rows(run(q, scope, spark)) == [(3,)]


def test_recursive_joins_base_tables(spark, scope):
    # walk a + offsets, joining the real table at each step
    q = ("with recursive walk(a, depth) as ("
         "select a, 0 from test where a = 1 "
         "union all "
         "select t.a, w.depth + 1 from test t join walk w on t.a = w.a + 1) "
         "select max(depth) as d, count(*) as c from walk")
    assert rows(run(q, scope, spark)) == [(3, 4)]


def test_recursive_iteration_cap(spark, scope):
    import framequery_spark as fq_mod
    from framequery_spark.executor.executor import Executor
    ex = Executor(scope={}, spark=spark)
    ex.recursive_max_iterations = 5
    ex.update(test=scope["test"])
    with pytest.raises(Exception, match="exceeded"):
        ex.execute("with recursive s(n) as (select 1 union all "
                   "select n + 1 from s) select * from s").collect()


def test_recursive_local_frontier_paths_agree(spark, scope):
    """The r12 bounded hybrid (small frontiers iterate as driver-local
    LocalRelations; big ones keep the distributed localCheckpoint path)
    must be result-invariant: the same query run with the threshold at 0
    (always distributed), 1 (every >1-row frontier falls back mid-walk),
    and default (always local at this scale) returns identical rows —
    including UNION-distinct dedup and CYCLE marking."""
    from framequery_spark.executor.executor import Executor

    queries = [
        # branching UNION ALL walk with 2-row frontiers + base-table join
        ("with recursive w(a, d) as ("
         "select a, 0 from test where a <= 2 union all "
         "select t.a, w.d + 1 from test t join w on t.a = w.a + 1 "
         "where w.d < 3) select a, d from w order by a, d"),
        # UNION distinct on cyclic data (subtract-vs-seen path)
        ("with recursive c(n) as (select 1 union select (n % 3) + 1 from c) "
         "select n from c order by n"),
        # CYCLE clause (filtered next-frontier path)
        ("with recursive k(n) as (select 1 union all "
         "select (n % 4) + 1 from k) cycle n set cyc using p "
         "select n, cyc, cardinality(p) as depth from k "
         "order by depth, n"),
    ]
    for q in queries:
        results = []
        for threshold in (0, 1, 10000):
            ex = Executor(scope={}, spark=spark)
            ex.recursive_local_frontier = threshold
            ex.update(test=scope["test"])
            results.append([tuple(r) for r in ex.execute(q).collect()])
        assert results[0] == results[1] == results[2], q


def test_plan_cache_skips_compile_materialized_statements(spark, scope):
    """execute()'s statement plan cache must never retain a plan that
    materialized rows during compile: a recursive CTE (driver-local
    LocalRelation frontiers at this scale) re-executed from a cached plan
    would replay frozen rows instead of recomputing from the sources.
    A plain SELECT over the same scope IS cached (prepared-statement
    behavior)."""
    import framequery_spark as fq
    from framequery_spark.executor import executor as ex_mod

    sc = {"test": scope["test"]}
    plain = "select a from test order by a"
    rec = ("with recursive s(n) as (select 1 union all "
           "select n + 1 from s where n < 4) "
           "select s.n, t.a from s join test t on t.a = s.n order by n")
    before = dict(ex_mod._PLAN_CACHE)
    r1 = [tuple(r) for r in fq.execute(rec, sc, spark=spark).collect()]
    assert all(k[0] != rec for k in ex_mod._PLAN_CACHE), \
        "recursive statement must not be plan-cached"
    fq.execute(plain, sc, spark=spark).collect()
    assert any(k[0] == plain for k in ex_mod._PLAN_CACHE), \
        "pure SELECT should be plan-cached"
    # a second run of the recursive statement recomputes and agrees
    r2 = [tuple(r) for r in fq.execute(rec, sc, spark=spark).collect()]
    assert r1 == r2
    ex_mod._PLAN_CACHE.clear()
    ex_mod._PLAN_CACHE.update(before)


def test_plan_cache_invalidates_on_dead_scope_df(spark, scope):
    """The plan-cache key includes id(scope df) WITHOUT holding a
    reference; if the original DataFrame is garbage-collected, CPython can
    hand its id to a DIFFERENT DataFrame and the key would collide — the
    cache must detect the dead original (weakref) and recompile instead of
    returning a stale plan (r12 verdict hazard #3). Simulated directly:
    a cached entry whose scope weakref no longer resolves to the live
    object must be treated as a miss and evicted."""
    import gc

    import framequery_spark as fq
    from framequery_spark.executor import executor as ex_mod

    df1 = scope["test"].where("a >= 0")  # a fresh DF object we control
    sc = {"test": df1}
    q = "select a from test order by a"
    before = dict(ex_mod._PLAN_CACHE)
    try:
        rows1 = [tuple(r) for r in fq.execute(q, sc, spark=spark).collect()]
        key = ex_mod._plan_cache_key(q, sc, spark, ".")
        assert key in ex_mod._PLAN_CACHE, "SELECT should be plan-cached"
        # live original: a repeat is a hit (entry stays, same rows)
        rows2 = [tuple(r) for r in fq.execute(q, sc, spark=spark).collect()]
        assert rows1 == rows2
        # kill the original and force a same-key lookup with an impostor
        # DF (same id is what CPython MIGHT produce; we simulate the
        # collision by reusing the recorded key against a new scope)
        plan, reads = ex_mod._PLAN_CACHE[key]
        del df1, sc
        gc.collect()
        assert reads.tables["test"]() is None, "original should be dead"
        impostor = {"test": scope["test"].where("a < 0")}
        assert not reads.valid(impostor)
        # end-to-end: executing with the impostor scope must NOT reuse
        # the stale plan even if the key matched — the alive-check
        # rejects it; result reflects the impostor's data
        rows3 = [tuple(r)
                 for r in fq.execute(q, impostor, spark=spark).collect()]
        assert rows3 != rows1 or not rows1
    finally:
        ex_mod._PLAN_CACHE.clear()
        ex_mod._PLAN_CACHE.update(before)


def test_plan_cache_skips_names_resolved_outside_scope(spark):
    """A table that resolves through the Spark catalog, not the scope, can
    be rebound between two calls with the same scope: the second call must
    see the new rows, so such a compile is never plan-cached."""
    import framequery_spark as fq
    from framequery_spark.executor import executor as ex_mod

    q = "select a from fq_pc_rebound_view order by a"
    before = dict(ex_mod._PLAN_CACHE)
    try:
        spark.createDataFrame(pd.DataFrame({"a": [1, 2]})) \
            .createOrReplaceTempView("fq_pc_rebound_view")
        assert rows(fq.execute(q, {}, spark=spark)) == [(1,), (2,)]
        spark.createDataFrame(pd.DataFrame({"a": [7]})) \
            .createOrReplaceTempView("fq_pc_rebound_view")
        assert rows(fq.execute(q, {}, spark=spark)) == [(7,)]
        assert all(k[0] != q for k in ex_mod._PLAN_CACHE)
    finally:
        spark.catalog.dropTempView("fq_pc_rebound_view")
        ex_mod._PLAN_CACHE.clear()
        ex_mod._PLAN_CACHE.update(before)


def test_plain_cte_column_alias_list(spark, scope):
    q = ("with t2(p, q) as (select a, g from test) "
         "select p from t2 where q = 'y' order by p")
    assert rows(run(q, scope, spark)) == [(3,), (4,)]


def test_order_by_using_operator(spark, scope):
    # pg ORDER BY expr USING < / > (btree operator direction)
    q = "select a from test order by a using <"
    asc = [r.a for r in run(q, scope, spark).collect()]
    q = "select a from test order by a using >"
    desc = [r.a for r in run(q, scope, spark).collect()]
    assert asc == sorted(asc) and desc == sorted(desc, reverse=True)
    with pytest.raises(Exception, match="USING supports"):
        run("select a from test order by a using ||", scope, spark)


def test_plain_cte_set_op_body(spark, scope):
    # pg allows any query expression as a non-recursive CTE body
    q = ("with r as (select 1 as a union all select 2 as a) "
         "select * from r order by a")
    assert rows(run(q, scope, spark)) == [(1,), (2,)]
    q = ("with r as ((select 1 as a) union (select 1 as a)) "
         "select count(*) as n from r")
    assert rows(run(q, scope, spark)) == [(1,)]
    q = ("with r (x) as (select 2 intersect select 2) "
         "select max(x) as m from r")
    assert rows(run(q, scope, spark)) == [(2,)]
    q = ("with r as (select a from test except select 3 as a) "
         "select count(*) as n from r")
    assert rows(run(q, scope, spark)) == [(3,)]


# --------------------------------------------------------------------------
# quantified comparisons: op ANY/SOME/ALL (subquery)

@pytest.fixture(scope="module")
def qscope(spark):
    return {
        "t": spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "a double"),
        "s": spark.createDataFrame([(2.0,), (3.0,)], "b double"),
        "sn": spark.createDataFrame([(2.0,), (3.0,), (None,)], "b double"),
        "se": spark.createDataFrame([], "b double"),
    }


def test_quantified_all_basic(spark, qscope):
    q = "select a from t where a > all (select b from s) order by a"
    assert rows(run(q, qscope, spark)) == [(4.0,)]


def test_quantified_any_and_some(spark, qscope):
    q1 = "select a from t where a >= any (select b from s) order by a"
    q2 = "select a from t where a >= some (select b from s) order by a"
    assert rows(run(q1, qscope, spark)) == [(2.0,), (3.0,), (4.0,)]
    assert rows(run(q1, qscope, spark)) == rows(run(q2, qscope, spark))


def test_quantified_three_valued_logic(spark, qscope):
    # pg semantics: NULL in the set blocks a definite TRUE for ALL /
    # definite FALSE for ANY; empty set -> ALL TRUE, ANY FALSE
    q = ("select a, a > all (select b from sn) as r_all, "
         "a > any (select b from sn) as r_any, "
         "a > all (select b from se) as r_empty_all, "
         "a > any (select b from se) as r_empty_any from t order by a nulls last")
    assert rows(run(q, qscope, spark)) == [
        (1.0, False, None, True, False),
        (2.0, False, None, True, False),
        (3.0, False, True, True, False),
        (4.0, None, True, True, False),
        (None, None, None, True, False),
    ]


def test_quantified_in_select_list_and_or(spark, qscope):
    q = ("select a from t where a > all (select b from s) "
         "or a < any (select b from s) order by a")
    assert rows(run(q, qscope, spark)) == [(1.0,), (2.0,), (4.0,)]


def test_quantified_eq_desugars_to_in(spark, qscope):
    # pg equivalence: `= ANY (sub)` IS `IN (sub)` — desugared at parse time
    # so it works everywhere IN does (select list included)
    got = rows(run("select a, a = any (select b from s) as hit from t "
                   "order by a", qscope, spark))
    in_got = rows(run("select a, a in (select b from s) as hit from t "
                      "order by a", qscope, spark))
    assert got == in_got


# --------------------------------------------------------------------------
# named WINDOW clause, FETCH FIRST, TABLESAMPLE

def test_named_window_clause_shared_spec(spark, scope):
    q = ("select g, a, row_number() over w as rn, sum(a) over w as run "
         "from test window w as (partition by g order by a) "
         "order by g, a")
    assert rows(run(q, scope, spark)) == [
        ("x", 1, 1, 1), ("x", 2, 2, 3), ("y", 3, 1, 3), ("y", 4, 2, 7)]


def test_named_window_multiple_defs(spark, scope):
    q = ("select a, rank() over w1 as r, count(*) over w2 as n from test "
         "window w1 as (order by a desc), w2 as (partition by g) "
         "order by a")
    assert rows(run(q, scope, spark)) == [
        (1, 4, 2), (2, 3, 2), (3, 2, 2), (4, 1, 2)]


def test_undefined_window_name_errors(spark, scope):
    with pytest.raises(Exception, match="not defined"):
        run("select row_number() over w from test", scope, spark)


def test_fetch_first_and_offset_rows(spark, scope):
    q = "select a from test order by a offset 1 rows fetch next 2 rows only"
    assert rows(run(q, scope, spark)) == [(2,), (3,)]
    q1 = "select a from test order by a fetch first row only"
    assert rows(run(q1, scope, spark)) == [(1,)]


def test_tablesample_bounds_and_repeatable(spark):
    import framequery_spark as fq

    big = {"n": spark.range(2000).toDF("x")}
    a = rows(fq.execute(
        "select count(*) as n from n tablesample bernoulli(25) repeatable(7)",
        big, spark=spark))[0][0]
    b = rows(fq.execute(
        "select count(*) as n from n tablesample bernoulli(25) repeatable(7)",
        big, spark=spark))[0][0]
    assert 2000 * 0.1 < a < 2000 * 0.45   # loose Bernoulli bounds
    assert a == b                          # repeatable seed


def test_asof_forward_join(spark, asof_scope):
    # forward: earliest quote strictly AFTER the trade
    q = ("select trades.sym, trades.t, quotes.bid from trades "
         "asof left join quotes on trades.sym = quotes.sym "
         "and trades.t < quotes.qt order by trades.sym, trades.t")
    assert rows(run(q, asof_scope, spark)) == [
        ("a", 10, 1.9), ("a", 25, None), ("b", 10, 8.5)]
    # non-strict forward: the qt=10 quote matches the t=10 trade
    q = q.replace("trades.t < quotes.qt", "trades.t <= quotes.qt")
    assert rows(run(q, asof_scope, spark)) == [
        ("a", 10, 1.1), ("a", 25, None), ("b", 10, 8.5)]


def test_explain_statement_returns_plan_rows(spark, scope):
    out = run("explain select g, sum(a) as s from test group by g",
              scope, spark)
    assert out.columns == ["QUERY PLAN"]
    text = "\n".join(r[0] for r in out.collect())
    assert "HashAggregate" in text
    # EXPLAIN ANALYZE -> cost mode (plan + stats; does not execute)
    out2 = run("explain analyze select a from test where a > 1", scope, spark)
    assert out2.count() > 0


# --------------------------------------------------------------------------
# pg array surface: ARRAY[...], ROW(...), select-list unnest, op ANY(array),
# GROUP BY ALL

@pytest.fixture(scope="module")
def arr_scope(spark):
    return {"at": spark.createDataFrame(pd.DataFrame({
        "a": [1, 2], "g": ["x", "y"], "arr": [[1, 2], [3]]}))}


def test_array_constructor_and_subscript(spark, arr_scope):
    q = "select array[10, a] as xs, (array[10, a])[1] as first from at order by a"
    assert rows(run(q, arr_scope, spark)) == [
        ([10, 1], 10), ([10, 2], 10)]


def test_row_constructor(spark, arr_scope):
    out = run("select row(a, g) as r from at order by a", arr_scope, spark).collect()
    assert [tuple(r.r) for r in out] == [(1, "x"), (2, "y")]


def test_select_list_unnest(spark, arr_scope):
    q = "select unnest(arr) as v from at"
    assert sorted(r[0] for r in run(q, arr_scope, spark).collect()) == [1, 2, 3]


def test_quantified_array_comparisons(spark, arr_scope):
    q = "select a from at where g = any(array['x', 'z'])"
    assert rows(run(q, arr_scope, spark)) == [(1,)]
    q = "select a from at where a >= all(array[1, 2]) order by a"
    assert rows(run(q, arr_scope, spark)) == [(2,)]
    # 3VL: undecided ANY over a NULL element is NULL (DuckDB-verified)
    q = "select 2 = any(array[1, null, 3]) as u from at limit 1"
    assert rows(run(q, arr_scope, spark)) == [(None,)]


def test_group_by_all(spark, arr_scope):
    q = "select g, sum(a) as s from at group by all order by g"
    assert rows(run(q, arr_scope, spark)) == [("x", 1), ("y", 2)]
    q = "select upper(g) as ug, count(*) as n from at group by all order by ug"
    assert rows(run(q, arr_scope, spark)) == [("X", 1), ("Y", 1)]


def test_approx_percentile_agg(spark):
    scope = {"n100": spark.createDataFrame(
        pd.DataFrame({"a": list(range(100)), "g": ["x", "y"] * 50}))}
    q = "select g, approx_percentile(a, 0.5) as med from n100 group by g order by g"
    out = rows(run(q, scope, spark))
    assert [r[0] for r in out] == ["x", "y"]
    assert all(45 <= r[1] <= 55 for r in out)


def test_pg_datetime_and_string_functions(spark):
    scope = {"fx": spark.createDataFrame(pd.DataFrame({
        "a": [7.5], "s": ["Hello World"],
        "d": [pd.Timestamp("2024-03-15 14:30:45")]}))}
    q = ("select to_char(d, 'YYYY-MM-DD HH24:MI:SS') as iso, "
         "to_char(d, 'Mon DD, YYYY') as pretty, "
         "to_date('15/03/2024', 'DD/MM/YYYY') as parsed, "
         "date_part('hour', d) as hr, "
         "translate(s, 'lo', '01') as tr, "
         "width_bucket(a, 0, 10, 5) as wb, "
         "array_to_string(string_to_array(s, ' '), ',') as joined "
         "from fx")
    out = rows(run(q, scope, spark))[0]
    assert out[0] == "2024-03-15 14:30:45"
    assert out[1] == "Mar 15, 2024"
    assert str(out[2]) == "2024-03-15"
    assert out[3] == 14
    assert out[4] == "He001 W1r0d"  # pg translate: l->0, o->1
    assert out[5] == 4
    assert out[6] == "Hello,World"


# --------------------------------------------------------------------------
# correlated LATERAL subqueries (pg top-N-per-group staple)

@pytest.fixture(scope="module")
def lat_scope(spark):
    return {
        "c": spark.createDataFrame(pd.DataFrame({"ck": [1, 2, 3]})),
        "o": spark.createDataFrame(pd.DataFrame({
            "ok": [10, 11, 12, 13, 14], "ock": [1, 1, 1, 2, 2],
            "amt": [5.0, 9.0, 7.0, 3.0, 8.0]})),
    }


def test_lateral_subquery_topk_per_row(spark, lat_scope):
    q = ("SELECT c.ck, t.ok, t.amt FROM c, LATERAL ("
         "SELECT ok, amt FROM o WHERE o.ock = c.ck "
         "ORDER BY amt DESC LIMIT 2) t ORDER BY c.ck, t.amt DESC")
    assert rows(run(q, lat_scope, spark)) == [
        (1, 11, 9.0), (1, 12, 7.0), (2, 13, 3.0), (2, 14, 8.0)]


def test_left_join_lateral_keeps_unmatched(spark, lat_scope):
    q = ("SELECT c.ck, t.ok FROM c LEFT JOIN LATERAL ("
         "SELECT ok FROM o WHERE o.ock = c.ck ORDER BY amt DESC LIMIT 1) t "
         "ON true ORDER BY c.ck")
    assert rows(run(q, lat_scope, spark)) == [(1, 11), (2, 14), (3, None)]


def test_lateral_subquery_without_limit(spark, lat_scope):
    q = ("SELECT c.ck, t.ok FROM c, LATERAL ("
         "SELECT ok FROM o WHERE o.ock = c.ck) t ORDER BY c.ck, t.ok")
    assert rows(run(q, lat_scope, spark)) == [
        (1, 10), (1, 11), (1, 12), (2, 13), (2, 14)]


# --------------------------------------------------------------------------
# feature-interaction hardening

def test_lateral_inside_cte(spark, lat_scope):
    q = ("WITH top AS (SELECT c.ck, t.ok FROM c, LATERAL ("
         "SELECT ok FROM o WHERE o.ock = c.ck ORDER BY amt DESC LIMIT 1) t) "
         "SELECT count(*) AS n FROM top")
    assert rows(run(q, lat_scope, spark)) == [(2,)]


def test_group_by_all_with_json_arrow(spark):
    scope = {"jt": spark.createDataFrame(pd.DataFrame({
        "doc": ['{"k": "a"}', '{"k": "a"}', '{"k": "b"}']}))}
    q = ("select doc ->> 'k' as k, count(*) as n from jt "
         "group by all order by k")
    assert rows(run(q, scope, spark)) == [("a", 2), ("b", 1)]


def test_asof_join_then_aggregate_with_filter(spark, asof_scope):
    q = ("select trades.sym, count(quotes.bid) filter (where quotes.bid > 1) "
         "as big from trades asof left join quotes "
         "on trades.sym = quotes.sym and trades.t > quotes.qt "
         "group by trades.sym order by trades.sym")
    assert rows(run(q, asof_scope, spark)) == [("a", 1), ("b", 0)]


def test_two_laterals_in_one_query(spark, lat_scope):
    q = ("SELECT c.ck, hi.ok AS hi_ok, lo.ok AS lo_ok FROM c, "
         "LATERAL (SELECT ok FROM o WHERE o.ock = c.ck "
         "ORDER BY amt DESC LIMIT 1) hi, "
         "LATERAL (SELECT ok FROM o WHERE o.ock = c.ck "
         "ORDER BY amt ASC LIMIT 1) lo ORDER BY c.ck")
    assert rows(run(q, lat_scope, spark)) == [(1, 11, 10), (2, 14, 13)]


def test_exists_and_in_projection_context(spark, scope):
    # EXISTS / IN as select-list expressions (not WHERE conjuncts),
    # DuckDB-verified
    q = ("select a, exists(select 1 from other o where o.a = test.a) as e, "
         "a in (select a from other) as m, "
         "a not in (select a from other where a < 3) as nm "
         "from test order by a")
    assert rows(run(q, scope, spark)) == [
        (1, True, True, False), (2, True, True, False),
        (3, False, False, True), (4, False, False, True)]
    # uncorrelated EXISTS and correlated IN
    q = ("select a, exists(select 1 from other) as ue, "
         "a in (select o.a from other o where o.c = test.g) as cm "
         "from test order by a")
    assert rows(run(q, scope, spark)) == [
        (1, True, False), (2, True, False),
        (3, True, False), (4, True, False)]


def test_scalar_subquery_in_having_and_post_agg(spark, scope):
    # scalar subqueries in aggregate context: attached pre-agg, read back
    # as group constants via first() (DuckDB-verified)
    q = ("select g, sum(a) as s from test group by g "
         "having sum(a) > (select max(a) from other) order by g")
    assert rows(run(q, scope, spark)) == [("y", 7)]
    q = ("select g, sum(a) + (select count(*) from other) as s "
         "from test group by g order by g")
    assert rows(run(q, scope, spark)) == [("x", 6), ("y", 10)]


def test_regression_aggregates(spark):
    scope = {"rt": spark.createDataFrame(pd.DataFrame({
        "a": [1.0, 2.0, 3.0, 4.0], "b": [2.0, 4.1, 5.9, 8.0],
        "g": ["x", "x", "y", "y"]}))}
    q = ("select g, round(regr_slope(b, a), 4) as sl, "
         "round(regr_intercept(b, a), 4) as ic, regr_count(b, a) as n "
         "from rt group by g order by g")
    assert rows(run(q, scope, spark)) == [
        ("x", 2.1, -0.1, 2), ("y", 2.1, -0.4, 2)]


def test_misc_pg_scalars(spark, scope):
    q = ("select format('%s=%s', g, a) as f, quote_ident(g) as qi, "
         "quote_literal(g) as ql, factorial(a) as fac, div(7, a) as d "
         "from test where a <= 2 order by a")
    assert rows(run(q, scope, spark)) == [
        ("x=1", '"x"', "'x'", 1, 7), ("x=2", '"x"', "'x'", 2, 3)]


def test_overlay_numnulls_encode(spark):
    scope = {"ov": spark.createDataFrame(pd.DataFrame(
        {"a": [1], "s": ["abcdef"]}))}
    q = ("select overlay(s placing 'ZZ' from 2) as o1, "
         "overlay(s placing 'ZZ' from 2 for 4) as o2, "
         "num_nonnulls(a, null, s) as nn, num_nulls(a, null) as nz, "
         "encode(s, 'base64') as b64, encode(s, 'hex') as hx from ov")
    assert rows(run(q, scope, spark)) == [
        ("aZZdef", "aZZf", 2, 1, "YWJjZGVm", "616263646566")]


def test_datetime_constructors(spark, scope):
    q = ("select make_timestamp(2024, 3, 15, 14, 30, 45.5) as mt, "
         "last_day(date '2024-02-10') as ld, "
         "date_add(date '2024-01-01', 30) as da, "
         "datediff(date '2024-02-01', date '2024-01-01') as dd "
         "from test limit 1")
    out = rows(run(q, scope, spark))[0]
    assert str(out[0]) == "2024-03-15 14:30:45.500000"
    assert str(out[1]) == "2024-02-29" and str(out[2]) == "2024-01-31"
    assert out[3] == 31


def test_array_functions_and_operators(spark):
    scope = {"af": spark.createDataFrame(pd.DataFrame(
        {"arr": [[1, 2, 3]], "a": [9]}))}
    q = ("select array_cat(arr, array[9]) as c, array_position(arr, 2) as p, "
         "array_remove(arr, 2) as r, array_upper(arr, 1) as u, "
         "arr @> array[1, 2] as cont, arr @> array[1, 9] as ncont, "
         "array[2] <@ arr as sub, arr && array[3, 9] as ov, "
         "arr && array[8, 9] as nov from af")
    assert rows(run(q, scope, spark)) == [
        ([1, 2, 3, 9], 2, [1, 3], 3, True, False, True, True, False)]


def test_json_construction_functions(spark):
    import json as _json

    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"k": ["a", "b", "a"], "v": [1, 2, 3], "s": ["x", "y", "z"]}))}
    # scalar builders
    row = fq.execute(
        "SELECT json_build_object('id', v, 'name', s) AS j, "
        "       json_build_array(v, v * 2) AS arr "
        "FROM t WHERE v = 1", scope, spark=spark).collect()[0]
    assert _json.loads(row.j) == {"id": 1, "name": "x"}
    assert _json.loads(row.arr) == [1, 2]
    # aggregates (global + grouped)
    row = fq.execute(
        "SELECT json_agg(v ORDER BY v) AS vs FROM t",
        scope, spark=spark).collect()[0]
    assert _json.loads(row.vs) == [1, 2, 3]
    rows = fq.execute(
        "SELECT k, json_agg(v ORDER BY v) AS vs FROM t GROUP BY k ORDER BY k",
        scope, spark=spark).collect()
    assert [(r.k, _json.loads(r.vs)) for r in rows] == [("a", [1, 3]),
                                                        ("b", [2])]
    row = fq.execute(
        "SELECT json_object_agg(s, v) AS m FROM t",
        scope, spark=spark).collect()[0]
    assert _json.loads(row.m) == {"x": 1, "y": 2, "z": 3}
    # pg errors
    with pytest.raises(Exception, match="string literals"):
        fq.execute("SELECT json_build_object(v, v) FROM t", scope,
                   spark=spark).collect()
    with pytest.raises(Exception, match="even number"):
        fq.execute("SELECT json_build_object('a') FROM t", scope,
                   spark=spark).collect()


def test_row_constructors_and_tuple_comparisons(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 3], "b": ["x", "y", "x_z"]}))}
    rows = lambda q: [tuple(r) for r in
                      fq.execute(q, scope, spark=spark).collect()]
    assert rows("SELECT a FROM t WHERE (a, b) = (1, 'x')") == [(1,)]
    assert rows("SELECT a FROM t WHERE (a, b) IN ((1, 'x'), (3, 'x_z')) "
                "ORDER BY a") == [(1,), (3,)]
    # row comparisons are lexicographic (pg semantics)
    assert rows("SELECT a FROM t WHERE (a, b) < (2, 'a') ORDER BY a") == [(1,)]
    assert rows("SELECT a FROM t WHERE (a, b) >= (2, 'y') ORDER BY a") \
        == [(2,), (3,)]


def test_like_escape_clause(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"b": ["x", "x_z", "xaz", "50%"]}))}
    rows = lambda q: sorted(r.b for r in
                            fq.execute(q, scope, spark=spark).collect())
    # '!_' = literal underscore; plain '_' stays a wildcard
    assert rows("SELECT b FROM t WHERE b LIKE 'x!_%' ESCAPE '!'") == ["x_z"]
    assert rows("SELECT b FROM t WHERE b LIKE 'x_z'") == ["x_z", "xaz"]
    assert rows("SELECT b FROM t WHERE b LIKE '%|%' ESCAPE '|'") == ["50%"]
    assert rows("SELECT b FROM t WHERE b ILIKE 'X!_%' ESCAPE '!'") == ["x_z"]


def test_table_shorthand_values_trailing_and_locking_noops(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame({"a": [2, 1]}))}
    assert sorted(r.a for r in
                  fq.execute("TABLE t", scope, spark=spark).collect()) == [1, 2]
    got = [tuple(r) for r in fq.execute(
        "VALUES (2), (1), (3) ORDER BY 1 DESC LIMIT 2",
        scope, spark=spark).collect()]
    assert got == [(3,), (2,)]
    # pg locking clauses parse as no-ops (immutable snapshots: nothing to lock)
    assert [r.a for r in fq.execute(
        "SELECT a FROM t ORDER BY a LIMIT 1 FOR UPDATE SKIP LOCKED",
        scope, spark=spark).collect()] == [1]
    assert fq.execute("SELECT a FROM t FOR KEY SHARE OF t NOWAIT",
                      scope, spark=spark).count() == 2
    # COLLATE accepted and ignored (binary collation is Spark's default)
    assert fq.execute('SELECT a COLLATE "C" AS x FROM t ORDER BY x',
                      scope, spark=spark).count() == 2


def test_natural_join_table_shorthand_and_quantified_equals(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"g": ["a", "a", "b"], "v": [1, 2, 3]})),
        "u": spark.createDataFrame(pd.DataFrame(
            {"g": ["a", "c"], "w": [3, 30]}))}
    rows = lambda q: [tuple(r) for r in
                      fq.execute(q, scope, spark=spark).collect()]
    # NATURAL JOIN == USING(all common columns)
    assert rows("SELECT g, v, w FROM t NATURAL JOIN u ORDER BY v") == \
        [("a", 1, 3), ("a", 2, 3)]
    assert rows("SELECT g, w FROM t NATURAL LEFT JOIN u WHERE v = 3") == \
        [("b", None)]
    # TABLE shorthand composes with set ops and trailing clauses
    assert rows("TABLE u UNION ALL TABLE u ORDER BY 1, 2 LIMIT 2") == \
        [("a", 3), ("a", 3)]
    # pg equivalences: = ANY/SOME (sub) == IN; <> ALL (sub) == NOT IN
    assert rows("SELECT v FROM t WHERE v = SOME(SELECT w FROM u)") == [(3,)]
    assert rows("SELECT v FROM t WHERE v <> ALL(SELECT w FROM u) "
                "ORDER BY v") == [(1,), (2,)]


def test_bit_aggregates_and_ordered_commutative_aggs(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"v": [1, 2, 3, 4], "s": ["p", "q", "r", "s"]}))}
    row = fq.execute(
        "SELECT bit_and(v) AS a, bit_or(v) AS o, bit_xor(v) AS x, "
        "       min(v ORDER BY s) AS m, sum(v ORDER BY v DESC) AS sm "
        "FROM t", scope, spark=spark).collect()[0]
    assert (row.a, row.o, row.x, row.m, row.sm) == (0, 7, 4, 1, 10)


def test_recursive_cte_search_breadth_first(spark):
    import pandas as pd

    scope = {"edges": spark.createDataFrame(pd.DataFrame(
        {"src": [1, 1, 2, 3], "dst": [2, 3, 4, 5]}))}
    q = """
    WITH RECURSIVE tree AS (
      SELECT 1 AS node
      UNION ALL
      SELECT e.dst FROM tree t JOIN edges e ON e.src = t.node
    ) SEARCH BREADTH FIRST BY node SET ord
    SELECT node, ord FROM tree ORDER BY ord
    """
    rows = [(r.node, tuple(r.ord)) for r in
            fq.execute(q, scope, spark=spark).collect()]
    # breadth-first: depth then by-column; ord is ROW(depth, node)
    assert rows == [(1, (0, 1)), (2, (1, 2)), (3, (1, 3)),
                    (4, (2, 4)), (5, (2, 5))]
    # DEPTH FIRST on the same tree (1 -> {2 -> 4, 3 -> 5}): ord is the
    # root-to-self path array; preorder = 1, 2, 4, 3, 5
    rows = [(r.node, tuple(tuple(p) for p in r.ord)) for r in
            fq.execute(q.replace("BREADTH", "DEPTH"), scope,
                       spark=spark).collect()]
    assert [n for n, _ in rows] == [1, 2, 4, 3, 5]
    assert rows[2][1] == ((1,), (2,), (4,))  # full path to node 4
    # CYCLE on an acyclic tree: nothing marked, paths still materialize
    rows = [(r.node, r.c, len(r.p)) for r in fq.execute(
        q.replace("SEARCH BREADTH FIRST BY node SET ord",
                  "CYCLE node SET c USING p")
        .replace("SELECT node, ord FROM tree ORDER BY ord",
                 "SELECT node, c, p FROM tree ORDER BY p"),
        scope, spark=spark).collect()]
    assert rows == [(1, False, 1), (2, False, 2), (4, False, 3),
                    (3, False, 2), (5, False, 3)]


def test_code_review_round6_fixes(spark):
    """Regression tests for the round-6 review findings: interval-cast
    arithmetic, generate_series direction, frame-EXCLUDE no-op frames,
    ordered first_value, pg split edge cases, to_json(NULL), #> quoting."""
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"g": [1, 1, 2], "v": [10, 20, 30], "o": [3, 1, 2],
         "lo": [1, 5, 2], "hi": [3, 1, 2]}))}
    rows = lambda q: [tuple(r) for r in
                      fq.execute(q, scope, spark=spark).collect()]
    # ::interval casts must not be misread as ::int (date arithmetic).
    # (Spark keeps DATE for whole-day intervals where pg widens to
    # timestamp — value-equal, documented type nuance.)
    assert rows("SELECT date '2024-03-01' - '1 day'::interval AS d") == \
        [(__import__("datetime").date(2024, 2, 29),)]
    # generate_series: wrong-direction series are EMPTY like pg
    assert rows("SELECT g FROM generate_series(5, 1) g") == []
    assert rows("SELECT x FROM t, generate_series(lo, hi) s(x) "
                "WHERE g = 1 AND v = 20 ORDER BY x") == []
    assert rows("SELECT x FROM generate_series(5, 1, -2) s(x)") == \
        [(5,), (3,), (1,)]
    assert rows("SELECT count(*) FROM generate_series("
                "date '2024-01-05', date '2024-01-01', interval '1 day')"
                ) == [(0,)]
    # EXCLUDE over a frame that cannot contain the current row is a no-op
    assert rows(
        "SELECT v, sum(v) OVER (ORDER BY o ROWS BETWEEN 5 PRECEDING AND "
        "1 PRECEDING EXCLUDE CURRENT ROW) s FROM t ORDER BY o") == rows(
        "SELECT v, sum(v) OVER (ORDER BY o ROWS BETWEEN 5 PRECEDING AND "
        "1 PRECEDING) s FROM t ORDER BY o")
    # ordered first/last aggregates are order-faithful (min_by/max_by)
    assert rows("SELECT g, first_value(v ORDER BY o) f, "
                "first_value(v ORDER BY o DESC) l "
                "FROM t GROUP BY g ORDER BY g") == [(1, 20, 10), (2, 30, 30)]
    # pg split edges: empty separator = whole string; empty input = {}
    assert rows("SELECT string_to_array('abc', ''), "
                "string_to_array('', ','), to_json(NULL)") == \
        [(["abc"], [], None)]
    assert rows("SELECT * FROM string_to_table('abc', '')") == [("abc",)]
    # quoted #> path elements refuse loudly instead of mis-splitting
    with pytest.raises(Exception, match="quotes"):
        fq.execute("SELECT '{}' #> '{a,\"b,c\"}'", scope, spark=spark)


def test_json_object_agg_duplicate_keys(spark):
    """pg json_object_agg keeps duplicate keys in aggregation order;
    jsonb_object_agg is last-wins — neither may trip Spark's
    mapKeyDedupPolicy=EXCEPTION at runtime (ADVICE r06)."""
    import json as _json

    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"k": ["a", "b", "a"], "v": [1, 2, 3]}).assign(
        o=[0, 1, 2])).coalesce(1)}
    row = fq.execute("SELECT json_object_agg(k, v) AS m FROM t",
                     scope, spark=spark).collect()[0]
    # duplicates preserved: the key text appears twice in the JSON output
    assert row.m.count('"a"') == 2
    assert _json.loads(row.m)["b"] == 2
    row = fq.execute("SELECT jsonb_object_agg(k, v) AS m FROM t",
                     scope, spark=spark).collect()[0]
    assert row.m.count('"a"') == 1
    assert _json.loads(row.m) == {"a": 3, "b": 2}
    # escaping stays JVM-side and correct
    scope2 = {"t": spark.createDataFrame(pd.DataFrame(
        {"k": ['say "hi"'], "v": ["a\nb"]}))}
    row = fq.execute("SELECT jsonb_object_agg(k, v) AS m FROM t",
                     scope2, spark=spark).collect()[0]
    assert _json.loads(row.m) == {'say "hi"': "a\nb"}


def test_date_subtraction_kinds(spark):
    """date - date = int days only when BOTH sides resolve to date
    (statically or via the scope-schema probe); timestamp - date stays an
    interval; DATE - int_col is a date (ADVICE r06)."""
    import datetime

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "d": [datetime.date(2024, 1, 10)],
        "ts": [datetime.datetime(2024, 1, 2, 12, 30)],
        "n": [3],
    }))
    scope = {"t": df}
    one = lambda q: fq.execute(q, scope, spark=spark).collect()[0][0]
    # both static
    assert one("SELECT date '2024-03-01' - date '2024-01-01'") == 60
    # date column (schema probe) - date literal -> int days
    assert one("SELECT d - date '2024-01-01' FROM t") == 9
    assert one("SELECT date '2024-01-31' - d FROM t") == 21
    # timestamp column - date literal -> interval with time-of-day, not int
    v = one("SELECT ts - date '2024-01-01' FROM t")
    assert isinstance(v, datetime.timedelta)
    assert v == datetime.timedelta(days=1, hours=12, minutes=30)
    # DATE literal - int column -> date
    assert one("SELECT date '2024-01-10' - n FROM t") == \
        datetime.date(2024, 1, 7)
    # date column - int column (schema probe both sides) -> date
    assert one("SELECT d - n FROM t") == datetime.date(2024, 1, 7)


def test_date_bin_month_stride_raises(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame({"x": [1]}))}
    # fixed-length strides still bin exactly
    row = fq.execute(
        "SELECT date_bin(interval '30 minutes', "
        "timestamp '2024-01-01 10:44:00', timestamp '2024-01-01') AS b",
        scope, spark=spark).collect()[0]
    import datetime
    assert row.b == datetime.datetime(2024, 1, 1, 10, 30)
    # pg: 'stride must not contain month or year units'
    with pytest.raises(Exception, match="month or year"):
        fq.execute(
            "SELECT date_bin(interval '1 month', "
            "timestamp '2024-02-15', timestamp '2024-01-01')",
            scope, spark=spark).collect()


def test_format_null_handling(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame({"x": [1]}))}
    one = lambda q: fq.execute(q, scope, spark=spark).collect()[0][0]
    # pg renders NULL %s as empty string on both compile paths
    assert one("SELECT format('<%s>', NULL)") == "<>"
    assert one("SELECT format('%s and %L', NULL, NULL)") == " and NULL"
    assert one("SELECT format('%I.%I', 'a b', 'c\"d')") == '"a b"."c""d"'
    # pg raises on NULL %I identifiers instead of null-propagating
    with pytest.raises(Exception, match="SQL identifier"):
        fq.execute("SELECT format('%I', NULL)", scope,
                   spark=spark).collect()


def test_range_columns_dispatch_without_remarking_cast(spark):
    """Range/multirange values stored in scope tables dispatch from bare
    column refs via the scope-schema probe (struct<lo,hi,lo_inc,hi_inc,
    is_empty> / array thereof) — no ::int4range re-marking cast needed."""
    import pandas as pd

    ex = fq.Executor({"t": pd.DataFrame(
        {"id": [1, 2, 3], "lo": [1, 5, 10], "hi": [3, 8, 14]})},
        spark=spark)
    ex.execute("CREATE TABLE r AS SELECT id, int4range(lo, hi) AS rng "
               "FROM t")
    got = [tuple(x) for x in ex.execute(
        "SELECT id FROM r WHERE rng @> 6 ORDER BY id").collect()]
    assert got == [(2,)]
    got = [tuple(x) for x in ex.execute(
        "SELECT id, lower(rng) l, upper(rng) u FROM r ORDER BY id"
    ).collect()]
    assert got == [(1, 1, 3), (2, 5, 8), (3, 10, 14)]
    # aggregates + FILTER over the bare column, and accessor-over-agg
    got = [tuple(x) for x in ex.execute(
        "SELECT lower(range_agg(rng)) l, "
        "upper(range_agg(rng) FILTER (WHERE id > 1)) u FROM r").collect()]
    assert got == [(1, 14)]
    # qualified refs through join aliases hit the fallback probe
    got = [tuple(x) for x in ex.execute(
        "SELECT count(*) n FROM r a, r b "
        "WHERE a.rng && b.rng AND a.id < b.id").collect()]
    assert got == [(0,)]  # the three ranges are mutually disjoint
    ex.execute("CREATE TABLE mrs AS SELECT id, "
               "multirange(int4range(lo, hi)) AS mr FROM t")
    got = [tuple(x) for x in ex.execute(
        "SELECT id FROM mrs WHERE mr @> 6 ORDER BY id").collect()]
    assert got == [(2,)]
    got = [tuple(x) for x in ex.execute(
        "SELECT isempty(mr - mr) e FROM mrs WHERE id = 1").collect()]
    assert got == [(True,)]
    # numrange columns probe too (the decimal(38,18) lo dtype contains a
    # comma — review-fix regression). Distinct column name: the probe
    # rightly refuses a name carried by two scope tables with different
    # types (r.rng above is int4range)
    ex.execute("CREATE TABLE nr AS SELECT id, numrange(cast(lo AS "
               "decimal(10,2)), cast(hi AS decimal(10,2))) AS nrng FROM t")
    got = [tuple(x) for x in ex.execute(
        "SELECT id FROM nr WHERE nrng @> 2.0 ORDER BY id").collect()]
    assert got == [(1,)]
    # a derived column shadowing a stored range column's name must NOT
    # hijack plain arithmetic (probe-only dispatch needs both sides)
    got = [tuple(x) for x in ex.execute(
        "SELECT rng + 1 AS x FROM (SELECT 5 AS rng) d").collect()]
    assert got == [(6,)]


def test_range_agg_large_group_islands(spark):
    """Pin the canonicalize fold's {done, cur} accumulator (the r12 O(n)
    rewrite) against a Python-computed islands reference on a large
    unsorted group with duplicate bounds, adjacency merges, interior
    empties, a singleton group, and the open-island finish step."""
    import pandas as pd

    rows = []
    # group A: 400 pseudo-random ranges (deterministic LCG), heavy overlap
    x = 7
    for i in range(400):
        x = (x * 1103515245 + 12345) % 2147483648
        lo = x % 5000
        rows.append(("a", lo, lo + 40 + (i % 7) * 25))
    # group B: exact adjacency chain [0,10)+[10,20)... then a gap,
    # plus empty ranges (lo == hi) that canonicalize must drop
    for i in range(50):
        rows.append(("b", i * 10, i * 10 + 10))
    rows.append(("b", 700, 700))        # empty — dropped
    rows.append(("b", 900, 950))        # second island
    # group C: one member (finish emits the lone open island)
    rows.append(("c", 5, 6))
    df = pd.DataFrame(rows, columns=["g", "lo", "hi"])

    def islands(sub):
        ivs = sorted((l, h) for _, l, h in sub if l < h)
        out = []
        for l, h in ivs:
            if out and l <= out[-1][1]:          # overlap or touch
                out[-1][1] = max(out[-1][1], h)
            else:
                out.append([l, h])
        return len(out), sum(h - l for l, h in out)

    expect = {g: islands([r for r in rows if r[0] == g])
              for g in ("a", "b", "c")}
    got = {r[0]: (r[1], r[2]) for r in fq.execute(
        "WITH agg AS (SELECT g, range_agg(int4range(lo, hi)) AS mr "
        "FROM t GROUP BY g) "
        "SELECT g, count(*) AS n, cast(sum(u.hi - u.lo) AS bigint) AS c "
        "FROM agg, unnest(mr) AS u GROUP BY g",
        {"t": df}, spark=spark).collect()}
    assert got == expect
    assert got["b"] == (2, 550)
    # all-empty group: range_agg yields the empty multirange '{}'
    only_empty = fq.execute(
        "SELECT isempty(range_agg(int4range(lo, lo))) e FROM t",
        {"t": df}, spark=spark).collect()
    assert [tuple(r) for r in only_empty] == [(True,)]


def test_materialized_view_lifecycle(spark):
    """CREATE MATERIALIZED VIEW freezes contents at creation (unlike the
    lazy CREATE VIEW); REFRESH re-runs the stored definition; DROP
    MATERIALIZED VIEW forgets it."""
    import pandas as pd
    import pytest as _pytest

    from framequery_spark.compiler.expressions import CompileError

    ex = fq.Executor({"t": pd.DataFrame({"a": [1, 2, 3]})}, spark=spark)
    ex.execute("CREATE MATERIALIZED VIEW mv AS SELECT sum(a) AS s FROM t")
    ex.execute("CREATE VIEW lv AS SELECT sum(a) AS s FROM t")
    assert ex.execute("SELECT s FROM mv").collect()[0]["s"] == 6
    ex.execute("INSERT INTO t VALUES (10)")
    # the materialized view is frozen until REFRESH
    assert ex.execute("SELECT s FROM mv").collect()[0]["s"] == 6
    ex.execute("REFRESH MATERIALIZED VIEW mv")
    assert ex.execute("SELECT s FROM mv").collect()[0]["s"] == 16
    # refresh on a non-matview errors like pg
    with _pytest.raises(CompileError, match="not a materialized view"):
        ex.execute("REFRESH MATERIALIZED VIEW lv")
    ex.execute("DROP MATERIALIZED VIEW mv")
    assert "mv" not in ex.scope
    with _pytest.raises(CompileError, match="not a materialized view"):
        ex.execute("REFRESH MATERIALIZED VIEW mv")
    # DROP VIEW now parses too
    ex.execute("DROP VIEW lv")
    assert "lv" not in ex.scope


def test_materialized_view_duckdb_differential(spark):
    """Matview freeze/refresh semantics checked against an independent
    DuckDB derivation: DuckDB has no materialized views, but a matview
    behaves exactly like CREATE TABLE AS (frozen at creation) that is
    dropped and re-created at REFRESH — run the same lifecycle in both
    engines and compare the visible contents at each step."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame({"k": [1, 1, 2, 2, 3], "v": [10, 20, 30, 40, 50]})
    ex = fq.Executor({"t": pdf.copy()}, spark=spark)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM pdf")
    defn = "SELECT k, sum(v) AS s FROM t GROUP BY k"
    probe = "SELECT k, s FROM mv ORDER BY k"

    def both():
        mine = [(int(r["k"]), int(r["s"]))
                for r in ex.execute(probe).collect()]
        oracle = [(int(a), int(b)) for a, b in con.execute(probe).fetchall()]
        assert mine == oracle, (mine, oracle)
        return mine

    ex.execute(f"CREATE MATERIALIZED VIEW mv AS {defn}")
    con.execute(f"CREATE TABLE mv AS {defn}")
    before = both()

    ex.execute("INSERT INTO t VALUES (1, 100)")
    con.execute("INSERT INTO t VALUES (1, 100)")
    assert both() == before  # frozen in both engines

    ex.execute("REFRESH MATERIALIZED VIEW mv")
    con.execute("DROP TABLE mv")
    con.execute(f"CREATE TABLE mv AS {defn}")
    after = both()
    assert after != before and (1, 130) in after


def test_hypothetical_set_aggregates(spark):
    scope = {"h": spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (0, 4.0), (1, 1.0), (1, None)],
        "g long, c double")}
    q = ("select g, rank(2.5) within group (order by c) as r "
         "from h group by g order by g")
    assert [tuple(r) for r in run(q, scope, spark).collect()] == \
        [(0, 3), (1, 2)]
    # hypothetical NULL ties with the existing NULL (ASC -> NULLS LAST)
    q = ("select rank(cast(null as double)) within group (order by c) as r,"
         " cume_dist(cast(null as double)) within group (order by c) as cd"
         " from h where g = 1")
    assert [tuple(r) for r in run(q, scope, spark).collect()] == [(2, 1.0)]
    # DESC default is NULLS FIRST: the hypothetical NULL ranks first
    q = ("select rank(cast(null as double)) within group (order by c desc)"
         " as r from h where g = 1")
    assert [tuple(r) for r in run(q, scope, spark).collect()] == [(1,)]
    # FILTER excludes rows from the hypothetical population entirely
    q = ("select rank(1.0) within group (order by c) "
         "filter (where c > 1) as r from h where g = 0")
    assert [tuple(r) for r in run(q, scope, spark).collect()] == [(1,)]
    with pytest.raises(Exception, match="one value and one sort key"):
        run("select rank(1, 2) within group (order by c, g) from h",
            scope, spark)


def test_utility_statements_and_session_options(spark):
    import framequery_spark as fq

    ex = fq.Executor({"u": spark.createDataFrame([(1,)], "a long")},
                     spark=spark)
    # pg clients issue these constantly — accepted no-ops
    for stmt in ("BEGIN", "START TRANSACTION", "COMMIT", "ROLLBACK",
                 "SAVEPOINT s1", "RELEASE SAVEPOINT s1",
                 "VACUUM FULL u", "ANALYZE u", "DISCARD ALL"):
        assert ex.execute(stmt) is None
    ex.execute("SET search_path TO public, app")
    assert ex.execute("SHOW search_path").collect()[0][0] == "public, app"
    ex.execute("SET TIME ZONE 'UTC'")
    assert ex.execute("SHOW timezone").collect()[0][0] == "UTC"
    ex.execute("RESET search_path")
    with pytest.raises(Exception, match="unknown SHOW option"):
        ex.execute("SHOW search_path")


def test_create_variants_and_alter_rename(spark):
    import framequery_spark as fq

    ex = fq.Executor({"u": spark.createDataFrame([(1,), (2,)], "a long")},
                     spark=spark)
    ex.execute("CREATE TEMP TABLE c1 AS SELECT * FROM u")
    # IF NOT EXISTS: existing table wins, the new query is not evaluated
    ex.execute("CREATE TABLE IF NOT EXISTS c1 AS SELECT a FROM u WHERE a > 99")
    assert ex.execute("SELECT count(*) AS n FROM c1").collect()[0].n == 2
    ex.execute("ALTER TABLE c1 RENAME TO c2")
    assert ex.execute("SELECT count(*) AS n FROM c2").collect()[0].n == 2
    with pytest.raises(Exception, match="not found"):
        ex.execute("SELECT 1 FROM c1")
    ex.execute("ALTER TABLE IF EXISTS missing RENAME TO whatever")
    with pytest.raises(Exception, match="already exists"):
        ex.execute("ALTER TABLE u RENAME TO c2")
    with pytest.raises(Exception, match="RENAME TO is supported"):
        ex.execute("ALTER TABLE c2 DROP COLUMN a")


def test_prepare_execute_deallocate(spark):
    import framequery_spark as fq

    ex = fq.Executor({"p": spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "a long, b string")}, spark=spark)
    ex.execute("PREPARE q1 AS SELECT count(*) AS n FROM p "
               "WHERE b = $1 AND a >= $2")
    assert ex.execute("EXECUTE q1('x', 1)").collect()[0].n == 2
    assert ex.execute("EXECUTE q1('x', 3)").collect()[0].n == 1
    # optional type list accepted; $n inside string literals untouched
    ex.execute("PREPARE q2 (int) AS SELECT 'costs $1' AS s, $1 + 1 AS v")
    row = ex.execute("EXECUTE q2(41)").collect()[0]
    assert (row.s, row.v) == ("costs $1", 42)
    # DML bodies work and mutate the scope
    ex.execute("PREPARE dml AS UPDATE p SET b = $1 WHERE a = $2")
    ex.execute("EXECUTE dml('z', 2)")
    assert ex.execute("SELECT b FROM p WHERE a = 2").collect()[0].b == "z"
    ex.execute("DEALLOCATE q1")
    with pytest.raises(Exception, match="does not exist"):
        ex.execute("EXECUTE q1('x', 1)")
    with pytest.raises(Exception, match="no value for parameter"):
        ex.execute("EXECUTE q2()")
    ex.execute("DEALLOCATE ALL")
    with pytest.raises(Exception, match="does not exist"):
        ex.execute("DEALLOCATE q2")


def test_advisor_round9_fixes(spark):
    """Round-10 fixes for the round-9 advisor findings."""
    import framequery_spark as fq

    # 1. EXECUTE with a negative argument after '-' must not fuse into a
    # '--' line comment (previously returned 5 with the tail commented out)
    ex = fq.Executor({}, spark=spark)
    ex.execute("PREPARE pneg AS SELECT 5-$1 AS v, $1 * 2 AS w")
    row = ex.execute("EXECUTE pneg(-2)").collect()[0]
    assert (row.v, row.w) == (7, -4)

    # 2. jsonb || bare string literal dispatches to jsonb merge (pg
    # unknown-literal inference), not string concat
    r = fq.execute("""SELECT '{"a":1}'::jsonb || '{"b":2}' AS m""",
                   spark=spark).collect()[0]
    assert '"a":1' in r.m.replace(" ", "") and '"b":2' in r.m.replace(" ", "")
    r = fq.execute("""SELECT '{"a":1}' || '{"a":9}'::jsonb AS m""",
                   spark=spark).collect()[0]
    assert r.m.replace(" ", "") == '{"a":9}'

    # 3. jsonb - text[] recognizes array-typed casts, not just ARRAY[...]
    r = fq.execute(
        """SELECT '{"a":1,"b":2,"c":3}'::jsonb - '{a,b}'::text[] AS x""",
        spark=spark).collect()[0]
    assert r.x.replace(" ", "") == '{"c":3}'
    # pg brace array literal cast itself
    r = fq.execute("SELECT '{a,\"b,c\",NULL}'::text[] AS arr",
                   spark=spark).collect()[0]
    assert r.arr == ["a", "b,c", None]
    r = fq.execute("SELECT '{1,2,3}'::int[] AS arr", spark=spark).collect()[0]
    assert r.arr == [1, 2, 3]

    # 4. chr() raises on pg-invalid code points instead of emitting garbage
    assert fq.execute("SELECT chr(9731) AS c",
                      spark=spark).collect()[0].c == "☃"
    for bad in ("chr(0)", "chr(-1)", "chr(55296)", "chr(57343)",
                "chr(1114112)"):
        with pytest.raises(Exception, match="invalid Unicode code point"):
            fq.execute(f"SELECT {bad} AS c", spark=spark).collect()
    # boundary values still fine
    assert fq.execute("SELECT chr(1114111) AS c",
                      spark=spark).collect()[0].c == "\U0010FFFF"

    # 5. ORDER BY ... USING rejects <= and >= like pg
    for op in ("<=", ">="):
        with pytest.raises(Exception, match="not valid ordering"):
            fq.execute(f"SELECT 1 AS x ORDER BY x USING {op}", spark=spark)
    got = fq.execute(
        "SELECT x FROM (SELECT 1 AS x UNION ALL SELECT 2) t "
        "ORDER BY x USING >", spark=spark).collect()
    assert [r.x for r in got] == [2, 1]


def test_grouping_sets_grand_total_over_empty_input(spark):
    """Fuzzer-found divergence (seed 424242, fuzz144/fuzz232): pg and
    DuckDB emit the () grand-total row even when the filtered input is
    EMPTY (the empty grouping set is a global aggregate — one row, count
    0, sum NULL); raw Spark's rollup/cube/groupingSets emit zero rows
    there. The engine unions an emptiness-gated global-aggregate twin."""
    import duckdb

    import framequery_spark as fq

    t1 = spark.createDataFrame([(1, 5), (2, 6)], "b long, e long")
    con = duckdb.connect()
    con.execute("CREATE TABLE t1(b BIGINT, e BIGINT); "
                "INSERT INTO t1 VALUES (1,5),(2,6)")
    for sql in [
        "SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(e) AS BIGINT) "
        "AS se FROM t1 WHERE b > 100 GROUP BY GROUPING SETS ((b), ())",
        "SELECT b, grouping(b) AS g, CAST(count(*) AS BIGINT) AS n "
        "FROM t1 WHERE b > 100 GROUP BY ROLLUP (b)",
        "SELECT b, CAST(count(*) AS BIGINT) AS n FROM t1 WHERE b > 100 "
        "GROUP BY CUBE (b)",
        # HAVING still filters the grand-total row like pg
        "SELECT b, CAST(count(*) AS BIGINT) AS n FROM t1 WHERE b > 100 "
        "GROUP BY ROLLUP (b) HAVING count(*) > 0",
        # non-empty inputs keep their usual rows (twin filtered out)
        "SELECT b, grouping(b) AS g, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(e) AS BIGINT) AS se FROM t1 GROUP BY ROLLUP (b)",
        "SELECT b, CAST(count(*) AS BIGINT) AS n FROM t1 "
        "GROUP BY GROUPING SETS ((b), ())",
    ]:
        ours = sorted(
            [tuple(r) for r in
             fq.execute(sql, {"t1": t1}, spark=spark).collect()],
            key=lambda t: tuple((v is None, str(v)) for v in t))
        theirs = sorted(
            [tuple(r) for r in con.execute(sql).fetchall()],
            key=lambda t: tuple((v is None, str(v)) for v in t))
        assert ours == theirs, f"{sql}\n ours: {ours}\n duck: {theirs}"


def test_grouping_sets_duplicate_empty_sets_over_empty_input(spark):
    """pg emits one grand-total row PER () occurrence: GROUPING SETS
    ((), ()) over empty input yields TWO rows (over non-empty input raw
    Spark already emits both — verified r11; the twin must match)."""
    import duckdb

    import framequery_spark as fq

    t1 = spark.createDataFrame([(1, 5), (2, 6)], "b long, e long")
    con = duckdb.connect()
    con.execute("CREATE TABLE t1(b BIGINT, e BIGINT); "
                "INSERT INTO t1 VALUES (1,5),(2,6)")
    for sql in [
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(e) AS BIGINT) "
        "AS se FROM t1 WHERE b > 100 GROUP BY GROUPING SETS ((), ())",
        "SELECT b, CAST(count(*) AS BIGINT) AS n FROM t1 WHERE b > 100 "
        "GROUP BY GROUPING SETS ((b), (), ())",
        "SELECT CAST(count(*) AS BIGINT) AS n FROM t1 "
        "GROUP BY GROUPING SETS ((), ())",
    ]:
        ours = sorted(
            [tuple(r) for r in
             fq.execute(sql, {"t1": t1}, spark=spark).collect()],
            key=lambda t: tuple((v is None, str(v)) for v in t))
        theirs = sorted(
            [tuple(r) for r in con.execute(sql).fetchall()],
            key=lambda t: tuple((v is None, str(v)) for v in t))
        assert ours == theirs, f"{sql}\n ours: {ours}\n duck: {theirs}"


def test_malformed_array_literal_empty_elements(spark):
    """pg rejects empty unquoted array elements ('{a,}', '{,a}',
    '{1,,2}') as malformed instead of producing ''/NULL values."""
    import pytest as _pytest

    import framequery_spark as fq
    from framequery_spark.compiler.expressions import CompileError

    for lit in ["{a,}", "{,a}", "{1,,2}", "{ , }"]:
        with _pytest.raises(CompileError, match="malformed array literal"):
            fq.execute(f"SELECT '{lit}'::text[] AS x",
                       spark=spark).collect()
    # quoted empty string and whitespace padding stay legal
    got = fq.execute("SELECT '{ \"\" , a }'::text[] AS x",
                     spark=spark).collect()[0][0]
    assert got == ["", "a"]


def test_execute_out_of_int64_parameter(spark):
    """An EXECUTE integer parameter beyond int64 is pg numeric, not a
    BIGINT overflow."""
    import framequery_spark as fq

    ex = fq.Executor({}, spark=spark)
    ex.execute("PREPARE big AS SELECT $1 + 1 AS v")
    got = ex.execute("EXECUTE big (9223372036854775808)").collect()[0][0]
    assert int(got) == 9223372036854775809
    # int64 boundary values still splice as BIGINT
    got = ex.execute("EXECUTE big (9223372036854775806)").collect()[0][0]
    assert int(got) == 9223372036854775807
    got = ex.execute("EXECUTE big (-9223372036854775808)").collect()[0][0]
    assert int(got) == -9223372036854775807


def test_array_cast_edges(spark):
    import decimal

    import framequery_spark as fq

    def one(sql):
        return fq.execute(sql, spark=spark).collect()[0][0]

    assert one("SELECT ('{10,20,30}'::int[])[2] AS x") == 20  # pg 1-based
    assert one("SELECT NULL::text[] AS n") is None
    assert one("SELECT '{}'::int[] AS e") == []
    assert one("SELECT CAST('{1.5,2.5}' AS numeric(10,2)[]) AS d") == \
        [decimal.Decimal("1.50"), decimal.Decimal("2.50")]
    assert one("SELECT '{1,2}'::int[][] AS m") == [1, 2]  # pg ignores dims


def test_lateral_aggregate_empty_group_matches_pg(spark):
    """Fuzzer-surfaced ORACLE deviation (not an engine bug): a LATERAL
    subquery whose body is a global aggregate emits exactly ONE row per
    outer row in pg — including when the correlated group is EMPTY (the
    aggregate over zero rows is a row of NULL/0). DuckDB 1.0 drops those
    outer rows (its own correlated-scalar form keeps them, so the value
    semantics are undisputed); the engine follows pg, pinned here with a
    literal oracle."""
    import framequery_spark as fq

    t1 = spark.createDataFrame([(1, 0), (2, 1)], "id long, b long")
    t2 = spark.createDataFrame([(0, 33)], "b long, v long")
    got = sorted(tuple(r) for r in fq.execute(
        "SELECT t1.id, l.mv FROM t1, LATERAL "
        "(SELECT min(v) AS mv FROM t2 WHERE t2.b = t1.b AND v = 33) l",
        {"t1": t1, "t2": t2}, spark=spark).collect())
    assert got == [(1, 33), (2, None)]
    # count(*) over the empty group is 0, not a dropped row
    got = sorted(tuple(r) for r in fq.execute(
        "SELECT t1.id, l.n FROM t1, LATERAL "
        "(SELECT count(*) AS n FROM t2 WHERE t2.b = t1.b AND v = 99) l",
        {"t1": t1, "t2": t2}, spark=spark).collect())
    assert got == [(1, 0), (2, 0)]


def test_review_round10_fixes(spark):
    """Regressions for the round-10 code-review findings."""
    import framequery_spark as fq

    def one(sql):
        return fq.execute(sql, spark=spark).collect()[0][0]

    # 1. multidim array literals parse to nested arrays (originally this
    # silently yielded NULLs, then raised; now full pg support — with
    # pg's ragged-dimension error)
    assert one("SELECT '{{1,2},{3,4}}'::int[][] AS m") == [[1, 2], [3, 4]]
    assert one("SELECT ('{{1,2},{3,4}}'::int[])[2] AS m") == [3, 4]
    assert one("SELECT '{{{a},{b}},{{c},{d}}}'::text[] AS m") == \
        [[["a"], ["b"]], [["c"], ["d"]]]
    for ragged in ("'{{1},{2,3}}'", "'{{1,2},3}'", "'{1,{2}}'"):
        with pytest.raises(Exception, match="mismatching dimensions"):
            fq.execute(f"SELECT {ragged}::int[] AS m", spark=spark)
    # 2. unescaped whitespace around (quoted) elements is padding
    assert one("SELECT '{a, \"b,c\", NULL}'::text[] AS a") == \
        ["a", "b,c", None]
    assert one("SELECT '{ \"a\" , \"b\" }'::text[] AS a") == ["a", "b"]
    # 7. backslash escapes work outside quotes too (pg: {a\,b} is 'a,b')
    assert one(r"SELECT '{a\,b}'::text[] AS a") == ["a,b"]
    # escaped NULL is the STRING 'NULL', not SQL NULL
    assert one(r"SELECT '{\N\U\L\L}'::text[] AS a") == ["NULL"]
    # 9. pg bounded array types: the bound is ignored, not a subscript
    assert one("SELECT '{1,2}'::int[3] AS a") == [1, 2]

    # 3. EXECUTE numeric params are CONSTANTS in ORDER BY/GROUP BY like
    # pg's $n — never ordinals — and still fold for LIMIT/OFFSET
    ex = fq.Executor({"t": spark.createDataFrame(
        [(1, 30), (2, 20), (3, 10)], "a long, b long")}, spark=spark)
    ex.execute("PREPARE po AS SELECT a, b FROM t ORDER BY $1, a")
    rows = ex.execute("EXECUTE po(2)").collect()
    assert [r.a for r in rows] == [1, 2, 3]  # constant: NOT sorted by b
    ex.execute("PREPARE pl AS SELECT a FROM t ORDER BY a LIMIT $1")
    assert len(ex.execute("EXECUTE pl(2)").collect()) == 2
    ex.execute("PREPARE pg2 AS SELECT count(*) AS n FROM t GROUP BY $1")
    assert [r.n for r in ex.execute("EXECUTE pg2(7)").collect()] == [3]

    # 8. twin hidden-agg names stay aligned when distinct aggregates
    # collapse under the NULL rewrite (window-over-agg on empty input)
    rows = fq.execute(
        "SELECT CAST(sum(count(a)) OVER () AS BIGINT) AS ca, "
        "CAST(sum(count(b)) OVER () AS BIGINT) AS cb "
        "FROM t WHERE a > 100 GROUP BY ROLLUP (a, b)",
        {"t": spark.createDataFrame([(1, 2)], "a long, b long")},
        spark=spark).collect()
    assert [tuple(r) for r in rows] == [(0, 0)]

    # 4. scalar-subquery select items skip the twin (documented): the
    # query still runs and non-empty inputs keep pg behavior
    rows = fq.execute(
        "SELECT a, CAST(count(*) AS BIGINT) AS n, (SELECT 42) AS c "
        "FROM t GROUP BY ROLLUP (a)",
        {"t": spark.createDataFrame([(1,)], "a long")},
        spark=spark).collect()
    assert sorted([tuple(r) for r in rows],
                  key=lambda t: (t[0] is None, t)) == \
        [(1, 1, 42), (None, 1, 42)]
