"""Plan-quality tests: the properties we rely on at 100 TB scale must be
visible in the physical plans Catalyst produces for compiled queries
(SURVEY §4: zero custom rules needed — but verify we don't *break* them)."""

import pytest

import framequery_spark as fq
from framequery_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_partial_aggregation,
    has_pushed_filters,
    scan_read_schema,
    uses_broadcast_join,
)


@pytest.fixture(scope="module")
def scope(tpch_scope):
    return tpch_scope


def test_filter_pushdown_reaches_parquet(spark, scope):
    df = fq.execute(
        "select l_orderkey from lineitem where l_quantity < 5",
        scope, spark=spark)
    assert has_pushed_filters(df, "l_quantity"), formatted_plan(df)


def test_column_pruning(spark, scope):
    df = fq.execute(
        "select l_orderkey, l_quantity from lineitem where l_quantity < 5",
        scope, spark=spark)
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_small_dim_join_broadcasts(spark, scope):
    df = fq.execute(
        "select n_name, count(*) as n from customer "
        "join nation on c_nationkey = n_nationkey group by n_name",
        scope, spark=spark)
    assert uses_broadcast_join(df), formatted_plan(df)


def test_aggregation_is_partial_then_final(spark, scope):
    df = fq.execute(
        "select l_returnflag, sum(l_quantity) as s from lineitem "
        "group by l_returnflag", scope, spark=spark)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_expressions_stay_in_codegen(spark, scope):
    # AQE wraps the plan in AdaptiveSparkPlan and hides codegen markers until
    # execution — disable it for this assertion only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = fq.execute(
            "select l_returnflag, sum(l_extendedprice * (1 - l_discount)) as rev "
            "from lineitem where l_shipdate > date '1996-01-01' "
            "group by l_returnflag", scope, spark=spark)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert codegen_stage_count(df) >= 1, plan
    # the whole pipeline (scan->filter->partial agg) is codegen'd JVM work —
    # no Python evaluation nodes anywhere
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_sort_limit_becomes_top_k(spark, scope):
    df = fq.execute(
        "select o_orderkey, o_totalprice from orders "
        "order by o_totalprice desc limit 10", scope, spark=spark)
    assert "TakeOrderedAndProject" in formatted_plan(df), formatted_plan(df)


def test_semi_join_for_in_subquery(spark, scope):
    df = fq.execute(
        "select count(*) as n from customer where c_nationkey in "
        "(select n_nationkey from nation where n_regionkey = 0)",
        scope, spark=spark)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan or "leftsemi" in plan.lower(), plan


def test_scalar_subquery_is_broadcast(spark, scope):
    df = fq.execute(
        "select count(*) as n from orders "
        "where o_totalprice > (select avg(o_totalprice) from orders)",
        scope, spark=spark)
    assert uses_broadcast_join(df), formatted_plan(df)


def test_bucketed_join_has_no_exchange(spark, scope):
    """Bucketing contract: two tables bucketed on the same key and count
    join as SortMergeJoin with ZERO Exchange — the write-time shuffle is
    reused. Each table is written twice under one name, the first time
    over an orphaned warehouse location, so re-creation is covered too."""
    import os
    from urllib.parse import urlparse

    from framequery_spark.sources.bucketing import write_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    orphan = os.path.join(urlparse(warehouse).path or warehouse, "b_orders")
    os.makedirs(orphan, exist_ok=True)
    open(os.path.join(orphan, "stale.parquet"), "w").close()
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(2):
            o = write_bucketed(scope["orders"], "b_orders", ["o_custkey"], 8,
                               sort_cols=["o_custkey"])
            c = write_bucketed(scope["customer"], "b_customer",
                               ["c_custkey"], 8, sort_cols=["c_custkey"])
        joined = o.join(c, o.o_custkey == c.c_custkey)
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == scope["orders"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_gcd_lcm_stay_jvm_side(spark, scope):
    # the registry contract: no Python UDFs — the Euclid fold must compile
    # to JVM higher-order expressions, never an Arrow/Python eval node
    df = fq.execute(
        "select gcd(o_orderkey, o_custkey) as g, "
        "lcm(o_orderkey % 24, o_custkey % 36) as l from orders",
        scope, spark=spark)
    plan = formatted_plan(df)
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_range_interval_window_single_shuffle(spark, scope):
    # the unix_micros rewrite must stay a single window Exchange, same as a
    # plain ROWS frame — no extra shuffle for the timestamp conversion
    import re

    df = fq.execute(
        "select user_id, sum(value) over (partition by user_id order by ts "
        "range between interval '1 hour' preceding and current row) as s "
        "from events", scope, spark=spark)
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_join_on_in_subquery_broadcasts(spark, scope):
    # the pending IN-array frame must attach as a broadcast, not a shuffle
    df = fq.execute(
        "select count(*) as n from customer join orders "
        "on c_custkey = o_custkey and o_orderpriority in "
        "(select distinct o_orderpriority from orders "
        " where o_totalprice > 200000)", scope, spark=spark)
    assert uses_broadcast_join(df), formatted_plan(df)
