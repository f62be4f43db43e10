"""Error-quality tests: bad input should fail fast with a targeted message
(parse errors at parse time, resolution errors at compile time), not a deep
Spark stack trace for what is really a user typo."""

import pytest

import framequery_spark as fq
from framequery_spark.compiler.expressions import CompileError
from framequery_spark.parser.parser import ParseError


@pytest.fixture(scope="module")
def scope(spark):
    import pandas as pd

    return {"t": spark.createDataFrame(pd.DataFrame({"a": [1, 2]}))}


def test_unknown_function(spark, scope):
    with pytest.raises(CompileError, match="unknown function: nosuchfunc"):
        fq.execute("select nosuchfunc(a) from t", scope, spark=spark)


def test_missing_table_lists_scope(spark, scope):
    with pytest.raises(CompileError,
                       match=r"table not found in scope: 'missing'.*available: t"):
        fq.execute("select * from missing", scope, spark=spark)


def test_typo_keyword_is_parse_error(spark, scope):
    with pytest.raises(ParseError, match="trailing input"):
        fq.execute("select a from t wher a > 1", scope, spark=spark)


def test_reserved_word_in_expression(spark, scope):
    with pytest.raises(ParseError, match="unexpected keyword 'from'"):
        fq.execute("select a + from t", scope, spark=spark)


def test_reserved_word_call_still_allowed(spark, scope):
    # any(...) is an aggregate spelled with a reserved-ish word
    rows = fq.execute("select any(a > 1) from t", scope, spark=spark).collect()
    assert rows[0][0] is True


def test_limit_requires_integer(spark, scope):
    with pytest.raises(CompileError, match="LIMIT"):
        fq.execute("select a from t limit 'x'", scope, spark=spark)


def test_filter_on_pure_window_function_rejected(spark):
    import framequery_spark as fq
    import pandas as pd
    scope = {"t": spark.createDataFrame(pd.DataFrame({"a": [1, 2]}))}
    with pytest.raises(Exception, match="FILTER not allowed"):
        fq.execute("select row_number() filter (where a > 1) "
                   "over (order by a) from t", scope, spark=spark)


def test_lateral_offset_without_limit_rejected(spark, scope):
    # OFFSET without LIMIT used to be silently dropped (all rows returned)
    with pytest.raises(CompileError, match="LATERAL OFFSET"):
        fq.execute("select * from t t1, lateral (select a as x from t t2 "
                   "where t2.a = t1.a order by x offset 5) s",
                   scope, spark=spark)


def test_to_char_julian_day_rejected(spark, scope):
    # pg 'J' is the absolute Julian Day; refusing beats returning day-of-year
    with pytest.raises(CompileError, match="Julian"):
        fq.execute("select to_char(date '2024-05-17', 'J') from t",
                   scope, spark=spark).collect()


def test_interval_bound_requires_range_frame(spark, scope):
    with pytest.raises(CompileError, match="RANGE"):
        fq.execute("select sum(a) over (order by a rows between "
                   "interval '1 hour' preceding and current row) from t",
                   scope, spark=spark)


def test_month_interval_frame_bound_rejected(spark, scope):
    # months are variable-length: no fixed RANGE offset exists
    with pytest.raises(ParseError, match="variable-length"):
        fq.execute("select sum(a) over (order by a range between "
                   "interval '1 month' preceding and current row) from t",
                   scope, spark=spark)


def test_correlated_subquery_in_join_on_rejected(spark, scope):
    with pytest.raises(CompileError, match="JOIN ON"):
        fq.execute("select * from t a join t b on a.a = b.a and "
                   "exists (select 1 from t c where c.a = a.a)",
                   scope, spark=spark)


def test_search_depth_first_rejects_union_distinct(spark, scope):
    with pytest.raises(CompileError, match="UNION ALL"):
        fq.execute(
            "with recursive r(n) as (select 1 union "
            "select n + 1 from r where n < 3) "
            "search depth first by n set ord select * from r",
            scope, spark=spark)


def test_cycle_rejects_star_in_recursive_arm(spark, scope):
    with pytest.raises(CompileError, match="explicitly"):
        fq.execute(
            "with recursive r(n) as (select 1 union all "
            "select * from r where n < 3) "
            "cycle n set ic using p select * from r",
            scope, spark=spark)


def test_search_by_column_must_exist(spark, scope):
    with pytest.raises(CompileError, match="not a column"):
        fq.execute(
            "with recursive r(n) as (select 1 union all "
            "select n + 1 from r where n < 3) "
            "search depth first by nope set ord select * from r",
            scope, spark=spark)


def test_cycle_on_plain_cte_rejected(spark, scope):
    from framequery_spark.parser.parser import ParseError as PE
    with pytest.raises(PE, match="recursive"):
        fq.execute(
            "with r as (select 1 as n) cycle n set ic using p "
            "select * from r", scope, spark=spark)


def test_range_difference_split_raises_pg_error(spark, scope):
    # pg: the subtraction succeeds unless the result would be two pieces
    import pyspark.errors

    with pytest.raises(pyspark.errors.PySparkException,
                       match="not be contiguous"):
        fq.execute("select lower(int4range(1, 9) - int4range(3, 5))",
                   scope, spark=spark).collect()


def test_multirange_constructor_requires_ranges(spark, scope):
    with pytest.raises(CompileError, match="must be ranges"):
        fq.execute("select int4multirange(1, 2)", scope, spark=spark)


def test_range_agg_requires_marked_range(spark, scope):
    with pytest.raises(CompileError, match="re-mark"):
        fq.execute("select range_agg(a) from t", scope, spark=spark)


def test_ts_match_requires_literal_query(spark, scope):
    with pytest.raises(CompileError, match="literal tsquery"):
        fq.execute("select to_tsvector('x') @@ a", scope, spark=spark)


def test_tsquery_syntax_error_is_guided(spark, scope):
    with pytest.raises(CompileError, match="tsquery"):
        fq.execute("select to_tsvector('x') @@ to_tsquery('a & & b')",
                   scope, spark=spark)


def test_tsvector_config_validated(spark, scope):
    with pytest.raises(CompileError, match="configuration"):
        fq.execute("select to_tsvector('german', 'hallo welt')",
                   scope, spark=spark)


def test_ts_headline_unknown_option_is_guided(spark, scope):
    # ShortWord is supported since r12; a genuinely unknown key guides
    with pytest.raises(CompileError, match="not supported"):
        fq.execute("select ts_headline('x y', to_tsquery('x'), "
                   "'NoSuchOption=3')", scope, spark=spark)
    with pytest.raises(CompileError, match="ShortWord should be >= 0"):
        fq.execute("select ts_headline('x y', to_tsquery('x'), "
                   "'ShortWord=-1')", scope, spark=spark)


def test_ts_headline_requires_literal_query(spark, scope):
    with pytest.raises(CompileError, match="literal tsquery"):
        fq.execute("select ts_headline('x y', a)", scope, spark=spark)


def test_ts_filter_weight_validated(spark, scope):
    with pytest.raises(CompileError, match="weight"):
        fq.execute("select ts_filter(to_tsvector('x'), '{q}')",
                   scope, spark=spark)


def test_ts_delete_requires_literal_lexemes(spark, scope):
    with pytest.raises(CompileError, match="literal"):
        fq.execute("select ts_delete(to_tsvector('x'), a)",
                   scope, spark=spark)


def test_numnode_requires_literal_tsquery(spark, scope):
    with pytest.raises(CompileError, match="literal tsquery"):
        fq.execute("select numnode(a)", scope, spark=spark)


def test_encode_unknown_format_rejected_at_compile_time(spark, scope):
    # escape is SUPPORTED since r11 (it used to be the rejection example);
    # a genuinely unknown literal format still fails at compile time
    assert fq.execute("select encode(decode('61', 'hex'), 'escape') AS e",
                      scope, spark=spark).collect()[0].e == "a"
    with pytest.raises(CompileError, match="base64, hex and escape"):
        fq.execute("select encode(decode('61', 'hex'), 'binary')",
                   scope, spark=spark)


def test_get_byte_index_out_of_range_is_guided(spark, scope):
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException, match="out of valid range"):
        fq.execute("select get_byte(decode('61', 'hex'), 5)",
                   scope, spark=spark).collect()


def test_digest_unknown_algorithm_is_guided(spark, scope):
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException, match="unknown algorithm"):
        fq.execute("select digest('x', 'sha3')", scope,
                   spark=spark).collect()


def test_set_bit_value_validated(spark, scope):
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException, match="must be 0 or 1"):
        fq.execute("select set_bit(decode('61', 'hex'), 2, 7)",
                   scope, spark=spark).collect()


def test_ts_rewrite_requires_literal_tsqueries(spark, scope):
    with pytest.raises(CompileError, match="literal tsquery"):
        fq.execute("select ts_rewrite('a'::tsquery, a, 'b'::tsquery)",
                   scope, spark=spark)
    with pytest.raises(CompileError, match="takes"):
        fq.execute("select ts_rewrite('a'::tsquery, 'b'::tsquery)",
                   scope, spark=spark)


def test_ts_rewrite_rejects_empty_target(spark, scope):
    with pytest.raises(CompileError, match="must not be empty"):
        fq.execute("select ts_rewrite('a'::tsquery, "
                   "to_tsquery('english', 'the'), 'b'::tsquery)",
                   scope, spark=spark)


def test_column_bytea_hex_invalid_raises(spark):
    # r12 ADVICE fix: the column-side ::bytea hex path must raise on bad
    # digits like pg (F.unhex alone silently yields NULL) and accept
    # embedded whitespace like the literal parser
    import pandas as pd
    from pyspark.errors import PySparkException

    sc = {"h": spark.createDataFrame(pd.DataFrame({"s": [r"\x4z"]}))}
    with pytest.raises(PySparkException, match="invalid hexadecimal"):
        fq.execute("select s::bytea from h", sc, spark=spark).collect()
    sc = {"h": spark.createDataFrame(pd.DataFrame({"s": [r"\x41 4a" "\t42"]}))}
    rows = fq.execute("select encode(s::bytea, 'hex') e from h",
                      sc, spark=spark).collect()
    assert rows[0].e == "414a42"


@pytest.mark.parametrize("group_by", ["g", "ALL"])
def test_window_over_ungrouped_column(spark, group_by):
    # pg's grouping error names the column, not the engine's hidden
    # __g/__out columns an unresolved-column error would list
    scope = {"t": spark.createDataFrame([(1, 2), (1, 3)], "g int, n int")}
    with pytest.raises(CompileError, match='column "n" must appear in the '
                       "GROUP BY clause or be used in an aggregate function"):
        fq.execute(f"SELECT g, sum(n) OVER () FROM t GROUP BY {group_by}",
                   scope, spark=spark)
