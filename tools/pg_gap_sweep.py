"""Gap-hunting sweep: run a battery of pg constructs through our engine and
DuckDB, and categorize each as pass / parse-fail / compile-fail / run-fail /
mismatch.  Used interactively to find dialect gaps worth closing; queries
that pass get promoted into tests/test_pg_conformance.py.

Usage: python tools/pg_gap_sweep.py [--only SUBSTR]
"""
import math
import sys
import traceback

sys.path.insert(0, "/root/repo")

import duckdb
import pandas as pd

import framequery_spark as fq

TEST = pd.DataFrame({"c1": [0, 1, 0, 1, 0, 1], "c2": [1, 2, 3, 4, 5, 6]})
NAMES = pd.DataFrame({"name": ["foo", "bar", "baz"], "id": [0, 1, 2]})
TS = pd.DataFrame({
    "id": [1, 2, 3],
    "ts": pd.to_datetime(["2024-01-15 10:30:00", "2024-02-29 23:59:59",
                          "2024-07-04 00:00:00"]),
    "d": pd.to_datetime(["2024-01-15", "2024-02-29", "2024-07-04"]).date,
})
ARR = pd.DataFrame({"id": [1, 2], "xs": [[1, 2, 3], [4, 5]]})
DOC = pd.DataFrame({"id": [1, 2], "j": [
    '{"a": 1, "b": {"c": [10, 20]}, "tags": ["x", "y"]}',
    '{"a": 2, "b": {"c": []}, "tags": []}']})

# (query, oracle_or_None_for_same)
CANDIDATES = [
    # --- window frames ---
    ("select c2, sum(c2) over (order by c2 groups between 1 preceding and 1 following) from test", None),
    ("select c2, sum(c2) over (order by c1 range between unbounded preceding and current row exclude current row) from test order by c2", None),
    ("select c2, sum(c2) over (order by c2 rows between 1 preceding and 1 following exclude current row) from test order by c2", None),
    ("select c2, sum(c2) over (order by c2 rows between 1 preceding and 1 following exclude group) from test order by c2", None),
    ("select c2, sum(c2) over (order by c1 rows between 1 preceding and 1 following exclude ties) from test order by c2", None),
    ("select c2, sum(c2) over w from test window w as (order by c2 rows between 1 preceding and current row) order by c2", None),
    ("select c2, sum(c2) over (w order by c2) from test window w as (partition by c1) order by c2", None),
    ("select c2, count(*) filter (where c1 = 0) over (order by c2) from test order by c2", None),
    ("select c2, nth_value(c2, 2) over (order by c2 rows between unbounded preceding and unbounded following) from test order by c2", None),
    # --- limits ---
    ("select c1 from test order by c1 fetch first 4 rows with ties", None),
    ("select c2 from test order by c2 offset 2 rows fetch next 2 rows only", None),
    # --- predicates ---
    ("select c2 from test where c1 is distinct from 0 order by c2", None),
    ("select c2 from test where c1 is not distinct from 0 order by c2", None),
    ("select c1 = 1 is true, (c1 = 1) is not false, (c1 = null) is unknown from test", None),
    ("select c1 isnull, c2 notnull from test", "select c1 is null, c2 is not null from test"),
    ("select (date '2024-01-01', date '2024-03-01') overlaps (date '2024-02-01', date '2024-04-01')", None),
    # --- literals ---
    ("select 1_000_000 + c1 from test", "select 1000000 + c1 from test"),
    ("select 0x1F, 0b101, 0o17", "select 31, 5, 15"),
    ("select $$dollar 'quoted'$$, $tag$nested $$ ok$tag$", "select 'dollar ''quoted''', 'nested $$ ok'"),
    ("select E'tab\\tnewline\\n' like E'tab\\t%'", None),
    # --- strings ---
    ("select format('%s-%s', name, id) from names", "select name || '-' || id from names"),
    ("select split_part(name, 'a', 1), split_part(name, 'a', 2) from names", None),
    ("select left(name, 2), right(name, 2) from names", None),
    ("select repeat(name, 2), reverse(name), initcap(name) from names", None),
    ("select lpad(name, 5, '*'), rpad(name, 5, '*') from names", None),
    ("select translate(name, 'abo', 'xy') from names", None),
    ("select strpos(name, 'a'), substr(name, 2, 1) from names", None),
    ("select starts_with(name, 'ba') from names", None),
    ("select string_to_array('a,b,c', ','), array_to_string(array[1,2,3], '-')", None),
    ("select regexp_replace(name, '[aeiou]', 'X', 'g') from names", None),
    ("select substring(name from 'b.') from names",
     "select nullif(regexp_extract(name, 'b.'), '') from names"),  # pg: NULL on no match
    ("select btrim('  x  '), ltrim('xxax', 'x'), rtrim('xaxx', 'x')", "select trim('  x  '), ltrim('xxax', 'x'), rtrim('xaxx', 'x')"),
    ("select chr(65), ascii('A'), md5('abc')", None),
    ("select to_hex(255)", "select 'ff'"),
    ("select quote_literal('it''s'), quote_ident('weird name')", "select '''it''''s''', '\"weird name\"'"),
    ("select concat_ws('-', name, id) from names", None),
    # --- math ---
    ("select div(7, 2), mod(7, 2), gcd(12, 18), lcm(4, 6)", "select 3, 1, 6, 12"),
    ("select trunc(3.567, 2), round(3.567, 2), sign(-2.5)", None),
    ("select cbrt(27.0), degrees(pi()), radians(180.0)", "select 3.0, 180.0, pi()"),
    ("select width_bucket(5.35, 0.0, 10.0, 5)", None),
    ("select factorial(5)", "select 120"),
    ("select power(2, 10), exp(0.0), ln(1.0), log10(100.0)", "select 1024.0, 1.0, 0.0, 2.0"),
    # --- date/time ---
    ("select extract(epoch from ts), extract(dow from ts), extract(doy from ts) from tsless", None),
    ("select extract(isodow from ts), extract(week from ts), extract(quarter from ts) from tsless", None),
    ("select date_part('hour', ts) from tsless", None),
    ("select make_date(2024, 2, 29), make_timestamp(2024, 1, 2, 3, 4, 5.5)", None),
    ("select age(timestamp '2024-03-15', timestamp '2024-01-10')", None),
    ("select ts + interval '1 day 2 hours' from tsless", None),
    ("select date_bin(interval '15 minutes', ts, timestamp '2024-01-01') from tsless", None),
    ("select to_char(ts, 'YYYY-MM-DD HH24:MI:SS') from tsless", None),
    ("select to_char(ts, 'Mon DD, YYYY') from tsless", None),
    ("select to_date('2024-01-15', 'YYYY-MM-DD'), to_timestamp('15/01/2024 10:30', 'DD/MM/YYYY HH24:MI')", None),
    ("select isfinite(d), isfinite(ts) from tsless", "select true, true from tsless"),
    ("select justify_days(interval '35 days')", "select interval '1 month 5 days'"),
    ("select d - date '2024-01-01' from tsless", None),
    # --- arrays ---
    ("select array_length(xs, 1), cardinality(xs) from arr", None),
    ("select array_position(xs, 2), array_positions(xs, 2) from arr", None),
    ("select array_cat(xs, array[9]), array_remove(xs, 2), array_replace(xs, 2, 99) from arr", None),
    ("select xs @> array[2], xs <@ array[1,2,3,4,5], xs && array[3,4] from arr", None),
    ("select unnest(xs) from arr", None),
    ("select x * 2 from arr, unnest(xs) as u(x) order by 1", "select x * 2 from arr, unnest(xs) as u(x) order by 1"),
    ("select array_agg(c2 order by c2) filter (where c1 = 0) from test", None),
    ("select array(select c2 from test where c1 = 0 order by c2)", None),
    ("select trim_array(array[1,2,3], 1)", "select [1,2]"),
    # --- json ---
    ("select j::json #> '{b,c}' from doc", "select j->'b'->'c' from doc"),
    ("select j::json #>> '{b,c,0}' from doc", "select cast(j->'b'->'c'->0 as varchar) from doc"),
    ("select json_typeof(j::json->'tags') from doc", None),
    ("select jsonb_array_elements_text((j::jsonb)->'tags') from doc", None),
    ("select json_strip_nulls('{\"a\": null, \"b\": 1}'::json)", "select '{\"b\":1}'"),
    ("select to_json(name) from names", None),
    ("select row_to_json(row(1, 'x'))", "select '{\"f1\":1,\"f2\":\"x\"}'"),
    ("select (j::jsonb) @> '{\"a\": 1}'::jsonb from doc", None),
    # --- subqueries / CTEs ---
    ("with m as materialized (select max(c2) mx from test) select mx from m", None),
    ("with m as not materialized (select max(c2) mx from test) select mx from m", None),
    ("select (select count(*) from test t2 where t2.c2 < t.c2) as below from test t order by below", None),
    ("select name, exists(select 1 from test where c2 = id) as has from names order by name", None),
    ("select c2 from test t order by (select count(*) from test u where u.c2 < t.c2)", None),
    ("select c1 from test group by c1 having sum(c2) > (select avg(c2) from test)", None),
    ("select (1, 2) in (select c1, c2 from test)", None),
    # --- grouping ---
    ("select c1, sum(c2) from test group by grouping sets ((c1), ()) order by 1 nulls last", None),
    ("select count(*) from test having count(*) > 2", None),
    ("select c1, c2 % 2 as p, grouping(c1), grouping(c2 % 2) from test group by cube(c1, p) order by 1, 2", "select c1, c2 % 2 as p, grouping(c1), grouping(p) from test group by cube(c1, p) order by 1, 2"),
    # --- aggregates ---
    ("select string_agg(distinct name, ',' order by name) from names", None),
    ("select array_agg(distinct c1 order by c1) from test", None),
    ("select count(distinct (c1, c2)) from test", None),
    ("select percentile_cont(0.5) within group (order by c2) from test", None),
    ("select corr(c1, c2), covar_pop(c1, c2), covar_samp(c1, c2) from test", None),
    ("select bool_and(c2 > 0), bool_or(c1 = 9) from test", None),
    # --- set ops ---
    ("select c1 from test intersect all select c1 from test", None),
    ("select c2 from test except all select c2 from test where c1 = 0", None),
    ("(select 1 union select 2) intersect select 1", None),
    # --- table sources ---
    ("select v.a, v.b from (values (1, 'x'), (2, 'y')) as v(a, b)", None),
    ("select * from generate_series(1, 5, 2)", None),
    ("select * from generate_series(date '2024-01-01', date '2024-01-10', interval '3 days')", None),
    ("select t.c2 from test t tablesample bernoulli(100)", "select c2 from test"),
    # --- DML-ish / misc ---
    ("select distinct on (c1) c1, c2 from test order by c1, c2 desc", None),
    ("select nullif(c1, 0), coalesce(nullif(c1, 1), 99) from test", None),
    ("select greatest(c1, c2, 3), least(c1, c2, 3) from test", None),
    ("select num_nonnulls(c1, null, c2), num_nulls(c1, null) from test", "select 2, 1 from test"),
    # --- round-7 sweep additions ---
    # GROUPS frames (now compiled via dense_rank -> RANGE rewrite)
    ("select c2, sum(c2) over (order by c1 groups between 1 preceding and current row) from test order by c2", None),
    ("select c2, min(c2) over (order by c1 groups between 1 following and 2 following) from test order by c2", None),
    # intervals
    ("select justify_days(interval '35 days')", "select interval '1 month 5 days'"),
    ("select justify_hours(interval '30 hours')", "select interval '1 day 6 hours'"),
    # justify_interval's mixed month/day-time input is unrepresentable in
    # Spark interval types (the literal parser rejects mixing); pure
    # day-time inputs are identity (see registry) — covered by justify_days
    ("select interval '2 hours' * 3, interval '1 day' / 2", "select interval '6 hours', interval '12 hours'"),
    ("select extract(epoch from interval '1 day 2 hours')", "select 93600.0"),
    ("select make_interval(0, 0, 0, 2, 3, 0, 0)", "select interval '2 days 3 hours'"),
    # strings
    ("select overlay('abcdef' placing 'XX' from 2 for 3)", "select 'aXXef'"),
    ("select position('b' in name) from names", None),
    ("select trim(both 'x' from 'xxaxx'), trim(leading 'x' from 'xxa'), trim(trailing 'x' from 'axx')", "select 'a', 'a', 'a'"),
    ("select 'ab' like 'a_' escape '\\', 'a_b' like 'a\\_b' escape '\\'", "select true, true"),
    ("select bit_length('abc'), octet_length('abc')", "select 24, 3"),
    ("select regexp_count(name, 'a'), regexp_like(name, '^b') from names", None),
    ("select regexp_substr(name, '[aeiou]+') from names", "select regexp_extract(name, '[aeiou]+') from names"),
    ("select regexp_instr('abcdef', 'cd')", "select 3"),
    # to_ascii raises by design (pg raises in UTF8 databases)
    ("select unistr('d\\0061ta')", "select 'data'"),
    ("select substring('abcdef' for 3), substring('abcdef' from 3)", "select 'abc', 'cdef'"),
    # numbers
    ("select round(1234.5678, -2), trunc(1234.5678, -2)", "select 1200.0, 1200.0"),
    # scale/min_scale/trim_scale need per-value numeric scale, which the
    # float literal path does not carry — documented unsupported
    ("select mod(-7, 3), (-7) % 3", "select -1, -1"),
    ("select round(c2 / 4.0) from test order by c2", None),
    # arrays
    ("select array_fill(7, array[3])", "select [7, 7, 7]"),
    ("select generate_subscripts(array[10,20,30], 1)", "select unnest([1, 2, 3])"),
    ("select array_ndims(array[1,2,3]), array_lower(array[1,2,3], 1), array_upper(array[1,2,3], 1)", "select 1, 1, 3"),
    ("select 2 = any(array[1,2,3]), 5 = any(xs), 9 <> all(xs) from arr", "select true, 5 in (select unnest(xs)), true from arr"),
    ("select array_positions(array['a','b','a'], 'a')", "select [1, 3]"),
    ("select array_shuffle(array[1])", "select [1]"),
    ("select array_sample(array[1,2,3], 0)", "select []::int[]"),
    # row/composite comparisons
    ("select (c1, c2) < (1, 3) from test order by c2", None),
    ("select (1, 'a') = (1, 'a'), (1, 2) <> (1, 3)", "select true, true"),
    ("select c2 from test where (c1, c2) >= (1, 4) order by c2", None),
    ("select c2 between symmetric 4 and 2 from test order by c2", "select c2 between 2 and 4 from test order by c2"),
    # json
    ("select json_strip_nulls('{\"a\": null, \"b\": 1}'::json)", "select '{\"b\":1}'"),
    ("select jsonb_set('{\"a\":1}'::jsonb, '{b}', '2'::jsonb)", "select '{\"a\":1,\"b\":2}'::json"),
    ("select jsonb_insert('{\"a\":1}'::jsonb, '{b}', '9'::jsonb)", "select '{\"a\":1,\"b\":9}'::json"),
    ("select json_array_length(j::json->'tags') from doc", "select len(from_json(j, '{\"tags\": [\"varchar\"]}').tags) from doc"),
    ("select jsonb_object_keys('{\"a\":1,\"b\":2}'::jsonb)", "select unnest(['a','b'])"),
    ("select json_build_object('a', 1, 'b', name) from names", "select to_json({'a': 1, 'b': name}) from names"),
    ("select json_build_array(1, 'x', null)", "select '[1,\"x\",null]'"),
    ("select ('{\"a\": {\"b\": 7}}'::jsonb)['a']['b']", "select 7"),
    # window refinements
    ("select c2, lag(c2, 1, -1) over (order by c2) from test order by c2", None),
    ("select c2, lead(c2, 2, 0) over (order by c2) from test order by c2", None),
    ("select c2, cume_dist() over (order by c1), percent_rank() over (order by c1) from test order by c2", None),
    # ordered-set aggregates
    ("select mode() within group (order by c1) from test", None),
    ("select percentile_disc(0.5) within group (order by c2) from test", None),
    ("select percentile_cont(array[0.25, 0.75]) within group (order by c2) from test", "select [quantile_cont(c2, 0.25), quantile_cont(c2, 0.75)] from test"),
    # grouping
    ("select grouping(c1), sum(c2) from test group by rollup(c1) order by 1, 2", None),
    ("select c1, sum(c2) from test group by grouping sets ((), (c1), (c1)) order by 1 nulls last, 2", None),
    # misc
    ("select * from (values (1), (2), (3)) v(x) order by x desc", None),
    ("select coalesce(null, null, 3), nullif(null, 1)", "select 3, null"),
    ("select c2, c1 is distinct from null from test order by c2", "select c2, c1 is not null from test order by c2"),
    ("select count(*) from test where (select 1) = 1", None),
    ("select string_agg(name, null) from names", "select string_agg(name, '') from names"),
    ("select sum(c2) filter (where c1 = 0) over (order by c2) from test order by 1", None),
    ("select lower(name collate \"C\") from names", "select lower(name) from names"),
    # --- round 10: pg array-type casts ---
    ("select '{1,2,3}'::int[]", "select [1, 2, 3]"),
    ("select ('{10,20,30}'::int[])[2]", "select 20"),
    ("select '{a,\"b,c\"}'::text[]", "select ['a', 'b,c']"),
    ("select cast('{1.5,2.5}' as numeric(10,2)[])",
     "select [cast(1.5 as decimal(10,2)), cast(2.5 as decimal(10,2))]"),
    # --- round 10: empty-input grand-total grouping rows (pg semantics;
    # DuckDB agrees, raw Spark returns zero rows) ---
    ("select c1, count(*) from test where c2 > 100 group by rollup(c1)", None),
    ("select c1, cast(count(*) as bigint) n from test where c2 > 100 group by grouping sets ((c1), ())", None),
    # --- round 10: LATERAL aggregate keeps empty-group rows like pg;
    # DuckDB drops them, so the oracle restates via correlated scalar ---
    ("select t.c1, l.mv from test t, lateral (select max(id) as mv from names where id = t.c1 and id > 1) l order by t.c1, l.mv",
     "select t.c1, (select max(id) from names where id = t.c1 and id > 1) as mv from test t order by t.c1, mv"),
    # --- round 12: prefix math ops, to_bin/to_oct, split-to-array,
    # array_dims, FROM ONLY, GROUP BY DISTINCT, session constants ---
    ("select |/ 25.0, ||/ 27.0, @ -5", "select sqrt(25.0), cbrt(27.0), abs(-5)"),
    ("select to_bin(c2), to_oct(c2 + 8) from test order by c2",
     "select bin(c2), printf('%o', c2 + 8) from test order by c2"),
    ("select regexp_split_to_array(name, 'a') from names order by name",
     None),
    ("select array_dims(array[1,2,3])", "select '[1:3]'"),
    ("select c2 from only test order by c2", "select c2 from test order by c2"),
    ("select c1, count(*) from test group by distinct grouping sets ((c1), (c1), ()) order by 1 nulls last",
     "select c1, count(*) from test group by grouping sets ((c1), ()) order by 1 nulls last"),
    ("select current_setting('standard_conforming_strings')", "select 'on'"),
    ("select to_char(interval '15 hours 2 minutes 12 seconds', 'HH24:MI:SS')",
     "select '15:02:12'"),
]


def norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "nan"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main():
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1]
    from framequery_spark.plans.tuning import local_session

    spark = local_session(4, "pg_gap_sweep")
    scope = {"test": TEST, "names": NAMES, "tsless": TS, "arr": ARR,
             "doc": DOC}
    sscope = {k: spark.createDataFrame(v) for k, v in scope.items()}
    duck = duckdb.connect()
    for k, v in scope.items():
        duck.register(k, v)
    cats = {"pass": [], "parse": [], "compile": [], "run": [],
            "mismatch": [], "oracle_fail": []}
    for q in CANDIDATES:
        query, oracle = q
        oracle = oracle or query
        if only and only not in query:
            continue
        try:
            theirs = norm(duck.execute(oracle).fetchall())
        except Exception as e:
            cats["oracle_fail"].append((query, str(e).splitlines()[0][:100]))
            continue
        try:
            df = fq.execute(query, sscope, spark=spark)
        except Exception as e:
            kind = "parse" if "parse" in type(e).__name__.lower() or \
                "unexpected" in str(e).lower() else "compile"
            cats[kind].append((query, f"{type(e).__name__}: {str(e).splitlines()[0][:100]}"))
            continue
        try:
            ours = norm([tuple(r) for r in df.collect()])
        except Exception as e:
            cats["run"].append((query, f"{type(e).__name__}: {str(e).splitlines()[-1][:100]}"))
            continue
        if ours == theirs:
            cats["pass"].append((query, ""))
        else:
            cats["mismatch"].append(
                (query, f"ours={ours[:3]} duck={theirs[:3]}"))
    for cat, items in cats.items():
        print(f"\n=== {cat} ({len(items)}) ===")
        for q, err in items:
            print(f"  {q[:110]}")
            if err:
                print(f"      -> {err}")


if __name__ == "__main__":
    main()
