"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises the framequery_spark engine end-to-end: each SQL entry
is parsed by our pg-flavored parser and compiled to Spark DataFrame ops;
operator entries call the LLM-pipeline operator APIs directly. `oracle_sql()`
returns the DuckDB-equivalent SQL for the driver's differential check.

Float discipline: aggregate outputs are wrapped in round(...) and ordered
with unique tie-breakers so Spark and DuckDB hash identically.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _scope(spark: SparkSession, sf_dir: str) -> dict:
    from framequery_spark.sources.testdata import load_tables

    return load_tables(spark, sf_dir)


def _sql_runner(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import framequery_spark as fq

        return fq.execute(sql, _scope(spark, sf_dir), spark=spark)

    return run


# ---------------------------------------------------------------------------
# SQL queries: {name: (engine_sql, oracle_sql)}. oracle None -> rows-only.
# Most oracle strings are identical to the engine SQL (the dialect overlaps);
# they are spelled out separately where DuckDB syntax differs.
# ---------------------------------------------------------------------------

_Q: dict[str, tuple[str, str | None]] = {}


def _q(name: str, sql: str, oracle: str | None = "same") -> None:
    _Q[name] = (sql, sql if oracle == "same" else oracle)


_q("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(cast(cast(sum(l_quantity) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_qty,
       round(cast(cast(sum(l_extendedprice) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_price,
       round(cast(cast(sum(l_discount) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")

_q("q02_top_orders", """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < date '1997-03-15'
  AND l_shipdate > date '1997-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")

_q("q03_region_revenue", """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= date '1996-01-01' AND o_orderdate < date '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")

_q("q04_order_priority", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= date '1996-07-01' AND o_orderdate < date '1996-10-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

_q("q05_nation_balance", """
SELECT n_name, round(cast(cast(sum(c_acctbal) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_bal, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
HAVING count(*) > 1
ORDER BY n_name
""")

_q("q06_forecast_revenue", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= date '1996-01-01' AND l_shipdate < date '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08 AND l_quantity < 24
""")

_q("q07_parts_by_brand", """
SELECT p_brand, count(*) AS n, round(cast(cast(sum(p_retailprice) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_price,
       round(min(p_retailprice), 2) AS min_price, round(max(p_retailprice), 2) AS max_price
FROM part
GROUP BY p_brand
ORDER BY p_brand
""")

_q("q08_price_buckets", """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS bucket,
       count(*) AS n, round(sum(o_totalprice), 2) AS volume
FROM orders
GROUP BY 1
ORDER BY bucket
""")

_q("q09_yearly_volume", """
SELECT extract(year FROM o_orderdate) AS yr, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS volume
FROM orders
GROUP BY 1
ORDER BY yr
""")

_q("q10_top_customers", """
WITH cust_rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, total
FROM customer JOIN cust_rev ON c_custkey = o_custkey
ORDER BY total DESC, c_custkey
LIMIT 10
""")

_q("q11_segment_top3", """
SELECT c_mktsegment, c_custkey, c_acctbal
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) ranked
WHERE rn <= 3
ORDER BY c_mktsegment, c_custkey
""")

_q("q12_running_total", """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
WHERE o_custkey <= 30
ORDER BY o_custkey, o_orderkey
""")

_q("q13_union_keys", """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
ORDER BY nationkey
""")

_q("q14_except_keys", """
SELECT o_custkey AS custkey FROM orders
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")

_q("q15_intersect_keys", """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""")

_q("q16_in_subquery", """
SELECT count(*) AS n
FROM customer
WHERE c_nationkey IN (
  SELECT n_nationkey FROM nation
  WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
)
""")

_q("q17_customers_without_orders", """
SELECT count(*) AS n
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
WHERE o_orderkey IS NULL
""")

_q("q18_string_functions", """
SELECT c_custkey, upper(c_name) AS uname, length(c_name) AS name_len,
       substring(c_name, 1, 9) AS prefix, c_name || '!' AS bang,
       position('_' in c_name) AS uscore
FROM customer
WHERE c_custkey <= 50
ORDER BY c_custkey
""", oracle="""
SELECT c_custkey, upper(c_name) AS uname, length(c_name) AS name_len,
       substring(c_name, 1, 9) AS prefix, c_name || '!' AS bang,
       position('_' in c_name) AS uscore
FROM customer
WHERE c_custkey <= 50
ORDER BY c_custkey
""")

_q("q19_events_daily", """
SELECT event_type, date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
       count(*) AS n, round(cast(cast(sum(value) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_value
FROM events
GROUP BY event_type, date_format(date_trunc('day', ts), 'yyyy-MM-dd')
ORDER BY event_type, day
""", oracle="""
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n, round(cast(cast(sum(value) AS decimal(20,2)) AS double) / count(*) + 0.0000001, 4) AS avg_value
FROM events
GROUP BY event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')
ORDER BY event_type, day
""")

_q("q20_limit_offset", """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
ORDER BY o_orderkey
LIMIT 10 OFFSET 5
""")

_q("q21_having_counts", """
SELECT o_custkey, count(*) AS n
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 3
ORDER BY n DESC, o_custkey
LIMIT 20
""")

_q("q22_above_avg", """
SELECT count(*) AS n
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
""")

_q("q23_generate_series", """
SELECT count(*) AS n, cast(sum(generate_series) AS bigint) AS total
FROM generate_series(1, 1000)
""")

_q("q24_json_extract", """
SELECT cast(json_extract(props, '$.k') AS bigint) % 10 AS k_mod,
       count(*) AS n
FROM events
GROUP BY 1
ORDER BY k_mod
""", oracle="""
SELECT cast(props->>'$.k' AS bigint) % 10 AS k_mod, count(*) AS n
FROM events
GROUP BY 1
ORDER BY k_mod
""")

_q("q25_distinct_pairs", """
SELECT DISTINCT o_orderstatus, o_orderpriority
FROM orders
ORDER BY 1, 2
""")

_q("q26_implicit_join", """
SELECT r_name, count(*) AS n_nations
FROM region, nation
WHERE r_regionkey = n_regionkey
GROUP BY r_name
ORDER BY r_name
""")

_q("q27_theta_join", """
SELECT count(*) AS n
FROM supplier s1, supplier s2
WHERE s1.s_acctbal > s2.s_acctbal
""")

_q("q28_full_join_counts", """
SELECT coalesce(c.nk, s.nk) AS nationkey, c.cnt AS customer_cnt, s.cnt AS supplier_cnt
FROM (SELECT c_nationkey AS nk, count(*) AS cnt FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nk, count(*) AS cnt FROM supplier GROUP BY 1) s
  ON c.nk = s.nk
ORDER BY nationkey
""")

_q("q29_decile_stats", """
SELECT cast(l_quantity AS bigint) % 10 AS decile,
       round(stddev_samp(l_extendedprice), 2) AS sd,
       round(var_pop(l_discount), 8) AS vp,
       count(DISTINCT l_partkey) AS nparts
FROM lineitem
GROUP BY 1
ORDER BY decile
""")

_q("q31_rollup", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS volume
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""")

_q("q32_cube_grouping", """
SELECT o_orderstatus, extract(year FROM o_orderdate) AS yr,
       grouping(o_orderstatus) AS g_status, count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, extract(year FROM o_orderdate))
ORDER BY o_orderstatus NULLS FIRST, yr NULLS FIRST
""")

_q("q33_exists_correlated", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= date '1996-01-01' AND o_orderdate < date '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

_q("q34_not_exists", """
SELECT count(*) AS n
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
""")

_q("q35_min_cost_part", """
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price
FROM part p
WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
ORDER BY p_brand, p_partkey
""")

_q("q36_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= date '1996-01-01' AND l_shipdate < date '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""")

_q("q37_big_orders", """
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS price
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
ORDER BY price DESC, o_orderkey
LIMIT 20
""")

_q("q38_promo_revenue", """
SELECT round(100.0 * cast(cast(sum(CASE WHEN p_type LIKE 'PROMO%'
            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
            AS decimal(20,2)) AS double)
       / cast(cast(sum(l_extendedprice * (1 - l_discount))
            AS decimal(20,2)) AS double)
       + 0.0000001, 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= date '1996-03-01' AND l_shipdate < date '1996-04-01'
""")

_q("q39_customer_distribution", """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey) cc
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""")

_q("q40_idle_rich_customers", """
SELECT count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")

_q("q41_nation_trade", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       extract(year FROM l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_3', 'NATION_4')
GROUP BY n1.n_name, n2.n_name, extract(year FROM l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""")

_q("q42_yearly_growth", """
SELECT yr, rev, round(rev - lag(rev) OVER (ORDER BY yr), 2) AS delta
FROM (SELECT extract(year FROM o_orderdate) AS yr,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1) y
ORDER BY yr
""")

_q("q30_lag_lead", """
SELECT o_orderkey,
       lag(o_orderkey, 1) OVER (ORDER BY o_orderkey) AS prev_key,
       lead(o_orderkey, 1) OVER (ORDER BY o_orderkey) AS next_key
FROM orders
WHERE o_custkey <= 10
ORDER BY o_orderkey
""")

_q("q43_values_join", """
SELECT v.grp, count(*) AS n, round(sum(o.o_totalprice), 2) AS total
FROM orders o
JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
  AS v(status, grp)
  ON o.o_orderstatus = v.status
GROUP BY v.grp
ORDER BY v.grp
""")

_q("q44_distinct_on", """
SELECT DISTINCT ON (o_custkey)
       o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_custkey <= 50
ORDER BY o_custkey, o_totalprice DESC, o_orderkey
""")

_q("q45_moving_sum", """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving3
FROM orders
WHERE o_custkey <= 30
ORDER BY o_custkey, o_orderkey
""")

_q("q46_conditional_agg", """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_quantity > 25) AS big_cnt,
       round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_rev,
       round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS f_avg_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")

_q("q47_quantiles", """
SELECT l_returnflag,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q1_qty,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")

_q("q48_ordered_string_agg", """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""")

_q("q50_quantified_compare", """
SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE o_custkey = 1)
   OR o_totalprice < ANY (SELECT o_totalprice FROM orders WHERE o_custkey = 2)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

# the ASOF text is valid in BOTH dialects (ours and DuckDB's), so the
# oracle string is the engine string verbatim
_q("q51_asof_join_sql", """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts, r.click_id, r.click_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts > r.click_ts
""")

# correlated LATERAL top-N-per-group — identical text in both dialects
_q("q54_lateral_topk", """
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer,
     LATERAL (SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c_custkey <= 100
ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
""")

# regression aggregates — oracle casts regr_count (DuckDB returns UINTEGER,
# Spark bigint; the driver hash is type-sensitive)
_q("q56_regression_aggs", """
SELECT o_orderpriority, round(regr_slope(o_totalprice, o_custkey), 6) AS sl,
       round(regr_intercept(o_totalprice, o_custkey), 4) AS ic,
       regr_count(o_totalprice, o_custkey) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""", oracle="""
SELECT o_orderpriority, round(regr_slope(o_totalprice, o_custkey), 6) AS sl,
       round(regr_intercept(o_totalprice, o_custkey), 4) AS ic,
       CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")

# scalar subquery in HAVING — identical text in both dialects
_q("q55_having_subquery", """
SELECT o_orderpriority, count(*) AS n
FROM orders
GROUP BY o_orderpriority
HAVING count(*) > (SELECT count(*) FROM orders) / 10
ORDER BY o_orderpriority
""")

# JSON arrow extraction — identical text in both dialects
_q("q52_json_arrows", """
SELECT props ->> 'k' AS k, count(*) AS n, round(sum(value), 2) AS sv
FROM events
GROUP BY props ->> 'k'
ORDER BY n DESC, k
LIMIT 20
""")

# GROUP BY ALL — identical text in both dialects
_q("q53_group_by_all", """
SELECT event_type, user_id % 10 AS cohort, count(*) AS n
FROM events
GROUP BY ALL
ORDER BY event_type, cohort
""")

# RANGE frame with INTERVAL bounds (timestamp order key -> unix_micros
# rewrite engine-side; DuckDB supports the syntax natively)
_q("q57_range_interval_window", """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW),
             2) AS hr_sum,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '30 minutes' PRECEDING
                       AND INTERVAL '30 minutes' FOLLOWING) AS nearby
FROM events
WHERE user_id <= 50
ORDER BY user_id, event_id
""")

# PIVOT (DuckDB statement form; compiled to Spark's native
# groupBy().pivot().agg()) — identical text in both dialects; dynamic
# column discovery exercises the bounded distinct-collect path
_q("q59_pivot", """
PIVOT documents ON lang USING count(*) GROUP BY source ORDER BY source
""")

# QUALIFY (post-window filter; DuckDB supports the clause natively) —
# identical text in both dialects. Mixes an aliased window ref with a
# second inline window predicate over an aggregate query.
_q("q58_qualify", """
SELECT o_custkey, round(sum(o_totalprice), 2) AS total,
       rank() OVER (ORDER BY sum(o_totalprice) DESC, o_custkey) AS rk
FROM orders
GROUP BY o_custkey
QUALIFY rk <= 10
    AND row_number() OVER (ORDER BY sum(o_totalprice) DESC, o_custkey) <= 10
ORDER BY rk, o_custkey
""")

_q("q49_recursive_months", """
WITH RECURSIVE months(m) AS (
  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
)
SELECT m AS month_num, count(o_orderkey) AS n_orders
FROM months LEFT JOIN orders
  ON extract(month FROM o_orderdate) = m
 AND extract(year FROM o_orderdate) = 1995
GROUP BY m
ORDER BY m
""")

# pg JSON construction: json_agg with deterministic in-agg ordering
# (struct-sort collect — partition-order-independent) + json_build_object.
# Spark's to_json and DuckDB's to_json/json_object both emit compact JSON,
# so the text compares byte-exact.
_q("q62_json_agg", """
SELECT lang,
       json_agg(doc_id ORDER BY doc_id) AS ids,
       json_build_object('lang', lang, 'n', count(*)) AS meta
FROM documents WHERE doc_id < 60
GROUP BY lang
ORDER BY lang
""", oracle="""
SELECT lang,
       to_json(list(doc_id ORDER BY doc_id)) AS ids,
       json_object('lang', lang, 'n', count(*)) AS meta
FROM documents WHERE doc_id < 60
GROUP BY lang
ORDER BY lang
""")

# Theta-correlated scalar subquery (the running-rank / strictly-below-count
# shape pg evaluates as a per-row subplan). Decorrelated by
# compiler/select.py:ThetaAggregate into one theta join + per-outer-row
# aggregate — never a per-row loop. Identical text in both dialects
# (DuckDB decorrelates it natively).
_q("q63_running_rank", """
SELECT n_name,
       (SELECT count(*) FROM nation n2
        WHERE n2.n_nationkey < n.n_nationkey) AS below,
       (SELECT round(sum(s.s_acctbal), 2) FROM supplier s
        WHERE s.s_nationkey = n.n_nationkey
          AND s.s_acctbal > 0) AS pos_bal
FROM nation n
ORDER BY n_name
""")

# pg-14 WITH RECURSIVE ... SEARCH DEPTH FIRST: a region->nation hierarchy
# walked depth-first; the ord column is the root-to-self path array
# (compiler/select.py:_thread_path_columns threads it through the fixpoint
# exactly like pg's SEARCH/CYCLE rewriter). DuckDB has no SEARCH clause, so
# the oracle carries the path as a plain integer list — both orders are
# lexicographic-by-path, hence identical.
_q("q64_recursive_dfs", """
WITH RECURSIVE tree(id, label, parent) AS (
  SELECT r_regionkey, r_name, -1 FROM region
  UNION ALL
  SELECT n.n_nationkey + 100, n.n_name, t.id
  FROM nation n JOIN tree t ON n.n_regionkey = t.id
  WHERE t.parent = -1
) SEARCH DEPTH FIRST BY id SET ord
SELECT row_number() OVER (ORDER BY ord) AS pos, id, label, parent
FROM tree ORDER BY pos
""", oracle="""
WITH RECURSIVE tree AS (
  SELECT r_regionkey AS id, r_name AS label, -1 AS parent,
         [r_regionkey] AS path
  FROM region
  UNION ALL
  SELECT n.n_nationkey + 100, n.n_name, t.id,
         list_append(t.path, n.n_nationkey + 100)
  FROM nation n JOIN tree t ON n.n_regionkey = t.id
  WHERE t.parent = -1
)
SELECT row_number() OVER (ORDER BY path) AS pos, id, label, parent
FROM tree ORDER BY pos
""")

# pg-14 WITH RECURSIVE ... CYCLE: a cyclic VALUES graph walked under UNION
# ALL — marked rows appear in the output but never iterate, which is what
# terminates the walk (pg semantics exactly). DuckDB emulates with a manual
# path list + NOT is_cycle filter; nation supplies real-table labels.
_q("q65_recursive_cycle", """
WITH RECURSIVE walk(node) AS (
  SELECT 0
  UNION ALL
  SELECT e.dst FROM (VALUES (0,1),(1,2),(2,3),(3,1),(2,4)) AS e(src,dst)
  JOIN walk w ON e.src = w.node
) CYCLE node SET is_cycle USING path
SELECT w.node, w.is_cycle, cardinality(w.path) AS depth, n.n_name AS label
FROM walk w JOIN nation n ON n.n_nationkey = w.node
ORDER BY depth, node
""", oracle="""
WITH RECURSIVE walk AS (
  SELECT 0 AS node, false AS is_cycle, [0] AS path
  UNION ALL
  SELECT e.dst, list_contains(w.path, e.dst),
         list_append(w.path, e.dst)
  FROM (VALUES (0,1),(1,2),(2,3),(3,1),(2,4)) AS e(src,dst)
  JOIN walk w ON e.src = w.node
  WHERE NOT w.is_cycle
)
SELECT w.node, w.is_cycle, len(w.path) AS depth, n.n_name AS label
FROM walk w JOIN nation n ON n.n_nationkey = w.node
ORDER BY depth, node
""")

# pg-17 JSON_TABLE over the events props column (implicitly lateral,
# typed COLUMNS + FOR ORDINALITY); DuckDB has no JSON_TABLE, so the
# oracle extracts the same fields with its arrow operators
_q("q66_json_table", """
SELECT e.event_type, count(*) AS n, sum(t.k) AS k_sum, max(t.ord) AS max_ord
FROM events e, json_table(e.props, '$' COLUMNS (
  ord FOR ORDINALITY, k bigint PATH '$.k')) AS t
GROUP BY e.event_type
ORDER BY e.event_type
""", oracle="""
SELECT event_type, count(*) AS n,
       cast(sum(cast(props->>'$.k' AS bigint)) AS bigint) AS k_sum,
       cast(1 AS bigint) AS max_ord
FROM events
GROUP BY event_type
ORDER BY event_type
""")

# pg-16/17 SQL/JSON predicates + query functions as one aggregate query
_q("q67_sql_json", """
SELECT event_type,
       count(*) FILTER (WHERE props IS JSON OBJECT) AS n_obj,
       count(*) FILTER (WHERE props IS JSON SCALAR) AS n_scalar,
       sum(CASE WHEN json_exists(props, '$.k')
                THEN cast(json_value(props, '$.k') AS bigint) END) AS k_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""", oracle="""
SELECT event_type,
       count(*) AS n_obj,
       cast(0 AS bigint) AS n_scalar,
       cast(sum(cast(props->>'$.k' AS bigint)) AS bigint) AS k_sum
FROM events
GROUP BY event_type
ORDER BY event_type
""")

# pg-14 multirange types end-to-end: per-segment interval-union coverage.
# range_agg merges each segment's [o_orderkey, o_orderkey+100) ranges into
# a canonical multirange (sorted, overlapping/adjacent members merged),
# unnest explodes the merged members, and the summed member widths give the
# union's total length. DuckDB has no range types, so the oracle computes
# the SAME interval-union length independently with the classic
# gaps-and-islands windows — a genuine cross-implementation differential
# of the canonicalization/merge algebra. New island iff s > running max
# end (touching intervals merge, exactly like discrete-range adjacency).
_q("q68_multirange_coverage", """
WITH agg AS (
  SELECT c.c_mktsegment AS seg,
         range_agg(int4range(cast(o.o_orderkey AS int),
                             cast(o.o_orderkey AS int) + 100)) AS mr
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
)
SELECT seg, count(*) AS n_members,
       cast(sum(u.hi - u.lo) AS bigint) AS covered
FROM agg, unnest(mr) AS u
GROUP BY seg
ORDER BY seg
""", oracle="""
WITH iv AS (
  SELECT c.c_mktsegment AS seg, o.o_orderkey AS s, o.o_orderkey + 100 AS e
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), m AS (
  SELECT seg, s, e,
         max(e) OVER (PARTITION BY seg ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
), isl AS (
  SELECT seg, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY seg ORDER BY s, e ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS island
  FROM m
), spans AS (
  SELECT seg, island, min(s) AS mn, max(e) AS mx
  FROM isl GROUP BY seg, island
)
SELECT seg, count(*) AS n_members, cast(sum(mx - mn) AS bigint) AS covered
FROM spans GROUP BY seg ORDER BY seg
""")

# jsonpath filter predicates over the events props column: the ? (...)
# filter runs as a variant-array predicate engine-side; DuckDB states the
# same condition with arrow extraction (missing members fall out of both).
_q("q69_jsonpath_filter", """
SELECT event_type,
       count(*) FILTER (WHERE json_exists(props, '$.k ? (@ >= 50)'))
         AS n_hi,
       count(*) FILTER (WHERE json_exists(props,
         '$.k ? (@ >= 10 && @ < 50)')) AS n_mid,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""", oracle="""
SELECT event_type,
       count(*) FILTER (WHERE cast(props->>'$.k' AS bigint) >= 50) AS n_hi,
       count(*) FILTER (WHERE cast(props->>'$.k' AS bigint) >= 10
                        AND cast(props->>'$.k' AS bigint) < 50) AS n_mid,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""")

# pg full-text search over the documents corpus: boolean AND match,
# phrase (adjacency) match, and tsvector lexeme counts per source. The
# tsvector is projected ONCE in a subquery (the r07 bench paid 3 word
# parses per row for the three occurrences; derived tsvector columns are
# now visible to the schema probe, so @@ and length() accept them). The
# oracle restates the same semantics with DuckDB list ops (regex split +
# list_contains; phrase adjacency via an index-lambda scan) — an
# independent derivation of the word-parse + position machinery.
_q("q70_fulltext_search", """
SELECT source,
       count(*) FILTER (WHERE tsv @@ to_tsquery('spark & window')) AS n_and,
       count(*) FILTER (WHERE tsv @@ phraseto_tsquery('hash join'))
         AS n_phrase,
       sum(length(tsv)) AS n_lexemes
FROM (SELECT source, to_tsvector(text) AS tsv FROM documents) d
GROUP BY source
ORDER BY source
""", oracle="""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^a-z0-9]+'),
                     w -> w <> '') AS ws
  FROM documents)
SELECT source,
       count(*) FILTER (WHERE list_contains(ws, 'spark')
                        AND list_contains(ws, 'window')) AS n_and,
       count(*) FILTER (WHERE len(list_filter(range(1, len(ws)),
           i -> ws[i] = 'hash' AND ws[i + 1] = 'join')) > 0) AS n_phrase,
       cast(sum(len(list_distinct(ws))) AS bigint) AS n_lexemes
FROM t
GROUP BY source
ORDER BY source
""")

# pg_trgm fuzzy matching over part names (r09): trigram-set similarity +
# the % threshold operator, both JVM HOF expressions. The oracle
# restates the padded-word trigram extraction and set Jaccard with
# DuckDB list ops — an independent derivation of the whole pipeline.
# Both engines compare the threshold on the exact double and round the
# projected value to 6 (small-rational Jaccards never sit at a rounding
# boundary).
_q("q71_trgm_similarity", """
SELECT p_partkey,
       round(cast(similarity(p_name, 'small widgets') AS double), 6) AS sim
FROM part
WHERE p_name % 'small widgets'
ORDER BY sim DESC, p_partkey
LIMIT 30
""", oracle="""
WITH probe AS (
  SELECT list_distinct(flatten(list_transform(
    list_transform(
      list_filter(regexp_split_to_array(
        regexp_replace(lower('small widgets'), '[^a-z0-9]+', ' ', 'g'),
        ' '), w -> w <> ''),
      w -> concat('  ', w, ' ')),
    s -> list_transform(range(1, length(s) - 1),
                        i -> s[i : i + 2])))) AS t
), p AS (
  SELECT p_partkey, list_distinct(flatten(list_transform(
    list_transform(
      list_filter(regexp_split_to_array(
        regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'),
        ' '), w -> w <> ''),
      w -> concat('  ', w, ' ')),
    s -> list_transform(range(1, length(s) - 1),
                        i -> s[i : i + 2])))) AS t2
  FROM part
), scored AS (
  SELECT p_partkey,
         cast(len(list_intersect(t2, probe.t)) AS double)
           / (len(t2) + len(probe.t) - len(list_intersect(t2, probe.t)))
           AS sim_raw
  FROM p, probe)
SELECT p_partkey, round(sim_raw, 6) AS sim
FROM scored
WHERE sim_raw >= 0.3
ORDER BY sim DESC, p_partkey
LIMIT 30
""")

# pgvector-style exact KNN in SQL (r09): ORDER BY embedding <-> probe
# LIMIT k compiles to TakeOrderedAndProject over one corpus scan — the
# brute-force baseline the ANN operator entries approximate. The probe is
# a 1-row subquery (broadcast); DuckDB's list_distance is the oracle.
_q("q72_pgvector_knn", """
SELECT e.vec_id,
       round(e.embedding <-> q.embedding, 6) AS dist
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY dist, e.vec_id
LIMIT 10
""", oracle="""
SELECT e.vec_id,
       round(list_distance(CAST(e.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[])), 6) AS dist
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY dist, e.vec_id
LIMIT 10
""")

# Round-11 fuzzystrmatch/pgcrypto surface under the driver gate: the costed
# levenshtein runs a REAL differential on real data (with unit costs it must
# equal DuckDB's levenshtein; the 6-arg bounded form mirrors pg's max_d+1
# contract as a CASE); metaphone over the constant-shaped supplier names,
# the RFC 2202 hmac vector and the pg-docs escape-format example pin the
# pandas_udf/fold wiring as literal-oracle columns.
_q("q73_fuzzy_costed", """
SELECT c_custkey,
       CAST(levenshtein(c_name, 'Customer#000000042', 1, 1, 1)
            AS BIGINT) AS lv,
       CAST(levenshtein_less_equal(c_name, 'Customer#000000042',
                                   1, 1, 1, 2) AS BIGINT) AS lle,
       metaphone(c_name, 8) AS mph,
       encode(hmac('what do ya want for nothing?', 'Jefe', 'md5'),
              'hex') AS mac,
       encode('123\\000\\001'::bytea, 'escape') AS esc
FROM customer
ORDER BY c_custkey
LIMIT 50
""", oracle="""
SELECT c_custkey,
       CAST(levenshtein(c_name, 'Customer#000000042') AS BIGINT) AS lv,
       CAST(CASE WHEN levenshtein(c_name, 'Customer#000000042') > 2
                 THEN 3
                 ELSE levenshtein(c_name, 'Customer#000000042') END
            AS BIGINT) AS lle,
       'KSTMR' AS mph,
       '750c783e6ab0b503eaa86e310a5db738' AS mac,
       '123\\000\\001' AS esc
FROM customer
ORDER BY c_custkey
LIMIT 50
""")

# Round-12 batch under the driver gate: UESCAPE literals, quantified-LIKE
# subquery form, the exact-sentinel isfinite fix, the column-side ::bytea
# hex path (validated + whitespace-tolerant at ROW time over computed
# strings), unaccent combining-mark/ligature coverage, and ts_headline's
# ShortWord boundary trim — per-row where DuckDB can compute it
# (concat/LIKE-OR/md5 hex), literal-oracle where it can't.
_q("q74_r12_batch", """
SELECT c_custkey,
       U&'!0041cct:' UESCAPE '!' || c_mktsegment AS tagged,
       c_mktsegment LIKE ANY (SELECT s FROM (VALUES ('BUILD%'),
                                             ('AUTO%')) v(s)) AS seg_hit,
       isfinite(timestamp '0001-01-01 12:00:00') AS fin_a,
       isfinite('-infinity'::timestamp) AS fin_b,
       encode(('\\x' || substring(md5(c_name), 1, 8))::bytea,
              'hex') AS hx,
       unaccent('caf' || chr(101) || chr(769) || ' ﬂux') AS ua,
       ts_headline('the cat sat on a mat of dogs today ok',
                   'dogs'::tsquery,
                   'MaxWords=6, MinWords=4, ShortWord=2') AS hl
FROM customer
ORDER BY c_custkey
LIMIT 40
""", oracle="""
SELECT c_custkey,
       'Acct:' || c_mktsegment AS tagged,
       (c_mktsegment LIKE 'BUILD%' OR c_mktsegment LIKE 'AUTO%')
           AS seg_hit,
       true AS fin_a,
       false AS fin_b,
       substring(md5(c_name), 1, 8) AS hx,
       'cafe flux' AS ua,
       '<b>dogs</b> today' AS hl
FROM customer
ORDER BY c_custkey
LIMIT 40
""")

# Round-12 numeric to_char completion under the driver gate: a REAL
# differential on real data — pg's floating sign is exactly printf
# right-alignment for |x| >= 1 (the filter excludes the zero-units
# collapse region, pinned by literal anchors instead), FM stripping is
# rtrim-of-zeros (the '.'-stops-rtrim accident reproduces pg's bare-dot
# wart), and a leading-'0' template is %05d. The literal columns carry
# the pg docs Table 9.29 anchors DuckDB cannot compute.
_q("q75_to_char_numeric", """
SELECT c_custkey,
       to_char(c_acctbal, '99999.99') AS pad,
       to_char(c_acctbal, 'FM99999.99') AS fm,
       to_char(c_custkey, '00999') AS forced,
       to_char(-0.1, '99.99') AS a_collapse,
       to_char(12, '9990999.9') AS a_forced,
       to_char(12, 'FM9990999.9') AS a_fmdot,
       to_char(0, '999') AS a_zero
FROM customer
WHERE abs(c_acctbal) >= 1
ORDER BY c_custkey
LIMIT 60
""", oracle="""
SELECT c_custkey,
       printf('%9.2f', CAST(c_acctbal AS DOUBLE)) AS pad,
       rtrim(printf('%.2f', CAST(c_acctbal AS DOUBLE)), '0') AS fm,
       printf(' %05d', c_custkey) AS forced,
       ' -.10' AS a_collapse,
       '    0012.0' AS a_forced,
       '0012.' AS a_fmdot,
       '   0' AS a_zero
FROM customer
WHERE abs(c_acctbal) >= 1
ORDER BY c_custkey
LIMIT 60
""")

# Round-12 batch 2 under the driver gate: pg prefix math operators (|/
# sqrt is IEEE-correctly-rounded so the differential is bit-exact; ||/
# cbrt is rounded to 4 places — not an IEEE-exact op), pg-17 to_bin /
# to_oct against DuckDB's bin()/printf('%o'), regexp_split_to_array
# (joined to text — no entry returns a bare array column, the Arrow
# list field name differs across engines), and pg_typeof over a real
# double column (literal oracle — DuckDB's typeof names differ).
_q("q76_prefix_ops", """
SELECT c_custkey,
       round(|/ @ c_acctbal, 4) AS sq,
       round(||/ CAST(c_custkey AS double precision), 4) AS cb,
       to_bin(c_custkey) AS bin,
       to_oct(c_custkey + 8) AS oct,
       array_to_string(regexp_split_to_array(c_name, '0+'), '|')
           AS parts,
       pg_typeof(c_acctbal) AS ty
FROM customer
ORDER BY c_custkey
LIMIT 64
""", oracle="""
SELECT c_custkey,
       round(sqrt(abs(c_acctbal)), 4) AS sq,
       round(cbrt(CAST(c_custkey AS DOUBLE)), 4) AS cb,
       CASE WHEN c_custkey = 0 THEN '0' ELSE bin(c_custkey) END AS bin,
       printf('%o', c_custkey + 8) AS oct,
       array_to_string(regexp_split_to_array(c_name, '0+'), '|')
           AS parts,
       'double precision' AS ty
FROM customer
ORDER BY c_custkey
LIMIT 64
""")

# pg-17 MERGE ... RETURNING over the TPC-H tables — DML surface with a
# driver correctness row, not only unit tests. fq.execute copies the caller
# scope, so the mutation never leaks between runs; the returned frame IS the
# RETURNING projection. DuckDB has no MERGE, so the oracle is the pure
# SELECT computing the same affected set. The MATCHED split uses the
# integer per-supplier lineitem COUNT (never a float sum) so the arm choice
# is engine-exact; 600 = the TPC-H lineitem/supplier ratio at every sf.
_q("q60_merge_returning", """
MERGE INTO supplier USING (
  SELECT l_suppkey AS suppkey, count(*) AS n_items FROM lineitem GROUP BY 1
) src ON supplier.s_suppkey = src.suppkey
WHEN MATCHED AND src.n_items >= 600 THEN UPDATE SET s_acctbal = s_acctbal + 1
WHEN MATCHED THEN DELETE
RETURNING merge_action() AS action, s_suppkey, round(s_acctbal, 2) AS bal
""", oracle="""
WITH src AS (
  SELECT l_suppkey AS suppkey, count(*) AS n_items FROM lineitem GROUP BY 1)
SELECT CASE WHEN n_items >= 600 THEN 'UPDATE' ELSE 'DELETE' END AS action,
       s_suppkey,
       round(CASE WHEN n_items >= 600 THEN s_acctbal + 1
             ELSE s_acctbal END, 2) AS bal
FROM supplier JOIN src ON s_suppkey = suppkey
""")

# INSERT ... ON CONFLICT DO UPDATE ... WHERE ... RETURNING — the pg upsert
# audit row. nation keys 20..24 conflict (updated only where the region
# matches the source row's), 25..29 insert; RETURNING = post-images of
# exactly the rows that took an arm.
_q("q61_upsert_returning", """
INSERT INTO nation
SELECT n_nationkey + 20, n_name, n_regionkey
FROM nation WHERE n_nationkey < 10
ON CONFLICT (n_nationkey) DO UPDATE SET n_name = excluded.n_name
WHERE nation.n_regionkey = excluded.n_regionkey
RETURNING n_nationkey, n_name, n_regionkey
""", oracle="""
WITH src AS (
  SELECT n_nationkey + 20 AS k, n_name, n_regionkey
  FROM nation WHERE n_nationkey < 10)
SELECT s.k AS n_nationkey, s.n_name, s.n_regionkey
FROM src s LEFT JOIN nation t ON t.n_nationkey = s.k
WHERE t.n_nationkey IS NULL
UNION ALL
SELECT t.n_nationkey, s.n_name, t.n_regionkey
FROM nation t JOIN src s ON t.n_nationkey = s.k
WHERE t.n_regionkey = s.n_regionkey
""")


# ---------------------------------------------------------------------------
# LLM-pipeline operator entries (dedup / similarity / text / multimodal /
# streaming). These call the operator APIs directly; oracles replicate the
# semantics in DuckDB SQL. Entries without an oracle get rows-only checks.
# ---------------------------------------------------------------------------

# DuckDB trigram-shingle exact-Jaccard pair SQL (shared by jaccard + minhash
# oracles — minhash params give P(miss @0.7) ≈ 2e-19, effectively exact)
_JACCARD_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id1, id2,
       round(common * 1.0 / (c1.n + c2.n - common), 4) AS jaccard
FROM pairs
JOIN cnt c1 ON pairs.id1 = c1.doc_id
JOIN cnt c2 ON pairs.id2 = c2.doc_id
WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7
"""

_SW_EN10 = ["the", "and", "of", "to", "is", "a", "in", "it", "on", "for"]
_LANGS = [("en", ["the", "and", "of", "to", "is"]),
          ("de", ["der", "die", "und", "das", "ist"]),
          ("fr", ["le", "la", "et", "les", "est"]),
          ("es", ["el", "la", "los", "que", "es"])]


def _sw_count_sql(words: list[str]) -> str:
    terms = [
        f"(length(text) - length(regexp_replace(text, '\\b{w}\\b', '', 'g'))) / {len(w)}"
        for w in words
    ]
    return "CAST(" + " + ".join(terms) + " AS DOUBLE)"


def _text_stats_oracle() -> str:
    score = {lang: _sw_count_sql(ws) for lang, ws in _LANGS}
    langs = [lang for lang, _ in _LANGS]
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} > 0"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"{score[lang]} > {score[other]}")
            elif j > i:
                conds.append(f"{score[lang]} >= {score[other]}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    n_tok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    n_punct = "length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))"
    sw_ratio = f"({_sw_count_sql(_SW_EN10)} / {n_tok})"
    len_score = (f"CASE WHEN {n_tok} BETWEEN 10 AND 10000 THEN 1.0 "
                 f"WHEN {n_tok} < 10 THEN CAST({n_tok} AS DOUBLE) / 10.0 ELSE 0.5 END")
    p_ratio = f"CAST({n_punct} AS DOUBLE) / greatest(length(text), 1)"
    # the contraction branch contains a literal apostrophe: SQL-escape it
    bpe_pat = (r"''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
               r"| ?[^\s\p{L}\p{N}]+|\s+")
    return f"""
SELECT doc_id,
       length(text) AS n_chars,
       {n_tok} AS n_tokens,
       len(regexp_extract_all(text, '{bpe_pat}')) AS n_bpe_tokens,
       {n_punct} AS n_punct,
       round({sw_ratio}, 6) AS stopword_ratio,
       round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
             / {n_tok}, 6) AS avg_token_len,
       round(0.5 * ({len_score}) + 0.3 * least({sw_ratio} * 5.0, 1.0)
             + 0.2 * (1.0 - ({p_ratio})), 6) AS quality,
       {lang_sql} AS lang_guess,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def _op(name: str, fn: Callable[[SparkSession, str], DataFrame],
        oracle: str | None) -> None:
    # release the PREVIOUS op's tracked persists (shingle/gram/signature
    # intermediates) before running: op results are lazy, so each op's cache
    # can only be dropped once the caller has materialized it — doing it at
    # the next op's entry bounds a long session to one op's working set.
    # Callers wanting eager release use operators.cache.release_cached().
    def wrapped(spark: SparkSession, sf_dir: str,
                _fn=fn) -> DataFrame:
        from framequery_spark.operators.cache import release_cached
        # checkpoints stay for the ContextCleaner: a released checkpoint
        # fails on re-read, and a caller may still hold the previous op's
        # result (bench releases them fully between reps itself)
        release_cached(checkpoints=False)
        return _fn(spark, sf_dir)

    _OPS[name] = (wrapped, oracle)


_OPS: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _op_text_stats(spark, sf_dir):
    from framequery_spark.operators.text import text_stats

    return text_stats(_scope(spark, sf_dir)["documents"])


def _op_exact_dedup(spark, sf_dir):
    from framequery_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_scope(spark, sf_dir)["documents"],
                            ["lang", "source"])


def _op_jaccard(spark, sf_dir):
    from framequery_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_scope(spark, sf_dir)["documents"], threshold=0.7)


def _op_minhash(spark, sf_dir):
    from framequery_spark.operators.dedup import minhash_lsh_pairs

    # num_perm=32/bands=16 (rows=2): P(miss @ jaccard 0.7) = (1-0.49)^16 ≈ 2e-5,
    # and the whole pipeline is deterministic (seeded) — verified to produce
    # the exact oracle pair set at sf0.01 and sf0.1; candidates are still
    # exact-Jaccard-verified so precision is always 1.0
    return minhash_lsh_pairs(_scope(spark, sf_dir)["documents"],
                             num_perm=32, bands=16, threshold=0.7)


def _op_simhash(spark, sf_dir):
    """SimHash near-dup pairs at the library-default distance
    (max_hamming=3, 4 bands x 15 bits). The driver entry pins the
    SQL-restatable md5-prefix hash (md5_hash60 — the same restatability
    trick winnow_fingerprints uses) so the row is hash-verified
    end to end by _simhash_oracle(60, 3); the library default stays
    xxhash64 (fastest, JVM-side), covered by unit + plan-shape tests.
    op_simhash_exact verifies the other band geometry (max_hamming=8,
    9 bands)."""
    from framequery_spark.operators.dedup import md5_hash60, simhash_near_pairs

    return simhash_near_pairs(_scope(spark, sf_dir)["documents"],
                              max_hamming=3, sig_bits=60,
                              hash_fn=md5_hash60)


def _op_embedding_near_dup(spark, sf_dir):
    from framequery_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_scope(spark, sf_dir)["embeddings"],
                                    threshold=0.45)


def _op_cosine_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import cosine_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _op_ann_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import lsh_ann_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_bits=8, n_tables=4)


def _op_blob_metadata(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.multimodal import attach_blob, blob_metadata

    docs = _scope(spark, sf_dir)["documents"]
    out = blob_metadata(attach_blob(docs))
    return out.select("doc_id", F.col("blob_meta.n_bytes").alias("n_bytes"),
                      F.col("blob_meta.sha256").alias("sha256"),
                      F.lower(F.col("blob_meta.magic")).alias("magic"))


def _op_stream_hourly(spark, sf_dir):
    from framequery_spark.streaming.stream import run_stream_to_df

    return run_stream_to_df(spark, f"{sf_dir}/events.parquet", window="1 hour")


def _op_stateful_counts(spark, sf_dir):
    from framequery_spark.streaming.stream import stateful_user_stats

    return stateful_user_stats(spark, f"{sf_dir}/events.parquet")


def _op_sessions(spark, sf_dir):
    from framequery_spark.streaming.stream import session_stats

    return session_stats(_scope(spark, sf_dir)["events"], gap_minutes=30)


def _op_stream_sessions(spark, sf_dir):
    from framequery_spark.streaming.stream import stream_session_stats

    return stream_session_stats(spark, f"{sf_dir}/events.parquet",
                                gap="30 minutes")


def _op_stream_dedup(spark, sf_dir):
    from framequery_spark.streaming.stream import stream_dedup_counts

    return (stream_dedup_counts(spark, f"{sf_dir}/events.parquet")
            .orderBy("event_type"))


def _simhash_oracle(sig_bits: int = 60, max_hamming: int = 8) -> str:
    """DuckDB mirror of simhash_near_pairs(hash_fn=md5_hash60): all-pairs
    exact Hamming (fine at oracle scale) — the engine's banded candidate
    generation must produce exactly this set (band recall is guaranteed by
    pigeonhole, the final filter is exact)."""
    ones = ", ".join(
        f"sum((hv >> {b}) & 1) AS o{b}" for b in range(sig_bits))
    sig = " | ".join(
        f"(CASE WHEN o{b} * 2 >= n THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(sig_bits))
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv FROM sh),
votes AS (SELECT doc_id, count(*) AS n, {ones} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS sim FROM votes)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


_op("op_text_stats", _op_text_stats, _text_stats_oracle())

_op("op_exact_dedup", _op_exact_dedup, """
SELECT lang, source, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY lang, source HAVING count(*) > 1
""")

_op("op_jaccard_pairs", _op_jaccard, _JACCARD_ORACLE)

_op("op_minhash_dedup", _op_minhash, _JACCARD_ORACLE)

_op("op_simhash_pairs", _op_simhash, _simhash_oracle(60, 3))

_op("op_embedding_near_dup", _op_embedding_near_dup, """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.45
""")

_op("op_cosine_topk", _op_cosine_topk, """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= 5
""")

def _op_mmr_rerank(spark, sf_dir):
    """MMR diversified reranking (operators/similarity.py:mmr_rerank,
    Carbonell & Goldstein 1998): greedy lambda*rel - (1-lambda)*max-sim
    selection over a broadcast-query exact-cosine candidate pool. Every
    cosine/score rounds to 1e-6 before ranking (neighbor_id tiebreaks),
    so the k greedy steps restate 1:1 as the unrolled CTE chain below —
    the PageRank discipline applied to retrieval."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import mmr_rerank

    emb = _scope(spark, sf_dir)["embeddings"]
    return mmr_rerank(emb, emb.filter(F.col("vec_id") < 5), k=3, pool=10)


_op("op_mmr_rerank", _op_mmr_rerank, """
WITH cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS cosine,
         c.embedding AS emb
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY cosine DESC, c.vec_id) <= 10),
s1 AS (
  SELECT query_id, neighbor_id, cosine, emb,
         CAST(round(CAST(0.7 AS DECIMAL(7,6))
                    * CAST(cosine AS DECIMAL(18,6)), 6) AS DOUBLE) AS score
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) = 1),
r1 AS (
  SELECT c.* FROM cand c JOIN s1 ON c.query_id = s1.query_id
  WHERE c.neighbor_id <> s1.neighbor_id),
p2 AS (
  SELECT r.query_id, r.neighbor_id, r.cosine, r.emb,
         CAST(round(CAST(0.7 AS DECIMAL(7,6))
                    * CAST(r.cosine AS DECIMAL(18,6))
                    - CAST(0.3 AS DECIMAL(7,6))
                    * CAST(max(round(list_cosine_similarity(
                          CAST(r.emb AS DOUBLE[]),
                          CAST(s.emb AS DOUBLE[])), 6)) AS DECIMAL(18,6)),
                    6) AS DOUBLE) AS score
  FROM r1 r JOIN s1 s ON r.query_id = s.query_id
  GROUP BY r.query_id, r.neighbor_id, r.cosine, r.emb),
s2 AS (
  SELECT * FROM p2
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) = 1),
r2 AS (
  SELECT r.* FROM r1 r JOIN s2 ON r.query_id = s2.query_id
  WHERE r.neighbor_id <> s2.neighbor_id),
sel12 AS (
  SELECT query_id, emb FROM s1 UNION ALL SELECT query_id, emb FROM s2),
p3 AS (
  SELECT r.query_id, r.neighbor_id, r.cosine, r.emb,
         CAST(round(CAST(0.7 AS DECIMAL(7,6))
                    * CAST(r.cosine AS DECIMAL(18,6))
                    - CAST(0.3 AS DECIMAL(7,6))
                    * CAST(max(round(list_cosine_similarity(
                          CAST(r.emb AS DOUBLE[]),
                          CAST(s.emb AS DOUBLE[])), 6)) AS DECIMAL(18,6)),
                    6) AS DOUBLE) AS score
  FROM r2 r JOIN sel12 s ON r.query_id = s.query_id
  GROUP BY r.query_id, r.neighbor_id, r.cosine, r.emb),
s3 AS (
  SELECT * FROM p3
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) = 1)
SELECT query_id, 1 AS pos, neighbor_id, cosine, score FROM s1
UNION ALL
SELECT query_id, 2, neighbor_id, cosine, score FROM s2
UNION ALL
SELECT query_id, 3, neighbor_id, cosine, score FROM s3
ORDER BY query_id, pos
""")


def _ann_seeded_oracle(k=5, n_bits=8, n_tables=4, dim=64, seed=42) -> str:
    """Independent DuckDB derivation of the seeded LSH-ANN config: the
    hyperplanes are deterministic given (dim, n_bits, seed) — inline them
    as literals, compute each table's sign-bit bucket with
    list_dot_product, take candidates as pairs agreeing on >= 1 table's
    bucket (the engine's bucket equi join restated as a predicate, so no
    dedup step is needed), and re-rank with exact cosine like the
    op_ann_full oracle. This makes the HONEST APPROXIMATE configuration
    hash-verifiable, not just its exact mirror: the only cross-engine
    risk is a sign flip of a near-zero hyperplane dot (numpy GEMM vs
    DuckDB sequential fold, ~1 ulp apart), vanishingly unlikely with
    gaussian planes."""
    from framequery_spark.operators.similarity import _hyperplanes

    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + 97 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in plane)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))
        buckets.append(f"({bits})")
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v, [{', '.join(buckets)}] AS bks FROM base),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM sigs q JOIN sigs c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
    AND len(list_filter(range(1, {n_tables} + 1),
                        i -> q.bks[i] = c.bks[i])) > 0)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= {k}
"""


# seeded hyperplanes -> deterministic buckets -> the approximate config
# itself is hash-verifiable (previously rows-only)
_op("op_ann_topk", _op_ann_topk, _ann_seeded_oracle())


def _op_ann_recall(spark, sf_dir):
    """recall@5 of the seeded LSH-ANN config against exact top-5
    (operators/similarity.py:retrieval_recall) — the acceptance gate an
    ANN configuration is tuned against, as a first-class operator. Both
    result tables are query-count x k; the eval is one equi join + one
    keyed count."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import (cosine_topk,
                                                       lsh_ann_topk,
                                                       retrieval_recall)

    emb = _scope(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 10)
    approx = lsh_ann_topk(emb, q, k=5, n_bits=8, n_tables=4)
    exact = cosine_topk(emb, q, k=5)
    return retrieval_recall(approx, exact, k=5).orderBy("query_id")


def _ann_recall_oracle(k=5, n_bits=8, n_tables=4, dim=64, seed=42) -> str:
    """The seeded-ANN derivation of _ann_seeded_oracle joined against the
    exact-cosine top-k, reduced to per-query recall — one WITH chain so
    the approximate config's QUALITY is hash-verified, not just its
    result set."""
    from framequery_spark.operators.similarity import _hyperplanes

    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + 97 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))
        buckets.append(f"({bits})")
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v, [{', '.join(buckets)}] AS bks FROM base),
apairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM sigs q JOIN sigs c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
    AND len(list_filter(range(1, {n_tables} + 1),
                        i -> q.bks[i] = c.bks[i])) > 0),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM apairs) t WHERE r <= {k}),
epairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM base q JOIN base c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM epairs) t WHERE r <= {k}),
hits AS (
  SELECT query_id, count(*) AS n
  FROM ann JOIN exact USING (query_id, neighbor_id) GROUP BY 1)
SELECT e.query_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(n, 0) AS DOUBLE) / {k}.0, 6) AS recall
FROM (SELECT DISTINCT query_id FROM exact) e
LEFT JOIN hits USING (query_id)
ORDER BY e.query_id
"""


_op("op_ann_recall", _op_ann_recall, _ann_recall_oracle())


def _op_ann_full(spark, sf_dir):
    """LSH-ANN in the exhaustive configuration (n_bits=0: one all-zero
    hyperplane puts every vector in a single bucket), so the bucketize /
    signature / bucket-join / exact-re-rank machinery runs end-to-end and
    the result equals brute-force top-k BY CONSTRUCTION — hash-verified
    against the exact-cosine oracle. op_ann_topk keeps the honest
    approximate configuration (rows-only)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import lsh_ann_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_bits=0, n_tables=1)


_ANN_EXACT_ORACLE = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= 5
"""

_op("op_ann_full", _op_ann_full, _ANN_EXACT_ORACLE)


def _op_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py): 32x-compressed codes,
    ADC lookup-table scan, exact re-rank of the top candidates. Honest
    approximate configuration (16 centroids/subspace) with a FIXED
    seeded codebook (pq.py:fixed_pq_codebooks, the faiss pretrained-
    codebook pattern that made op_ivf_topk verifiable): the quantization
    error is real, but the run is deterministic and the codebook
    literals inline into an independent DuckDB derivation — so the
    approximate path gets a hash-green driver row. The k-means-trained
    path stays driver-covered by op_pq_full (lossless mirror)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.pq import fixed_pq_codebooks, pq_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                   codebooks=fixed_pq_codebooks(8, 16, 64, seed=7))


def _pq_seeded_oracle(k=5, n_subvectors=8, n_centroids=16, dim=64,
                      seed=7, refine=4) -> str:
    """Independent DuckDB derivation of the fixed-codebook PQ config:
    the codebook as a VALUES relation, per-subspace nearest-centroid
    encoding (squared-L2 window with ties to the lower code), the
    reconstructed-vector norm from the selected centroids alone, ADC =
    sum of per-subspace query-centroid dots, the refine*k candidate cut
    on round(adc, 6) (the engine pins the cut the same way — GEMM vs
    sequential summation differ at ulp), then the exact-cosine re-rank
    of op_ann_full."""
    from framequery_spark.operators.pq import fixed_pq_codebooks

    books = fixed_pq_codebooks(n_subvectors, n_centroids, dim, seed=seed)
    sub = dim // n_subvectors
    rows = []
    for s, book in enumerate(books):
        for c, cent in enumerate(book):
            lits = ", ".join(repr(x) for x in cent)
            rows.append(f"({s}, {c}, [{lits}])")
    values = ",\n  ".join(rows)
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
cb(s, c, cv) AS (VALUES {values}),
subs AS (
  SELECT vec_id, CAST(t.s AS INT) AS s,
         list_slice(v, t.s * {sub} + 1, t.s * {sub} + {sub}) AS sv
  FROM base, unnest(range({n_subvectors})) AS t(s)),
enc AS (
  SELECT vec_id, s, cv,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY
           list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
             + list_dot_product(cv, cv), c) AS rn
  FROM subs JOIN cb USING (s)),
sel AS (SELECT vec_id, s, cv FROM enc WHERE rn = 1),
norms AS (SELECT vec_id, sqrt(sum(list_dot_product(cv, cv))) AS pq_norm
          FROM sel GROUP BY vec_id),
qs AS (SELECT vec_id AS query_id, s, sv AS qsv
       FROM subs WHERE vec_id < 10),
qn AS (SELECT vec_id AS query_id, sqrt(list_dot_product(v, v)) AS qn
       FROM base WHERE vec_id < 10),
adc AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         sum(list_dot_product(q.qsv, e.cv)) AS dot
  FROM qs q JOIN sel e ON q.s = e.s AND q.query_id <> e.vec_id
  GROUP BY 1, 2),
cand AS (
  SELECT a.query_id, a.neighbor_id,
         row_number() OVER (PARTITION BY a.query_id ORDER BY
           round(a.dot / (qn.qn * n.pq_norm), 6) DESC,
           a.neighbor_id) AS ar
  FROM adc a JOIN qn ON qn.query_id = a.query_id
             JOIN norms n ON n.vec_id = a.neighbor_id),
pairs AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(q.v, x.v), 6) AS cosine
  FROM cand c JOIN base q ON q.vec_id = c.query_id
              JOIN base x ON x.vec_id = c.neighbor_id
  WHERE c.ar <= {refine * k})
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= {k}
"""


# fixed seeded codebook -> deterministic encoding/ADC -> the approximate
# config itself is hash-verifiable (previously rows-only)
_op("op_pq_topk", _op_pq_topk, _pq_seeded_oracle())


def _op_pq_full(spark, sf_dir):
    """PQ in the lossless configuration (n_centroids covers every distinct
    subvector, so codebooks enumerate the subvectors, encoding is exact,
    and ADC ranking equals exact ranking): the whole train / encode / LUT /
    ADC / refine pipeline must reproduce brute-force top-k bit-for-bit
    against the same oracle as op_cosine_topk/op_ann_full. (Lossless needs
    the training sample to cover the corpus: 20k >= 5000 rows at sf0.1.)"""
    from pyspark.sql import functions as F

    from framequery_spark.operators.pq import pq_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                   n_subvectors=8, n_centroids=20000)


_op("op_pq_full", _op_pq_full, _ANN_EXACT_ORACLE)


def _op_quantize_emb(spark, sf_dir):
    """Int8 embedding quantization (operators/quantize.py): symmetric
    per-vector scale, codes bit-for-bit reproducible in ANSI SQL (rounding
    pinned to floor(x+0.5) in both engines). Output exploded to scalar rows
    so the driver hash covers every code."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.quantize import quantize_embeddings

    emb = _scope(spark, sf_dir)["embeddings"].where(F.col("vec_id") < 50)
    q = quantize_embeddings(emb)
    # posexplode_outer: plain posexplode makes Catalyst infer a
    # size(codes)>0 pre-filter that INLINES the whole quantize expression
    # and evaluates it on every scanned row (measured 30x slowdown);
    # embeddings are never empty so outer-vs-inner is value-identical here
    return (q.select("vec_id", "q_scale",
                     F.posexplode_outer("q_codes").alias("idx", "code"))
            .select("vec_id", F.col("idx").cast("int").alias("idx"),
                    "code", "q_scale")
            .orderBy("vec_id", "idx"))


_op("op_quantize_emb", _op_quantize_emb, """
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> abs(x))) / 127.0 AS q_scale,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(greatest(least(floor(x / (list_max(list_transform(
                  CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0) + 0.5),
                  127), -127) AS TINYINT)) AS codes
  FROM embeddings WHERE vec_id < 50)
SELECT vec_id, CAST(i AS INT) AS idx, codes[i + 1] AS code, q_scale
FROM q, unnest(range(len(codes))) AS t(i)
ORDER BY vec_id, idx
""")


def _op_simhash_exact(spark, sf_dir):
    """SimHash with the SQL-reproducible hash (md5-hex prefix -> 60-bit int
    instead of xxhash64): the ENTIRE algorithm — shingling, per-shingle
    hash, per-bit majority vote, signature assembly, band-bucket candidate
    join, exact Hamming filter — is mirrored bit-for-bit by the DuckDB
    oracle below, so a green row verifies the whole pipeline including the
    band trick's recall guarantee at the 9-band geometry. op_simhash_pairs
    verifies the library-default geometry (max_hamming=3, 4 bands) the same
    way; the xxhash64 production hash (no SQL restatement) is covered by
    unit and plan-shape tests."""
    from framequery_spark.operators.dedup import md5_hash60, simhash_near_pairs

    return simhash_near_pairs(_scope(spark, sf_dir)["documents"],
                              max_hamming=8, sig_bits=60,
                              hash_fn=md5_hash60)


_op("op_simhash_exact", _op_simhash_exact, _simhash_oracle())

_op("op_blob_metadata", _op_blob_metadata, """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256,
       lower(hex(encode(substring(text, 1, 4)))) AS magic
FROM documents
""")

_op("op_stream_hourly", _op_stream_hourly, """
SELECT event_type, date_trunc('hour', ts) AS window_start,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")

_op("op_stateful_counts", _op_stateful_counts, """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id
""")

_op("op_sessions", _op_sessions, """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       round(sum(value), 2) AS sum_value, min(ts) AS session_start
FROM s GROUP BY 1, 2
""")


# Spark merges an event into an open session only while ts < last_ts + gap,
# so a gap of exactly 30 min STARTS a new session -> oracle uses >=.
_op("op_stream_sessions", _op_stream_sessions, """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, session_id
""")

_op("op_stream_dedup", _op_stream_dedup, """
SELECT event_type, count(*) AS n_unique
FROM (SELECT DISTINCT event_type, user_id, date_trunc('minute', ts)
      FROM events)
GROUP BY event_type ORDER BY event_type
""")


def _op_decode_image(spark, sf_dir):
    """Multimodal decode plumbing, driver-verified: the deterministic
    stand-in decoder derives dims from the content sha256, which the SQL
    oracle replicates byte-for-byte (the float32 feature vector is omitted
    from the compare — float32 vs DuckDB float64 would hash-differ)."""
    from framequery_spark.operators.multimodal import attach_blob, decode_image

    docs = _scope(spark, sf_dir)["documents"]
    return decode_image(attach_blob(docs)).select(
        "doc_id", "width", "height", "n_channels")


_op("op_decode_image", _op_decode_image, """
SELECT doc_id,
       64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) AS width,
       64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) AS height,
       3 AS n_channels
FROM documents
""")


def _op_frame_sample(spark, sf_dir):
    from framequery_spark.operators.multimodal import attach_blob, frame_sample

    docs = _scope(spark, sf_dir)["documents"]
    return frame_sample(attach_blob(docs), every_n=10).select(
        "doc_id", "frame_idx", "frame_sha")


_op("op_frame_sample", _op_frame_sample, """
WITH f AS (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) // 32 AS INT) AS n_frames
  FROM documents)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       sha256(text || CAST(i AS VARCHAR)) AS frame_sha
FROM f, LATERAL unnest(generate_series(0, greatest(n_frames - 1, 0), 10)) AS t(i)
""")


def _op_skew_count_distinct(spark, sf_dir):
    """Two-phase (skew-safe) exact distinct users per event type — hot keys
    spread across the cluster on the dedup shuffle instead of funneling
    into one reducer."""
    from framequery_spark.operators.skew import skew_safe_count_distinct

    ev = _scope(spark, sf_dir)["events"]
    return skew_safe_count_distinct(ev, ["event_type"], "user_id")


_op("op_skew_count_distinct", _op_skew_count_distinct, """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type
""")


def _op_pii_scrub(spark, sf_dir):
    """PII redaction over documents. The testdata has no natural PII, so a
    deterministic synthetic email+phone is appended per doc (mirrored in
    the oracle) — every row exercises the actual replacement path."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import pii_scrub

    docs = _scope(spark, sf_dir)["documents"]
    docs = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com or 555-123-4567.")))
    return pii_scrub(docs).select("doc_id", "clean_text", "pii_found")


_op("op_pii_scrub", _op_pii_scrub, r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567.' AS text
  FROM documents),
c AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<ssn>', 'g'),
             '\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<phone>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<ipv4>', 'g') AS clean_text
  FROM t)
SELECT doc_id, clean_text, clean_text <> text AS pii_found FROM c
""")


def _op_repetition_stats(spark, sf_dir):
    from framequery_spark.operators.text import repetition_stats

    return repetition_stats(_scope(spark, sf_dir)["documents"])


_op("op_repetition_stats", _op_repetition_stats, r"""
WITH base AS (
  SELECT doc_id,
         str_split_regex(trim(lower(text)), '\s+') AS toks,
         list_filter(str_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS ls
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM base),
freq AS (
  SELECT doc_id, max(c) AS maxc, sum(c) AS n FROM (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
  GROUP BY doc_id)
SELECT b.doc_id,
       round(CASE WHEN len(ls) > 0
                  THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
                  ELSE 0.0 END, 4) AS dup_line_ratio,
       round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
         AS dup_token_ratio,
       round(CAST(f.maxc AS DOUBLE) / f.n, 4) AS top_token_ratio
FROM base b JOIN freq f USING (doc_id)
""")


def _op_asof_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.asof import asof_join

    ev = _scope(spark, sf_dir)["events"]
    left = (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"))
    right = (ev.filter(F.col("event_type") == "click")
             .select(F.col("event_id").alias("click_id"), "user_id",
                     F.col("ts").alias("click_ts")))
    return asof_join(left, right, on=["user_id"], left_ts="ts",
                     right_ts="click_ts", right_cols=["click_id", "click_ts"],
                     strict=True, tiebreak="click_id")


def _op_range_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.asof import range_join

    ev = _scope(spark, sf_dir)["events"]
    left = (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"))
    right = (ev.filter(F.col("event_type") == "click")
             .select(F.col("event_id").alias("click_id"), "user_id",
                     F.col("ts").alias("click_ts")))
    return range_join(left, right, on=["user_id"], left_ts="ts",
                      right_ts="click_ts", lower_seconds=0,
                      upper_seconds=3600).select(
        "event_id", "user_id", "ts", "click_id", "click_ts")


def _op_doc_chunks(spark, sf_dir):
    from framequery_spark.operators.text import doc_chunks

    return doc_chunks(_scope(spark, sf_dir)["documents"], size=120, overlap=20)


def _op_levenshtein_pairs(spark, sf_dir):
    from framequery_spark.operators.dedup import levenshtein_pairs

    return levenshtein_pairs(_scope(spark, sf_dir)["documents"],
                             max_distance=8, prefix=64, band=16)


def _op_ivf_topk(spark, sf_dir):
    """IVF in the honest approximate configuration (probe 2 of 4 cells),
    with a FIXED seeded quantizer (similarity.py:fixed_random_centroids)
    instead of data-trained k-means: the probing approximation is real
    (results differ from exact top-k), but the run is deterministic and
    the centroid literals inline into an independent DuckDB derivation —
    so the approximate path gets a hash-green driver row, not just its
    exact mirror. The k-means-trained path stays driver-covered by
    op_ivf_full_probe."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import (
        fixed_random_centroids, ivf_topk)

    emb = _scope(spark, sf_dir)["embeddings"]
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                    n_probe=2,
                    centroids=fixed_random_centroids(4, 64, seed=7))


_op("op_asof_join", _op_asof_join, """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts, r.click_id, r.click_ts
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts > r.click_ts
""")

_op("op_range_join", _op_range_join, """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click')
SELECT l.event_id, l.user_id, l.ts, r.click_id, r.click_ts
FROM l JOIN r ON l.user_id = r.user_id
 AND r.click_ts >= l.ts - INTERVAL 1 HOUR AND r.click_ts < l.ts
""")

_op("op_doc_chunks", _op_doc_chunks, """
WITH s AS (
  SELECT doc_id, text,
         unnest(range(0, (greatest(length(text) - 1, 0)) // 100 + 1)) AS i
  FROM documents WHERE length(text) > 0)
SELECT doc_id, CAST(i AS INT) AS chunk_id, substr(text, i * 100 + 1, 120) AS chunk,
       CAST(length(substr(text, i * 100 + 1, 120)) AS INT) AS chunk_len
FROM s
""")

_op("op_levenshtein_pairs", _op_levenshtein_pairs, """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS INT) AS distance
FROM documents a JOIN documents b
  ON a.doc_id < b.doc_id AND abs(length(a.text) - length(b.text)) <= 16
WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 8
""")

def _ivf_seeded_oracle(k=5, n_centroids=4, n_probe=2, dim=64,
                       seed=7) -> str:
    """Independent DuckDB derivation of the fixed-quantizer IVF config:
    squared-L2 distance to each literal centroid (|v|^2 - 2 v.c + |c|^2,
    the engine's GEMM formula restated with list_dot_product), cell =
    argmin with ties to the lower cell id (struct list_sort), queries
    probe the n_probe nearest cells, candidates = corpus rows in probed
    cells, exact-cosine re-rank like the op_ann_full oracle."""
    from framequery_spark.operators.similarity import (
        fixed_random_centroids)

    cents = fixed_random_centroids(n_centroids, dim, seed=seed)
    ds = []
    for i, c in enumerate(cents):
        lits = ", ".join(repr(x) for x in c)
        c2 = repr(sum(x * x for x in c))
        ds.append(
            f"struct_pack(d := list_dot_product(v, v) "
            f"- 2 * list_dot_product(v, [{lits}]) + {c2}, i := {i})")
    probes = ", ".join(f"sds[{j + 1}].i" for j in range(n_probe))
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cells AS (
  SELECT vec_id, v, list_sort([{', '.join(ds)}]) AS sds FROM base),
c AS (SELECT vec_id AS neighbor_id, v AS cv, sds[1].i AS cell FROM cells),
q AS (SELECT vec_id AS query_id, v AS qv, [{probes}] AS probes
      FROM cells WHERE vec_id < 10),
pairs AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS cosine
  FROM q JOIN c ON list_contains(probes, cell)
               AND query_id <> neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= {k}
"""


# fixed seeded quantizer -> deterministic cells -> the approximate config
# itself is hash-verifiable (previously rows-only)
_op("op_ivf_topk", _op_ivf_topk, _ivf_seeded_oracle())


def _op_ivf_full_probe(spark, sf_dir):
    """IVF with n_probe == n_centroids: probing every cell makes the result
    equal exact brute-force top-k BY CONSTRUCTION, so the whole IVF pipeline
    (driver-side k-means training, map-side cell assignment, cell-equi
    candidate join, cosine re-rank) is verified end-to-end against the exact
    SQL oracle. op_ivf_topk keeps the honest approximate configuration."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import ivf_topk

    emb = _scope(spark, sf_dir)["embeddings"]
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                    n_centroids=16, n_probe=16)


_op("op_ivf_full_probe", _op_ivf_full_probe, """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= 5
""")


def _op_hash_split(spark, sf_dir):
    """Deterministic md5-threshold train/val/test split: narrow (no shuffle),
    byte-exact across engines; keysum pins exact membership, not just
    counts."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.sampling import hash_split

    return (hash_split(_scope(spark, sf_dir)["orders"], "o_orderkey")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("keysum"))
            .orderBy("split"))


_op("op_hash_split", _op_hash_split, """
WITH h AS (
  SELECT o_orderkey,
         substr(md5(concat(cast(o_orderkey AS varchar), 'split')), 1, 8) AS hx
  FROM orders)
SELECT CASE WHEN hx < 'cccccccd' THEN 'train'
            WHEN hx < 'e6666666' THEN 'val' ELSE 'test' END AS split,
       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM h GROUP BY 1 ORDER BY 1
""")


def _op_stratified_split(spark, sf_dir):
    """Exact-quota per-stratum split (operators/sampling.py:
    stratified_split): dense_rank over md5(key) inside each (lang, source)
    stratum, so every stratum hits its 0.8/0.1/0.1 target to within one
    key — where hash_split drifts O(1/sqrt(n)) on small strata. keysum
    pins exact membership per (lang, split), not just counts."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.sampling import stratified_split

    return (stratified_split(_scope(spark, sf_dir)["documents"],
                             ["lang", "source"], "doc_id")
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").alias("keysum"))
            .orderBy("lang", "split"))


_op("op_stratified_split", _op_stratified_split, """
WITH ranked AS (
  SELECT lang, source, doc_id,
         dense_rank() OVER (PARTITION BY lang, source
             ORDER BY substr(md5(concat(CAST(doc_id AS VARCHAR), 'split')),
                             1, 8), doc_id) AS rk
  FROM documents
), sized AS (
  SELECT *, max(rk) OVER (PARTITION BY lang, source) AS n FROM ranked
)
SELECT lang,
       CASE WHEN rk <= floor(n * 0.8 + 0.5) THEN 'train'
            WHEN rk <= floor(n * 0.9 + 0.5) THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS keysum
FROM sized GROUP BY 1, 2 ORDER BY 1, 2
""")


def _op_det_sample(spark, sf_dir):
    """Hash-threshold key sampling (leakage-proof: all lineitems of a kept
    order are kept); pure pushdown-able filter."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.sampling import deterministic_sample

    return (deterministic_sample(_scope(spark, sf_dir)["lineitem"],
                                 "l_orderkey", 0.25)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("qty"))
            .orderBy("l_returnflag"))


_op("op_det_sample", _op_det_sample, """
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
WHERE substr(md5(concat(cast(l_orderkey AS varchar), 'sample')), 1, 8)
      < '40000000'
GROUP BY l_returnflag ORDER BY l_returnflag
""")


def _op_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k (map-side partial agg + TakeOrderedAndProject;
    deterministic term-asc tiebreak)."""
    from framequery_spark.operators.text import vocab_topk

    return vocab_topk(_scope(spark, sf_dir)["documents"], "text", 50)


_op("op_vocab_topk", _op_vocab_topk, r"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents)
SELECT term, count(*) AS term_count
FROM t WHERE term <> ''
GROUP BY term ORDER BY term_count DESC, term LIMIT 50
""")


def _op_tf_idf(spark, sf_dir):
    """Per-(doc, term) TF-IDF; N via broadcast 1-row aggregate (no driver
    round-trip). Restricted to doc_id < 50 to keep the oracle compare
    small; the plan is the full-corpus plan."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import tf_idf

    return (tf_idf(_scope(spark, sf_dir)["documents"], "text", "doc_id")
            .filter(F.col("doc_id") < 50))


_op("op_tf_idf", _op_tf_idf, r"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> ''
  GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df_t,
       round(tf * ln(n_docs * 1.0 / df_t), 6) AS tfidf
FROM tf JOIN dft USING (term) CROSS JOIN n
WHERE doc_id < 50
""")


def _op_pack_bins(spark, sf_dir):
    """Sequence packing into 2048-token bins, sharded by lang (window cumsum
    — one shuffle, parallel per shard)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.packing import pack_bins
    from framequery_spark.operators.text import token_count

    docs = _scope(spark, sf_dir)["documents"]
    packed = pack_bins(docs.withColumn("n_tokens", token_count(F.col("text"))),
                       "n_tokens", 2048, "lang", ("doc_id",))
    return (packed.groupBy("lang", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tok"))
            .orderBy("lang", "bin_id"))


_op("op_pack_bins", _op_pack_bins, r"""
WITH t AS (
  SELECT lang, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents),
b AS (
  SELECT lang, doc_id, n_tokens,
         CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
               - n_tokens) // 2048 AS BIGINT) AS bin_id
  FROM t)
SELECT lang, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok
FROM b GROUP BY lang, bin_id ORDER BY lang, bin_id
""")


def _op_det_shuffle(spark, sf_dir):
    """Deterministic (engine-exact) dataset shuffle: the first 100 docs of
    the md5 permutation — pins the permutation prefix."""
    from framequery_spark.operators.packing import deterministic_shuffle

    docs = _scope(spark, sf_dir)["documents"]
    return deterministic_shuffle(docs, "doc_id").select("doc_id").limit(100)


_op("op_det_shuffle", _op_det_shuffle, """
SELECT doc_id FROM documents
ORDER BY md5(concat(cast(doc_id AS varchar), 'shuffle')), doc_id
LIMIT 100
""")


def _op_ngram_topk(spark, sf_dir):
    """Top word-bigrams (row-local gram construction via let-bound HOFs; one
    count shuffle; TakeOrderedAndProject top-k)."""
    from framequery_spark.operators.text import ngram_counts

    return ngram_counts(_scope(spark, sf_dir)["documents"], "text", 2, 30)


_op("op_ngram_topk", _op_ngram_topk, r"""
WITH arr AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS a FROM documents),
bi AS (
  SELECT unnest([a[i] || ' ' || a[i+1] FOR i IN generate_series(1, len(a)-1)])
         AS ngram
  FROM arr WHERE len(a) >= 2)
SELECT ngram, count(*) AS ngram_count
FROM bi GROUP BY ngram ORDER BY ngram_count DESC, ngram LIMIT 30
""")


def _op_pipeline_e2e(spark, sf_dir):
    """End-to-end training-data pipeline composed from the operator library:
    lang+length filter → exact dedup on content fingerprint → 256-char
    chunking → 512-token sequence packing per shard. Every stage is
    deterministic, so the whole composition oracles exactly."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.dedup import exact_dedup
    from framequery_spark.operators.packing import pack_bins
    from framequery_spark.operators.text import (content_fingerprint,
                                                 doc_chunks, token_count)

    docs = _scope(spark, sf_dir)["documents"]
    filtered = (docs.withColumn("fp", content_fingerprint(F.col("text")))
                .filter((F.col("lang") == "en")
                        & (token_count(F.col("text")) >= 20)))
    deduped = exact_dedup(filtered, ["fp"], "doc_id")
    chunks = (doc_chunks(deduped, size=256, overlap=0)
              .withColumn("shard", F.col("doc_id") % 4)
              .withColumn("n_tokens", token_count(F.col("chunk"))))
    packed = pack_bins(chunks, "n_tokens", 512, "shard",
                       ("doc_id", "chunk_id"))
    return (packed.groupBy("shard", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("n_tokens").alias("tok"))
            .orderBy("shard", "bin_id"))


_op("op_pipeline_e2e", _op_pipeline_e2e, r"""
WITH filtered AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
  WHERE lang = 'en'
    AND len(regexp_split_to_array(trim(text), '\s+')) >= 20),
deduped AS (
  SELECT doc_id, text FROM filtered
  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_id,
         substr(text, i * 256 + 1, 256) AS chunk
  FROM (SELECT doc_id, text,
               unnest(range(0, (greatest(length(text) - 1, 0)) // 256 + 1)) AS i
        FROM deduped WHERE length(text) > 0)),
toks AS (
  SELECT doc_id % 4 AS shard, doc_id, chunk_id,
         len(regexp_split_to_array(trim(chunk), '\s+')) AS n_tokens
  FROM chunks),
packed AS (
  SELECT shard,
         CAST((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id)
               - n_tokens) // 512 AS BIGINT) AS bin_id,
         n_tokens
  FROM toks)
SELECT CAST(shard AS BIGINT) AS shard, bin_id, count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS tok
FROM packed GROUP BY shard, bin_id ORDER BY shard, bin_id
""")


def _op_dup_clusters(spark, sf_dir):
    """Connected components (large-star/small-star, operators/graph.py) over
    a chain-shaped pair graph: consecutive doc_ids within each (lang, source)
    group are paired, so the component label must propagate TRANSITIVELY down
    chains of dozens-to-hundreds of docs — a direct test of the fixpoint, not
    just one join hop. The expected clusters are exactly the (lang, source)
    groups, which a window-function oracle states declaratively."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from framequery_spark.operators.graph import dup_clusters

    docs = _scope(spark, sf_dir)["documents"]
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    pairs = (docs.select("doc_id", "lang", "source",
                         F.lag("doc_id").over(w).alias("prev_id"))
             .where(F.col("prev_id").isNotNull())
             .select(F.col("prev_id").alias("id1"),
                     F.col("doc_id").alias("id2")))
    return dup_clusters(pairs).orderBy("doc_id")


_op("op_dup_clusters", _op_dup_clusters, """
WITH g AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY lang, source) AS cluster_id,
         count(*) OVER (PARTITION BY lang, source) AS n
  FROM documents)
SELECT doc_id, cluster_id FROM g WHERE n > 1 ORDER BY doc_id
""")


def _op_minhash_clusters(spark, sf_dir):
    """The full fuzzy-dedup composition, hash-verified end-to-end: MinHash/
    LSH candidate pairs (P(miss @0.7) ≈ 2e-5 at these params, verified
    exact-Jaccard) -> large-star/small-star connected components ->
    (doc_id, cluster_id). The DuckDB oracle recomputes exact-Jaccard pairs
    and closes them transitively with a recursive-CTE label propagation."""
    from framequery_spark.operators.graph import minhash_dup_clusters

    return minhash_dup_clusters(_scope(spark, sf_dir)["documents"],
                                threshold=0.7, num_perm=32,
                                bands=16).orderBy("doc_id")


_op("op_minhash_clusters", _op_minhash_clusters, r"""
WITH RECURSIVE w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id1, id2 FROM p
  JOIN cnt c1 ON p.id1 = c1.doc_id JOIN cnt c2 ON p.id2 = c2.doc_id
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7),
e AS (SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
r AS (
  SELECT DISTINCT src AS node, src AS label FROM e
  UNION
  SELECT e.dst, r.label FROM r JOIN e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM r GROUP BY node
ORDER BY doc_id
""")


def _op_dedup_keep_best(spark, sf_dir):
    """Quality-policy fuzzy dedup (operators/graph.py:dedup_keep_best):
    the survivor of each transitive near-dup cluster is the LONGEST
    document (n_chars, ties to lowest id) instead of the lowest id —
    the production keep policy. Same LSH params as op_minhash_clusters
    (exact-equivalent there); the oracle closes exact-Jaccard pairs
    transitively and drops every cluster member ranked below the
    (n_chars DESC, doc_id) argmax."""
    from framequery_spark.operators.graph import dedup_keep_best

    docs = _scope(spark, sf_dir)["documents"]
    out = dedup_keep_best(docs, "n_chars", threshold=0.7, num_perm=32,
                          bands=16)
    return out.select("doc_id", "n_chars").orderBy("doc_id")


_op("op_dedup_keep_best", _op_dedup_keep_best, r"""
WITH RECURSIVE w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id1, id2 FROM p
  JOIN cnt c1 ON p.id1 = c1.doc_id JOIN cnt c2 ON p.id2 = c2.doc_id
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7),
e AS (SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs),
r AS (
  SELECT DISTINCT src AS node, src AS label FROM e
  UNION
  SELECT e.dst, r.label FROM r JOIN e ON e.src = r.node
),
cl AS (SELECT node AS doc_id, min(label) AS cluster_id FROM r GROUP BY node),
rk AS (
  SELECT cl.doc_id,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY d.n_chars DESC, cl.doc_id) AS rnk
  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM rk WHERE rnk > 1)
ORDER BY d.doc_id
""")


def _op_token_budget(spark, sf_dir):
    """Data-recipe assembly (operators/packing.py:take_token_budget):
    greedily take the highest-quality documents (here: n_chars desc, ties
    to lowest doc_id) until a 15k-token budget is hit. The engine computes
    the exact global prefix sum with a two-phase distributed cumsum
    (bucket offsets over a bounded aggregate + per-bucket parallel
    windows); the oracle states the same selection with one declarative
    window cumsum. chunk=64 forces the multi-bucket path at test scale."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.packing import take_token_budget
    from framequery_spark.operators.text import token_count

    docs = _scope(spark, sf_dir)["documents"]
    t = docs.select("doc_id", "n_chars",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    return (take_token_budget(t, 15000, score_col="n_chars",
                              token_col="n_tokens", chunk=64)
            .orderBy("doc_id"))


_op("op_token_budget", _op_token_budget, r"""
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS cum_tokens
  FROM t)
SELECT doc_id, n_tokens, cum_tokens FROM c
WHERE cum_tokens <= 15000 ORDER BY doc_id
""")


def _op_span_dedup(spark, sf_dir):
    """Exact substring dedup (operators/dedup.py:remove_repeated_spans),
    Lee et al. 2022 style: every word 8-gram occurring >= 2 times
    corpus-wide marks its token span as boilerplate; each document is
    rewritten with every covered span removed (all occurrences — the
    symmetric policy of the released deduplicate-text-datasets tool).
    Fully deterministic (exact string grams), so the DuckDB oracle
    recomputes the same span algebra independently: grams via
    list_slice, coverage via a position-range anti-match, rebuild via
    ordered string_agg."""
    from framequery_spark.operators.dedup import remove_repeated_spans

    docs = _scope(spark, sf_dir)["documents"]
    return (remove_repeated_spans(docs, k=8, min_copies=2)
            .orderBy("doc_id"))


_op("op_span_dedup", _op_span_dedup, r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws)-7, 0)),
          i -> struct_pack(pos := i,
                           gram := array_to_string(list_slice(ws, i+1, i+8), ' ')))) AS u
  FROM d),
g2 AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
c AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
dp AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN c USING (gram)),
cov AS (SELECT DISTINCT dp.doc_id, dp.pos + j AS tp FROM dp, range(8) s(j)),
tok AS (
  SELECT doc_id, unnest(list_transform(range(0, len(ws)),
          i -> struct_pack(tp := i, tok := ws[i+1]))) AS u
  FROM d),
tok2 AS (SELECT doc_id, u.tp AS tp, u.tok AS tok FROM tok),
cleaned AS (
  SELECT t.doc_id,
         coalesce(string_agg(t.tok, ' ' ORDER BY t.tp)
                  FILTER (WHERE cov.tp IS NULL), '') AS clean_text,
         count(*) FILTER (WHERE cov.tp IS NOT NULL) AS n_removed_tokens
  FROM tok2 t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.tp = cov.tp
  GROUP BY t.doc_id)
SELECT doc_id, clean_text, n_removed_tokens FROM cleaned ORDER BY doc_id
""")


def _op_dedup_against(spark, sf_dir):
    """Incremental dedup (operators/dedup.py:dedup_against): odd-doc_id docs
    ("the new batch") that survive MinHash/LSH near-dup screening against the
    even-doc_id docs ("the existing corpus"). Cross-corpus banding with
    shared seeded permutations; num_perm=64/bands=32 halves the signature
    aggregate vs the 128-perm default at P(miss @ jaccard 0.7) =
    (1-0.49)^32 ≈ 4e-10 — still indistinguishable from the exact-Jaccard
    oracle (verified: identical rows at sf0.1)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.dedup import dedup_against

    docs = _scope(spark, sf_dir)["documents"]
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return (dedup_against(new, corpus, threshold=0.7, num_perm=64, bands=32)
            .select("doc_id").orderBy("doc_id"))


_op("op_dedup_against", _op_dedup_against, """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS cid, b.doc_id AS nid, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2),
matched AS (
  SELECT DISTINCT nid FROM pairs
  JOIN cnt c1 ON pairs.cid = c1.doc_id
  JOIN cnt c2 ON pairs.nid = c2.doc_id
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7)
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT nid FROM matched)
ORDER BY doc_id
""")


def _op_bloom_dedup(spark, sf_dir):
    """Bloom-prefiltered incremental exact dedup (operators/bloom.py):
    odd-doc_id docs surviving an exact-text check against the even-doc_id
    corpus. The broadcast Bloom filter routes bloom-negative rows around the
    anti join entirely (map-side, no shuffle); no false negatives means the
    result is EXACTLY the anti join, so the oracle is exact."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.bloom import bloom_dedup_against

    docs = _scope(spark, sf_dir)["documents"]
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return (bloom_dedup_against(new, corpus, ["text"])
            .select("doc_id").orderBy("doc_id"))


_op("op_bloom_dedup", _op_bloom_dedup, """
SELECT doc_id FROM documents d
WHERE doc_id % 2 = 1
  AND NOT EXISTS (SELECT 1 FROM documents c
                  WHERE c.doc_id % 2 = 0 AND c.text = d.text)
ORDER BY doc_id
""")


def _op_gapfill(spark, sf_dir):
    """TimescaleDB-style gap-filled rollup (operators/asof.py:
    time_bucket_gapfill): daily per-user sums on a dense calendar grid
    with locf fill. Grid generated distributed (per-key min/max agg +
    sequence explode), one agg shuffle, one equi join, one fill window."""
    from framequery_spark.operators.asof import time_bucket_gapfill

    return (time_bucket_gapfill(_scope(spark, sf_dir)["events"],
                                bucket="day", agg="sum")
            .orderBy("user_id", "bucket_ts"))


_op("op_gapfill", _op_gapfill, r"""
WITH b AS (
  SELECT user_id, date_trunc('day', ts) AS bucket_ts,
         round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2),
spans AS (SELECT user_id, min(bucket_ts) lo, max(bucket_ts) hi
          FROM b GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket_ts
  FROM spans)
SELECT user_id, bucket_ts, sum_value, locf,
       round(CASE WHEN sum_value IS NOT NULL THEN sum_value
                  WHEN locf IS NOT NULL AND next_v IS NOT NULL THEN
                    locf + (next_v - locf) * (x - prev_x) / (next_x - prev_x)
             END, 6) AS interpolated
FROM (
  SELECT g.user_id, g.bucket_ts, b.sum_value,
         epoch(g.bucket_ts) AS x,
         last_value(b.sum_value IGNORE NULLS) OVER w_prev AS locf,
         last_value(CASE WHEN b.sum_value IS NOT NULL
                         THEN epoch(g.bucket_ts) END IGNORE NULLS)
           OVER w_prev AS prev_x,
         first_value(b.sum_value IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN b.sum_value IS NOT NULL
                          THEN epoch(g.bucket_ts) END IGNORE NULLS)
           OVER w_next AS next_x
  FROM grid g LEFT JOIN b USING (user_id, bucket_ts)
  WINDOW w_prev AS (PARTITION BY g.user_id ORDER BY g.bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_next AS (PARTITION BY g.user_id ORDER BY g.bucket_ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
ORDER BY user_id, bucket_ts
""")


def _op_gopher_filter(spark, sf_dir):
    """Gopher-rule composite quality filter (operators/text.py:
    gopher_quality_filter): per-rule verdicts + keep in one row-local
    codegen'd select, zero shuffle. Thresholds tuned so the synthetic
    corpus splits on every rule."""
    from framequery_spark.operators.text import gopher_quality_filter

    return (gopher_quality_filter(
        _scope(spark, sf_dir)["documents"],
        min_tokens=20, max_tokens=1000,
        min_avg_token_len=2.0, max_avg_token_len=12.0,
        max_dup_token_ratio=0.6, max_top_token_ratio=0.15,
        min_stopword_ratio=0.01).orderBy("doc_id"))


_op("op_gopher_filter", _op_gopher_filter, r"""
WITH base AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         str_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM base),
freq AS (
  SELECT doc_id, max(c) AS maxc, sum(c) AS n FROM (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
  GROUP BY doc_id),
m AS (
  SELECT b.doc_id, b.n_tok,
         length(regexp_replace(trim(b.text), '\s+', '', 'g')) * 1.0
           / b.n_tok AS avg_len,
         1.0 - CAST(len(list_distinct(b.toks)) AS DOUBLE) / len(b.toks)
           AS dup_tok,
         CAST(f.maxc AS DOUBLE) / f.n AS top_tok,
         (CAST((length(b.text) - length(regexp_replace(b.text, '\bthe\b', '', 'g'))) / 3
             + (length(b.text) - length(regexp_replace(b.text, '\band\b', '', 'g'))) / 3
             + (length(b.text) - length(regexp_replace(b.text, '\bof\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\bto\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\bis\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\ba\b', '', 'g'))) / 1
             + (length(b.text) - length(regexp_replace(b.text, '\bin\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\bit\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\bon\b', '', 'g'))) / 2
             + (length(b.text) - length(regexp_replace(b.text, '\bfor\b', '', 'g'))) / 3
           AS DOUBLE)) / b.n_tok AS sw_ratio
  FROM base b JOIN freq f USING (doc_id))
SELECT doc_id, n_tok AS n_tokens,
       n_tok BETWEEN 20 AND 1000 AS ok_length,
       avg_len >= 2.0 AND avg_len <= 12.0 AS ok_avg_token_len,
       dup_tok <= 0.6 AS ok_dup_tokens,
       top_tok <= 0.15 AS ok_top_token,
       sw_ratio >= 0.01 AS ok_stopwords,
       (n_tok BETWEEN 20 AND 1000) AND (avg_len >= 2.0 AND avg_len <= 12.0)
         AND dup_tok <= 0.6 AND top_tok <= 0.15 AND sw_ratio >= 0.01 AS keep
FROM m ORDER BY doc_id
""")


def _op_unigram_nll(spark, sf_dir):
    """Unigram-LM perplexity quality score (operators/text.py:unigram_nll) —
    the CCNet-style filter signal. Exact across engines: per-token nll is
    quantized to DECIMAL(28,12) before the per-doc sum, so aggregation
    order cannot drift the result."""
    from framequery_spark.operators.text import unigram_nll

    return (unigram_nll(_scope(spark, sf_dir)["documents"])
            .orderBy("doc_id"))


_op("op_unigram_nll", _op_unigram_nll, r"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
t AS (SELECT doc_id, term FROM terms WHERE term <> ''),
vocab AS (SELECT term, count(*) AS term_n FROM t GROUP BY term),
total AS (SELECT count(*) AS corpus_n FROM t),
nll AS (
  SELECT doc_id,
         CAST(-ln(term_n * 1.0 / corpus_n) AS DECIMAL(28,12)) AS nll
  FROM t JOIN vocab USING (term) CROSS JOIN total)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll,
       round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 4) AS ppl
FROM nll GROUP BY doc_id ORDER BY doc_id
""")


def _op_shard_counts(spark, sf_dir):
    """Deterministic shard assignment (operators/packing.py:assign_shards):
    md5-bucket arithmetic maps every doc to one of 8 shards row-locally —
    layout-invariant, engine-exact (the oracle replays the identical
    arithmetic), zero shuffle until the writer repartitions."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.packing import assign_shards

    docs = _scope(spark, sf_dir)["documents"]
    return (assign_shards(docs, "doc_id", 8)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .orderBy("shard"))


_op("op_shard_counts", _op_shard_counts, """
WITH s AS (
  SELECT n_chars,
         CAST((('0x' || substr(md5(doc_id::VARCHAR || 'shard'), 1, 8))::BIGINT
               * 8) >> 32 AS INT) AS shard
  FROM documents)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY shard ORDER BY shard
""")


def _op_strip_html(spark, sf_dir):
    """HTML boilerplate removal (operators/text.py:strip_html). The testdata
    is plain text, so each doc is wrapped in deterministic HTML (tags,
    script/style blocks, entities, comments — mirrored in the oracle) so
    every row exercises the full stripping chain. Chained JVM
    regexp_replace, row-local, patterns RE2-compatible by construction."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import html_to_text

    docs = _scope(spark, sf_dir)["documents"]
    docs = docs.withColumn(
        "text",
        F.concat(
            F.lit("<html><head><style>p{x:1}</style></head><body "
                  "class='d'><h1>Doc &amp; &#39;"),
            F.col("doc_id").cast("string"),
            F.lit("&#39;</h1><!-- meta --><p>"),
            F.col("text"),
            F.lit("</p><script>track(1 < 2);</script>&nbsp;</body></html>")))
    return (html_to_text(docs)
            .select("doc_id", "clean_text",
                    F.length("clean_text").alias("clean_len"))
            .orderBy("doc_id"))


_op("op_strip_html", _op_strip_html, r"""
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><style>p{x:1}</style></head><body class=''d''><h1>Doc &amp; &#39;'
         || doc_id::VARCHAR || '&#39;</h1><!-- meta --><p>' || text
         || '</p><script>track(1 < 2);</script>&nbsp;</body></html>' AS text
  FROM documents),
clean AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)<[^>]*>', ' ', 'g'),
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', ''''),
           '\s+', ' ', 'g')) AS clean_text
  FROM wrapped)
SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS clean_len
FROM clean ORDER BY doc_id
""")


def _op_chunk_dedup(spark, sf_dir):
    """Passage-level exact dedup (operators/text.py:chunk_dedup): 128-char
    chunks, one canonical (doc, chunk) per distinct content with its copy
    count. Single groupBy shuffle on md5(chunk) — fixed-width uniform keys,
    map-side partial agg; chunk text never shuffles."""
    from framequery_spark.operators.text import chunk_dedup

    return (chunk_dedup(_scope(spark, sf_dir)["documents"],
                        size=128, overlap=0)
            .orderBy("doc_id", "chunk_id"))


_op("op_chunk_dedup", _op_chunk_dedup, """
WITH s AS (
  SELECT doc_id, text,
         unnest(range(0, (greatest(length(text) - 1, 0)) // 128 + 1)) AS i
  FROM documents WHERE length(text) > 0),
c AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
             substr(text, i * 128 + 1, 128) AS chunk
      FROM s),
w AS (SELECT doc_id, chunk_id,
             count(*) OVER (PARTITION BY chunk) AS n_copies,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_id) AS rn
      FROM c)
SELECT doc_id, chunk_id, n_copies FROM w WHERE rn = 1
ORDER BY doc_id, chunk_id
""")


def _op_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py:
    contaminated_docs): training docs (doc_id % 10 != 0) sharing >= 1 exact
    8-token span with the "benchmark" slice (doc_id % 10 == 0). Benchmark
    gram set broadcast; corpus grams filtered map-side, only hits shuffle.
    Exact by construction — the oracle replays the identical normalization
    (lower + \\s+ split) and span join."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.contamination import contaminated_docs

    docs = _scope(spark, sf_dir)["documents"]
    bench = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    return contaminated_docs(train, bench, n=8).orderBy("doc_id")


_op("op_decontaminate", _op_decontaminate, """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
     train AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
     tg AS (
       SELECT t.doc_id, array_to_string(toks[i:i+7], ' ') AS gram
       FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM train) t,
            LATERAL (SELECT unnest(generate_series(1, len(t.toks) - 7)) AS i) g),
     bg AS (
       SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS gram
       FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM bench) b,
            LATERAL (SELECT unnest(generate_series(1, len(b.toks) - 7)) AS i) g)
SELECT tg.doc_id, count(DISTINCT tg.gram) AS n_hits
FROM tg JOIN bg USING (gram)
GROUP BY tg.doc_id
ORDER BY doc_id
""")


def _op_stream_decontam(spark, sf_dir):
    """Streaming contamination screen (streaming/stream.py:
    stream_decontaminate): the training docs arrive as a file stream and are
    screened against the static broadcast benchmark gram set as they land
    (Trigger.AvailableNow). Result equals batch op_decontaminate, so they
    share the oracle."""
    from pyspark.sql import functions as F

    from framequery_spark.streaming.stream import stream_decontaminate

    bench = (_scope(spark, sf_dir)["documents"]
             .where(F.col("doc_id") % 10 == 0))
    return (stream_decontaminate(spark, f"{sf_dir}/documents.parquet", bench,
                                 n=8, doc_filter=F.col("doc_id") % 10 != 0)
            .orderBy("doc_id"))


_op("op_stream_decontam", _op_stream_decontam, _OPS["op_decontaminate"][1])


def _op_stream_fts(spark, sf_dir):
    """Streaming full-text match counter (streaming/stream.py:
    stream_fulltext_counts): per-source counts of documents matching
    'spark & window' as they land. The tsvector build + @@ match are
    row-local JVM expressions, so the stream holds no state beyond the
    per-source counters; result equals the batch GROUP BY — the DuckDB
    oracle restates the match with list ops (like q70)."""
    return stream_fulltext_counts_entry(spark, sf_dir)


def stream_fulltext_counts_entry(spark, sf_dir):
    from framequery_spark.streaming.stream import stream_fulltext_counts

    return (stream_fulltext_counts(spark, f"{sf_dir}/documents.parquet",
                                   "spark & window")
            .orderBy("source"))


_op("op_stream_fts", _op_stream_fts, r"""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^a-z0-9]+'),
                     w -> w <> '') AS ws
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE list_contains(ws, 'spark')
                             AND list_contains(ws, 'window')) AS BIGINT)
         AS n_match
FROM t
GROUP BY source
ORDER BY source
""")


def _op_split_leakage(spark, sf_dir):
    """Cross-split near-dup leakage audit (operators/contamination.py:
    split_leakage_ngrams over sampling.hash_split): pairs of docs in
    different train/val/test splits sharing >= 1 distinct 8-gram. The split
    is the byte-exact md5-threshold split, so both engines assign identical
    labels; the gram join mirrors op_decontaminate."""
    from framequery_spark.operators.contamination import split_leakage_ngrams
    from framequery_spark.operators.sampling import hash_split

    docs = hash_split(_scope(spark, sf_dir)["documents"], "doc_id")
    return split_leakage_ngrams(docs, n=8).orderBy("id_a", "id_b")


_op("op_split_leakage", _op_split_leakage, """
WITH sp AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5(doc_id::VARCHAR || 'split'), 1, 8) < 'cccccccd'
                THEN 'train'
              WHEN substr(md5(doc_id::VARCHAR || 'split'), 1, 8) < 'e6666666'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
g0 AS (
  SELECT doc_id, split, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM sp),
g AS (
  SELECT DISTINCT doc_id, split, array_to_string(toks[i:i+7], ' ') AS gram
  FROM g0, LATERAL (SELECT unnest(generate_series(1, len(g0.toks) - 7)) AS i) s),
rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 1000),
gr AS (SELECT g.* FROM g JOIN rare USING (gram))
SELECT a.doc_id AS id_a, a.split AS split_a,
       b.doc_id AS id_b, b.split AS split_b,
       count(*) AS n_shared
FROM gr a JOIN gr b ON a.gram = b.gram
WHERE a.doc_id < b.doc_id AND a.split <> b.split
GROUP BY 1, 2, 3, 4
ORDER BY id_a, id_b
""")


def _op_stream_ingest(spark, sf_dir):
    """Streaming ingest dedup (streaming/stream.py:stream_ingest_dedup):
    odd-doc_id docs stream in and are near-dup-screened per micro-batch
    against the even-doc_id corpus inside foreachBatch, survivors land in a
    checkpointed parquet sink. Deterministic ⇒ equals batch dedup_against,
    so it shares that oracle. Fresh sink/checkpoint dirs per call (the
    driver re-runs entries; 'append' must not accumulate)."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from framequery_spark.streaming.stream import (scratch_dir,
                                                   stream_ingest_dedup)

    corpus = (_scope(spark, sf_dir)["documents"]
              .where(F.col("doc_id") % 2 == 0))
    # fixed per-sf sink root (tmpfs-preferred scratch — the checkpoint's
    # offset/commit logs fsync per micro-batch), cleared BEFORE each run:
    # re-runs start clean and the returned frame stays a lazy parquet read
    # (no driver round-trip); at most one copy ever lives on disk
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = os.path.join(scratch_dir(), f"fq_ingest_dedup_{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    out = stream_ingest_dedup(
        spark, f"{sf_dir}/documents.parquet", corpus,
        out_dir=f"{tmp}/out", checkpoint_dir=f"{tmp}/ckpt",
        doc_filter=F.col("doc_id") % 2 == 1)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id")) \
        .orderBy("doc_id")


_op("op_stream_ingest", _op_stream_ingest, _OPS["op_dedup_against"][1])


def _op_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join (streaming/stream.py:
    stream_interval_join): click→purchase attribution within 15 minutes per
    user, run as a real two-stream Structured Streaming query
    (Trigger.AvailableNow). Inner matches are emitted eagerly, so the
    result equals the batch interval join — the oracle compares at exact
    µs integers (delta_us BIGINT) to stay unit-exact across engines."""
    from framequery_spark.streaming.stream import stream_interval_join

    return (stream_interval_join(spark, f"{sf_dir}/events.parquet")
            .orderBy("user_id", "left_id", "right_id"))


_op("op_stream_join", _op_stream_join, """
SELECT c.user_id, c.event_id AS left_id, p.event_id AS right_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) >= epoch_us(c.ts)
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 15*60*1000000
ORDER BY 1, 2, 3
""")


def _op_bm25_topk(spark, sf_dir):
    """Sparse lexical retrieval (operators/retrieval.py:bm25_topk): top-5
    docs per query under Lucene-style BM25. Inverted-index shape: the
    corpus pays two map-side-combined aggregates over the token stream;
    everything query-dependent is broadcast; per-term contributions sum in
    decimal(28,12) so scores are engine-exact for the oracle."""
    from framequery_spark.operators.retrieval import bm25_topk

    from framequery_spark.sources.local_relation import local_relation

    docs = _scope(spark, sf_dir)["documents"]
    # LocalTableScan, not createDataFrame: the parallelize-RDD route pays
    # one Python-worker round trip per slice on EVERY scan, and the bm25
    # plan scans the query table twice (r12 local_relation measurement)
    qdf = local_relation(
        spark, [(1, "spark shuffle join"), (2, "window sort batch"),
                (3, "stream dedup hash table")], "query_id long, query string")
    return bm25_topk(docs, qdf, k=5)


_op("op_bm25_topk", _op_bm25_topk, r"""
WITH q(query_id, query) AS (VALUES (1, 'spark shuffle join'),
                                   (2, 'window sort batch'),
                                   (3, 'stream dedup hash table')),
terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> ''
       GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM terms WHERE term <> ''
       GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT count(*) FROM terms WHERE term <> '') * 1.0
                 / (SELECT count(*) FROM documents) AS avgdl),
qt AS (SELECT DISTINCT query_id,
              unnest(regexp_split_to_array(trim(lower(query)), '\s+')) AS term
       FROM q),
dft AS (SELECT term, count(*) AS df_t FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
cand AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(ln(1.0 + (s.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
              AS DECIMAL(28,12)) AS c
  FROM qt JOIN dft USING (term) JOIN tf USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
scored AS (
  SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
  FROM cand GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
""")


def _op_mixture_sample(spark, sf_dir):
    """Data-mixing primitive (operators/sampling.py:mixture_sample):
    deterministic per-source subsampling at prescribed rates — row-local
    md5-threshold CASE, no shuffle, engine-exact, key-coherent (all rows of
    a key stay together). Fixed rates here so the oracle is
    scale-invariant; mixture_rates() solves rates from target weights."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.sampling import mixture_sample

    docs = _scope(spark, sf_dir)["documents"]
    out = mixture_sample(docs, "source",
                         {"src1": 0.8, "src2": 0.5, "src3": 0.25},
                         key_col="doc_id", default_rate=0.1)
    return (out.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("source"))


_op("op_mixture_sample", _op_mixture_sample, """
SELECT source, count(*) AS n_kept FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'mixture'), 1, 8) <
      CASE source
        WHEN 'src1' THEN 'cccccccd'
        WHEN 'src2' THEN '80000000'
        WHEN 'src3' THEN '40000000'
        ELSE '1999999a' END
GROUP BY source
ORDER BY source
""")


def _op_audio_chunks(spark, sf_dir):
    """Fixed-duration PCM chunking (operators/multimodal.py:
    audio_chunks): blobs (utf-8 text bytes standing in for PCM payloads)
    split into 32-byte chunks via JVM binary substr — REAL byte-range
    slicing, no codec; per-chunk sha256 is the content address for
    chunk-level dedup. The oracle slices the TEXT (ASCII fixture: bytes
    == chars) and hashes with DuckDB's varchar sha256 — same content
    bytes, same hex."""
    from framequery_spark.operators.multimodal import (attach_blob,
                                                       audio_chunks)

    docs = _scope(spark, sf_dir)["documents"]
    return (audio_chunks(attach_blob(docs), sample_rate=16,
                         sample_width=2, chunk_seconds=1.0)
            .drop("chunk")
            .orderBy("doc_id", "chunk_idx"))


_op("op_audio_chunks", _op_audio_chunks, """
WITH s AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / 32.0) AS INT))) AS i
  FROM documents WHERE length(text) > 0)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(length(substr(text, CAST(i * 32 + 1 AS INT), 32)) AS INT)
         AS chunk_bytes,
       sha256(substr(text, CAST(i * 32 + 1 AS INT), 32)) AS chunk_sha
FROM s
ORDER BY doc_id, chunk_idx
""")


def _op_char_entropy(spark, sf_dir):
    """Per-doc Shannon character entropy (operators/text.py:char_entropy):
    the information-theoretic junk detector — run-length character counts
    via row-local JVM HOFs, -sum(p log2 p) folded over DECIMAL-quantized
    terms so the engine's sorted-order fold and the oracle's unordered
    group sum are bit-identical. Restricted to doc_id < 300 to keep the
    oracle's char explode small; the plan is the full-corpus plan."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import char_entropy

    docs = _scope(spark, sf_dir)["documents"].filter(F.col("doc_id") < 300)
    return char_entropy(docs).orderBy("doc_id")


_op("op_char_entropy", _op_char_entropy, """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM d),
cnt AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k
        FROM ch GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1),
h AS (SELECT cnt.doc_id,
             CAST(sum(CAST(round(-(k / n) * log2(k / n), 12)
                           AS DECIMAL(28,12))) AS DOUBLE) AS hh,
             CAST(max(n) AS INT) AS nc
      FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id)
SELECT d.doc_id,
       COALESCE(h.nc, 0) AS n_chars_counted,
       round(COALESCE(h.hh, 0.0) + 0.0000001, 6) AS entropy
FROM d LEFT JOIN h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
""")


def _op_concat_chunks(spark, sf_dir):
    """GPT-style concat-and-chunk (operators/packing.py:concat_chunks):
    concatenate every document in id order into one token stream, cut it
    into fixed 512-token blocks, return the (block, doc, doc-relative
    token range) membership map — blocks span document boundaries and
    long documents span blocks. The engine computes global token offsets
    with the two-phase distributed prefix sum (chunk=64 forces the
    multi-bucket path at test scale); the oracle states the same map
    with one declarative window cumsum + per-doc block range unnest."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.packing import concat_chunks
    from framequery_spark.operators.text import token_count

    docs = _scope(spark, sf_dir)["documents"]
    t = docs.select("doc_id",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    return (concat_chunks(t, block_size=512, chunk=64)
            .orderBy("block_id", "doc_id"))


_op("op_concat_chunks", _op_concat_chunks, r"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              w -> w <> '')) AS BIGINT) AS n
  FROM documents),
t AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
  FROM tok WHERE n > 0),
s AS (
  SELECT doc_id, n, strt,
         unnest(range(CAST(strt // 512 AS BIGINT),
                      CAST((strt + n - 1) // 512 + 1 AS BIGINT))) AS b
  FROM t)
SELECT CAST(b AS BIGINT) AS block_id, doc_id,
       CAST(greatest(b * 512, strt) - strt AS BIGINT) AS tok_from,
       CAST(least((b + 1) * 512, strt + n) - strt AS BIGINT) AS tok_to,
       CAST(least((b + 1) * 512, strt + n)
            - greatest(b * 512, strt) AS BIGINT) AS n_in_block
FROM s
ORDER BY block_id, doc_id
""")


def _op_alpha_mixture(spark, sf_dir):
    """Temperature mixture reweighting (operators/sampling.py:
    alpha_mixture_weights): share_after = n_s^alpha / sum n_t^alpha with
    alpha = 0.3 — the standard scarce-source up-weighting step of an LLM
    training mix. One source-bounded groupBy + a broadcast 1-row total;
    the n^alpha terms are DECIMAL-quantized before summing so the total
    is order-independent."""
    from framequery_spark.operators.sampling import alpha_mixture_weights

    return alpha_mixture_weights(
        _scope(spark, sf_dir)["documents"], "source",
        alpha=0.3).orderBy("source")


_op("op_alpha_mixture", _op_alpha_mixture, """
WITH c AS (SELECT source, count(*) AS n_rows FROM documents
           GROUP BY source),
p AS (SELECT source, n_rows,
             CAST(round(pow(n_rows, 0.3), 12) AS DECIMAL(28,12)) AS pw
      FROM c)
SELECT source, n_rows,
       round(CAST(n_rows AS DOUBLE)
             / (SELECT CAST(sum(n_rows) AS DOUBLE) FROM p)
             + 0.0000001, 6) AS share_before,
       round(CAST(pw AS DOUBLE)
             / CAST((SELECT sum(pw) FROM p) AS DOUBLE)
             + 0.0000001, 6) AS share_after
FROM p
ORDER BY source
""")


def _op_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py:hard_negatives):
    per query, top-k most-similar corpus vectors with a DIFFERENT label —
    contrastive-training pair generation. Broadcast query side, single
    corpus stream, row-local label filter."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import hard_negatives

    emb = _scope(spark, sf_dir)["embeddings"]
    return (hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5)
            .orderBy("query_id", "rank"))


_op("op_hard_negatives", _op_hard_negatives, """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.vec_id <> c.vec_id AND q.label <> c.label
  WHERE q.vec_id < 10)
SELECT query_id, neighbor_id, neighbor_label, cosine,
       CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= 5
ORDER BY query_id, rank
""")


def _op_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.py:semdedup): cluster assignment +
    within-cluster greedy cosine dedup. 8 clusters is the honest
    approximate configuration (cross-cluster near-dups are not compared
    by design), with FIXED seeded centroids
    (similarity.py:fixed_random_centroids) instead of data-trained
    k-means — deterministic cells whose literals inline into an
    independent DuckDB derivation, so the approximate path gets a
    hash-green driver row. The k-means-trained path stays covered by
    op_semdedup_exact (n_clusters=1 exact mirror)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import (
        fixed_random_centroids, semdedup)

    emb = _scope(spark, sf_dir)["embeddings"]
    return (semdedup(emb, threshold=0.4,
                     centroids=fixed_random_centroids(8, 64, seed=11))
            .select("vec_id").orderBy("vec_id"))


def _semdedup_seeded_oracle(threshold=0.4, n_clusters=8, dim=64,
                            seed=11) -> str:
    """Independent DuckDB derivation of the fixed-centroid SemDeDup
    config: cell = argmin squared-L2 over the literal centroids (the
    struct list_sort trick of the IVF oracle), survivor = no lower-id
    SAME-CELL row with cosine >= threshold (the greedy keep-lowest-id
    rule stated as NOT EXISTS, like op_semdedup_exact)."""
    from framequery_spark.operators.similarity import (
        fixed_random_centroids)

    cents = fixed_random_centroids(n_clusters, dim, seed=seed)
    ds = []
    for i, c in enumerate(cents):
        lits = ", ".join(repr(x) for x in c)
        c2 = repr(sum(x * x for x in c))
        ds.append(
            f"struct_pack(d := list_dot_product(v, v) "
            f"- 2 * list_dot_product(v, [{lits}]) + {c2}, i := {i})")
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
cells AS (
  SELECT vec_id, v, (list_sort([{', '.join(ds)}]))[1].i AS cell
  FROM base)
SELECT a.vec_id FROM cells a
WHERE NOT EXISTS (
  SELECT 1 FROM cells b
  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
    AND list_cosine_similarity(a.v, b.v) >= {threshold})
ORDER BY a.vec_id
"""


# fixed seeded centroids -> deterministic cells -> the approximate config
# itself is hash-verifiable (previously rows-only)
_op("op_semdedup", _op_semdedup, _semdedup_seeded_oracle())


def _op_semdedup_exact(spark, sf_dir):
    """semdedup in the exact configuration (n_clusters=1: a single cell, so
    EVERY pair is compared and the greedy keep-lowest-id rule equals the
    brute-force definition) — the whole centroid/assign/block-join/anti-join
    machinery runs end-to-end and is hash-verified against the pure-SQL
    NOT EXISTS oracle. Restricted to vec_id < 400 to bound the oracle's
    all-pairs cost."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.similarity import semdedup

    emb = _scope(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 400)
    return (semdedup(emb, threshold=0.4, n_clusters=1)
            .select("vec_id").orderBy("vec_id"))


_op("op_semdedup_exact", _op_semdedup_exact, """
SELECT a.vec_id FROM embeddings a
WHERE a.vec_id < 400 AND NOT EXISTS (
  SELECT 1 FROM embeddings b
  WHERE b.vec_id < a.vec_id
    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4)
ORDER BY a.vec_id
""")


def _op_bigram_nll(spark, sf_dir):
    """Interpolated bigram-LM scoring (operators/text.py:bigram_lm_nll) —
    the rung above op_unigram_nll toward CCNet's KenLM filter. Counts are
    corpus-MLE; the (prev, w) join is hash-partitioned (bigram tables grow
    with the corpus, so no broadcast); per-bigram nll quantized to
    DECIMAL(28,12) pre-sum for engine-exact totals."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import bigram_lm_nll

    docs = _scope(spark, sf_dir)["documents"]
    # vocab_broadcast=True: the testdata vocabulary is known-bounded
    # (far under broadcast_vocab_max), so skip the probe job — result
    # rows are identical on either join path (r12)
    return (bigram_lm_nll(docs, vocab_broadcast=True)
            .where(F.col("doc_id") < 200)
            .orderBy("doc_id"))


_op("op_bigram_nll", _op_bigram_nll, r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS ws
  FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS w
  FROM toks, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2),
big AS (SELECT prev, w, count(*) AS c_pw FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, count(*) AS c_p FROM bg GROUP BY 1),
t AS (SELECT doc_id, unnest(ws) AS term FROM toks),
uni AS (SELECT term, count(*) AS c_w FROM t GROUP BY 1),
total AS (SELECT count(*) AS corpus_n FROM t),
nll AS (
  SELECT bg.doc_id,
         CAST(-ln(CAST(0.8 AS DOUBLE) * c_pw / c_p
                  + (CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE))
                    * c_w / corpus_n)
              AS DECIMAL(28,12)) AS nll
  FROM bg JOIN big USING (prev, w) JOIN ctx USING (prev)
  JOIN uni ON bg.w = uni.term CROSS JOIN total)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll,
       round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 4) AS ppl
FROM nll WHERE doc_id < 200 GROUP BY doc_id ORDER BY doc_id
""")


def _op_oov_rate(spark, sf_dir):
    """Vocabulary-coverage signal (operators/text.py:oov_rate): per-doc
    OOV fraction against the corpus top-20 vocabulary — one explode,
    one broadcast left join, one per-doc groupBy; the vocab cut is the
    deterministic (count desc, term asc) top-k."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import oov_rate

    return (oov_rate(_scope(spark, sf_dir)["documents"], vocab_size=20)
            .where(F.col("doc_id") < 300).orderBy("doc_id"))


_op("op_oov_rate", _op_oov_rate, r"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(trim(lower(text)), '\s+'), w -> w <> '')) AS term
  FROM documents),
v AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM t GROUP BY 1
    ORDER BY c DESC, term LIMIT 20)),
pd AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM t LEFT JOIN v ON t.term = v.term GROUP BY 1)
SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
       CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN coalesce(n_tokens, 0) > 0
            THEN round(CAST(coalesce(n_oov, 0) AS DOUBLE) / n_tokens, 6)
       END AS oov_rate
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
WHERE d.doc_id < 300 ORDER BY d.doc_id
""")


def _op_pmi_bigrams(spark, sf_dir):
    """PMI collocations (operators/text.py:pmi_bigrams): vocab-bounded
    bigram/unigram groupBys, broadcast 1-row totals, equi count joins,
    TakeOrderedAndProject top-k ordered by the rounded pmi (+ word
    tiebreak) so the cut is engine-deterministic."""
    from framequery_spark.operators.text import pmi_bigrams

    return pmi_bigrams(_scope(spark, sf_dir)["documents"],
                       min_count=5, top_k=50)


_op("op_pmi_bigrams", _op_pmi_bigrams, r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS ws
  FROM documents),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2),
big_all AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
big AS (SELECT * FROM big_all WHERE c_xy >= 5),
t AS (SELECT unnest(ws) AS term FROM toks),
uni AS (SELECT term, count(*) AS c FROM t GROUP BY 1),
nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_big FROM big_all)
SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
       round(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)
                / (CAST(n_big AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
FROM big JOIN uni u1 ON big.w1 = u1.term
         JOIN uni u2 ON big.w2 = u2.term, nu, nb
ORDER BY pmi DESC, w1, w2 LIMIT 50
""")


def _op_textrank(spark, sf_dir):
    """TextRank keywords (operators/graph.py:textrank_keywords +
    pagerank): weighted PageRank over the adjacent-token co-occurrence
    graph, 3 fixed iterations. Each iteration is one edges ⋈ ranks equi
    join + one keyed groupBy with DECIMAL(28,12)-quantized contributions
    (order-free sums), so the recurrence restates 1:1 as the unrolled
    CTE chain below."""
    from framequery_spark.operators.graph import textrank_keywords

    return textrank_keywords(_scope(spark, sf_dir)["documents"],
                             iterations=3, top_k=30)


_op("op_textrank", _op_textrank, r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS ws
  FROM documents),
adj AS (
  SELECT least(ws[i], ws[i + 1]) AS w1, greatest(ws[i], ws[i + 1]) AS w2
  FROM toks, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2 AND ws[i] <> ws[i + 1]),
und AS (SELECT w1, w2, count(*) AS w FROM adj GROUP BY 1, 2),
edges AS (SELECT w1 AS s, w2 AS d, w FROM und
          UNION ALL SELECT w2, w1, w FROM und),
nodes AS (SELECT DISTINCT s AS node FROM edges
          UNION SELECT DISTINCT d FROM edges),
n AS (SELECT count(*) AS cnt FROM nodes),
deg AS (SELECT s AS node,
               CAST(sum(CAST(CAST(w AS DOUBLE) AS DECIMAL(28,12)))
                    AS DOUBLE) AS deg
        FROM edges GROUP BY 1),
p0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.cnt AS rank FROM nodes, n),
c1 AS (SELECT e.d AS node,
              CAST(0.85 * p.rank * CAST(e.w AS DOUBLE) / deg.deg
                   AS DECIMAL(28,12)) AS c
       FROM edges e JOIN p0 p ON e.s = p.node JOIN deg ON e.s = deg.node),
p1 AS (SELECT nodes.node,
              CAST(0.15 AS DOUBLE) / n.cnt
              + CAST(coalesce(s.sm, 0) AS DOUBLE) AS rank
       FROM nodes
       LEFT JOIN (SELECT node, sum(c) AS sm FROM c1 GROUP BY 1) s
         USING (node), n),
c2 AS (SELECT e.d AS node,
              CAST(0.85 * p.rank * CAST(e.w AS DOUBLE) / deg.deg
                   AS DECIMAL(28,12)) AS c
       FROM edges e JOIN p1 p ON e.s = p.node JOIN deg ON e.s = deg.node),
p2 AS (SELECT nodes.node,
              CAST(0.15 AS DOUBLE) / n.cnt
              + CAST(coalesce(s.sm, 0) AS DOUBLE) AS rank
       FROM nodes
       LEFT JOIN (SELECT node, sum(c) AS sm FROM c2 GROUP BY 1) s
         USING (node), n),
c3 AS (SELECT e.d AS node,
              CAST(0.85 * p.rank * CAST(e.w AS DOUBLE) / deg.deg
                   AS DECIMAL(28,12)) AS c
       FROM edges e JOIN p2 p ON e.s = p.node JOIN deg ON e.s = deg.node),
p3 AS (SELECT nodes.node,
              CAST(0.15 AS DOUBLE) / n.cnt
              + CAST(coalesce(s.sm, 0) AS DOUBLE) AS rank
       FROM nodes
       LEFT JOIN (SELECT node, sum(c) AS sm FROM c3 GROUP BY 1) s
         USING (node), n)
SELECT node AS word, round(rank, 9) AS rank
FROM p3 ORDER BY rank DESC, word LIMIT 30
""")


def _op_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.py, Xie et al. 2023):
    score raw docs (doc_id % 7 != 0) by hashed uni+bigram log-likelihood
    ratio against a target domain (doc_id % 7 == 0), keep the top 40.
    Bucket distributions are bounded (<= 1000 rows here); the log-ratio
    table is BROADCAST onto the doc-feature stream — two shuffles total,
    independent of corpus size."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.dsir import dsir_select

    docs = _scope(spark, sf_dir)["documents"]
    target = docs.where(F.col("doc_id") % 7 == 0)
    raw = docs.where(F.col("doc_id") % 7 != 0)
    out = dsir_select(raw, target, k=40, n_buckets=1000)
    return out.select("doc_id",
                      F.round("dsir_weight", 3).alias("w"))


_op("op_dsir_select", _op_dsir_select, """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
         doc_id % 7 = 0 AS is_target
  FROM documents),
grams AS (
  SELECT doc_id, is_target, unnest(ws) AS g FROM toks
  UNION ALL
  SELECT doc_id, is_target,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM toks WHERE len(ws) >= 2),
b AS (
  SELECT doc_id, is_target,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1000 AS bucket
  FROM grams),
dist AS (
  SELECT bucket,
         count(*) FILTER (WHERE is_target) AS t_cnt,
         count(*) FILTER (WHERE NOT is_target) AS r_cnt
  FROM b GROUP BY bucket),
lr AS (
  SELECT bucket,
         ln((t_cnt + 0.5) / ((SELECT sum(t_cnt) FROM dist) + 0.5 * 1000))
       - ln((r_cnt + 0.5) / ((SELECT sum(r_cnt) FROM dist) + 0.5 * 1000))
         AS lr
  FROM dist),
feats AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM b
  WHERE NOT is_target GROUP BY doc_id, bucket),
w AS (
  SELECT f.doc_id, sum(f.cnt * lr.lr) AS dsir_weight
  FROM feats f JOIN lr USING (bucket) GROUP BY f.doc_id)
SELECT doc_id, round(dsir_weight, 3) AS w
FROM w ORDER BY round(dsir_weight, 6) DESC, doc_id LIMIT 40
""")


def _op_dsir_length_norm(spark, sf_dir):
    """dsir_select(length_normalize=True) (operators/dsir.py:160): average
    per-gram affinity instead of total log-ratio — removes the
    document-length bias (a long mediocre doc can out-sum a short on-domain
    one). Same two-shuffle plan; the normalizer rides the already-persisted
    feature table."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.dsir import dsir_select

    docs = _scope(spark, sf_dir)["documents"]
    target = docs.where(F.col("doc_id") % 7 == 0)
    raw = docs.where(F.col("doc_id") % 7 != 0)
    out = dsir_select(raw, target, k=40, n_buckets=1000,
                      length_normalize=True)
    return out.select("doc_id",
                      F.round("dsir_weight", 6).alias("w"))


_op("op_dsir_length_norm", _op_dsir_length_norm, """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
         doc_id % 7 = 0 AS is_target
  FROM documents),
grams AS (
  SELECT doc_id, is_target, unnest(ws) AS g FROM toks
  UNION ALL
  SELECT doc_id, is_target,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM toks WHERE len(ws) >= 2),
b AS (
  SELECT doc_id, is_target,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1000 AS bucket
  FROM grams),
dist AS (
  SELECT bucket,
         count(*) FILTER (WHERE is_target) AS t_cnt,
         count(*) FILTER (WHERE NOT is_target) AS r_cnt
  FROM b GROUP BY bucket),
lr AS (
  SELECT bucket,
         ln((t_cnt + 0.5) / ((SELECT sum(t_cnt) FROM dist) + 0.5 * 1000))
       - ln((r_cnt + 0.5) / ((SELECT sum(r_cnt) FROM dist) + 0.5 * 1000))
         AS lr
  FROM dist),
feats AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM b
  WHERE NOT is_target GROUP BY doc_id, bucket),
w AS (
  SELECT f.doc_id,
         sum(f.cnt * lr.lr) / sum(f.cnt) AS dsir_weight
  FROM feats f JOIN lr USING (bucket) GROUP BY f.doc_id)
SELECT doc_id, round(dsir_weight, 6) AS w
FROM w ORDER BY round(dsir_weight, 6) DESC, doc_id LIMIT 40
""")


def _op_lr_quality(spark, sf_dir):
    """fastText-style hashed-ngram logistic-regression quality scorer
    (operators/classifier.py — the CCNet/GPT-3/LLaMA seed-classifier
    filter). One gradient step from zero init has a closed form
    (sigmoid(0) = 1/2), so the WHOLE pipeline — md5 feature hashing, L1
    tf normalization, decimal-quantized gradient aggregation, the weight
    update, and the broadcast-join scoring pass — is hash-verified
    against an independent DuckDB derivation. Training label: lang='en'.
    Scale shape: features shuffle on (doc_id, bucket) with map-side
    combine; the weight side is <= n_buckets rows, always broadcast; the
    only collect is the <= n_buckets-row gradient."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.cache import persist_tracked
    from framequery_spark.operators.classifier import (doc_tf, lr_score,
                                                       lr_train)

    docs = _scope(spark, sf_dir)["documents"] \
        .withColumn("y", (F.col("lang") == "en").cast("int"))
    # one gram pass: tf persisted once, shared by training and scoring
    # (released by the harness's per-entry release_cached)
    tf = persist_tracked(doc_tf(docs, n_buckets=512))
    w = lr_train(docs, "y", n_buckets=512, iters=1, lr=0.5, tf_df=tf)
    out = lr_score(docs, w, n_buckets=512, tf_df=tf)
    return (out.select("doc_id",
                       F.round(F.col("margin") + 0.0000001, 6).alias("m"))
            .orderBy("doc_id"))


_op("op_lr_quality", _op_lr_quality, """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
grams AS (
  SELECT doc_id, y, unnest(ws) AS g FROM toks
  UNION ALL
  SELECT doc_id, y,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM toks WHERE len(ws) >= 2),
feats AS (
  SELECT doc_id, max(y) AS y,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 512 AS bucket,
         count(*) AS cnt
  FROM grams GROUP BY doc_id, bucket),
tf AS (
  SELECT doc_id, y, bucket,
         cnt / (sum(cnt) OVER (PARTITION BY doc_id)) AS tf
  FROM feats),
grad AS (
  SELECT bucket,
         CAST(sum(CAST(round((0.5 - y) * tf, 12) AS DECIMAL(28,12)))
              AS DOUBLE) / (SELECT count(*) FROM documents) AS g
  FROM tf GROUP BY bucket),
w AS (SELECT bucket, -(0.5 * g) AS w FROM grad),
mar AS (
  SELECT tf.doc_id,
         CAST(sum(CAST(round(w.w * tf.tf, 12) AS DECIMAL(28,12)))
              AS DOUBLE) AS margin
  FROM tf JOIN w USING (bucket) GROUP BY tf.doc_id)
SELECT d.doc_id, round(coalesce(mar.margin, 0.0) + 0.0000001, 6) AS m
FROM documents d LEFT JOIN mar ON d.doc_id = mar.doc_id
ORDER BY d.doc_id
""")


def _op_ngram_novelty(spark, sf_dir):
    """Per-doc 3-gram novelty vs the corpus (operators/text.py:
    ngram_novelty): distinct grams, grams first seen in this doc (first =
    min doc_id), novelty ratio. Gram explode → distinct pairs → min-per-
    gram groupBy → gram-keyed equi join — never all-pairs. Restricted to
    doc_id < 200 to keep the oracle compare small; the plan is the
    full-corpus plan. Value-rendering discipline (r07 hash-red fix):
    n_novel is pinned to BIGINT on both sides (DuckDB's sum(CASE…) is
    HUGEINT) and novelty re-projected with the q01 epsilon+round
    convention so cross-engine half-way rounding can't diverge."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import ngram_novelty

    return (ngram_novelty(_scope(spark, sf_dir)["documents"], "text",
                          "doc_id", n=3)
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "n_grams",
                    F.col("n_novel").cast("long").alias("n_novel"),
                    F.round(F.col("n_novel").cast("double")
                            / F.col("n_grams") + F.lit(0.0000001), 6)
                    .alias("novelty"))
            .orderBy("doc_id"))


_op("op_ngram_novelty", _op_ngram_novelty, r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS ws
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS ngram
  FROM toks, unnest(range(1, len(ws) - 1)) AS r(i)
  WHERE len(ws) >= 3),
firsts AS (SELECT ngram, min(doc_id) AS first_id FROM g GROUP BY ngram)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) + 0.0000001, 6) AS novelty
FROM g JOIN firsts USING (ngram)
WHERE doc_id < 200
GROUP BY doc_id ORDER BY doc_id
""")


def _op_zipf_slope(spark, sf_dir):
    """Per-source Zipf fit (operators/text.py:zipf_slope): least-squares
    slope of ln(freq) on ln(rank), decimal-exact sums so the aggregate is
    order-independent. Scales with vocabulary, not corpus size."""
    from framequery_spark.operators.text import zipf_slope

    return zipf_slope(_scope(spark, sf_dir)["documents"], "text",
                      "source").orderBy("source")


_op("op_zipf_slope", _op_zipf_slope, r"""
WITH t AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
c AS (SELECT source, term, count(*) AS freq FROM t WHERE term <> ''
      GROUP BY 1, 2),
r AS (
  SELECT source,
         ln(CAST(row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, term) AS DOUBLE))
           AS lx,
         ln(CAST(freq AS DOUBLE)) AS ly
  FROM c),
d AS (
  SELECT source,
         CAST(lx AS DECIMAL(28,12)) AS x, CAST(ly AS DECIMAL(28,12)) AS y,
         CAST(lx * ly AS DECIMAL(28,12)) AS xy,
         CAST(lx * lx AS DECIMAL(28,12)) AS xx
  FROM r)
SELECT source, count(*) AS n_terms,
       round((count(*) * CAST(sum(xy) AS DOUBLE)
              - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
             / (count(*) * CAST(sum(xx) AS DOUBLE)
                - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)),
             6) AS zipf_slope
FROM d GROUP BY source ORDER BY source
""")


def _op_source_overlap(spark, sf_dir):
    """Pairwise source-vocabulary Jaccard (operators/text.py:
    source_overlap): distinct (source, term) vocab, term-keyed self equi
    join (fan-out bounded by #sources², not corpus size), broadcast size
    table."""
    from framequery_spark.operators.text import source_overlap

    return source_overlap(_scope(spark, sf_dir)["documents"], "text",
                          "source").orderBy("g1", "g2")


_op("op_source_overlap", _op_source_overlap, r"""
WITH v AS (
  SELECT DISTINCT source AS g, term FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents) WHERE term <> ''),
s AS (SELECT g, count(*) AS vz FROM v GROUP BY g),
i AS (
  SELECT a.g AS g1, b.g AS g2, count(*) AS n_common
  FROM v a JOIN v b ON a.term = b.term
  WHERE a.g < b.g GROUP BY 1, 2)
SELECT g1, g2, n_common, s1.vz AS v1, s2.vz AS v2,
       round(n_common / (s1.vz + s2.vz - n_common), 6) AS jaccard
FROM i JOIN s s1 ON i.g1 = s1.g JOIN s s2 ON i.g2 = s2.g
ORDER BY g1, g2
""")


def _op_perplexity_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity tiers (operators/text.py:
    perplexity_buckets): unigram-LM score + ntile(3) per language over a
    total (avg_nll, doc_id) order — deterministic bucket assignment.
    Restricted to doc_id < 200 post-bucketing to keep the compare small
    (the ntile runs over the full corpus in both engines)."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import perplexity_buckets

    return (perplexity_buckets(_scope(spark, sf_dir)["documents"], "text",
                               "doc_id", "lang", n_buckets=3)
            .filter(F.col("doc_id") < 200).orderBy("doc_id"))


_op("op_perplexity_buckets", _op_perplexity_buckets, r"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
t AS (SELECT doc_id, term FROM terms WHERE term <> ''),
vocab AS (SELECT term, count(*) AS term_n FROM t GROUP BY term),
total AS (SELECT count(*) AS corpus_n FROM t),
nll AS (
  SELECT doc_id,
         CAST(-ln(term_n * 1.0 / corpus_n) AS DECIMAL(28,12)) AS nll
  FROM t JOIN vocab USING (term) CROSS JOIN total),
sc AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll,
         round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 4) AS ppl
  FROM nll GROUP BY doc_id),
bk AS (
  SELECT d.doc_id, d.lang, sc.n_tokens, sc.avg_nll, sc.ppl,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY sc.avg_nll, d.doc_id) AS bucket
  FROM documents d JOIN sc ON d.doc_id = sc.doc_id)
SELECT * FROM bk WHERE doc_id < 200 ORDER BY doc_id
""")


def _op_funnel(spark, sf_dir):
    """Funnel conversion over the event stream (operators/events.py:
    funnel_counts): one groupBy-user shuffle collecting each user's
    time-sorted funnel-relevant events, then a pure-JVM F.aggregate fold
    emits the greedy earliest completion chain (stage k strictly after
    stage k-1, every later stage within 48 h of stage 1). The oracle
    restates the chain as cascaded min-after joins."""
    from framequery_spark.operators.events import funnel_counts

    return funnel_counts(_scope(spark, sf_dir)["events"],
                         ["view", "click", "purchase"],
                         within_seconds=172_800).orderBy("stage_idx")


_op("op_funnel", _op_funnel, """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t
    AND epoch_us(e.ts) - epoch_us(s1.t) <= 172800000000
  GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
               JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
    AND epoch_us(e.ts) - epoch_us(s1.t) <= 172800000000
  GROUP BY 1),
c AS (
  SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
         count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
SELECT stage_idx, stage, n_users,
       round(CAST(n_users AS DOUBLE)
             / nullif(first_value(n_users) OVER (ORDER BY stage_idx), 0),
             4) AS pct
FROM c ORDER BY stage_idx
""")


def _op_stream_funnel(spark, sf_dir):
    """Streaming funnel (streaming/stream.py:stream_funnel_counts):
    per-user greedy chain state in applyInPandasWithState (a few longs
    per user); a Trigger.AvailableNow replay equals the batch funnel, so
    this reuses op_funnel's oracle."""
    from framequery_spark.streaming.stream import stream_funnel_counts

    return stream_funnel_counts(spark, f"{sf_dir}/events.parquet",
                                ["view", "click", "purchase"],
                                within_seconds=172_800).orderBy("stage_idx")


_op("op_stream_funnel", _op_stream_funnel, _OPS["op_funnel"][1])


def _op_retention(spark, sf_dir):
    """Day-granularity retention cohorts (operators/events.py:
    retention_cohorts): three keyed shuffles (first activity, distinct
    user-days, cohort×offset distinct counts) + a broadcast cohort-size
    join; the offset is exact date arithmetic on truncated periods."""
    from framequery_spark.operators.events import retention_cohorts

    return retention_cohorts(_scope(spark, sf_dir)["events"],
                             granularity="day").orderBy("cohort", "offset")


_op("op_retention", _op_retention, """
WITH f AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort
  FROM events GROUP BY 1),
a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS p FROM events),
j AS (
  SELECT a.user_id, f.cohort,
         CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(a.p AS DATE))
              AS INT) AS "offset"
  FROM a JOIN f USING (user_id)),
c AS (SELECT cohort, "offset", count(DISTINCT user_id) AS n_active
      FROM j GROUP BY 1, 2)
SELECT CAST(c.cohort AS TIMESTAMP) AS cohort, c."offset", c.n_active,
       round(CAST(c.n_active AS DOUBLE) / s.n0, 4) AS retention
FROM c JOIN (SELECT cohort, n_active AS n0 FROM c WHERE "offset" = 0) s
  USING (cohort)
ORDER BY cohort, "offset"
""")


def _op_profile(spark, sf_dir):
    """Single-scan numeric profiling (operators/profile.py:
    profile_numeric): 6 map-side partial aggregates per column, one
    result row stacked row-locally; sums/sums-of-squares are
    DECIMAL(38,12)-quantized so mean/stddev are order-free and restate
    exactly."""
    from framequery_spark.operators.profile import profile_numeric

    return profile_numeric(
        _scope(spark, sf_dir)["lineitem"],
        ["l_quantity", "l_extendedprice", "l_discount"]).orderBy("column")


_op("op_profile", _op_profile, """
WITH a AS (
  SELECT count(l_quantity) AS q_n,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS q_nn,
         min(CAST(l_quantity AS DOUBLE)) AS q_min,
         max(CAST(l_quantity AS DOUBLE)) AS q_max,
         sum(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(38,12))) AS q_s,
         sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                  AS DECIMAL(38,12))) AS q_ss,
         count(l_extendedprice) AS p_n,
         sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS p_nn,
         min(CAST(l_extendedprice AS DOUBLE)) AS p_min,
         max(CAST(l_extendedprice AS DOUBLE)) AS p_max,
         sum(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,12))) AS p_s,
         sum(CAST(CAST(l_extendedprice AS DOUBLE)
                  * CAST(l_extendedprice AS DOUBLE)
                  AS DECIMAL(38,12))) AS p_ss,
         count(l_discount) AS d_n,
         sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS d_nn,
         min(CAST(l_discount AS DOUBLE)) AS d_min,
         max(CAST(l_discount AS DOUBLE)) AS d_max,
         sum(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(38,12))) AS d_s,
         sum(CAST(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE)
                  AS DECIMAL(38,12))) AS d_ss
  FROM lineitem)
SELECT 'l_quantity' AS "column", q_n AS n, CAST(q_nn AS BIGINT) AS n_null,
       q_min AS min, q_max AS max,
       round(CAST(q_s AS DOUBLE) / q_n, 6) AS mean,
       CASE WHEN q_n >= 2 THEN round(sqrt(
         (q_n * CAST(q_ss AS DOUBLE) - CAST(q_s AS DOUBLE)
          * CAST(q_s AS DOUBLE)) / (q_n * (q_n - 1))), 6) END AS stddev
FROM a
UNION ALL
SELECT 'l_extendedprice', p_n, CAST(p_nn AS BIGINT), p_min, p_max,
       round(CAST(p_s AS DOUBLE) / p_n, 6),
       CASE WHEN p_n >= 2 THEN round(sqrt(
         (p_n * CAST(p_ss AS DOUBLE) - CAST(p_s AS DOUBLE)
          * CAST(p_s AS DOUBLE)) / (p_n * (p_n - 1))), 6) END
FROM a
UNION ALL
SELECT 'l_discount', d_n, CAST(d_nn AS BIGINT), d_min, d_max,
       round(CAST(d_s AS DOUBLE) / d_n, 6),
       CASE WHEN d_n >= 2 THEN round(sqrt(
         (d_n * CAST(d_ss AS DOUBLE) - CAST(d_s AS DOUBLE)
          * CAST(d_s AS DOUBLE)) / (d_n * (d_n - 1))), 6) END
FROM a
ORDER BY "column"
""")


def _op_changepoint(spark, sf_dir):
    """Mean-shift changepoint detection on the hourly event rate
    (operators/events.py:changepoint_mean_shift): binary-segmentation
    statistic over exact integer prefix sums; the bucket table (not the
    event stream) is the only globally-ordered window, and ranking is
    on the ROUNDED score so the top-k cut restates deterministically."""
    from framequery_spark.operators.events import changepoint_mean_shift

    return changepoint_mean_shift(_scope(spark, sf_dir)["events"],
                                  granularity="hour", top_k=5)


_op("op_changepoint", _op_changepoint, """
WITH b AS (
  SELECT date_trunc('hour', ts) AS period, count(*) AS x
  FROM events GROUP BY 1),
c AS (
  SELECT period, row_number() OVER (ORDER BY period) AS t,
         sum(x) OVER (ORDER BY period) AS cum
  FROM b),
tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total FROM b)
SELECT CAST(period AS TIMESTAMP) AS split_period,
       CAST(t AS INT) AS n_before,
       CAST(n - t AS BIGINT) AS n_after,
       round(CAST(cum AS DOUBLE) / t, 6) AS mean_before,
       round(CAST(total - cum AS DOUBLE)
             / (CAST(n AS DOUBLE) - t), 6) AS mean_after,
       round(sqrt(CAST(t AS DOUBLE) * (n - t) / n)
             * abs(CAST(cum AS DOUBLE) / t
                   - CAST(total - cum AS DOUBLE)
                     / (CAST(n AS DOUBLE) - t)), 6) AS score
FROM c, tot WHERE t < n
ORDER BY score DESC, split_period LIMIT 5
""")


def _op_transitions(spark, sf_dir):
    """First-order Markov transition matrix (operators/events.py:
    event_transitions): one user-keyed lag window, a |types|^2-bounded
    count groupBy, broadcast outgoing totals."""
    from framequery_spark.operators.events import event_transitions

    return (event_transitions(_scope(spark, sf_dir)["events"])
            .orderBy("from_type", "to_type"))


_op("op_transitions", _op_transitions, """
WITH steps AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_type) AS from_type
  FROM events),
c AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
o AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS outn
      FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, c.n,
       round(CAST(c.n AS DOUBLE) / o.outn, 6) AS prob
FROM c JOIN o USING (from_type)
ORDER BY c.from_type, c.to_type
""")


def _op_rfm(spark, sf_dir):
    """RFM user segmentation (operators/events.py:rfm_segments): one
    keyed groupBy + one broadcast single-row quartile aggregate; scores
    are row-local integer comparisons, no global window (the textbook
    ntile(4) would single-reduce every user). All three dimensions are
    exact integers (epoch-micros / counts / DECIMAL-summed micro-units)
    so the interpolated quartiles restate bit-exact in the oracle."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.events import rfm_segments

    return (rfm_segments(_scope(spark, sf_dir)["events"])
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("user").alias("keysum"))
            .orderBy("segment"))


_op("op_rfm", _op_rfm, """
WITH eu AS (
  SELECT user_id AS u, epoch_us(max(ts)) AS r, count(*) AS f,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END)
              * 1000000 AS BIGINT) AS m_micro
  FROM events GROUP BY user_id),
q AS (
  SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY r) AS r1,
         percentile_cont(0.50) WITHIN GROUP (ORDER BY r) AS r2,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY r) AS r3,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY f) AS f1,
         percentile_cont(0.50) WITHIN GROUP (ORDER BY f) AS f2,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY f) AS f3,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY m_micro) AS m1,
         percentile_cont(0.50) WITHIN GROUP (ORDER BY m_micro) AS m2,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY m_micro) AS m3
  FROM eu)
SELECT concat(
         CAST(1 + (r > r1)::int + (r > r2)::int + (r > r3)::int AS VARCHAR),
         CAST(1 + (f > f1)::int + (f > f2)::int + (f > f3)::int AS VARCHAR),
         CAST(1 + (m_micro > m1)::int + (m_micro > m2)::int
              + (m_micro > m3)::int AS VARCHAR)) AS segment,
       count(*) AS n_users, CAST(sum(u) AS BIGINT) AS keysum
FROM eu, q GROUP BY 1 ORDER BY 1
""")


def _op_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift between the purchase and click
    value distributions (operators/events.py:ks_drift): one groupBy on
    the 1e-6-quantized value (bounded by the metric's dynamic range, not
    row count), a CDF cumsum over that bounded table, broadcast totals;
    the sup runs on exact integers (|ca*n_b - cb*n_a|) so no float enters
    until the final row."""
    from framequery_spark.operators.events import ks_drift

    return ks_drift(_scope(spark, sf_dir)["events"],
                    "event_type", "purchase", "click")


_op("op_ks_drift", _op_ks_drift, """
WITH pts AS (
  SELECT CAST(floor(value * 1000000) AS BIGINT) AS v,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
  GROUP BY 1),
cdf AS (
  SELECT v, sum(na) OVER (ORDER BY v) AS ca,
         sum(nb) OVER (ORDER BY v) AS cb
  FROM pts),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
               CAST(sum(nb) AS BIGINT) AS n_b FROM pts)
SELECT n_a, n_b,
       CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
       round(CAST(max(abs(ca * n_b - cb * n_a)) AS DOUBLE)
             / (n_a * n_b), 6) AS ks_stat
FROM cdf, tot GROUP BY n_a, n_b
""")


_TRGM_EXTRACT = """list_distinct(flatten(list_transform(
    list_transform(
      list_filter(regexp_split_to_array(
        regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'),
        ' '), w -> w <> ''),
      w -> concat('  ', w, ' ')),
    s -> list_transform(range(1, length(s) - 1), i -> s[i : i + 2]))))"""


def _op_trgm_pairs(spark, sf_dir):
    """pg_trgm similarity self-join over the distinct part-name
    vocabulary (operators/dedup.py:trgm_pairs): blocked on the 64-bit
    trigram hash, never all-pairs — the distributed `a % b` fuzzy
    string match."""
    from framequery_spark.operators.dedup import trgm_pairs

    names = _scope(spark, sf_dir)["part"].select("p_name").distinct()
    return trgm_pairs(names, id_col="p_name", text_col="p_name",
                      threshold=0.45).orderBy("id1", "id2")


_op("op_trgm_pairs", _op_trgm_pairs, f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
p AS (SELECT p_name, {_TRGM_EXTRACT.format(col='p_name')} AS tg FROM names),
t AS (SELECT p_name, unnest(tg) AS g FROM p),
c AS (SELECT p_name, count(*) AS n FROM t GROUP BY 1),
common AS (
  SELECT a.p_name AS id1, b.p_name AS id2, count(*) AS cm
  FROM t a JOIN t b USING (g) WHERE a.p_name < b.p_name GROUP BY 1, 2)
SELECT id1, id2, round(sim_raw, 6) AS sim
FROM (SELECT id1, id2,
             CAST(cm AS DOUBLE) / (c1.n + c2.n - cm) AS sim_raw
      FROM common JOIN c c1 ON c1.p_name = id1 JOIN c c2 ON c2.p_name = id2)
WHERE sim_raw >= 0.45
ORDER BY id1, id2
""")


def _op_trgm_dedup(spark, sf_dir):
    """trgm_pairs over full document text with the doc-frequency cap at
    10% of the corpus: boilerplate trigrams occurring in more than
    |docs|/10 documents are dropped on BOTH sides before the block join —
    the long-text volume/skew control, restated identically in the oracle
    (similarity is then Jaccard of the capped trigram sets). The cap
    scales WITH the corpus so the entry stays non-degenerate at every
    bench scale (a fixed count over-filters at 10x the documents)."""
    from framequery_spark.operators.dedup import trgm_pairs

    docs = _scope(spark, sf_dir)["documents"]
    cap = docs.count() // 10
    return trgm_pairs(docs, "doc_id", "text",
                      threshold=0.4, max_doc_freq=cap).orderBy("id1", "id2")


_op("op_trgm_dedup", _op_trgm_dedup, f"""
WITH p AS (SELECT doc_id, {_TRGM_EXTRACT.format(col='text')} AS tg
           FROM documents),
t0 AS (SELECT doc_id, unnest(tg) AS g FROM p),
freq AS (SELECT g FROM t0 GROUP BY g
         HAVING count(*) > (SELECT count(*) // 10 FROM documents)),
t AS (SELECT * FROM t0 ANTI JOIN freq USING (g)),
c AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS cm
  FROM t a JOIN t b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id1, id2, round(sim_raw, 6) AS sim
FROM (SELECT id1, id2,
             CAST(cm AS DOUBLE) / (c1.n + c2.n - cm) AS sim_raw
      FROM common JOIN c c1 ON c1.doc_id = id1 JOIN c c2 ON c2.doc_id = id2)
WHERE sim_raw >= 0.4
ORDER BY id1, id2
""")


def _op_group_sample(spark, sf_dir):
    """Deterministic per-source k-sample (operators/sampling.py:
    group_sample_k): exactly min(k, |group|) rows per source by md5-hash
    order — engine-portable reservoir sampling; the oracle picks the
    identical rows with the same md5 window."""
    from framequery_spark.operators.sampling import group_sample_k

    docs = _scope(spark, sf_dir)["documents"]
    return (group_sample_k(docs, "source", "doc_id", k=5, salt="gk")
            .select("source", "doc_id").orderBy("source", "doc_id"))


_op("op_group_sample", _op_group_sample, """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat(CAST(doc_id AS VARCHAR), 'gk')),
                    CAST(doc_id AS VARCHAR)) AS rn
  FROM documents) WHERE rn <= 5
ORDER BY source, doc_id
""")


def _op_source_divergence(spark, sf_dir):
    """Per-source Jensen–Shannon divergence from the corpus unigram
    distribution over the top-1000 vocab (operators/text.py:
    source_divergence) — DECIMAL(28,12)-quantized sums, so the aggregate
    is order-independent and engine-reproducible."""
    from framequery_spark.operators.text import source_divergence

    return source_divergence(_scope(spark, sf_dir)["documents"],
                             vocab_size=1000).orderBy("source")


_op("op_source_divergence", _op_source_divergence, r"""
WITH t AS (
  SELECT source AS g,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
c AS (SELECT g, term, count(*) AS freq FROM t WHERE term <> ''
      GROUP BY 1, 2),
v AS (SELECT term, CAST(sum(freq) AS BIGINT) AS cf FROM c GROUP BY term
      ORDER BY cf DESC, term LIMIT 1000),
ct AS (SELECT CAST(sum(cf) AS BIGINT) AS ctot FROM v),
gt AS (SELECT c.g, CAST(sum(c.freq) AS BIGINT) AS gtot
       FROM c JOIN v USING (term) GROUP BY c.g),
cells AS (
  SELECT gt.g, gt.gtot,
         coalesce(c.freq, 0) / CAST(gt.gtot AS DOUBLE) AS p,
         v.cf / CAST(ct.ctot AS DOUBLE) AS q
  FROM gt CROSS JOIN v CROSS JOIN ct
  LEFT JOIN c ON c.g = gt.g AND c.term = v.term),
terms AS (
  SELECT g, gtot,
         CAST(CASE WHEN p > 0
                   THEN p * ln(p / ((p + q) / 2)) / 2
                   ELSE 0.0 END
              + q * ln(q / ((p + q) / 2)) / 2
              AS DECIMAL(28,12)) AS js
  FROM cells)
SELECT g AS source, gtot AS n_tokens,
       round(CAST(sum(js) AS DOUBLE), 6) AS js
FROM terms GROUP BY g, gtot ORDER BY source
""")


def _op_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py:weighted_sample_k, Efraimidis-Spirakis A-Res
    with md5-derived uniforms): rank by ln(u)/weight descending, top-k =
    a weight-proportional sample, reproducible across engines. Weighted
    by document length (n_chars)."""
    from framequery_spark.operators.sampling import weighted_sample_k

    docs = _scope(spark, sf_dir)["documents"]
    return (weighted_sample_k(docs, "n_chars", "doc_id", k=50, salt="ws")
            .select("doc_id", "source", "n_chars").orderBy("doc_id"))


_op("op_weighted_sample", _op_weighted_sample, """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ln((CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                                             'ws')), 1, 15)) AS BIGINT)
             + 1) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS s
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
  ORDER BY s DESC, CAST(doc_id AS VARCHAR) LIMIT 50)
ORDER BY doc_id
""")


def _op_event_anomaly(spark, sf_dir):
    """Per-type event-rate z-scores (operators/events.py:
    event_rate_anomaly): hourly counts z-scored against each type's own
    bucket distribution, from DECIMAL-exact sums so the scores are
    engine-identical. One keyed count + one type-keyed stats aggregate +
    a broadcast join back."""
    from framequery_spark.operators.events import event_rate_anomaly

    return (event_rate_anomaly(_scope(spark, sf_dir)["events"],
                               bucket="hour", z_threshold=2.5)
            .orderBy("event_type", "bucket"))


_op("op_event_anomaly", _op_event_anomaly, """
WITH c AS (
  SELECT event_type AS etype, date_trunc('hour', ts) AS bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT etype, count(*) AS k,
         CAST(sum(CAST(n AS DECIMAL(38,0))) AS DOUBLE) AS sd,
         CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
              AS DOUBLE) AS s2
  FROM c GROUP BY 1),
z AS (
  SELECT c.etype, CAST(c.bucket AS TIMESTAMP) AS bucket, c.n,
         CASE WHEN s.k > 1 AND (s.s2 - s.sd * s.sd / CAST(s.k AS DOUBLE))
                              / (CAST(s.k AS DOUBLE) - 1.0) > 0
              THEN (CAST(c.n AS DOUBLE) - s.sd / CAST(s.k AS DOUBLE))
                   / sqrt((s.s2 - s.sd * s.sd / CAST(s.k AS DOUBLE))
                          / (CAST(s.k AS DOUBLE) - 1.0))
              ELSE 0.0 END AS zraw
  FROM c JOIN s USING (etype))
SELECT etype AS event_type, bucket, n, round(zraw, 4) AS z,
       abs(zraw) >= 2.5 AS is_anomaly
FROM z ORDER BY event_type, bucket
""")


def _op_stream_anomaly(spark, sf_dir):
    """Streaming rate-anomaly monitor (streaming/stream.py:
    stream_event_anomaly): per-(type, hour) counters accumulate in a
    real streaming aggregation (state bounded by the type x bucket
    grid); the z-score pass runs over the finished sink. An AvailableNow
    replay equals the batch operator, so this reuses op_event_anomaly's
    oracle."""
    from framequery_spark.streaming.stream import stream_event_anomaly

    return stream_event_anomaly(spark, f"{sf_dir}/events.parquet",
                                bucket="hour", z_threshold=2.5) \
        .orderBy("event_type", "bucket")


_op("op_stream_anomaly", _op_stream_anomaly, _OPS["op_event_anomaly"][1])


def _op_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC (operators/classifier.py:auc_score)
    of the heuristic quality score as a ranker of lang='en': Mann-
    Whitney U over the quantized score grid — integer numerator, one
    bounded-grid cumsum window, single-row result."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.classifier import auc_score
    from framequery_spark.operators.text import quality_score

    docs = _scope(spark, sf_dir)["documents"]
    scored = docs.select((F.col("lang") == "en").alias("y"),
                         quality_score(F.col("text")).alias("q"))
    return auc_score(scored, "y", "q")


def _auc_oracle() -> str:
    # the quality expression is _text_stats_oracle()'s 'quality' column,
    # built from the same helpers so the two oracles can never drift
    n_tok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    n_punct = ("length(text) - length(regexp_replace(text, "
               "'[^A-Za-z0-9\\s]', '', 'g'))")
    sw_ratio = f"({_sw_count_sql(_SW_EN10)} / {n_tok})"
    len_score = (f"CASE WHEN {n_tok} BETWEEN 10 AND 10000 THEN 1.0 "
                 f"WHEN {n_tok} < 10 THEN CAST({n_tok} AS DOUBLE) / 10.0 "
                 "ELSE 0.5 END")
    p_ratio = f"CAST({n_punct} AS DOUBLE) / greatest(length(text), 1)"
    quality = (f"round(0.5 * ({len_score}) + 0.3 * least({sw_ratio} "
               f"* 5.0, 1.0) + 0.2 * (1.0 - ({p_ratio})), 6)")
    return f"""
WITH scored AS (
  SELECT lang = 'en' AS y, {quality} AS q FROM documents),
grid AS (
  SELECT CAST(floor(q * 1000000.0) AS BIGINT) AS g,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
  FROM scored WHERE y IS NOT NULL AND q IS NOT NULL GROUP BY 1),
cum AS (
  SELECT g, pos, neg,
         sum(neg) OVER (ORDER BY g) - neg AS neg_below
  FROM grid)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       CAST(sum(2 * neg_below * pos + neg * pos) AS BIGINT) AS auc_num2,
       CASE WHEN sum(pos) > 0 AND sum(neg) > 0
            THEN round(CAST(sum(2 * neg_below * pos + neg * pos)
                            AS DOUBLE)
                       / (2.0 * sum(pos) * sum(neg)), 6) END AS auc
FROM cum
"""


_op("op_auc", _op_auc, _auc_oracle())


def _quality_scored(spark, sf_dir):
    from pyspark.sql import functions as F

    from framequery_spark.operators.text import quality_score

    docs = _scope(spark, sf_dir)["documents"]
    return docs.select((F.col("lang") == "en").alias("y"),
                       quality_score(F.col("text")).alias("q"))


def _quality_scored_sql() -> str:
    n_tok = "len(regexp_split_to_array(trim(text), '\\s+'))"
    n_punct = ("length(text) - length(regexp_replace(text, "
               "'[^A-Za-z0-9\\s]', '', 'g'))")
    sw_ratio = f"({_sw_count_sql(_SW_EN10)} / {n_tok})"
    len_score = (f"CASE WHEN {n_tok} BETWEEN 10 AND 10000 THEN 1.0 "
                 f"WHEN {n_tok} < 10 THEN CAST({n_tok} AS DOUBLE) / 10.0 "
                 "ELSE 0.5 END")
    p_ratio = f"CAST({n_punct} AS DOUBLE) / greatest(length(text), 1)"
    quality = (f"round(0.5 * ({len_score}) + 0.3 * least({sw_ratio} "
               f"* 5.0, 1.0) + 0.2 * (1.0 - ({p_ratio})), 6)")
    return f"SELECT lang = 'en' AS y, {quality} AS q FROM documents"


def _op_confusion(spark, sf_dir):
    """Thresholded classifier quality (operators/classifier.py:
    confusion_stats): tp/fp/fn/tn from ONE conditional-sum aggregate,
    exact-integer ratios — the operating-point view next to op_auc's
    ranking view."""
    from framequery_spark.operators.classifier import confusion_stats

    return confusion_stats(_quality_scored(spark, sf_dir), "y", "q",
                           threshold=0.8)


_op("op_confusion", _op_confusion, f"""
WITH scored AS ({_quality_scored_sql()})
SELECT CAST(sum(CASE WHEN y AND q >= 0.8 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN NOT y AND q >= 0.8 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y AND q < 0.8 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(sum(CASE WHEN NOT y AND q < 0.8 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       round(CAST(sum(CASE WHEN (y AND q >= 0.8)
                             OR (NOT y AND q < 0.8)
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS accuracy,
       CASE WHEN sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) > 0
            THEN round(CAST(sum(CASE WHEN y AND q >= 0.8 THEN 1 ELSE 0
                                END) AS DOUBLE)
                       / sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END), 6)
       END AS precision,
       CASE WHEN sum(CASE WHEN y THEN 1 ELSE 0 END) > 0
            THEN round(CAST(sum(CASE WHEN y AND q >= 0.8 THEN 1 ELSE 0
                                END) AS DOUBLE)
                       / sum(CASE WHEN y THEN 1 ELSE 0 END), 6)
       END AS recall,
       CASE WHEN 2 * sum(CASE WHEN y AND q >= 0.8 THEN 1 ELSE 0 END)
                 + sum(CASE WHEN NOT y AND q >= 0.8 THEN 1 ELSE 0 END)
                 + sum(CASE WHEN y AND q < 0.8 THEN 1 ELSE 0 END) > 0
            THEN round(CAST(2 * sum(CASE WHEN y AND q >= 0.8 THEN 1
                                    ELSE 0 END) AS DOUBLE)
                       / (2 * sum(CASE WHEN y AND q >= 0.8 THEN 1
                                  ELSE 0 END)
                          + sum(CASE WHEN NOT y AND q >= 0.8 THEN 1
                                ELSE 0 END)
                          + sum(CASE WHEN y AND q < 0.8 THEN 1
                                ELSE 0 END)), 6)
       END AS f1
FROM scored WHERE y IS NOT NULL AND q IS NOT NULL
""")


def _op_calibration(spark, sf_dir):
    """Reliability-diagram bins (operators/classifier.py:
    calibration_bins): at most `bins` groups, decimal-exact mean_score,
    integer frac_pos — mean_score ~ frac_pos per bin iff the score is
    calibrated."""
    from framequery_spark.operators.classifier import calibration_bins

    return calibration_bins(_quality_scored(spark, sf_dir), "y", "q",
                            bins=10)


_op("op_calibration", _op_calibration, f"""
WITH scored AS ({_quality_scored_sql()})
SELECT CAST(least(floor(q * 10.0), 9) AS INT) AS bin,
       count(*) AS n,
       round(CAST(sum(CAST(q AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS mean_score,
       round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS frac_pos
FROM scored WHERE y IS NOT NULL AND q IS NOT NULL
GROUP BY 1 ORDER BY 1
""")


def _op_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/profile.py:snapshot_diff): one
    full outer equi join of content fingerprints between two simulated
    corpus versions; per-status counts + keysum pin exact membership."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.profile import snapshot_diff

    docs = _scope(spark, sf_dir)["documents"]
    old = docs.where(F.col("doc_id") < 400)
    new = docs.where(F.col("doc_id") >= 200).withColumn(
        "text", F.when(F.col("doc_id") % 10 == 0,
                       F.concat(F.col("text"), F.lit(" edited")))
                 .otherwise(F.col("text")))
    return (snapshot_diff(old, new)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").alias("keysum"))
            .orderBy("status"))


_op("op_snapshot_diff", _op_snapshot_diff, r"""
WITH o AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id < 400),
n AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(
           CASE WHEN doc_id % 10 = 0 THEN concat(text, ' edited')
                ELSE text END), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id >= 200),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT status, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS keysum
FROM j GROUP BY 1 ORDER BY 1
""")


def _op_stream_upsert(spark, sf_dir):
    """CDC latest-wins upsert sink (streaming/stream.py:
    stream_upsert_latest): per-key argmax merged in foreachBatch with
    version-dir swaps; the final keyed table equals the batch
    latest-per-user restatement (max ts, event_id desc tiebreak).
    Fresh dirs per run, like op_stream_ingest."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from framequery_spark.streaming.stream import (scratch_dir,
                                                   stream_upsert_latest)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = os.path.join(scratch_dir(), f"fq_upsert_{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    out = stream_upsert_latest(spark, f"{sf_dir}/events.parquet",
                               out_dir=f"{tmp}/out",
                               checkpoint_dir=f"{tmp}/ckpt")
    # raw doubles pass through untouched on both sides — bit-identical
    # with no rounding-mode exposure
    return (out.select("user_id", "event_id", "event_type", "value")
            .orderBy("user_id"))


_op("op_stream_upsert", _op_stream_upsert, """
SELECT user_id, event_id, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 ORDER BY user_id
""")


def _op_sem_decontam(spark, sf_dir):
    """Embedding-level benchmark decontamination
    (operators/contamination.py:semantic_decontaminate): the benchmark
    side (vec_id < 20 here) broadcasts; the corpus streams once through a
    BroadcastNestedLoopJoin LeftAnti with a row-local JVM cosine — clean
    rows never shuffle. Semantic complement of op_decontaminate."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.contamination import (
        semantic_decontaminate)

    emb = _scope(spark, sf_dir)["embeddings"]
    bench = emb.filter(F.col("vec_id") < 20)
    train = emb.filter(F.col("vec_id") >= 20)
    return (semantic_decontaminate(train, bench, threshold=0.35)
            .select("vec_id").orderBy("vec_id"))


_op("op_sem_decontam", _op_sem_decontam, """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT t.vec_id FROM e t
WHERE t.vec_id >= 20 AND NOT EXISTS (
  SELECT 1 FROM e b WHERE b.vec_id < 20
    AND list_cosine_similarity(t.v, b.v) >= 0.35)
ORDER BY t.vec_id
""")


_HYBRID_QUERIES = [(0, "spark shuffle join"), (1, "window sort batch"),
                   (2, "stream dedup hash table")]


def _op_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion
    (operators/retrieval.py:rrf_fuse): BM25 lexical ranking over documents
    fused with exact dense-cosine ranking over the aligned embeddings
    (vec_id == doc_id in the testdata) — the standard two-tower hybrid
    search combiner, calibration-free because it uses only ranks. Both
    input rankings are |queries| x k tables; the fusion is one union +
    one keyed decimal sum + one rank window."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.retrieval import bm25_topk, rrf_fuse
    from framequery_spark.operators.similarity import cosine_topk

    scope = _scope(spark, sf_dir)
    from framequery_spark.sources.local_relation import local_relation

    # JVM LocalTableScan — scanned by both fusion inputs (see op_bm25_topk)
    qdf = local_relation(spark, _HYBRID_QUERIES,
                         "query_id long, query string")
    sparse = bm25_topk(scope["documents"], qdf, k=10)
    emb = scope["embeddings"]
    dense = (cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)
             .select("query_id", F.col("neighbor_id").alias("doc_id"),
                     "rank"))
    return (rrf_fuse([sparse, dense], k=60, topk=5)
            .orderBy("query_id", "rank"))


def _rrf_hybrid_oracle(k_rrf=60, k_in=10, topk=5) -> str:
    """BM25 chain (the op_bm25_topk derivation, query ids 0-2) + exact
    dense-cosine chain (vec_id < 3), fused with
    sum(1/(k+rank)) in DECIMAL(28,12) — the whole hybrid pipeline
    restated declaratively so the fusion's QUALITY is hash-verified."""
    vals = ", ".join(f"({qid}, '{q}')" for qid, q in _HYBRID_QUERIES)
    return f"""
WITH q(query_id, query) AS (VALUES {vals}),
terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> ''
       GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM terms WHERE term <> ''
       GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT count(*) FROM terms WHERE term <> '') * 1.0
                 / (SELECT count(*) FROM documents) AS avgdl),
qt AS (SELECT DISTINCT query_id,
              unnest(regexp_split_to_array(trim(lower(query)), '\\s+')) AS term
       FROM q),
dft AS (SELECT term, count(*) AS df_t FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
cand AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(ln(1.0 + (s.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
              AS DECIMAL(28,12)) AS c
  FROM qt JOIN dft USING (term) JOIN tf USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
bscored AS (
  SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
  FROM cand GROUP BY query_id, doc_id),
sparse AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM bscored QUALIFY rank <= {k_in}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dpairs AS (
  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
         round(list_cosine_similarity(qv.v, c.v), 6) AS cosine
  FROM base qv JOIN base c ON qv.vec_id <> c.vec_id
  WHERE qv.vec_id < 3),
dense AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS rank
  FROM dpairs QUALIFY rank <= {k_in}),
u AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense),
fused AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(1.0 / ({k_rrf} + rank) AS DECIMAL(28,12)))
                    AS DOUBLE), 6) AS rrf_score,
         count(*) AS n_lists
  FROM u GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rrf_score, n_lists, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, n_lists DESC,
                                        doc_id) AS rank
  FROM fused) t
WHERE rank <= {topk}
ORDER BY query_id, rank
"""


_op("op_rrf_hybrid", _op_rrf_hybrid, _rrf_hybrid_oracle())


def _op_ndcg(spark, sf_dir):
    """nDCG@5 of the seeded LSH-ANN ranking against graded relevance
    derived from the exact cosine top-10 (rel 3 for exact ranks 1-2, 2
    for 3-5, 1 for 6-10) — the GRADED companion of op_ann_recall
    (operators/retrieval.py:ndcg_at_k): recall counts hits, nDCG rewards
    putting the most-relevant neighbors first. Both eval inputs are
    |queries| x k tables; the eval is one equi join + two keyed decimal
    sums."""
    from pyspark.sql import functions as F

    from framequery_spark.operators.retrieval import ndcg_at_k
    from framequery_spark.operators.similarity import (cosine_topk,
                                                       lsh_ann_topk)

    emb = _scope(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 10)
    approx = lsh_ann_topk(emb, q, k=5, n_bits=8, n_tables=4)
    exact = cosine_topk(emb, q, k=10)
    qrels = exact.select(
        "query_id", "neighbor_id",
        F.when(F.col("rank") <= 2, F.lit(3))
        .when(F.col("rank") <= 5, F.lit(2))
        .otherwise(F.lit(1)).alias("rel"))
    return ndcg_at_k(approx, qrels, k=5).orderBy("query_id")


def _ndcg_oracle(k=5, pool=10, n_bits=8, n_tables=4, dim=64, seed=42) -> str:
    """The seeded-ANN derivation (op_ann_topk's oracle) + the exact-cosine
    pool graded 3/2/1, reduced to per-query nDCG@k with the same
    ln-based discount and DECIMAL(28,12) gain sums as the engine."""
    from framequery_spark.operators.similarity import _hyperplanes

    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + 97 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes))
        buckets.append(f"({bits})")
    gain = ("CAST((pow(2.0, CAST({rel} AS DOUBLE)) - 1.0)"
            " / (ln({pos} + 1.0) / ln(2.0)) AS DECIMAL(28,12))")
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT vec_id, v, [{', '.join(buckets)}] AS bks FROM base),
apairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM sigs q JOIN sigs c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
    AND len(list_filter(range(1, {n_tables} + 1),
                        i -> q.bks[i] = c.bks[i])) > 0),
ann AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM apairs) t WHERE r <= {k}),
epairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM base q JOIN base c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10),
qrels AS (
  SELECT query_id, neighbor_id,
         CASE WHEN r <= 2 THEN 3 WHEN r <= {k} THEN 2 ELSE 1 END AS rel
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS r
    FROM epairs) t WHERE r <= {pool}),
dcg AS (
  SELECT a.query_id,
         sum({gain.format(rel='coalesce(qr.rel, 0)', pos='a.r')}) AS dcg
  FROM ann a LEFT JOIN qrels qr
       ON a.query_id = qr.query_id AND a.neighbor_id = qr.neighbor_id
  GROUP BY a.query_id),
ideal AS (
  SELECT query_id, sum({gain.format(rel='rel', pos='p')}) AS idcg
  FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, neighbor_id) AS p
    FROM qrels WHERE rel > 0) t
  WHERE p <= {k} GROUP BY query_id)
SELECT qs.query_id,
       round(CAST(coalesce(dcg, 0) AS DOUBLE), 6) AS dcg,
       round(CAST(coalesce(idcg, 0) AS DOUBLE), 6) AS idcg,
       round(CASE WHEN coalesce(idcg, 0) > 0
                  THEN CAST(coalesce(dcg, 0) AS DOUBLE)
                       / CAST(idcg AS DOUBLE)
                  ELSE 0.0 END, 6) AS ndcg
FROM (SELECT DISTINCT query_id FROM qrels) qs
LEFT JOIN dcg USING (query_id)
LEFT JOIN ideal USING (query_id)
ORDER BY qs.query_id
"""


_op("op_ndcg", _op_ndcg, _ndcg_oracle())


def _op_kmeans(spark, sf_dir):
    """Distributed fixed-iteration Lloyd k-means
    (operators/similarity.py:kmeans_fit): assignment is row-local
    (centroid LITERALS — no join), the update is one posexplode +
    (cluster, dim)-keyed groupBy with DECIMAL(38,12)-quantized sums, and
    the k x dim centroid table is a bounded driver collect between
    iterations (classifier.py's gradient pattern). Seeded injectable
    init makes the whole recurrence engine-deterministic; the oracle
    unrolls both iterations as a CTE chain."""
    from framequery_spark.operators.similarity import (
        fixed_random_centroids, kmeans_fit)

    emb = _scope(spark, sf_dir)["embeddings"]
    init = fixed_random_centroids(4, 64, seed=7)
    return (kmeans_fit(emb, 4, iters=2, init=init)
            .orderBy("cluster_id", "dim"))


def _kmeans_oracle(k=4, dim=64, seed=7) -> str:
    """kmeans_fit's 2-iteration recurrence restated declaratively: the
    seeded init centroids inline as literals; iteration-1 assignment is
    a literal-distance CASE argmin (round 1e-6, lowest-cluster tie);
    means are DECIMAL(38,12) sums cast to double; iteration-2 re-derives
    centroid lists and assigns via a 4-row cross join + row_number
    argmin. Distances use the proven list_dot_product fold shape:
    d = dot(v,v) - 2 dot(v,c) + dot(c,c)."""
    from framequery_spark.operators.similarity import fixed_random_centroids

    init = fixed_random_centroids(k, dim, seed)
    dists = []
    for c in init:
        c2 = 0.0
        for x in c:
            c2 += x * x
        lit = "[" + ", ".join(repr(x) for x in c) + "]"
        dists.append(f"round(list_dot_product(v, v)"
                     f" - 2 * list_dot_product(v, {lit})"
                     f" + {c2!r}, 6)")
    d_cols = ",\n         ".join(f"{d} AS d{i}" for i, d in enumerate(dists))
    argmin = " ".join(
        [f"WHEN {' AND '.join(f'd{i} <= d{j}' for j in range(k) if j != i)} "
         f"THEN {i}" for i in range(k - 1)])
    c0_vals = ", ".join(
        f"({ci}, {d}, {init[ci][d]!r})"
        for ci in range(k) for d in range(dim))
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d1 AS (
  SELECT vec_id, v,
         {d_cols}
  FROM base),
a1 AS (
  SELECT vec_id, v,
         CASE {argmin} ELSE {k - 1} END AS cl
  FROM d1),
c0(cl, dim, m0) AS (VALUES {c0_vals}),
s1 AS (
  SELECT cl, d AS dim,
         round(CAST(sum(CAST(v[d + 1] AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 6) AS m,
         count(*) AS n
  FROM a1, range({dim}) t(d) GROUP BY cl, d),
g1 AS (
  SELECT c0.cl, c0.dim, coalesce(s1.m, c0.m0) AS m
  FROM c0 LEFT JOIN s1 ON c0.cl = s1.cl AND c0.dim = s1.dim),
c1 AS (SELECT cl, list(m ORDER BY dim) AS c FROM g1 GROUP BY cl),
a2 AS (
  SELECT vec_id, v, cl FROM (
    SELECT b.vec_id, b.v, c1.cl,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY round(list_dot_product(b.v, b.v)
                            - 2 * list_dot_product(b.v, c1.c)
                            + list_dot_product(c1.c, c1.c), 6) ASC,
                      c1.cl ASC) AS rn
    FROM base b CROSS JOIN c1) t
  WHERE rn = 1),
s2 AS (
  SELECT cl, d AS dim,
         round(CAST(sum(CAST(v[d + 1] AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 6) AS m,
         count(*) AS n
  FROM a2, range({dim}) t(d) GROUP BY cl, d)
SELECT CAST(g1.cl AS INT) AS cluster_id, CAST(g1.dim AS INT) AS dim,
       coalesce(s2.m, g1.m) AS value,
       CAST(coalesce(s2.n, 0) AS BIGINT) AS n_members
FROM g1 LEFT JOIN s2 ON g1.cl = s2.cl AND g1.dim = s2.dim
ORDER BY cluster_id, dim
"""


_op("op_kmeans", _op_kmeans, _kmeans_oracle())


def _op_winnow_pairs(spark, sf_dir):
    """MOSS winnowing near-dup candidates
    (operators/dedup.py:winnow_pairs): word 3-gram md5 hashes, window-4
    minimum selection (rightmost tie), pairs sharing >= 3 surviving
    fingerprints after a doc-freq-20 boilerplate cap. Fingerprinting is
    row-local JVM HOFs; pairing is an equi join on the 16-hex-char hash —
    never all-pairs. md5 (not xxhash64) keys precisely so the oracle can
    restate the SAME hash selection."""
    from framequery_spark.operators.dedup import winnow_pairs

    docs = _scope(spark, sf_dir)["documents"]
    return (winnow_pairs(docs, k=3, window=4, min_shared=3,
                         max_doc_freq=20)
            .orderBy("id1", "id2"))


_op("op_winnow_pairs", _op_winnow_pairs, r"""
WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id,
        list_transform(range(0, greatest(len(ws)-2, 0)),
          i -> substr(md5(array_to_string(list_slice(ws, i+1, i+3), ' ')),
                      1, 16)) AS hs
      FROM d),
sel AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CASE WHEN len(hs) = 0 THEN 0
                           ELSE greatest(len(hs) - 3, 1) END),
             s -> list_aggregate(list_slice(hs, s+1, least(s+4, len(hs))),
                                 'min'))) AS fp
    FROM g) t),
freq AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 20),
kept AS (SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM freq))
SELECT id1, id2, n_shared FROM (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2) t
WHERE n_shared >= 3
ORDER BY id1, id2
""")


def _op_containment(spark, sf_dir):
    """Asymmetric containment near-dup (operators/dedup.py:
    containment_pairs): |S1 ∩ S2| / min(|S1|, |S2|) over word 3-gram
    sets — catches a document EMBEDDED in a larger one, where Jaccard
    dilutes toward |A|/|B|. Same blocked shingle equi self-join shape as
    op_jaccard_pairs; sizes returned so callers see which side is
    contained."""
    from framequery_spark.operators.dedup import containment_pairs

    docs = _scope(spark, sf_dir)["documents"]
    return (containment_pairs(docs, k=3, threshold=0.8)
            .orderBy("id1", "id2"))


_op("op_containment", _op_containment, r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id1, id2, c1.n AS n1, c2.n AS n2,
       round(common * 1.0 / least(c1.n, c2.n), 4) AS containment
FROM pairs JOIN cnt c1 ON pairs.id1 = c1.doc_id
           JOIN cnt c2 ON pairs.id2 = c2.doc_id
WHERE common * 1.0 / least(c1.n, c2.n) >= 0.8
ORDER BY id1, id2
""")


def _op_dedup_quality(spark, sf_dir):
    """Dedup-config acceptance gate (operators/dedup.py:
    dedup_pair_quality): precision/recall/F1 of the MOSS winnowing
    candidate pairs against exact word-3-gram Jaccard >= 0.7 ground
    truth — the dedup counterpart of op_ann_recall. Both pair
    derivations are md5/string-exact, so the WHOLE evaluation is
    hash-verified (the config deliberately misses one true pair and
    flags one false pair at sf0.01: precision = recall = 0.96)."""
    from framequery_spark.operators.dedup import (dedup_pair_quality,
                                                  jaccard_pairs,
                                                  winnow_pairs)

    docs = _scope(spark, sf_dir)["documents"]
    approx = winnow_pairs(docs, k=3, window=4, min_shared=3,
                          max_doc_freq=20)
    exact = jaccard_pairs(docs, k=3, threshold=0.7)
    return dedup_pair_quality(approx, exact)


_op("op_dedup_quality", _op_dedup_quality, r"""
WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id,
        list_transform(range(0, greatest(len(ws)-2, 0)),
          i -> substr(md5(array_to_string(list_slice(ws, i+1, i+3), ' ')),
                      1, 16)) AS hs
      FROM d),
sel AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CASE WHEN len(hs) = 0 THEN 0
                           ELSE greatest(len(hs) - 3, 1) END),
             s -> list_aggregate(list_slice(hs, s+1, least(s+4, len(hs))),
                                 'min'))) AS fp
    FROM g) t),
freq AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 20),
kept AS (SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM freq)),
approx AS (
  SELECT id1, id2 FROM (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2) t
  WHERE n >= 3),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM d),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
exact_p AS (
  SELECT id1, id2 FROM (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2) p
  JOIN cnt c1 ON p.id1 = c1.doc_id JOIN cnt c2 ON p.id2 = c2.doc_id
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7),
m AS (SELECT (SELECT count(*) FROM approx) AS n_approx,
             (SELECT count(*) FROM exact_p) AS n_exact,
             (SELECT count(*) FROM approx JOIN exact_p USING (id1, id2))
               AS n_hit)
SELECT n_approx, n_exact, n_hit,
       CASE WHEN n_approx > 0
            THEN round(n_hit * 1.0 / n_approx, 6) END AS precision,
       CASE WHEN n_exact > 0
            THEN round(n_hit * 1.0 / n_exact, 6) END AS recall,
       CASE WHEN n_approx > 0 AND n_exact > 0
            THEN round(2.0 * n_hit / (n_approx + n_exact), 6) END AS f1
FROM m
""")


def _op_near_dup_sweep(spark, sf_dir):
    """Unified near-dup façade (operators/dedup.py: near_dup_pairs +
    near_dup_config_sweep): TWO methods — MOSS winnowing candidates and
    word-3-gram containment — evaluated against the SAME exact
    word-3-gram Jaccard >= 0.7 ground truth, one precision/recall/F1
    row per config. Both approx derivations and the truth are
    md5/string-exact, so the whole two-method sweep is hash-verified."""
    from framequery_spark.operators.dedup import near_dup_config_sweep

    docs = _scope(spark, sf_dir)["documents"]
    return near_dup_config_sweep(docs, {
        "containment_08": ("containment", {"k": 3, "threshold": 0.8}),
        "winnow_w4": ("winnow", {"k": 3, "window": 4, "min_shared": 3,
                                 "max_doc_freq": 20}),
    })


_op("op_near_dup_sweep", _op_near_dup_sweep, r"""
WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-1, 1)),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM d),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common_p AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact_p AS (
  SELECT id1, id2 FROM common_p
  JOIN cnt c1 ON common_p.id1 = c1.doc_id
  JOIN cnt c2 ON common_p.id2 = c2.doc_id
  WHERE common * 1.0 / (c1.n + c2.n - common) >= 0.7),
approx_c AS (
  SELECT id1, id2 FROM common_p
  JOIN cnt c1 ON common_p.id1 = c1.doc_id
  JOIN cnt c2 ON common_p.id2 = c2.doc_id
  WHERE common * 1.0 / least(c1.n, c2.n) >= 0.8),
g AS (SELECT doc_id,
        list_transform(range(0, greatest(len(ws)-2, 0)),
          i -> substr(md5(array_to_string(list_slice(ws, i+1, i+3), ' ')),
                      1, 16)) AS hs
      FROM d),
sel AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CASE WHEN len(hs) = 0 THEN 0
                           ELSE greatest(len(hs) - 3, 1) END),
             s -> list_aggregate(list_slice(hs, s+1, least(s+4, len(hs))),
                                 'min'))) AS fp
    FROM g) t),
freq AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 20),
kept AS (SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM freq)),
approx_w AS (
  SELECT id1, id2 FROM (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2) t
  WHERE n >= 3),
m AS (
  SELECT 'containment_08' AS config,
         (SELECT count(*) FROM approx_c) AS n_approx,
         (SELECT count(*) FROM exact_p) AS n_exact,
         (SELECT count(*) FROM approx_c JOIN exact_p USING (id1, id2))
           AS n_hit
  UNION ALL
  SELECT 'winnow_w4',
         (SELECT count(*) FROM approx_w),
         (SELECT count(*) FROM exact_p),
         (SELECT count(*) FROM approx_w JOIN exact_p USING (id1, id2)))
SELECT config, n_approx, n_exact, n_hit,
       CASE WHEN n_approx > 0
            THEN round(n_hit * 1.0 / n_approx, 6) END AS precision,
       CASE WHEN n_exact > 0
            THEN round(n_hit * 1.0 / n_exact, 6) END AS recall,
       CASE WHEN n_approx > 0 AND n_exact > 0
            THEN round(2.0 * n_hit / (n_approx + n_exact), 6) END AS f1
FROM m
ORDER BY config
""")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _sql_runner(_Q["q01_pricing_summary"][0])(spark, "/root/testdata/sf0.001")


# The driver records correctness for only the FIRST 50 queries() entries, so
# the window must rotate each round until every entry has a recent green
# driver row.  Rounds 4-7 maintained the rotation by hand and twice
# accumulated staleness debt (mid-round slot swaps pushed a cohort past the
# 2-round bar).  The window is now COMPUTED from the recorded
# CORRECTNESS_r*.json history, so under-rotation is impossible by
# construction:
#   1. every oracle-bearing entry that has never been driver-green, or whose
#      last green row is older than MAX_STALE_ROUNDS, takes a mandatory slot
#      (this is exactly the set tests/test_window_rotation.py's staleness
#      guard would flag if left out);
#   2. rows-only-by-contract entries (no oracle; approximate configs with
#      hash-green exact mirrors) get a slot when their last driver row of
#      any kind is >= 3 rounds old, so the weaker rows-check evidence stays
#      fresh too;
#   3. remaining slots fill least-recently-green first (ties: registration
#      order), which makes the steady state a clean cycle over all
#      oracle-bearing entries.
# The staleness bound is DERIVED from the inventory size: with N
# oracle-bearing entries and 50 slots, a full rotation takes ceil(N/50)
# rounds, so that is the tightest bound any policy can satisfy — a
# hard-coded constant goes arithmetically infeasible the moment the
# inventory crosses the next multiple of 50 (it did at 147 entries in
# round 9, with a 44-entry same-round cohort plus new surface overflowing
# the fixed 2-round bound).  tests/test_window_rotation.py computes the
# same bound and simulates this builder 8 rounds forward, so an
# infeasible combination fails at commit time.
# Entries outside the window stay covered by tests/test_conformance.py,
# which runs the same DuckDB differential over ALL entries every pytest
# session.
_WINDOW_SIZE = 50


def _max_stale_rounds(n_oracle_bearing: int) -> int:
    return max(2, -(-n_oracle_bearing // _WINDOW_SIZE))


def _correctness_history() -> dict[int, dict]:
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                rounds[int(m.group(1))] = json.load(fh)
        except (OSError, ValueError):
            continue  # a half-written artifact must not break the entry file
    return rounds


def _build_driver_window(history: dict[int, dict] | None = None,
                         current_round: int | None = None) -> list[str]:
    """Deterministic 50-slot driver window for ``current_round`` given the
    recorded correctness history (defaults: read CORRECTNESS_r*.json, next
    unrecorded round).  See the rotation-policy comment above."""
    rounds = _correctness_history() if history is None else history
    if current_round is None:
        current_round = max(rounds, default=0) + 1

    last_green: dict[str, int] = {}   # last round with a hash-green row
    last_row: dict[str, int] = {}     # last round with any driver row
    for rnd in sorted(rounds):
        for name, v in rounds[rnd].items():
            last_row[name] = rnd
            if v.get("hash_match"):
                last_green[name] = rnd

    names = list(_OPS) + [n for n in _Q if n not in _OPS]
    order = {n: i for i, n in enumerate(names)}
    oracle_bearing = [n for n in names
                      if (_OPS.get(n) or _Q.get(n))[1] is not None]
    rows_only = [n for n in names if n not in set(oracle_bearing)]
    max_stale = _max_stale_rounds(len(oracle_bearing))

    window: list[str] = []
    # 1. mandatory: never green, or green row older than the staleness bound
    for n in oracle_bearing:
        last = last_green.get(n)
        if last is None or current_round - last > max_stale:
            window.append(n)
    if rounds:
        assert len(window) <= _WINDOW_SIZE, (
            f"{len(window)} mandatory entries exceed the "
            f"{_WINDOW_SIZE}-slot window — the rotation fell more than a "
            f"full cycle behind")
    else:
        # no recorded history (fresh checkout without the CORRECTNESS
        # artifacts): every entry is "never green" — degrade to the first
        # 50 in registration order rather than failing the import
        window = window[:_WINDOW_SIZE]
    # 2. rows-only entries whose rows-check evidence is >= 3 rounds old
    for n in rows_only:
        if len(window) >= _WINDOW_SIZE:
            break
        if current_round - last_row.get(n, 0) > max_stale:
            window.append(n)
    # 3. LRU fill: least-recently-green oracle-bearing entries first
    fill = sorted((n for n in oracle_bearing if n not in set(window)),
                  key=lambda n: (last_green.get(n, 0), order[n]))
    window.extend(fill[:_WINDOW_SIZE - len(window)])
    return window[:_WINDOW_SIZE]


_DRIVER_WINDOW = _build_driver_window()
assert len(_DRIVER_WINDOW) == min(_WINDOW_SIZE, len(_OPS) + len(_Q)), \
    len(_DRIVER_WINDOW)


def _entry_fn(name: str) -> Callable[[SparkSession, str], DataFrame]:
    if name in _OPS:
        return _OPS[name][0]
    return _sql_runner(_Q[name][0])


# Entries that run a Structured Streaming query (Trigger.AvailableNow):
# each carries ~2-5 s of fixed checkpoint/trigger startup regardless of data
# volume. bench.py reports their total separately so the fixed streaming
# tail can't mask regressions in the batch plans.
STREAMING_ENTRIES = frozenset({
    "op_stream_hourly", "op_stateful_counts", "op_stream_sessions",
    "op_stream_dedup", "op_stream_decontam", "op_stream_ingest",
    "op_stream_join", "op_stream_fts", "op_stream_funnel",
    "op_stream_anomaly", "op_stream_upsert",
})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _DRIVER_WINDOW:
        out[name] = _entry_fn(name)
    for name in _OPS:
        if name not in out:
            out[name] = _OPS[name][0]
    for name, (sql, _) in _Q.items():
        if name not in out:
            out[name] = _sql_runner(sql)
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: oracle for name, (_, oracle) in _OPS.items()
           if oracle is not None}
    out.update({name: oracle for name, (_, oracle) in _Q.items()
                if oracle is not None})
    return out
