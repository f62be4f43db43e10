"""Table functions, LATERAL, COPY statements (reference surface §2.1/§2.9)."""

import pandas as pd
import pytest

import framequery_spark as fq

from .conftest import rows


@pytest.fixture(scope="module")
def scope(spark):
    return {
        "payloads": spark.createDataFrame(pd.DataFrame({
            "id": [1, 2],
            "payload": ['{"foo": "bar", "hello": "world"}', '{"a": "1"}'],
            "arr": ['["x", "y"]', '["z"]'],
        })),
    }


def test_json_each_lateral(spark, scope):
    q = "select id, key, value from payloads, lateral json_each(payload)"
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [(1, "foo", "bar"), (1, "hello", "world"), (2, "a", "1")]


def test_json_array_elements_lateral(spark, scope):
    q = "select id, value from payloads, lateral json_array_elements(arr)"
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [(1, "x"), (1, "y"), (2, "z")]


def test_lateral_column_alias_qualified(spark, scope):
    # pg: `AS t(k, v)` renames the columns AND keeps them resolvable under
    # the table alias (`t.k`); a rename applied above the relation's alias
    # used to strip the qualifier (r12 verify-probe regression).
    q = ("select p.id, t.k, t.v from payloads p, "
         "lateral json_each(p.payload) as t(k, v) order by p.id, t.k")
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [(1, "foo", "bar"), (1, "hello", "world"), (2, "a", "1")]
    # bare names resolve too, ordinality takes the third alias name, and a
    # PARTIAL alias list keeps pg defaults for the unnamed tail
    q = ("select k, o from payloads p, lateral json_each(p.payload) "
         "with ordinality as t(k, v, o) where p.id = 1 order by t.o")
    assert rows(fq.execute(q, scope, spark=spark)) == \
        [("foo", 1), ("hello", 2)]
    q = ("select t.k, t.value from payloads p, "
         "lateral json_each(p.payload) as t(k) where p.id = 2")
    assert rows(fq.execute(q, scope, spark=spark)) == [("a", "1")]
    q = ("select u.x, u.i from payloads p, lateral "
         "json_array_elements(p.arr) with ordinality as u(x, i) "
         "where p.id = 1 order by u.i")
    assert rows(fq.execute(q, scope, spark=spark)) == [("x", 1), ("y", 2)]


def test_lateral_ordinality_alias_on_series_and_split(spark, scope):
    # r13 (ADVICE): the generate_series / string_to_table /
    # regexp_split_to_table lateral branches must forward the alias
    # column list too, so `AS t(x, o)` names the ORDINAL column and both
    # `o` and `t.o` resolve (previously only the json/unnest branch did)
    q = ("select p.id, t.x, t.o from payloads p, "
         "lateral generate_series(1, p.id) with ordinality as t(x, o) "
         "order by p.id, t.o")
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [(1, 1, 1), (2, 1, 1), (2, 2, 2)]
    q = ("select w, o from payloads p, "
         "lateral regexp_split_to_table('a b', '\\s+') "
         "with ordinality as t(w, o) where p.id = 1 order by o")
    assert rows(fq.execute(q, scope, spark=spark)) == [("a", 1), ("b", 2)]
    q = ("select t.piece from payloads p, "
         "lateral string_to_table('x,y', ',') as t(piece) "
         "where p.id = 2 order by t.piece")
    assert rows(fq.execute(q, scope, spark=spark)) == [("x",), ("y",)]


def test_lateral_surplus_alias_names_error(spark, scope):
    # r13 (ADVICE): pg errors when the alias list names more columns than
    # the function produces, in the lateral form as in the standalone one
    from framequery_spark.compiler.expressions import CompileError

    for q in (
        "select 1 from payloads p, lateral json_each(p.payload) as t(k, v, o)",
        "select 1 from payloads p, lateral json_array_elements(p.arr) as t(x, y)",
        "select 1 from payloads p, lateral generate_series(1, 2) as t(a, b)",
    ):
        with pytest.raises(CompileError, match="alias names"):
            fq.execute(q, scope, spark=spark).collect()


def test_json_each_constant(spark, scope):
    q = """select key, value from json_each('{"a": "1", "b": "2"}')"""
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [("a", "1"), ("b", "2")]


def test_json_each_constant_cast_forms(spark, scope):
    # reference: tests/test__postgres_conformance.py:184-185 — the argument
    # may arrive as cast(... as json) or ...::json
    for q in (
        """select * from json_each(cast('{"foo": "bar", "hello": "world"}' as json))""",
        """select * from json_each('{"foo": "bar", "hello": "world"}' :: json)""",
    ):
        out = rows(fq.execute(q, scope, spark=spark))
        assert out == [("foo", "bar"), ("hello", "world")], q


def test_chained_table_function_then_lateral(spark, scope):
    # reference: tests/test__postgres_conformance.py:186-192 — a table
    # function in FROM followed by a LATERAL over its output column, with
    # the lateral's alias qualifying its produced columns
    q = """
        select b.key
        from
            json_array_elements('[{"foo": "bar"}]' :: json),
            lateral json_each(value) as b
        order by key
    """
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [("foo",)]


def test_lateral_alias_qualifies_columns(spark, scope):
    q = ("select p.id, kv.key, kv.value "
         "from payloads p, lateral json_each(p.payload) as kv "
         "order by p.id, kv.key")
    out = rows(fq.execute(q, scope, spark=spark))
    assert out == [(1, "foo", "bar"), (1, "hello", "world"), (2, "a", "1")]


def test_generate_series_with_step(spark, scope):
    q = "select * from generate_series(0, 10, 5)"
    out = {r[0] for r in fq.execute(q, scope, spark=spark).collect()}
    assert out == {0, 5, 10}


@pytest.mark.parametrize("args, want", [
    ("0.5, 2", [0.5, 1.5]),
    ("0, 1, 0.25", [0.0, 0.25, 0.5, 0.75, 1.0]),
    ("0.1, 0.3, 0.1", [0.1, 0.2, 0.3]),
    ("2, 0.5, -0.5", [2.0, 1.5, 1.0, 0.5]),
    ("2.5, 1", []),
])
@pytest.mark.parametrize("form", ["from", "select"])
def test_generate_series_fractional(spark, args, want, form):
    # pg's numeric series: start, start + step, ... while within stop; a
    # step pointing away from stop is the empty set
    q = (f"SELECT * FROM generate_series({args})" if form == "from"
         else f"SELECT generate_series({args}) AS g")
    got = [float(r[0]) for r in fq.execute(q, {}, spark=spark).collect()]
    assert got == pytest.approx(want)


def test_copy_from_table_function(spark, scope, tmp_path):
    csv = tmp_path / "f.csv"
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_csv(csv, sep=";", index=False)
    q = f"select a, b from copy_from('{csv}', 'delimiter', ';')"
    assert rows(fq.execute(q, scope, spark=spark)) == [(1, "x"), (2, "y")]


def test_user_table_function(spark, scope):
    ex = fq.Executor(dict(scope), spark=spark)
    ex.add_table_function(
        "two_rows", lambda: pd.DataFrame({"v": [10, 20]}))
    assert rows(ex.execute("select v from two_rows()")) == [(10,), (20,)]


def test_user_lateral_function(spark, scope):
    ex = fq.Executor(dict(scope), spark=spark)
    ex.add_lateral_function(
        "repeat_id", lambda n: pd.DataFrame({"n": range(int(n))}),
        [("n", "long")])
    out = rows(ex.execute("select id, n from payloads, lateral repeat_id(id)"))
    assert out == [(1, 0), (2, 0), (2, 1)]
    # the lateral's alias must qualify its produced columns (reference
    # prefixes lateral children alias/@/col)
    out = rows(ex.execute(
        "select p.id, r.n from payloads p, lateral repeat_id(p.id) as r"))
    assert out == [(1, 0), (2, 0), (2, 1)]


def test_pipeline_operators_in_sql(spark, tpch_scope):
    # SURVEY §7 milestone 6: LLM-pipeline operators are table functions in
    # the SQL dialect — first arg names a scope table (CTEs included)
    q = ("select lang_guess, count(*) as n from text_stats('documents') "
         "group by lang_guess order by n desc, lang_guess")
    out = fq.execute(q, tpch_scope, spark=spark).collect()
    assert len(out) >= 1 and out[0]["n"] >= 1

    q = "select count(*) as n from exact_dups('documents', 'lang', 'source')"
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] > 0

    q = ("select * from cosine_topk('embeddings', 'embeddings', 3) "
         "where query_id = 0 order by rank")
    out = fq.execute(q, tpch_scope, spark=spark).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]

    # a CTE is a valid operator input: the scope the operator resolves
    # against includes WITH bindings
    q = ("with en_docs as (select * from documents where lang = 'en') "
         "select count(*) as n from minhash_pairs('en_docs', 0.5)")
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] >= 0


def test_dup_clusters_in_sql(spark, tpch_scope):
    # pair list in a CTE -> connected components via the table function; the
    # two chained pairs must merge transitively into one cluster
    q = ("with pairs as ("
         "  select * from (values (1, 2), (2, 3), (8, 9)) as v(id1, id2))"
         " select doc_id, cluster_id from dup_clusters('pairs')"
         " order by doc_id")
    out = [(r["doc_id"], r["cluster_id"])
           for r in fq.execute(q, tpch_scope, spark=spark).collect()]
    assert out == [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)]


def test_copy_parquet_roundtrip(spark, scope, tmp_path):
    ex = fq.Executor(dict(scope), spark=spark)
    target = tmp_path / "out.parquet"
    ex.execute(f"COPY payloads TO '{target}' WITH (format 'parquet')")
    ex.execute(f"COPY back FROM '{target}' WITH (format 'parquet')")
    assert rows(ex.execute("select count(*) as n from back")) == [(2,)]


def test_copy_partitioned_parquet(spark, tpch_scope, tmp_path):
    import os

    ex = fq.Executor(dict(tpch_scope), spark=spark)
    target = tmp_path / "docs_by_lang"
    ex.execute(f"COPY documents TO '{target}' "
               f"WITH (format 'parquet', partition_by 'lang')")
    parts = [d for d in os.listdir(target) if d.startswith("lang=")]
    n_langs = tpch_scope["documents"].select("lang").distinct().count()
    assert len(parts) == n_langs
    ex.execute(f"COPY back FROM '{target}' WITH (format 'parquet')")
    n = tpch_scope["documents"].count()
    assert rows(ex.execute("select count(*) as n from back")) == [(n,)]


def test_unnest_lateral(spark):
    from pyspark.sql import functions as F

    df = (
        pytest.importorskip("pyspark").sql.SparkSession.builder.getOrCreate()
        .range(2).select(F.col("id"), F.array(F.lit(1), F.lit(2)).alias("xs"))
    )
    out = rows(fq.execute("select id, value from t, lateral unnest(t.xs)",
                          {"t": df}))
    assert out == [(0, 1), (0, 2), (1, 1), (1, 2)]


def test_new_pipeline_operators_in_sql(spark, tpch_scope):
    import framequery_spark as fq

    out = fq.execute(
        "SELECT split, count(*) AS n FROM hash_split('orders', 'o_orderkey') "
        "GROUP BY split ORDER BY split", tpch_scope, spark=spark).collect()
    assert [r.split for r in out] == ["test", "train", "val"]

    n_all = tpch_scope["lineitem"].count()
    n = fq.execute(
        "SELECT count(*) AS n FROM sample_by_key('lineitem', 'l_orderkey', 0.25)",
        tpch_scope, spark=spark).collect()[0].n
    assert 0 < n < n_all

    v = fq.execute(
        "SELECT * FROM vocab_topk('documents', 5)", tpch_scope,
        spark=spark).collect()
    assert len(v) == 5 and v[0].term_count >= v[-1].term_count

    t = fq.execute(
        "SELECT count(*) AS n FROM tf_idf('documents') WHERE tfidf > 0",
        tpch_scope, spark=spark).collect()[0].n
    assert t > 0

    p = fq.execute(
        "WITH d AS (SELECT *, char_length(text) AS n_tokens FROM documents) "
        "SELECT count(distinct bin_id) AS bins "
        "FROM pack_bins('d', 'n_tokens', 100000, 'lang')",
        tpch_scope, spark=spark).collect()[0].bins
    assert p >= 1

    s = fq.execute(
        "SELECT doc_id FROM shuffled('documents', 'doc_id') LIMIT 3",
        tpch_scope, spark=spark).collect()
    assert len(s) == 3


def test_contamination_operators_in_sql(spark, tpch_scope):
    # decontamination / leakage / passage dedup as SQL table functions
    q = ("with bench as (select * from documents where doc_id % 10 = 0), "
         "     train as (select * from documents where doc_id % 10 <> 0) "
         "select count(*) as n from contaminated_docs('train', 'bench', 8)")
    n_bad = fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"]
    assert n_bad >= 0

    q = ("with bench as (select * from documents where doc_id % 10 = 0), "
         "     train as (select * from documents where doc_id % 10 <> 0) "
         "select count(*) as n from decontaminate('train', 'bench', 8)")
    n_clean = fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"]
    n_train = fq.execute(
        "select count(*) as n from documents where doc_id % 10 <> 0",
        tpch_scope, spark=spark).collect()[0]["n"]
    assert n_clean == n_train - n_bad

    q = ("with tagged as (select * from hash_split('documents', 'doc_id')) "
         "select count(*) as n from split_leakage('tagged', 8)")
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] >= 0

    q = "select count(*) as n from chunk_dedup('documents', 128)"
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] > 0


def test_read_file_table_functions(spark, tmp_path):
    # DuckDB-style read_parquet / read_csv / read_json in FROM position
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3], "b": list("xyz")}))
    pq = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(pq)
    csv = str(tmp_path / "t.csv")
    df.coalesce(1).write.option("header", "true").csv(csv)
    js = str(tmp_path / "t.json")
    df.coalesce(1).write.json(js)

    for fn, path in [("read_parquet", pq), ("read_csv", csv),
                     ("read_json", js)]:
        out = fq.execute(
            f"select a, b from {fn}('{path}') where a >= 2 order by a",
            {}, spark=spark).collect()
        assert [(r.a, r.b) for r in out] == [(2, "y"), (3, "z")], fn

    # options ride as name/value pairs (copy_from convention)
    semi = str(tmp_path / "semi.csv")
    with open(semi, "w") as f:
        f.write("a;b\n1;x\n2;y\n")
    out = fq.execute(
        f"select * from read_csv('{semi}', 'delimiter', ';') order by a",
        {}, spark=spark).collect()
    assert [(r.a, r.b) for r in out] == [(1, "x"), (2, "y")]


def test_strip_html_in_sql(spark, tpch_scope):
    q = ("with w as (select doc_id, '<p>' || text || '</p>' as text "
         "           from documents) "
         "select count(*) as n from html_to_text('w') "
         "where clean_text not like '<%'")
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] > 0


def test_with_ordinality(spark):
    # constant-arg FROM form
    out = fq.execute(
        "select value, ordinality from unnest(array['a','b','c']) "
        "with ordinality order by ordinality", {}, spark=spark).collect()
    assert [(r.value, r.ordinality) for r in out] == [
        ("a", 1), ("b", 2), ("c", 3)]

    # LATERAL per-row form: ordinality restarts per input row
    import pandas as pd
    scope = {"t": spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "arr": [["x", "y"], ["z"]]}))}
    out = fq.execute(
        "select id, u.value, u.ordinality from t, "
        "lateral unnest(arr) with ordinality as u order by id, ordinality",
        scope, spark=spark).collect()
    assert [(r.id, r.value, r.ordinality) for r in out] == [
        (1, "x", 1), (1, "y", 2), (2, "z", 1)]

    # json array elements keep input order
    out = fq.execute(
        "select value, ordinality from json_array_elements('[5, 3, 9]') "
        "with ordinality", {}, spark=spark).collect()
    assert [(r.value, r.ordinality) for r in out] == [
        ("5", 1), ("3", 2), ("9", 3)]

    # generate_series gained ORDINALITY in round 6 (arithmetic ordinal)
    assert [tuple(r) for r in fq.execute(
        "select * from generate_series(2, 10, 3) with ordinality",
        {}, spark=spark).collect()] == [(2, 1), (5, 2), (8, 3)]
    # unsupported target errors clearly
    import pytest as _pytest
    from framequery_spark.compiler.expressions import CompileError
    with _pytest.raises(CompileError, match="ORDINALITY"):
        fq.execute("select * from read_parquet('/tmp/x.parquet') "
                   "with ordinality", {}, spark=spark)


def test_quality_operators_in_sql(spark, tpch_scope):
    q = ("select keep, count(*) as n from gopher_filter('documents', 20) "
         "group by keep order by keep")
    out = fq.execute(q, tpch_scope, spark=spark).collect()
    assert sum(r.n for r in out) == 500

    q = ("select count(*) as n from unigram_nll('documents') "
         "where avg_nll > 0")
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] == 500

    q = ("select count(distinct shard) as n "
         "from assign_shards('documents', 'doc_id', 8)")
    assert fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"] == 8


def test_retrieval_and_mixing_operators_in_sql(spark, tpch_scope):
    import pandas as pd

    scope = dict(tpch_scope)
    scope["qset"] = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 2], "query": ["spark shuffle join", "hash batch"]}))
    q = ("select query_id, count(*) as n from bm25_topk('documents', "
         "'qset', 3) group by query_id order by query_id")
    out = fq.execute(q, scope, spark=spark).collect()
    assert [(r.query_id, r.n) for r in out] == [(1, 3), (2, 3)]

    q = ("select count(*) as n from mixture_sample('documents', 'source', "
         "'doc_id', 'src1', 0.5, 'src2', 0.25)")
    n = fq.execute(q, scope, spark=spark).collect()[0]["n"]
    assert 0 < n < 50  # only src1/src2 survive (default_rate 0)

    q = "select count(*) as n from semdedup('embeddings', 0.4, 4)"
    n = fq.execute(q, scope, spark=spark).collect()[0]["n"]
    total = scope["embeddings"].count()
    assert 0 < n <= total


def test_implicit_lateral_and_pg_alias_naming(spark):
    import pandas as pd

    scope = {"t": spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2], "b": ["x,y", "z"], "arr": [[1, 2], [3]]}))}
    # pg: LATERAL is implicit for table functions whose args reference
    # columns, and a single-column function's alias names its COLUMN
    out = [tuple(r) for r in fq.execute(
        "SELECT a, u FROM t, unnest(arr) AS u ORDER BY a, u",
        scope, spark=spark).collect()]
    assert out == [(1, 1), (1, 2), (2, 3)]
    out = [tuple(r) for r in fq.execute(
        "SELECT a, piece FROM t, regexp_split_to_table(b, ',') AS piece "
        "ORDER BY a, piece", scope, spark=spark).collect()]
    assert out == [(1, "x"), (1, "y"), (2, "z")]
    # constant form + select-list generator form
    assert [r.piece for r in fq.execute(
        "SELECT piece FROM regexp_split_to_table('a,b,c', ',') AS piece "
        "ORDER BY 1", scope, spark=spark).collect()] == ["a", "b", "c"]
    assert [r[0] for r in fq.execute(
        "SELECT regexp_split_to_table('a,b', ',')",
        scope, spark=spark).collect()] == ["a", "b"]
    # WITH ORDINALITY keeps the two-column shape (alias = table alias, pg)
    out = fq.execute(
        "SELECT u.value, u.ordinality FROM t, "
        "LATERAL unnest(arr) WITH ORDINALITY AS u WHERE a = 1 ORDER BY 2",
        scope, spark=spark).collect()
    assert [(r.value, r.ordinality) for r in out] == [(1, 1), (2, 2)]
    # a column reference inside a CASE branch makes the call lateral too;
    # the rows are pg's (DuckDB 1.0 rejects lateral generate_series
    # arguments, so it cannot be the oracle here)
    out = [tuple(r) for r in fq.execute(
        "SELECT a, v FROM t, generate_series(1, CASE WHEN t.a > 1 THEN t.a "
        "ELSE 1 END) AS s(v) ORDER BY a, v", scope, spark=spark).collect()]
    assert out == [(1, 1), (2, 1), (2, 2)]


def test_quality_scores_in_sql(spark, tpch_scope):
    import pandas as pd

    scope = dict(tpch_scope)
    scope["seed"] = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["good clean prose", "clean good style",
                 "spam buy now", "buy spam clicks"],
        "y": [1, 1, 0, 0]}))
    q = ("select doc_id, prob from quality_scores('seed', 'y', 64, 5) "
         "order by doc_id")
    out = fq.execute(q, scope, spark=spark).collect()
    probs = {r.doc_id: r.prob for r in out}
    assert len(probs) == 4
    assert min(probs[1], probs[2]) > max(probs[3], probs[4])


def test_rrf_and_ndcg_in_sql(spark, tpch_scope):
    import pandas as pd

    scope = dict(tpch_scope)
    scope["r1"] = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 1, 1], "doc_id": [10, 11, 12], "rank": [1, 2, 3]}))
    scope["r2"] = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 1, 1], "doc_id": [11, 10, 99], "rank": [1, 2, 3]}))
    q = ("select doc_id, n_lists from rrf_fuse('r1', 'r2', 60, 2) "
         "order by rank")
    out = fq.execute(q, scope, spark=spark).collect()
    assert [(r.doc_id, r.n_lists) for r in out] == [(10, 2), (11, 2)]

    scope["res"] = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 1], "neighbor_id": [10, 11], "rank": [1, 2]}))
    scope["rels"] = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 1], "neighbor_id": [10, 11], "rel": [3, 1]}))
    q = "select ndcg from ndcg_at_k('res', 'rels', 2)"
    assert fq.execute(q, scope, spark=spark).collect()[0]["ndcg"] == 1.0


def test_winnow_and_containment_in_sql(spark, tpch_scope):
    q = ("select count(*) as n from winnow_pairs('documents', 3, 4, 3, 20)")
    n = fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"]
    assert n > 0
    q = ("select count(*) as n from containment_pairs('documents', 0.8) "
         "where containment >= 0.9")
    m = fq.execute(q, tpch_scope, spark=spark).collect()[0]["n"]
    assert 0 < m


def test_kmeans_fit_in_sql(spark, tpch_scope):
    q = ("select cluster_id, count(*) as dims, max(n_members) as n "
         "from kmeans_fit('embeddings', 4, 2) "
         "group by cluster_id order by cluster_id")
    out = fq.execute(q, tpch_scope, spark=spark).collect()
    assert len(out) == 4 and all(r.dims == 64 for r in out)
    assert sum(r.n for r in out) == tpch_scope["embeddings"].count()


# Each explode-family function, called standalone with constant arguments
# and under LATERAL over a one-row table whose columns feed the same values,
# must produce the same columns and rows: both forms compile through the one
# staged explode, so every naming, ordinality and typing rule is shared.
_FORMS = [
    ("date_series",
     "generate_series(date '2024-01-01', date '2024-01-03', "
     "interval '1 day')",
     "generate_series(one.d, one.e, interval '1 day')"),
    ("int_series", "generate_series(1, 1 + 2)", "generate_series(1, one.n)"),
    ("unnest_one", "unnest(array[1, 2])", "unnest(one.a)"),
    ("unnest_two", "unnest(array[1, 2], array['x', 'y', 'z'])",
     "unnest(one.a, one.b)"),
    ("json_each", """json_each('{"a": "1", "b": "2"}')""", "json_each(one.j)"),
    ("json_array_elements", "json_array_elements('[5, 3]')",
     "json_array_elements(one.arr)"),
    ("string_to_table", "string_to_table('a,b', ',')",
     "string_to_table(one.s, ',')"),
    ("regexp_split_to_table", "regexp_split_to_table('a,b', ',')",
     "regexp_split_to_table(one.s, ',')"),
]
_SUFFIXES = ["", " WITH ORDINALITY", " AS u(x)",
             " WITH ORDINALITY AS u(x, o)"]


@pytest.fixture(scope="module")
def one(spark):
    import datetime

    return spark.createDataFrame(
        [(3, "a,b", datetime.date(2024, 1, 1), datetime.date(2024, 1, 3),
          [1, 2], ["x", "y", "z"], '{"a": "1", "b": "2"}', "[5, 3]")],
        "n int, s string, d date, e date, a array<int>, b array<string>, "
        "j string, arr string")


@pytest.mark.parametrize("suffix", _SUFFIXES,
                         ids=["plain", "ordinality", "alias", "ord_alias"])
@pytest.mark.parametrize("const_call,lateral_call",
                         [f[1:] for f in _FORMS], ids=[f[0] for f in _FORMS])
def test_standalone_and_lateral_forms_agree(spark, one, const_call,
                                            lateral_call, suffix):
    scope = {"one": one}
    alone = fq.execute(f"SELECT * FROM {const_call}{suffix}", scope,
                       spark=spark)
    per_row = fq.execute(f"SELECT * FROM one, LATERAL {lateral_call}{suffix}",
                         scope, spark=spark)
    n_left = len(one.columns)
    assert per_row.columns[n_left:] == alone.columns
    assert [tuple(r)[n_left:] for r in per_row.collect()] == \
        [tuple(r) for r in alone.collect()]


def test_scalar_subquery_series_arguments(spark):
    # an uncorrelated scalar subquery argument attaches to the explode's
    # base in both forms (implicit LATERAL and standalone); the rows are
    # pg's — DuckDB 1.0 rejects lateral generate_series arguments, so it
    # cannot be the oracle here
    scope = {"t": spark.createDataFrame([(1, 3), (2, 1)], "k int, n int")}
    out = fq.execute("SELECT v FROM generate_series(1, (SELECT max(n) "
                     "FROM t)) AS s(v) ORDER BY v", scope, spark=spark)
    assert [tuple(r) for r in out.collect()] == [(1,), (2,), (3,)]
    out = fq.execute("SELECT k, v FROM t, generate_series(1, (SELECT max(n) "
                     "FROM t)) AS s(v) ORDER BY k, v", scope, spark=spark)
    assert [tuple(r) for r in out.collect()] == [
        (1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (2, 3)]


def test_standalone_json_table_keeps_an_id_column(spark):
    # the one-row frame a standalone call explodes over carries a hidden
    # column, so a produced column named `id` survives
    out = fq.execute(
        """SELECT * FROM json_table('[{"id": 1}, {"id": 2}]', '$[*]' """
        "COLUMNS (id int PATH '$.id'))", {}, spark=spark)
    assert out.columns == ["id"]
    assert [tuple(r) for r in out.collect()] == [(1,), (2,)]


def test_date_series_needs_interval_step(spark, one):
    # pg has no generate_series(date, date): both forms refuse it alike
    from framequery_spark.compiler.expressions import CompileError

    for q in ("SELECT * FROM generate_series(date '2024-01-01', "
              "date '2024-01-03')",
              "SELECT * FROM one, generate_series(one.d, one.e)"):
        with pytest.raises(CompileError, match="INTERVAL step"):
            fq.execute(q, {"one": one}, spark=spark)
