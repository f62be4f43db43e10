"""Property-based differential testing: random expressions through the whole
stack (tokenizer -> parser -> compiler -> Spark) vs DuckDB on the same data.

Integer-only expressions keep value comparison exact. This goes beyond the
reference's test strategy (SURVEY §5: no property-based testing there).
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import framequery_spark as fq

DATA = pd.DataFrame({"a": [0, 1, 2, 3, -4, 5], "b": [7, -1, 3, 0, 2, 2]})


@pytest.fixture(scope="module")
def scope(spark):
    return {"t": spark.createDataFrame(DATA)}


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.register("t", DATA)
    return con


def _expr(depth: int):
    if depth <= 0:
        return st.sampled_from(["a", "b", "1", "2", "3", "-2", "0"])
    sub = _expr(depth - 1)
    binop = st.tuples(st.sampled_from(["+", "-", "*"]), sub, sub).map(
        lambda t: f"({t[1]} {t[0]} {t[2]})")
    case = st.tuples(sub, sub, sub).map(
        lambda t: f"(case when {t[0]} > {t[1]} then {t[1]} else {t[2]} end)")
    fn = st.tuples(st.sampled_from(["abs", "least", "greatest"]), sub, sub).map(
        lambda t: f"{t[0]}({t[1]})" if t[0] == "abs" else f"{t[0]}({t[1]}, {t[2]})")
    return st.one_of(sub, binop, case, fn)


EXPRS = _expr(3)
PREDS = st.tuples(EXPRS, st.sampled_from(["<", "<=", "=", ">=", ">", "<>"]),
                  EXPRS).map(lambda t: f"{t[0]} {t[1]} {t[2]}")


def _key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def _run_both(q, scope, spark, duck):
    ours = sorted((tuple(r) for r in fq.execute(q, scope, spark=spark).collect()),
                  key=_key)
    theirs = sorted((tuple(r) for r in duck.execute(q).fetchall()), key=_key)
    assert ours == theirs, q


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(e=EXPRS)
def test_projection_expressions(spark, scope, duck, e):
    _run_both(f"select {e} as x from t", scope, spark, duck)


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(p=PREDS)
def test_where_predicates(spark, scope, duck, p):
    _run_both(f"select a, b from t where {p}", scope, spark, duck)


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(e=EXPRS, p=PREDS)
def test_grouped_aggregates(spark, scope, duck, e, p):
    q = (f"select a % 2 as k, count(*) as n, sum({e}) as s "
         f"from t where {p} group by a % 2")
    _run_both(q, scope, spark, duck)


# ---- string expressions (NULLs, unicode, quotes) --------------------------

SDATA = pd.DataFrame({
    "s": ["abc", "", "It's", "AeOeUe", None, "a b  c", 'x"y'],
    "k": [1, 2, 3, 1, 2, 3, 1],
})


@pytest.fixture(scope="module")
def sscope(spark):
    return {"st_": spark.createDataFrame(SDATA)}


@pytest.fixture(scope="module")
def sduck():
    import duckdb

    con = duckdb.connect()
    con.register("st_", SDATA)
    return con


def _sexpr(depth: int):
    if depth <= 0:
        return st.sampled_from(["s", "'lit'", "''", "'a b'", "NULL"])
    sub = _sexpr(depth - 1)
    concat = st.tuples(sub, sub).map(lambda t: f"({t[0]} || {t[1]})")
    fn1 = st.tuples(st.sampled_from(["upper", "lower", "trim", "reverse"]),
                    sub).map(lambda t: f"{t[0]}({t[1]})")
    fn2 = st.tuples(st.sampled_from(["coalesce", "nullif"]), sub, sub).map(
        lambda t: f"{t[0]}({t[1]}, {t[2]})")
    substr = st.tuples(sub, st.integers(1, 4), st.integers(0, 3)).map(
        lambda t: f"substr({t[0]}, {t[1]}, {t[2]})")
    repl = st.tuples(sub, st.sampled_from(["a", "b", " "]),
                     st.sampled_from(["", "z", "--"])).map(
        lambda t: f"replace({t[0]}, '{t[1]}', '{t[2]}')")
    return st.one_of(sub, concat, fn1, fn2, substr, repl)


SEXPRS = _sexpr(2)


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(e=SEXPRS)
def test_string_expressions(spark, sscope, sduck, e):
    # length() wrapper exercises the value AND keeps result types aligned;
    # the raw string is compared too (pg '||' NULL-propagation vs concat)
    _run_both(f"select {e} as x, length({e}) as n from st_",
              sscope, spark, sduck)


@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(e=SEXPRS)
def test_string_predicates_and_grouping(spark, sscope, sduck, e):
    q = (f"select k, count({e}) as n, min({e}) as lo, max({e}) as hi "
         f"from st_ group by k")
    _run_both(q, sscope, spark, sduck)


# ---- integer expressions over data WITH NULLs ------------------------------

NDATA = pd.DataFrame({
    "a": pd.array([0, 1, None, 3, -4, None], dtype="Int64"),
    "b": pd.array([7, None, 3, 0, None, 2], dtype="Int64"),
})


@pytest.fixture(scope="module")
def nscope(spark):
    return {"nt": spark.createDataFrame(NDATA)}


@pytest.fixture(scope="module")
def nduck():
    import duckdb

    con = duckdb.connect()
    con.register("nt", NDATA)
    return con


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(e=EXPRS)
def test_null_projection_expressions(spark, nscope, nduck, e):
    _run_both(f"select {e} as x from nt", nscope, spark, nduck)


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(p=PREDS)
def test_null_3vl_predicates(spark, nscope, nduck, p):
    # rows where p is NULL must be excluded by both engines (3VL WHERE),
    # and kept by the IS-NOT-TRUE complement — the two halves partition nt
    _run_both(f"select a, b from nt where {p}", nscope, spark, nduck)
    _run_both(f"select a, b from nt where ({p}) is not true",
              nscope, spark, nduck)


def test_salted_join_equals_plain(spark, scope):
    from framequery_spark.operators.skew import salted_join, two_phase_agg
    from pyspark.sql import functions as F

    fact = scope["t"]
    dim = spark.createDataFrame(pd.DataFrame({"a": [0, 1, 2], "label": list("xyz")}))
    plain = sorted(tuple(r) for r in fact.join(dim, ["a"], "inner").collect())
    salted = sorted(tuple(r) for r in salted_join(fact, dim, ["a"], salt=4).collect())
    assert plain == salted

    agg = two_phase_agg(fact, ["a"], {"b": "sum", "a": "count"}, salt=4)
    expect = {(r.a, r.s, r.n) for r in fact.groupBy("a").agg(
        F.sum("b").alias("s"), F.count(F.lit(1)).alias("n")).collect()}
    got = {(r.a, r.sum_b, r.count_a) for r in agg.collect()}
    assert got == expect


# ---------------------------------------------------- round-6 semantics


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(min_value=1, max_value=8))
def test_fetch_with_ties_equals_rank_filter(spark, scope, duck, n):
    """FETCH FIRST n WITH TIES == all rows whose rank over the ORDER BY
    is <= n (checked against DuckDB's QUALIFY formulation)."""
    q = f"select b from t order by b fetch first {n} rows with ties"
    ours = sorted(r[0] for r in fq.execute(q, scope, spark=spark).collect())
    theirs = sorted(r[0] for r in duck.execute(
        f"select b from t qualify rank() over (order by b) <= {n}"
    ).fetchall())
    assert ours == theirs


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lo=st.integers(min_value=0, max_value=3),
       hi=st.integers(min_value=0, max_value=3))
def test_frame_exclude_current_row_identity(spark, scope, duck, lo, hi):
    """For any ROWS frame containing the current row:
    coalesce(sum EXCLUDE CURRENT ROW, 0) + current value == plain frame
    sum (the coalesce covers the frame-is-only-the-current-row case, where
    pg's excluded sum is NULL — sum over the empty set)."""
    frame = f"rows between {lo} preceding and {hi} following"
    q = (f"select b, coalesce(sum(b) over (order by a {frame} "
         f"exclude current row), 0) + b as s from t order by a")
    plain = (f"select b, sum(b) over (order by a {frame}) as s "
             f"from t order by a")
    ours = [tuple(r) for r in fq.execute(q, scope, spark=spark).collect()]
    theirs = [tuple(r) for r in duck.execute(plain).fetchall()]
    assert ours == theirs


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(start=st.integers(min_value=-3, max_value=3),
       stop=st.integers(min_value=-3, max_value=3),
       step=st.sampled_from([-2, -1, 1, 2]))
def test_generate_series_matches_python_range(spark, start, stop, step):
    """generate_series == python range with inclusive stop; empty when the
    step points away from the stop bound (pg semantics)."""
    q = f"select * from generate_series({start}, {stop}, {step})"
    ours = [r[0] for r in fq.execute(q, {}, spark=spark).collect()]
    expected = list(range(start, stop + (1 if step > 0 else -1), step))
    assert ours == expected
    # the per-row (lateral) path must agree with the constant path
    ours_lat = [r[0] for r in fq.execute(
        f"select g from (select {start} as s) v, "
        f"generate_series(v.s, {stop}, {step}) g", {},
        spark=spark).collect()]
    assert ours_lat == expected


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(threshold=st.integers(min_value=-2, max_value=6))
def test_theta_correlated_count_matches_duckdb(spark, scope, duck,
                                               threshold):
    """Theta-correlated count matches DuckDB's native decorrelation for
    arbitrary thresholds (incl. no-match and all-match extremes), as a
    scalar subquery and as a LATERAL aggregate, for a plain comparison and
    for a BETWEEN range. The oracle is DuckDB's scalar form: DuckDB drops
    the LATERAL-aggregate rows of empty groups."""
    for corr in (f"u.b < t.b + {threshold}",
                 f"u.b between t.b - 1 and t.b + {threshold}"):
        scalar = f"select a, (select count(*) from t u where {corr}) c from t"
        lateral = (f"select a, l.c from t, lateral (select count(*) as c "
                   f"from t u where {corr}) l")
        theirs = sorted(tuple(r) for r in duck.execute(scalar).fetchall())
        for q in (scalar, lateral):
            ours = sorted(tuple(r) for r in
                          fq.execute(q, scope, spark=spark).collect())
            assert ours == theirs, q


# -------------------------------------------------- FTS properties (r08)


def _py_tsvector(text, config="simple"):
    """Independent Python reference of to_tsvector's canonical form."""
    import re as _re

    from framequery_spark.functions.snowball import stem
    from framequery_spark.functions.textsearch import ENGLISH_STOPWORDS

    words = [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]
    toks = [(w, i + 1) for i, w in enumerate(words)]
    if config == "english":
        toks = [(stem(w), p) for w, p in toks
                if w not in ENGLISH_STOPWORDS]
    out = {}
    for w, p in toks:
        out.setdefault(w, []).append(p)
    return [(w, sorted(ps), "D") for w, ps in sorted(out.items())]


@given(st.text(
    alphabet=st.characters(codec="ascii", exclude_categories=("Cc",)),
    max_size=120),
    st.sampled_from(["simple", "english"]))
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_to_tsvector_matches_python_reference(spark, text, config):
    from pyspark.sql import functions as F

    from framequery_spark.functions.textsearch import to_tsvector

    got = spark.createDataFrame([(text,)], "t string").select(
        to_tsvector(F.col("t"), config).alias("v")).collect()[0]["v"]
    got = [(e["lexeme"], list(e["positions"]), e["weight"]) for e in got]
    assert got == _py_tsvector(text, config)


@given(st.text(max_size=80), st.sampled_from(["simple", "english"]))
@settings(max_examples=60, deadline=None)
def test_websearch_to_tsquery_never_raises(text, config):
    from framequery_spark.functions.textsearch import (render_tsquery,
                                                       websearch_tsquery)

    node = websearch_tsquery(text, config)
    render_tsquery(node)  # renders without raising either


@given(st.lists(st.sampled_from(
    ["cat", "dog", "the", "runs", "running", "fish"]),
    min_size=1, max_size=6))
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_match_consistent_with_python_vector(spark, words):
    """plainto query of a doc's own non-stopword words always matches the
    doc's own english tsvector (stem alignment between the JVM vector
    and the driver-side query normalization)."""
    from pyspark.sql import functions as F

    from framequery_spark.functions.textsearch import (compile_match,
                                                       plain_tsquery,
                                                       to_tsvector)

    text = " ".join(words)
    node = plain_tsquery(text, "english")
    tsv = to_tsvector(F.lit(text), "english")
    got = spark.range(1).select(
        compile_match(tsv, node).alias("m")).collect()[0]["m"]
    from framequery_spark.functions.textsearch import ENGLISH_STOPWORDS
    expect = (False if all(w in ENGLISH_STOPWORDS for w in words)
              else True)
    assert got == expect


# ------------------------------------------- round 9: funnel fold property


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(1, 4),            # user
              st.integers(0, 50),           # ts (seconds)
              st.sampled_from(["view", "click", "purchase", "other"])),
    min_size=1, max_size=40))
def test_funnel_matches_python_reference(spark, evs):
    """The distributed fold must equal a straightforward per-user Python
    simulation of the greedy earliest chain (strict-after, 10 s window),
    for arbitrary event soups including duplicate timestamps."""
    from framequery_spark.operators.events import funnel_counts

    stages = ["view", "click", "purchase"]
    within = 10

    def py_counts():
        per_user = {}
        for u, t, e in evs:
            per_user.setdefault(u, []).append((t, e))
        depth = {}
        for u, rows in per_user.items():
            done = []
            for t, e in sorted(rows):
                if len(done) >= len(stages):
                    break
                if e != stages[len(done)]:
                    continue
                if done and t <= done[-1]:
                    continue
                if done and t - done[0] > within:
                    continue
                done.append(t)
            depth[u] = len(done)
        return [sum(1 for d in depth.values() if d >= i + 1)
                for i in range(len(stages))]

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(u, f"2024-01-01 00:00:{t:02d}", e) for u, t, e in evs],
        "user_id long, ts string, event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    got = [r.n_users for r in
           funnel_counts(df, stages, within_seconds=within)
           .orderBy("stage_idx").collect()]
    assert got == py_counts(), evs


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(1, 5),            # user
              st.integers(0, 20)),          # day offset from 2024-01-01
    min_size=1, max_size=40))
def test_retention_matches_python_reference(spark, evs):
    from framequery_spark.operators.events import retention_cohorts

    def py_matrix():
        first = {}
        for u, d in evs:
            first[u] = min(first.get(u, d), d)
        cells = {}
        for u, d in set(evs):
            key = (first[u], d - first[u])
            cells[key] = cells.get(key, 0) + 1
        sizes = {c: n for (c, off), n in cells.items() if off == 0}
        return {(c, off): (n, round(n / sizes[c], 4))
                for (c, off), n in cells.items()}

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(u, f"2024-01-{d + 1:02d} 12:00:00") for u, d in evs],
        "user_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    got = {(int(str(r.cohort)[8:10]) - 1, r.offset): (r.n_active, r.retention)
           for r in retention_cohorts(df, granularity="day").collect()}
    assert got == py_matrix(), evs


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab1 .-", min_size=0, max_size=10),
                min_size=2, max_size=7, unique=True))
def test_trgm_pairs_equals_scalar_matrix_random(spark, names):
    """The blocked trigram join must equal the scalar similarity matrix
    for arbitrary short strings — including empties, digits, punctuation,
    and whitespace-only values (rows with no trigrams simply never pair)."""
    from pyspark.sql import functions as F

    from framequery_spark.functions.trigram import similarity as trgm_sim
    from framequery_spark.operators.dedup import trgm_pairs

    df = spark.createDataFrame(list(enumerate(names)), "id long, s string")
    got = {(r.id1, r.id2): r.sim
           for r in trgm_pairs(df, "id", "s", threshold=0.01).collect()}
    a, b = df.toDF("id1", "s1"), df.toDF("id2", "s2")
    expected = {(r.id1, r.id2): round(r.c, 6) for r in
                a.crossJoin(b).filter(F.col("id1") < F.col("id2"))
                .select("id1", "id2",
                        trgm_sim(F.col("s1"), F.col("s2")).alias("c"))
                .filter(F.col("c") >= 0.01).collect()}
    assert got == expected, names


# ------------------------------------------ round-9 operator properties


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.booleans(),
                          st.integers(min_value=0, max_value=1000)),
                min_size=4, max_size=40).filter(
                    lambda xs: any(y for y, _ in xs)
                    and any(not y for y, _ in xs)))
def test_auc_antisymmetry_and_bounds(spark, rows):
    """AUC(score) + AUC(-score) == 1 exactly (the tie term is symmetric)
    and both lie in [0, 1]."""
    from framequery_spark.operators.classifier import auc_score

    df = spark.createDataFrame(
        [(y, v / 1000.0) for y, v in rows], "y boolean, s double")
    a = auc_score(df, "y", "s").collect()[0].auc
    neg = spark.createDataFrame(
        [(y, -v / 1000.0) for y, v in rows], "y boolean, s double")
    b = auc_score(neg, "y", "s").collect()[0].auc
    assert 0.0 <= a <= 1.0
    assert abs((a + b) - 1.0) < 2e-6  # each side rounds to 1e-6


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=-100, max_value=100),
                min_size=2, max_size=30),
       st.lists(st.integers(min_value=-100, max_value=100),
                min_size=2, max_size=30))
def test_ks_drift_symmetric_and_bounded(spark, xs, ys):
    from framequery_spark.operators.events import ks_drift

    df = spark.createDataFrame(
        [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys],
        "g string, value double")
    r1 = ks_drift(df, "g", "a", "b").collect()[0]
    r2 = ks_drift(df, "g", "b", "a").collect()[0]
    assert r1.d_num == r2.d_num  # |F_a - F_b| is symmetric
    assert 0.0 <= r1.ks_stat <= 1.0
    assert (r1.ks_stat == 1.0) == (max(xs) < min(ys) or max(ys) < min(xs))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                min_size=1, max_size=25)
       .map(lambda es: [(a, b) for a, b in es if a != b])
       .filter(lambda es: len(es) > 0))
def test_pagerank_mass_conserved_on_symmetric_graphs(spark, und):
    """On a symmetrized graph there are no dangling nodes, so total rank
    must stay 1 (up to the 1e-12 quantization) for any edge set."""
    from framequery_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        list({(a, b) for a, b in und} | {(b, a) for a, b in und}),
        ["src", "dst"])
    ranks = pagerank(edges, iterations=3).collect()
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-8


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=1, max_value=60),
       st.integers(min_value=2, max_value=5))
def test_stratified_split_quota_exactness(spark, n, groups):
    """Every stratum's train/val/test counts hit the floor(n*c + 0.5)
    boundaries exactly, for any stratum size."""
    import math as m

    from framequery_spark.operators.sampling import stratified_split

    rows = [(g, g * 1000 + i) for g in range(groups) for i in range(n)]
    df = spark.createDataFrame(rows, "g int, id long")
    out = stratified_split(df, ["g"], "id")
    got = {(r.g, r.split): r["count"]
           for r in out.groupBy("g", "split").count().collect()}
    t1 = m.floor(n * 0.8 + 0.5)
    t2 = m.floor(n * 0.9 + 0.5)
    for g in range(groups):
        assert got.get((g, "train"), 0) == t1
        assert got.get((g, "val"), 0) == t2 - t1
        assert got.get((g, "test"), 0) == n - t2


def _render_pg_array(v) -> str:
    """Render a (nested) Python list as a pg array literal, quoting any
    element that needs it — the inverse of _parse_pg_brace_array."""
    if isinstance(v, list):
        return "{" + ",".join(_render_pg_array(x) for x in v) + "}"
    if v is None:
        return "NULL"
    needs_quote = (v == "" or v.upper() == "NULL"
                   or any(c in v for c in ',{}"\\') or v != v.strip())
    if needs_quote:
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return v


_elem = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",),
                                   blacklist_characters="\x00"),
            max_size=12))


@given(st.lists(_elem, max_size=8))
@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pg_array_literal_roundtrip_flat(items):
    from framequery_spark.compiler.expressions import _parse_pg_brace_array

    assert _parse_pg_brace_array(_render_pg_array(items)) == items


@given(st.lists(st.lists(_elem, min_size=2, max_size=4),
                min_size=1, max_size=4))
@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pg_array_literal_roundtrip_nested(rows):
    from framequery_spark.compiler.expressions import (CompileError,
                                                       _parse_pg_brace_array)

    # make the matrix rectangular (pg requires it); ragged must raise
    width = len(rows[0])
    rect = [r[:width] + [None] * (width - len(r)) for r in rows]
    assert _parse_pg_brace_array(_render_pg_array(rect)) == rect
    if len(rows) >= 2:
        ragged = [rect[0] + [None]] + rect[1:]
        try:
            _parse_pg_brace_array(_render_pg_array(ragged))
            assert False, "ragged literal must raise"
        except CompileError:
            pass
