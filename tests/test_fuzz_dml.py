"""Seeded randomized differential fuzzing of the DML/statement surface.

The SELECT-shape fuzzer (test_fuzz_differential.py) covers queries; the
MERGE / ON CONFLICT / UPDATE-FROM / RETURNING machinery
(executor/executor.py:308-520) was hand-tested only. This module generates
seeded statement SEQUENCES — insert / update (incl. UPDATE ... FROM) /
delete (incl. USING) / WITH-on-DML / MERGE over fixture tables — runs each
sequence statement-by-statement on BOTH a persistent engine Executor and a
DuckDB connection, and compares the RETURNING set of every statement plus
the FULL target-table state after every statement, so a divergence is
attributed to the exact statement that introduced it.

Oracle notes:
- DuckDB 1.0 has no MERGE, so each generated MERGE carries a DuckDB
  restatement script built from the SAME template parameters: one
  LEFT JOIN + CASE/filter rebuild of the target (first-match arm
  semantics), plus a NOT EXISTS insert branch — a different engine
  evaluating the same declared semantics.
- DuckDB 1.0's PRIMARY-KEY tables reject in-place UPDATEs (delete+insert
  under the hood trips its own uniqueness check), so the fixture tables
  carry no constraints; ON CONFLICT (which needs a unique index on the
  DuckDB side) stays covered by the hand-written tests in test_merge.py.

Generator ground rules (same spirit as the SELECT fuzzer):
- source ids are UNIQUE (a target row matching two source rows is a pg
  MERGE error and makes UPDATE ... FROM nondeterministic);
- ints stay small (no ANSI overflow), no division, no float arithmetic;
- every RETURNING list and state compare is order-insensitive.

Determinism: FQ_FUZZ_DML_SEED / FQ_FUZZ_DML_N widen the sweep locally;
any divergence must land as a named regression like the grand-total-row
fix did (see KNOWN_DIVERGENCES — currently empty).
"""
from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from .test_conformance import _sorted_rows, _values_equal  # noqa: E402

SEED = int(os.environ.get("FQ_FUZZ_DML_SEED", "20260816"))
N_SEQUENCES = int(os.environ.get("FQ_FUZZ_DML_N", "20"))
STMTS_PER_SEQ = 4

# sequence index -> reason; accepted divergences xfail by name so a new
# hit is loud. Currently empty.
KNOWN_DIVERGENCES: dict = {}

WORDS = ["alpha", "beta", "gamma", "delta", "Echo", "fox", None, "golf"]


def _fixture_frames():
    import pandas as pd

    n = 12
    t = pd.DataFrame({
        # duplicate target ids 5 and 7: multi-row matches are legal in
        # UPDATE ... FROM, DELETE ... USING and MERGE (one source row may
        # act on several target rows; the reverse is the error case)
        "id": list(range(10)) + [5, 7],
        "v": [None if i == 3 else (i * 17) % 60 for i in range(n)],
        "s": [WORDS[(i * 3) % len(WORDS)] for i in range(n)],
    })
    t["v"] = t["v"].astype("Int64")
    src = pd.DataFrame({
        "id": list(range(6, 14)),           # unique; overlaps t on 6..9
        "v": [(i * 13) % 50 for i in range(8)],
        "w": [WORDS[(i * 5 + 1) % len(WORDS)] or "pad" for i in range(8)],
    })
    return t, src


# --------------------------------------------------------------- generator


class DmlGen:
    """Every production returns (engine_sql, duck_sql, has_returning).
    engine_sql is ONE statement; duck_sql may be a multi-statement script
    (the MERGE restatement). has_returning means both sides return rows
    that must match."""

    # templates over {v}=t.v {id}=t.id {s}=t.s — identical text in both
    # dialects for the non-MERGE statements
    INT_EXPRS = ["{v} + 3", "{v} * 2", "{id} * 10 + 1",
                 "COALESCE({v}, 0) + 5", "{v} - {id}"]
    STR_EXPRS = ["upper({s})", "{s} || '_x'", "substring({s}, 1, 3)"]
    CONDS = ["{id} % 3 = 1", "{v} > 30", "{v} IS NULL", "{s} LIKE '%a%'",
             "{id} BETWEEN 3 AND 8", "{v} <= 25 OR {id} > 9",
             "{v} % 2 = 0"]
    SRC_CONDS = ["src.v > 20", "src.v % 2 = 0", "src.id % 2 = 1",
                 "src.w LIKE '%o%'"]
    # matched-arm value templates: {tv}/{sv} render as t.v/src.v on the
    # engine side and tv/sv inside the oracle's join CTE
    MERGE_EXPRS = ["{sv}", "{tv} + {sv}", "{tv} + 1", "{sv} * 2",
                   "COALESCE({tv}, 0) + COALESCE({sv}, 0)"]
    MERGE_CONDS = ["{sv} > 20", "{sv} % 2 = 0", "{tv} < 40",
                   "COALESCE({tv}, -1) < {sv}"]

    def __init__(self, rng: random.Random):
        self.r = rng
        self.next_id = 100

    def _cond(self):
        return self.r.choice(self.CONDS).format(id="id", v="v", s="s")

    def _fresh_ids(self, k):
        ids = list(range(self.next_id, self.next_id + k))
        self.next_id += k
        return ids

    def insert_values(self):
        k = self.r.randint(1, 3)
        rows = []
        for i in self._fresh_ids(k):
            v = self.r.choice(["NULL", str(self.r.randint(0, 99))])
            s = self.r.choice(["NULL", "'new'", "'Alpha'"])
            rows.append(f"({i}, {v}, {s})")
        cols = ""
        if self.r.random() < 0.3:
            cols = " (id, v)"
            rows = [r[:r.rindex(",")] + ")" for r in rows]
        ret = ""
        has_ret = self.r.random() < 0.5
        if has_ret:
            ret = self.r.choice([" RETURNING *", " RETURNING id, v",
                                 " RETURNING id, v * 2 AS vv"])
        sql = f"INSERT INTO t{cols} VALUES {', '.join(rows)}{ret}"
        return sql, sql, has_ret

    def insert_select(self):
        k = self.r.randint(200, 250)
        cond = self.r.choice(self.SRC_CONDS).replace("src.", "")
        has_ret = self.r.random() < 0.4
        ret = " RETURNING id, s" if has_ret else ""
        sql = (f"INSERT INTO t SELECT id + {k}, v % 50, w FROM src "
               f"WHERE {cond}{ret}")
        return sql, sql, has_ret

    def with_insert(self):
        k = self.r.randint(300, 350)
        cond = self.r.choice(self.SRC_CONDS).replace("src.", "")
        has_ret = self.r.random() < 0.4
        ret = " RETURNING *" if has_ret else ""
        sql = (f"WITH c AS (SELECT id + {k} AS id, v AS v, w AS s "
               f"FROM src WHERE {cond}) "
               f"INSERT INTO t SELECT * FROM c{ret}")
        return sql, sql, has_ret

    def update(self):
        sets = [f"v = {self.r.choice(self.INT_EXPRS).format(id='id', v='v')}"]
        if self.r.random() < 0.4:
            sets.append(
                f"s = {self.r.choice(self.STR_EXPRS).format(s='s')}")
        has_ret = self.r.random() < 0.5
        ret = " RETURNING id, v, s" if has_ret else ""
        sql = (f"UPDATE t SET {', '.join(sets)} "
               f"WHERE {self._cond()}{ret}")
        return sql, sql, has_ret

    def update_from(self):
        k = self.r.randint(1, 9)
        cond = self.r.choice(self.SRC_CONDS)
        has_ret = self.r.random() < 0.5
        ret = " RETURNING t.id, t.v" if has_ret else ""
        sql = (f"UPDATE t SET v = src.v + {k} FROM src "
               f"WHERE t.id = src.id AND {cond}{ret}")
        return sql, sql, has_ret

    def delete(self):
        has_ret = self.r.random() < 0.5
        ret = " RETURNING *" if has_ret else ""
        sql = f"DELETE FROM t WHERE {self._cond()}{ret}"
        return sql, sql, has_ret

    def delete_using(self):
        cond = self.r.choice(self.SRC_CONDS)
        has_ret = self.r.random() < 0.5
        ret = " RETURNING t.id" if has_ret else ""
        sql = (f"DELETE FROM t USING src "
               f"WHERE t.id = src.id AND {cond}{ret}")
        return sql, sql, has_ret

    def update_from_pair(self):
        # two source relations sharing every column name; s2.id = src.id
        # keeps each target row's match unique
        k = self.r.randint(1, 9)
        cond = self.r.choice(self.SRC_CONDS)
        has_ret = self.r.random() < 0.5
        ret = " RETURNING t.id, t.v" if has_ret else ""
        sql = (f"UPDATE t SET v = src.v + s2.v + {k} FROM src, src AS s2 "
               f"WHERE t.id = src.id AND s2.id = src.id AND {cond}{ret}")
        return sql, sql, has_ret

    def delete_using_pair(self):
        cond = self.r.choice(self.SRC_CONDS)
        has_ret = self.r.random() < 0.5
        ret = " RETURNING t.id, t.v" if has_ret else ""
        sql = (f"DELETE FROM t USING src, src AS s2 "
               f"WHERE t.id = src.id AND s2.id = src.id AND {cond}{ret}")
        return sql, sql, has_ret

    def with_update(self):
        # r12: WITH on UPDATE (the fuzzer only had WITH-on-INSERT)
        k = self.r.randint(1, 9)
        cond = self.r.choice(self.SRC_CONDS).replace("src.", "")
        has_ret = self.r.random() < 0.5
        ret = " RETURNING t.id, t.v" if has_ret else ""
        sql = (f"WITH c AS (SELECT id, v FROM src WHERE {cond}) "
               f"UPDATE t SET v = c.v + {k} FROM c "
               f"WHERE t.id = c.id{ret}")
        return sql, sql, has_ret

    def with_delete(self):
        # r12: WITH on DELETE
        cond = self.r.choice(self.SRC_CONDS).replace("src.", "")
        has_ret = self.r.random() < 0.5
        ret = " RETURNING *" if has_ret else ""
        sql = (f"WITH c AS (SELECT id FROM src WHERE {cond}) "
               f"DELETE FROM t USING c WHERE t.id = c.id{ret}")
        return sql, sql, has_ret

    def merge(self):
        r = self.r

        def render(tpl, side):
            if side == "engine":
                return tpl.format(tv="t.v", sv="src.v")
            return tpl.format(tv="tv", sv="sv")

        c1 = r.choice(self.MERGE_CONDS)
        arm1 = r.choice([("update", r.choice(self.MERGE_EXPRS)),
                         ("delete",), None])
        arm2 = r.choice([("update", r.choice(self.MERGE_EXPRS)),
                         ("nothing",), None])
        nm = r.choice([("full",), ("cols", r.choice(["{sv} * 2",
                                                     "{sv} + 7"])), None])
        bs = r.choice([None, None, ("delete",), ("update",)])
        if arm1 is None and arm2 is None and nm is None and bs is None:
            nm = ("full",)

        # ------------------------------------------------ engine MERGE
        parts = ["MERGE INTO t USING src ON t.id = src.id"]
        if arm1:
            act = ("DELETE" if arm1[0] == "delete"
                   else f"UPDATE SET v = {render(arm1[1], 'engine')}")
            parts.append(f"WHEN MATCHED AND {render(c1, 'engine')} "
                         f"THEN {act}")
        if arm2:
            act = ("DO NOTHING" if arm2[0] == "nothing"
                   else f"UPDATE SET v = {render(arm2[1], 'engine')}")
            parts.append(f"WHEN MATCHED THEN {act}")
        if nm:
            if nm[0] == "full":
                parts.append("WHEN NOT MATCHED THEN "
                             "INSERT VALUES (src.id, src.v, src.w)")
            else:
                parts.append(f"WHEN NOT MATCHED THEN INSERT (id, v) "
                             f"VALUES (src.id, {render(nm[1], 'engine')})")
        if bs:
            act = "DELETE" if bs[0] == "delete" else "UPDATE SET v = -1"
            parts.append(f"WHEN NOT MATCHED BY SOURCE THEN {act}")
        # r12: pg-17 MERGE ... RETURNING with merge_action() — post-image
        # for insert/update, old image for delete, DO-NOTHING/untouched
        # rows absent
        has_ret = r.random() < 0.5
        if has_ret:
            parts.append("RETURNING merge_action() AS act, id, v")
        engine_sql = " ".join(parts)

        # --------------------------------------- DuckDB restatement
        # survivors of the old target + the NOT MATCHED insert branch
        branches = []
        if arm1 and arm1[0] == "update":
            branches.append((f"sid IS NOT NULL AND ({render(c1, 'duck')})",
                             render(arm1[1], "duck")))
        if arm2 and arm2[0] == "update":
            branches.append(("sid IS NOT NULL", render(arm2[1], "duck")))
        if bs and bs[0] == "update":
            branches.append(("sid IS NULL", "-1"))
        if branches:
            v_expr = ("CASE " + " ".join(
                f"WHEN {c} THEN {e}" for c, e in branches)
                + " ELSE tv END")
        else:
            v_expr = "tv"
        removed = []
        if arm1 and arm1[0] == "delete":
            removed.append(f"(sid IS NOT NULL AND ({render(c1, 'duck')}))")
        if bs and bs[0] == "delete":
            removed.append("(sid IS NULL)")
        where = (" WHERE NOT (" + " OR ".join(removed) + ")"
                 ) if removed else ""
        select = (
            "WITH m AS (SELECT tt.id AS tid, tt.v AS tv, tt.s AS ts, "
            "s.id AS sid, s.v AS sv, s.w AS sw "
            "FROM t tt LEFT JOIN src s ON tt.id = s.id) "
            f"SELECT tid AS id, CAST({v_expr} AS BIGINT) AS v, ts AS s "
            f"FROM m{where}")
        if nm:
            ins_v = ("s.v" if nm[0] == "full"
                     else render(nm[1], "duck").replace("sv", "s.v"))
            ins_s = "s.w" if nm[0] == "full" else "CAST(NULL AS VARCHAR)"
            select += (
                f" UNION ALL SELECT s.id, CAST({ins_v} AS BIGINT), {ins_s} "
                "FROM src s WHERE NOT EXISTS "
                "(SELECT 1 FROM t tt WHERE tt.id = s.id)")
        duck_sql = (f"CREATE OR REPLACE TABLE _new AS {select}; "
                    "DELETE FROM t; INSERT INTO t SELECT * FROM _new; "
                    "DROP TABLE _new")
        if not has_ret:
            return engine_sql, duck_sql, False

        # ---------------------- DuckDB RETURNING restatement (r12) ----
        # First-match arm classification mirrored as one CASE chain over
        # the same m CTE; a NULL action means no arm fired (or DO
        # NOTHING) -> filtered, exactly pg's "untouched rows absent".
        def ret_case(val1, val2, val_bs):
            arms = []
            if arm1 and val1 is not None:
                arms.append(f"WHEN sid IS NOT NULL AND "
                            f"({render(c1, 'duck')}) THEN {val1}")
            elif arm1:
                arms.append(f"WHEN sid IS NOT NULL AND "
                            f"({render(c1, 'duck')}) THEN NULL")
            if arm2:
                arms.append(f"WHEN sid IS NOT NULL THEN "
                            f"{val2 if val2 is not None else 'NULL'}")
            if bs:
                arms.append(f"WHEN sid IS NULL THEN "
                            f"{val_bs if val_bs is not None else 'NULL'}")
            if not arms:
                return "NULL"
            return "CASE " + " ".join(arms) + " ELSE NULL END"

        act1 = act2 = act_bs = None
        v1 = v2 = v_bs = None
        if arm1:
            act1 = "'DELETE'" if arm1[0] == "delete" else "'UPDATE'"
            v1 = "tv" if arm1[0] == "delete" else render(arm1[1], "duck")
        if arm2 and arm2[0] == "update":
            act2, v2 = "'UPDATE'", render(arm2[1], "duck")
        if bs:
            act_bs = "'DELETE'" if bs[0] == "delete" else "'UPDATE'"
            v_bs = "tv" if bs[0] == "delete" else "-1"
        act_expr = ret_case(act1, act2, act_bs)
        v_expr_ret = ret_case(v1, v2, v_bs)
        m_cte = ("SELECT tt.id AS tid, tt.v AS tv, tt.s AS ts, "
                 "s.id AS sid, s.v AS sv, s.w AS sw "
                 "FROM t tt LEFT JOIN src s ON tt.id = s.id")
        ret_select = (f"WITH m AS ({m_cte}) "
                      f"SELECT {act_expr} AS act, tid AS id, "
                      f"CAST({v_expr_ret} AS BIGINT) AS v "
                      f"FROM m WHERE {act_expr} IS NOT NULL")
        if nm:
            ins_v2 = ("s.v" if nm[0] == "full"
                      else render(nm[1], "duck").replace("sv", "s.v"))
            ret_select += (
                f" UNION ALL SELECT 'INSERT', s.id, "
                f"CAST({ins_v2} AS BIGINT) FROM src s WHERE NOT EXISTS "
                "(SELECT 1 FROM t tt WHERE tt.id = s.id)")
        duck_sql = (f"CREATE OR REPLACE TABLE _ret AS {ret_select}; "
                    f"{duck_sql}; SELECT act, id, v FROM _ret")
        return engine_sql, duck_sql, True

    def statement(self):
        gens = [self.insert_values, self.insert_select, self.with_insert,
                self.update, self.update, self.update_from,
                self.delete, self.delete_using, self.merge, self.merge,
                self.with_update, self.with_delete, self.update_from_pair,
                self.delete_using_pair]
        return self.r.choice(gens)()

    def sequence(self):
        return [self.statement() for _ in range(STMTS_PER_SEQ)]


def _corpus():
    rng = random.Random(SEED)
    g = DmlGen(rng)
    return [(i, g.sequence()) for i in range(N_SEQUENCES)]


# --------------------------------------------------------------- the test


def _duck_conn(t, src):
    import duckdb

    con = duckdb.connect()
    con.register("_t0", t)
    con.register("_s0", src)
    con.execute("CREATE TABLE t AS SELECT * FROM _t0; "
                "CREATE TABLE src AS SELECT * FROM _s0")
    return con


# ------------------------------------------------- ON CONFLICT scenario
#
# A separate generator against a PRIMARY-KEY DuckDB table: upserts (DO
# UPDATE with excluded./t. expressions and optional WHERE, DO NOTHING),
# deletes, and fresh inserts. Two DuckDB-1.0 limitations shape it:
# in-place UPDATE on a PK table trips DuckDB's own uniqueness check (so
# no UPDATE statements here — plain-table sequences above cover them),
# and ON CONFLICT RETURNING returns the PROPOSED row (pg returns the
# final row; probed: DO UPDATE returned excluded values, DO NOTHING
# returned skipped rows), so this scenario compares table STATE only —
# the engine's pg-faithful RETURNING stays pinned by test_merge.py.


class UpsertGen:
    UPSERT_SETS = ["excluded.v", "t.v + excluded.v", "COALESCE(t.v, 0) + 1",
                   "excluded.v * 2"]
    # NO generated DO UPDATE ... WHERE: DuckDB 1.0 evaluates the conflict
    # WHERE nondeterministically on multi-row batches — replaying the
    # identical statement sequence on a fresh connection flips between
    # applying and skipping the update (reproduced 3-of-8 runs on
    # 'WHERE t.v % 2 = 0' with a NULL t.v; the engine is deterministic
    # and pg-faithful, pinned by test_upsert_where_null_condition below
    # and test_merge.py's hand-written WHERE cases).

    def __init__(self, rng: random.Random):
        self.r = rng
        self.next_id = 200

    def upsert(self):
        k = self.r.randint(1, 3)
        ids = self.r.sample(range(0, 16), k)    # distinct within batch
        rows = ", ".join(
            f"({i}, {self.r.randint(0, 99)}, "
            f"'{self.r.choice(['a', 'B', 'c'])}')" for i in ids)
        if self.r.random() < 0.3:
            act = "DO NOTHING"
        else:
            act = f"DO UPDATE SET v = {self.r.choice(self.UPSERT_SETS)}"
        sql = f"INSERT INTO t VALUES {rows} ON CONFLICT (id) {act}"
        return sql, sql, False

    def insert_fresh(self):
        i = self.next_id
        self.next_id += 1
        sql = f"INSERT INTO t VALUES ({i}, {self.r.randint(0, 99)}, 'n')"
        return sql, sql, False

    def delete(self):
        cond = self.r.choice(["id % 3 = 1", "v > 50",
                              "id BETWEEN 2 AND 6", "v % 2 = 0"])
        sql = f"DELETE FROM t WHERE {cond}"
        return sql, sql, False

    def sequence(self):
        gens = [self.upsert, self.upsert, self.upsert,
                self.insert_fresh, self.delete]
        return [self.r.choice(gens)() for _ in range(5)]


def _upsert_fixture():
    import pandas as pd

    n = 12
    t = pd.DataFrame({
        "id": list(range(n)),                 # UNIQUE: the duck PK needs it
        "v": [None if i == 3 else (i * 17) % 60 for i in range(n)],
        "s": [WORDS[(i * 3) % len(WORDS)] for i in range(n)],
    })
    t["v"] = t["v"].astype("Int64")
    return t


def _upsert_corpus():
    rng = random.Random(SEED + 1)
    g = UpsertGen(rng)
    return [(i, g.sequence()) for i in range(max(N_SEQUENCES // 2, 5))]


@pytest.mark.parametrize("idx,stmts", _upsert_corpus(),
                         ids=[f"upsert{i:03d}"
                              for i, _ in enumerate(_upsert_corpus())])
def test_fuzz_upsert_sequence_matches_duckdb(spark, idx, stmts):
    import duckdb

    import framequery_spark as fq

    t = _upsert_fixture()
    ex = fq.Executor(scope={"t": spark.createDataFrame(t)}, spark=spark)
    con = duckdb.connect()
    con.register("_t0", t)
    con.execute("CREATE TABLE t(id INTEGER PRIMARY KEY, v BIGINT, "
                "s VARCHAR); INSERT INTO t SELECT * FROM _t0")

    for step, (esql, dsql, _) in enumerate(stmts):
        ex.execute(esql)
        con.execute(dsql)
        ours = _sorted_rows([tuple(r) for r in
                             ex.execute("SELECT * FROM t").collect()])
        theirs = _sorted_rows(con.execute("SELECT * FROM t").fetchall())
        assert len(ours) == len(theirs), (
            f"upsert{idx} step {step}: table size {len(ours)} vs "
            f"{len(theirs)}\nSQL: {esql}")
        for o, d in zip(ours, theirs):
            for a, b in zip(o, d):
                assert _values_equal(a, b), (
                    f"upsert{idx} step {step}: state row {o} vs {d}"
                    f"\nSQL: {esql}")


def test_upsert_where_null_condition(spark):
    """The case the generator must avoid on the DuckDB side, pinned with
    literal pg semantics on the engine: a conflict row whose DO UPDATE
    WHERE evaluates NULL (t.v IS NULL -> t.v % 2 = 0 is NULL) takes no
    arm and stays unchanged; the other batch row with a true condition
    updates."""
    import pandas as pd

    import framequery_spark as fq

    t = pd.DataFrame({"id": [0, 3], "v": [0, None], "s": ["a", "b"]})
    t["v"] = t["v"].astype("Int64")
    ex = fq.Executor(scope={"t": spark.createDataFrame(t)}, spark=spark)
    ex.execute("INSERT INTO t VALUES (3, 74, 'x'), (0, 69, 'y') "
               "ON CONFLICT (id) DO UPDATE SET v = excluded.v * 2 "
               "WHERE t.v % 2 = 0")
    got = sorted(tuple(r) for r in
                 ex.execute("SELECT * FROM t").collect())
    assert got == [(0, 138, "a"), (3, None, "b")], got


@pytest.mark.parametrize("idx,stmts", _corpus(),
                         ids=[f"dml{i:03d}" for i in range(N_SEQUENCES)])
def test_fuzz_dml_sequence_matches_duckdb(spark, idx, stmts):
    if idx in KNOWN_DIVERGENCES:
        pytest.xfail(KNOWN_DIVERGENCES[idx])
    import framequery_spark as fq

    t, src = _fixture_frames()
    ex = fq.Executor(scope={"t": spark.createDataFrame(t),
                            "src": spark.createDataFrame(src)}, spark=spark)
    con = _duck_conn(t, src)

    for step, (esql, dsql, has_ret) in enumerate(stmts):
        got = ex.execute(esql)
        res = con.execute(dsql)
        if has_ret:
            ours = _sorted_rows([tuple(r) for r in got.collect()])
            theirs = _sorted_rows(res.fetchall())
            assert len(ours) == len(theirs), (
                f"dml{idx} step {step}: RETURNING count "
                f"{len(ours)} vs {len(theirs)}\nSQL: {esql}")
            for o, d in zip(ours, theirs):
                for a, b in zip(o, d):
                    assert _values_equal(a, b), (
                        f"dml{idx} step {step}: RETURNING row {o} vs {d}"
                        f"\nSQL: {esql}")
        ours = _sorted_rows([tuple(r) for r in
                             ex.execute("SELECT * FROM t").collect()])
        theirs = _sorted_rows(
            con.execute("SELECT * FROM t").fetchall())
        assert len(ours) == len(theirs), (
            f"dml{idx} step {step}: table size {len(ours)} vs "
            f"{len(theirs)}\nSQL: {esql}\nDUCK: {dsql}")
        for o, d in zip(ours, theirs):
            for a, b in zip(o, d):
                assert _values_equal(a, b), (
                    f"dml{idx} step {step}: state row {o} vs {d}"
                    f"\nSQL: {esql}\nDUCK: {dsql}")
