"""The benchmark's workloads: one closed-loop client each, seeded.

``sql_session``
    A seeded statement stream over one generated sf0.01 dataset that mixes
    two paths into the SQL engine. *Cached reads* run ``q*`` statements of
    ``__spark_entry__`` through ``framequery_spark.execute`` against one
    long-lived scope; after the warm-up every one hits the plan cache, so
    their time is Spark execution. A fresh DBAPI connection carries the
    rest: ``q*`` reads, which pay parse + compile + Catalyst every time
    (``Executor.execute`` has no plan cache), DML with seeded literals on
    session tables made by CTAS, and reads of those mutated tables, whose
    lineage grows with every write.

``dedup_pipeline``
    A generated corpus with seeded near-duplicates, run through the
    dedup operators behind the ``op_*`` entries of ``__spark_entry__`` plus the
    two Structured Streaming pipelines (``stream_ingest_dedup`` over the
    corpus split into parquet files, ``stream_upsert_latest`` over
    ``events``). Shuffle-heavy operator execution with little compile.

Every response is compared with a DuckDB reference computed during setup
over the same parquet files; the DBAPI writes are replayed in DuckDB.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

import check
import datagen
from tracing import catalyst_ms, plan_leaves

import __spark_entry__ as entry

QS = [k for k in entry._Q if k.startswith("q")]
_TPCH = {"lineitem", "orders", "customer", "nation", "region", "part",
         "supplier"}
_TABLE_RE = re.compile(r"\b(" + "|".join(datagen.TABLES) + r")\b")


def _tables_of(name: str) -> set:
    return set(_TABLE_RE.findall(entry._Q[name][0]))


class Call:
    """One timed call of a run."""

    __slots__ = ("call_id", "kind", "name", "seconds", "ok")

    def __init__(self, call_id, kind, name, seconds, ok):
        self.call_id, self.kind, self.name = call_id, kind, name
        self.seconds, self.ok = seconds, ok


def _cycle(rng: random.Random, items):
    """Endless seeded stream over ``items``: each pass a fresh shuffle."""
    while True:
        order = list(items)
        rng.shuffle(order)
        yield from order


class Workload:
    """Setup (``prepare`` then ``warm``), then ``run`` for the timed
    part. ``prepare`` is repeatable: the harness runs it several times and
    reports the median as part of ``setup_s``."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.data = os.path.join(work, "data")
        self.calls: list[Call] = []
        self.docs_in = 0  # input documents per pipeline pass

    def _timed(self, call_id, kind, name, fn, expected) -> None:
        """Run one call, time it, then check its result off the clock."""
        t0 = time.perf_counter()
        try:
            with self.tracer.call(call_id, kind):
                got = fn()
            seconds = time.perf_counter() - t0
            ok = expected is None or got.matches(expected)
            if not ok:
                print(f"perfbench: {kind} {name}: wrong result",
                      flush=True)
        except Exception as exc:  # noqa: BLE001 — counted as failed
            seconds = time.perf_counter() - t0
            ok = False
            print(f"perfbench: {kind} {name} failed: "
                  f"{type(exc).__name__}: {str(exc)[:300]}", flush=True)
        self.calls.append(Call(call_id, kind, name, seconds, ok))

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- SQL


# Every tenth q* statement goes through the plan-cached path; the DBAPI
# reads are the read-only, TPC-H-only ones among the statements halfway
# between those.
CACHED = QS[0::10]
DBAPI_READS = [k for k in QS[5::10]
               if _tables_of(k) and _tables_of(k) <= _TPCH
               and not re.search(r"\b(MERGE|INSERT|UPDATE|DELETE)\b",
                                 entry._Q[k][0], re.I)]

SESSION_SETUP = [
    "CREATE TABLE s_orders AS SELECT o_orderkey, o_custkey, o_totalprice, "
    "o_orderpriority FROM orders WHERE o_orderkey < 3000",
    "CREATE TABLE s_cust AS SELECT c_custkey, c_nationkey, c_acctbal "
    "FROM customer",
]
SESSION_READS = {
    "s_priority": "SELECT o_orderpriority, count(*) AS n, "
                  "round(sum(o_totalprice), 2) AS total FROM s_orders "
                  "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "s_nation": "SELECT c_nationkey, count(*) AS n, "
                "round(sum(o_totalprice), 2) AS total FROM s_orders "
                "JOIN s_cust ON o_custkey = c_custkey "
                "GROUP BY c_nationkey ORDER BY c_nationkey",
    "s_cust_total": "SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal, "
                    "max(c_custkey) AS top FROM s_cust",
}
WRITE_KINDS = ["insert_values", "insert_select", "update", "delete", "merge"]
# One lap: every cached and DBAPI read, every write kind and every session
# read once, in a seeded order. Runs are whole laps, so the statement mix
# does not depend on the seed.
LAP = ([("cached", k) for k in CACHED] + [("dbapi_read", k) for k in DBAPI_READS]
       + [("write", k) for k in WRITE_KINDS + WRITE_KINDS[:3]]
       + [("session_read", k) for k in SESSION_READS])
LAPS = 12         # laps prepared; far more than one run executes
MIN_CALLS = 50    # two laps


def _write_sql(kind: str, i: int, rng: random.Random, n_cust: int) -> tuple:
    """(engine SQL, DuckDB statements replaying it, mutated table)."""
    if kind == "insert_values":
        rows = ", ".join(
            f"({10_000_000 + 3 * i + j}, {rng.randrange(n_cust)}, "
            f"{round(rng.uniform(1000, 500000), 2)}, "
            f"'{rng.choice(datagen.PRIORITIES)}')" for j in range(3))
        sql = f"INSERT INTO s_orders VALUES {rows}"
        return sql, [sql], "s_orders"
    if kind == "insert_select":
        lo = rng.randrange(0, 10000)
        sql = (f"INSERT INTO s_orders SELECT o_orderkey + {20_000_000 + i * 100_000}, "
               f"o_custkey, o_totalprice, o_orderpriority FROM orders "
               f"WHERE o_orderkey BETWEEN {lo} AND {lo + 20}")
        return sql, [sql], "s_orders"
    if kind == "update":
        sql = (f"UPDATE s_orders SET o_totalprice = o_totalprice + "
               f"{rng.randrange(1, 100)} WHERE o_custkey % 50 = "
               f"{rng.randrange(50)}")
        return sql, [sql], "s_orders"
    if kind == "delete":
        sql = (f"DELETE FROM s_orders WHERE o_orderkey % 97 = "
               f"{rng.randrange(97)} AND o_custkey % 3 = {rng.randrange(3)}")
        return sql, [sql], "s_orders"
    src = (f"SELECT c_custkey + {1_000_000 * (i + 1)} AS k, c_nationkey AS n, "
           f"c_acctbal AS b FROM customer WHERE c_custkey % 200 = "
           f"{rng.randrange(200)} UNION ALL SELECT c_custkey AS k, "
           f"c_nationkey AS n, c_acctbal + 1 AS b FROM customer "
           f"WHERE c_custkey % 150 = {rng.randrange(150)}")
    sql = (f"MERGE INTO s_cust USING ({src}) src ON s_cust.c_custkey = src.k "
           f"WHEN MATCHED THEN UPDATE SET c_acctbal = src.b "
           f"WHEN NOT MATCHED THEN INSERT VALUES (src.k, src.n, src.b)")
    # DuckDB 1.0 has no MERGE: replay it as insert-missing + update-matched
    # (the inserted keys are new, so the order does not matter)
    replay = [
        f"INSERT INTO s_cust SELECT k, n, b FROM ({src}) src "
        f"WHERE k NOT IN (SELECT c_custkey FROM s_cust)",
        f"UPDATE s_cust SET c_acctbal = src.b FROM ({src}) src "
        f"WHERE s_cust.c_custkey = src.k",
    ]
    return sql, replay, "s_cust"


class SqlSession(Workload):
    name = "sql_session"
    SF = 0.01

    def prepare(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        datagen.write(self.data, self.seed, self.SF)
        con = check.duck_connect(self.data, datagen.TABLES)
        self.refs = {k: check.duck_result(con, entry._Q[k][1])
                     for k in set(CACHED) | set(DBAPI_READS)}
        n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
        for stmt in SESSION_SETUP:
            con.execute(stmt)
        # the statement stream, with each DBAPI statement's reference
        rng = random.Random(self.seed)
        self.stream = []
        n_writes = 0
        for _ in range(LAPS):
            lap = list(LAP)
            rng.shuffle(lap)
            for kind, k in lap:
                if kind in ("cached", "dbapi_read"):
                    self.stream.append((kind, k, entry._Q[k][0], None))
                elif kind == "session_read":
                    self.stream.append((kind, k, SESSION_READS[k],
                                        check.duck_result(
                                            con, SESSION_READS[k])))
                else:
                    sql, replay, table = _write_sql(k, n_writes, rng, n_cust)
                    n_writes += 1
                    for stmt in replay:
                        con.execute(stmt)
                    self.stream.append((kind, k, sql, table))
        con.close()

    def _connect(self):
        from framequery_spark.alchemy import dbapi

        conn = dbapi.connect(spark=self.spark)
        cur = conn.cursor()
        for t in sorted(_TPCH):
            cur.execute(f"COPY {t} FROM '{self.data}/{t}.parquet' "
                        f"WITH (format 'parquet')")
        for stmt in SESSION_SETUP:
            cur.execute(stmt)
        return conn

    def warm(self) -> None:
        import framequery_spark as fq
        from framequery_spark.sources.testdata import load_table

        self.scope = {t: load_table(self.spark, self.data, t)
                      for t in datagen.TABLES}
        for k in CACHED:
            fq.execute(entry._Q[k][0], self.scope, spark=self.spark).collect()
        # the read-only DBAPI statements; they leave the session tables as
        # the reference replay expects them
        self.conn = self._connect()
        cur = self.conn.cursor()
        for k in DBAPI_READS:
            cur.execute(entry._Q[k][0])
            cur.fetchall()

    def _cached(self, sql: str):
        import framequery_spark as fq
        from framequery_spark.executor import executor as ex

        tr = self.tracer
        if tr.enabled:
            key = ex._plan_cache_key(sql, self.scope, self.spark, ".")
            tr.count("plan_cache_lookups", 1)
            tr.count("plan_cache_hits", int(key in ex._PLAN_CACHE))
        with tr.span("executor", "fq.execute"):
            df = fq.execute(sql, self.scope, spark=self.spark)
        with tr.span("spark", "collect"):
            out = check.spark_result(df)
        if tr.enabled:
            for k, v in catalyst_ms(df).items():
                tr.count(f"{k}_ms", v)
        return out

    def _dbapi(self, sql: str, table=None):
        tr = self.tracer
        executor = self.conn._executor
        captured = []
        if tr.enabled:
            execute = executor.execute

            def traced_execute(q, *a, **kw):
                with tr.span("executor", "Executor.execute"):
                    df = execute(q, *a, **kw)
                if df is not None:
                    df.collect = tr.wrap("spark", "collect", df.collect)
                    captured.append(df)
                return df
            executor.execute = traced_execute
        try:
            cur = self.conn.cursor()
            with tr.span("alchemy", "cursor.execute+fetchall"):
                cur.execute(sql)
                rows = cur.fetchall()
        finally:
            if tr.enabled:
                del executor.execute
        if tr.enabled:
            for df in captured:
                for k, v in catalyst_ms(df).items():
                    tr.count(f"{k}_ms", v)
            if table is not None:
                tr.count("writes", 1)
                tr.count("plan_leaves", plan_leaves(executor.scope[table]))
        if cur.description is None:
            return None
        return check.Result([d[0] for d in cur.description], rows)

    def run(self, seconds: float) -> None:
        from framequery_spark.parser import parse

        t_end = time.perf_counter() + seconds
        for i, (kind, name, sql, ref) in enumerate(self.stream):
            if i % len(LAP) == 0 and time.perf_counter() >= t_end \
                    and len(self.calls) >= MIN_CALLS:
                break
            if self.tracer.enabled:
                # parse time, measured by a separate parse() off the clock
                t0 = time.perf_counter()
                with self.tracer.span("parser", "parse"):
                    parse(sql)
                self.tracer.note(i, "parse_s", time.perf_counter() - t0)
            if kind == "cached":
                self._timed(i, kind, name, lambda: self._cached(sql),
                            self.refs[name])
            elif kind == "write":
                self._timed(i, kind, name, lambda: self._dbapi(sql, ref),
                            None)
            else:
                expected = self.refs[name] if kind == "dbapi_read" else ref
                self._timed(i, kind, name, lambda: self._dbapi(sql),
                            expected)

    def close(self) -> None:
        self.conn.close()


# ------------------------------------------------------------ pipeline


# dedup_against runs inside stream_ingest_dedup. near_dup_config_sweep,
# semdedup and bm25_topk are left out to keep a run's set-up and pass
# short enough for the run budget.
OPS = ["op_exact_dedup", "op_jaccard_pairs", "op_minhash_dedup",
       "op_simhash_pairs", "op_decontaminate", "op_pipeline_e2e"]
STREAMS = ["stream_ingest_dedup", "stream_upsert_latest"]
STREAM_FILES = 4


class DedupPipeline(Workload):
    name = "dedup_pipeline"
    SF = 0.01
    N_DOCS = 500
    DUP_RATE = 0.05

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        shutil.rmtree(self.data, ignore_errors=True)
        datagen.write(self.data, self.seed, self.SF, n_docs=self.N_DOCS,
                      dup_rate=self.DUP_RATE, n_vecs=self.N_DOCS)
        docs = pq.read_table(f"{self.data}/documents.parquet")
        self.docs_in = docs.num_rows
        self.events_in = pq.read_metadata(
            f"{self.data}/events.parquet").num_rows
        split = f"{self.data}/docs_stream"
        os.makedirs(split)
        step = -(-docs.num_rows // STREAM_FILES)
        for j in range(STREAM_FILES):
            pq.write_table(docs.slice(j * step, step),
                           f"{split}/part-{j}.parquet")
        con = check.duck_connect(self.data, datagen.TABLES)
        self.refs = {k: check.duck_result(con, entry._OPS[k][1])
                     for k in OPS}
        self.refs["stream_ingest_dedup"] = check.duck_result(
            con, entry._OPS["op_dedup_against"][1])
        self.refs["stream_upsert_latest"] = check.duck_result(
            con, entry._OPS["op_stream_upsert"][1])
        con.close()
        self.order = _cycle(random.Random(self.seed), OPS + STREAMS)

    def _release(self) -> None:
        from framequery_spark.operators.cache import release_cached

        with self.tracer.span("operators.cache", "release_cached"):
            released = release_cached(blocking=True)
        if self.tracer.enabled:
            self.tracer.count("released", released)
            self.tracer.count(
                "persistent_rdds_left",
                self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def _op(self, name: str):
        tr = self.tracer
        with tr.span("operators", name):
            df = entry._OPS[name][0](self.spark, self.data)
        with tr.span("spark", "collect"):
            out = check.spark_result(df)
        self._release()
        if tr.enabled:
            tr.count("rows_out", len(out.rows))
            for k, v in catalyst_ms(df).items():
                tr.count(f"{k}_ms", v)
        return out

    def _stream(self, name: str, call_id: int):
        from pyspark.sql import functions as F

        from framequery_spark.sources.testdata import load_table
        from framequery_spark.streaming import stream

        tr = self.tracer
        root = os.path.join(self.work, "stream", str(call_id))
        with tr.span("streaming", name):
            if name == "stream_ingest_dedup":
                corpus = load_table(self.spark, self.data, "documents") \
                    .where(F.col("doc_id") % 2 == 0)
                df = stream.stream_ingest_dedup(
                    self.spark, f"{self.data}/docs_stream", corpus,
                    out_dir=f"{root}/out", checkpoint_dir=f"{root}/ckpt",
                    doc_filter=F.col("doc_id") % 2 == 1).select("doc_id")
            else:
                df = stream.stream_upsert_latest(
                    self.spark, f"{self.data}/events.parquet",
                    out_dir=f"{root}/out", checkpoint_dir=f"{root}/ckpt") \
                    .select("user_id", "event_id", "event_type", "value")
        with tr.span("spark", "collect"):
            out = check.spark_result(df)
        self._release()
        if tr.enabled:
            commits = os.path.join(root, "ckpt", "commits")
            tr.count("stream_batches", sum(
                1 for f in os.listdir(commits) if not f.startswith(".")))
            tr.count("rows_out", len(out.rows))
            tr.count("rows_in", self.docs_in if name == "stream_ingest_dedup"
                     else self.events_in)
        return out

    def warm(self) -> None:
        from framequery_spark.operators.cache import release_cached

        for k in OPS:
            entry._OPS[k][0](self.spark, self.data).collect()
            release_cached(blocking=True)
        for i, k in enumerate(STREAMS):
            self._stream(k, -1 - i)
        shutil.rmtree(os.path.join(self.work, "stream"), ignore_errors=True)

    def run(self, seconds: float) -> None:
        n = len(OPS) + len(STREAMS)
        t_end = time.perf_counter() + seconds
        i = 0
        # whole passes only, so every run weighs each call alike
        while i == 0 or time.perf_counter() < t_end:
            for _ in range(n):
                name = next(self.order)
                if name in STREAMS:
                    self._timed(i, "stream", name,
                                lambda: self._stream(name, i), self.refs[name])
                    shutil.rmtree(os.path.join(self.work, "stream", str(i)),
                                  ignore_errors=True)
                else:
                    self._timed(i, "operator", name,
                                lambda: self._op(name), self.refs[name])
                i += 1


WORKLOADS = {w.name: w for w in (SqlSession, DedupPipeline)}
