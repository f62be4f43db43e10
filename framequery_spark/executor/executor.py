"""Public API: execute() and the persistent Executor session.

Mirrors the reference entry points (src/framequery/executor/_executor.py:37-139):
  - execute(q, scope=None, spark=None, basepath='.') — one-shot; when scope is
    None the caller's frame globals+locals are captured
    (reference behavior at src/framequery/executor/_executor.py:123-128).
  - Executor(scope, spark, basepath) — persistent scope; DDL statements
    (CREATE TABLE AS / COPY FROM / DROP TABLE) mutate it in place
    (reference: src/framequery/executor/_executor.py:417-448).

Results are lazy Spark DataFrames (the dask-model convention); `.compute()`
equivalents are `df.toPandas()` / `df.collect()`.
"""

from __future__ import annotations

import inspect
import os
import re
import threading
import weakref
from collections import OrderedDict
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler.expressions import CompileError, ExprCompiler
from ..compiler.rewrite import transform, walk
from ..compiler.select import QueryCompiler
from ..operators import cache as _opcache
from ..parser import ast, parse
from ..sources.local_relation import local_relation


# SHOW options answered with constants so pg clients keep working
# (reference: src/framequery/executor/_executor.py:403-414)
_SHOW_OPTIONS = {
    "transaction isolation level": "read committed",
    "standard_conforming_strings": "on",
    "server_version": "9.6.0",
}


class Executor:
    """A persistent query session over a mutable table scope. It reuses
    the plans of repeated queries and materializes written tables on
    their next read; close() releases what it holds."""

    def __init__(self, scope: Optional[dict] = None,
                 spark: Optional[SparkSession] = None, basepath: str = ".",
                 model: Optional[str] = None,
                 table_root: Optional[str] = None):
        # `model` accepted for drop-in compatibility with the reference
        # signature (pandas/dask model selection); Spark is the only model
        self.spark = spark or SparkSession.builder.getOrCreate()
        self.scope: Dict[str, DataFrame] = {}
        self.basepath = basepath
        # Durable catalog hand-off (r12, see COVERAGE.md "Durability"):
        # a directory acting as a lightweight parquet catalog. When set,
        # plain CREATE TABLE AS persists its result to
        # <table_root>/<name>.parquet and unknown table names resolve
        # against it — so CTAS results survive the session and a fresh
        # Executor on the same root re-resolves them. TEMP tables, views
        # and matviews stay session-scoped. Also settable per-session via
        # SET framequery.table_root TO '<path>'.
        self.table_root = table_root
        self.user_functions: Dict[str, Callable] = {}
        self.table_functions: Dict[str, Callable] = {}
        self.lateral_functions: Dict[str, tuple] = {}
        # materialized-view definitions: name -> defining query AST, so
        # REFRESH MATERIALIZED VIEW can re-run them against current scope
        self._matviews: Dict[str, object] = {}
        self._options: Dict[str, str] = {}  # SET name TO v; SHOW reads back
        self._prepared: Dict[str, str] = {}  # PREPARE name -> raw SQL text
        # WITH RECURSIVE fixpoint cap (pg has none and can loop forever; we
        # fail fast instead — raise it for deep hierarchies)
        self.recursive_max_iterations = 100
        # plan reuse: this session's own plan cache (see _run_cached)
        self._plans = _PlanCache()
        self._reads: Optional[_ReadSet] = None  # set while a query compiles
        # bounded lineage: tables a DML statement rebound since their last
        # materialization (name -> weakref to that binding), and the
        # registry token the materializing checkpoints are owned by
        self._written: Dict[str, weakref.ref] = {}
        self._owner = object()
        self._forget = None  # finalizer, made with the first checkpoint
        if scope:
            self.update(**scope)

    # ------------------------------------------------------------- scope mgmt

    def update(self, *args, **kwargs) -> None:
        """Add tables to the scope (reference Executor.update,
        src/framequery/executor/_executor.py:65-69)."""
        merged = dict(*args, **kwargs) if args else kwargs
        for name, obj in merged.items():
            self.scope[name] = self._ensure_df(obj)

    def _ensure_df(self, obj) -> DataFrame:
        if isinstance(obj, DataFrame):
            return obj
        try:
            import pandas as pd

            if isinstance(obj, pd.DataFrame):
                return self.spark.createDataFrame(obj)
        except ImportError:
            pass
        raise TypeError(f"cannot use {type(obj).__name__} as a table")

    def _effective_table_root(self) -> Optional[str]:
        root = self._options.get("framequery.table_root", self.table_root)
        return str(root).strip("'\"") if root else None

    def _durable_path(self, name: str) -> Optional[str]:
        """Path of *name* under the durable table_root, or None when no
        root is configured. Dotted names map to subdirectories; traversal
        outside the root is rejected."""
        root = self._effective_table_root()
        if root is None:
            return None
        parts = name.split(".")
        if any(p in ("", ".", "..") or "/" in p or "\\" in p
               for p in parts):
            raise CompileError(f"invalid durable table name: {name!r}")
        return os.path.join(root, *parts[:-1], parts[-1] + ".parquet")

    def resolve_table(self, scope: dict, name: str) -> DataFrame:
        reads = self._reads
        if name in scope:
            df = scope[name]
            if not isinstance(df, DataFrame):
                df = self._ensure_df(df)
                scope[name] = df
            if reads is not None and self.scope.get(name) is df:
                reads.tables[name] = weakref.ref(df)
            return df
        if reads is not None:
            reads.tables[name] = None  # binding it later must miss
        # pg_catalog-prefixed lookups resolve to the bare name
        if name.startswith("pg_catalog."):
            return self.resolve_table(scope, name.split(".", 1)[1])
        if name == "pg_namespace":
            # hard-coded catalog emulation
            # (reference: src/framequery/executor/_pandas.py:103-116)
            return local_relation(
                self.spark,
                [("public", 0, None), ("pg_catalog", 0, None),
                 ("information_schema", 0, None)],
                T.StructType([
                    T.StructField("nspname", T.StringType()),
                    T.StructField("nspowner", T.IntegerType()),
                    T.StructField("nspacl", T.StringType()),
                ]),
            )
        # Names resolved outside the scope (durable root, Spark catalog) can
        # be rebound between calls while the scope stays the same, so a
        # compile that reads one must never be plan-cached.
        # durable catalog: a prior session's CTAS result re-resolves from
        # <table_root>/<name>.parquet (cached in scope so one session
        # reads one snapshot — pg-repeatable within the session)
        dpath = self._durable_path(name)
        if dpath is not None and os.path.exists(dpath):
            df = self.spark.read.parquet(dpath)
            scope[name] = df
            _opcache.note_compile_materialization()
            return df
        try:
            df = self.spark.table(name)
            _opcache.note_compile_materialization()
            return df
        except Exception:
            known = ", ".join(sorted(str(k) for k in scope)[:20]) or "(empty)"
            raise CompileError(
                f"table not found in scope: '{name}' "
                f"(available: {known})") from None

    # ---------------------------------------------------------- UDF registries

    def add_function(self, name: str, func: Callable,
                     returns: str = "string", vectorized: bool = True) -> None:
        """Register a scalar function. `func` receives/returns pandas Series
        (vectorized, Arrow-batched — the same Series->Series contract the
        reference uses, src/framequery/executor/_pandas.py:437-446)."""
        if vectorized:
            udf = F.pandas_udf(func, returnType=returns)
        else:
            udf = F.udf(func, returnType=returns)
        self.user_functions[name.lower()] = udf

    def add_column_function(self, name: str, func: Callable) -> None:
        """Register a compile-time function: Columns in -> Column out.
        Stays JVM-side — prefer this over add_function when expressible."""
        self.user_functions[name.lower()] = func

    def add_table_function(self, name: str, func: Callable) -> None:
        self.table_functions[name.lower()] = func

    def add_lateral_function(self, name: str, func: Callable, meta) -> None:
        """meta: StructType or [(name, spark-type-string), ...] — the declared
        output schema (reference meta, src/framequery/executor/_executor.py:77-95)."""
        if not isinstance(meta, T.StructType):
            meta = T.StructType([
                T.StructField(n, _parse_type(t)) for n, t in meta
            ])
        self.lateral_functions[name.lower()] = (func, meta)

    # ---------------------------------------------------------------- execute

    def execute(self, q: str, basepath: Optional[str] = None):
        old = self.basepath
        if basepath is not None:
            self.basepath = basepath
        try:
            return self._execute_sql(q)
        finally:
            self.basepath = old

    def _execute_sql(self, q: str):
        return _run_cached(self._plans, lambda: self._plan_key(q), q,
                           self.scope, self.spark, lambda: self)

    def _plan_key(self, q: str) -> tuple:
        """This session's plan-cache key for ``q``: the text plus every
        piece of session state a compile reads besides the scope tables
        (whose validity the entry's read set checks)."""
        return (q, self.basepath, self.table_root,
                self.recursive_max_iterations,
                tuple(sorted(self._options.items())),
                _by_identity(self.user_functions),
                _by_identity(self.table_functions),
                _by_identity(self.lateral_functions))

    def _materialize_written(self, node) -> None:
        """Bounded lineage: rebind each table this query names that a DML
        statement rebound since its last materialization to a local
        checkpoint of its current plan, so reads replay the writes since
        the last read, not every write of the session. Writes stay lazy;
        the checkpoint is owned by this session, so only close() releases
        it, and the ContextCleaner frees the superseded ones."""
        if not self._written:
            return
        for ref in walk(node, into_subqueries=True):
            if not (isinstance(ref, ast.TableRef)
                    and ref.name in self._written):
                continue
            name = ref.name
            df = self.scope.get(name)
            if df is not None and self._written[name]() is df:
                self.scope[name] = _opcache.local_checkpoint_tracked(
                    df, eager=True, owner=self._owner)
                if self._forget is None:
                    self._forget = weakref.finalize(
                        self, _opcache.forget_owned, self._owner)
            del self._written[name]

    def plan_cache_info(self) -> dict:
        """Hits, misses, evictions and entries of this session's plan
        cache."""
        return self._plans.info()

    def close(self) -> None:
        """Drop this session's plan cache and release the checkpoints its
        written tables were materialized to; those tables must not be read
        afterwards."""
        self._plans.clear()
        _opcache.release_owned(self._owner)

    def _returning(self, scope: dict, table: str, affected: DataFrame,
                   items, src_alias: str = None,
                   src_cols=()) -> DataFrame:
        """pg RETURNING: project the affected-row set through the item list
        using the full select machinery (aliases, expressions, `*`). The
        affected frame is bound under the statement's table name so
        qualified refs (`t.col`) resolve.

        For UPDATE ... FROM, DELETE ... USING and MERGE, `src_alias`/
        `src_cols` describe the matched source row, carried in the affected
        frame as hidden __src_<col> copies: alias-qualified source refs
        (incl. names that collide with target columns) and `alias.*`
        rewrite onto those. MERGE also carries the arm each row took as
        __merge_action, which `merge_action()` reads; a bare
        `merge_action()` item keeps the output name merge_action. A bare
        `*` expands to the visible (non-hidden) columns exactly like pg's
        output row."""
        alias = (src_alias or "").lower()
        hidden = {c: f"__src_{c}" for c in src_cols
                  if src_alias and f"__src_{c}" in affected.columns}
        has_action = "__merge_action" in affected.columns

        def is_action(n: ast.Node) -> bool:
            return has_action and isinstance(n, ast.Call) \
                and n.name.lower() == "merge_action" and not n.args

        def rw(n: ast.Node) -> ast.Node:
            if isinstance(n, ast.ColumnRef) and len(n.parts) == 2 \
                    and n.parts[0].lower() == alias \
                    and n.parts[1] in hidden:
                return ast.ColumnRef(parts=(hidden[n.parts[1]],),
                                     quoted=True)
            if is_action(n):
                return ast.ColumnRef(parts=("__merge_action",), quoted=True)
            return n

        out = []
        for it in items:
            e = it.expr if isinstance(it, ast.SelectItem) else it
            if isinstance(e, ast.Star) and e.table is None:
                # bare *: the visible columns, so hidden carriers never
                # leak into the output
                out.extend(ast.SelectItem(
                    expr=ast.ColumnRef(parts=(c,), quoted=True), alias=c)
                    for c in affected.columns if not c.startswith("__"))
            elif isinstance(e, ast.Star) and hidden \
                    and e.table.lower() == alias:
                out.extend(ast.SelectItem(
                    expr=ast.ColumnRef(parts=(h,), quoted=True), alias=c)
                    for c, h in hidden.items())
            elif hidden or has_action:
                if isinstance(it, ast.SelectItem) and it.alias is None \
                        and is_action(e):
                    it = ast.SelectItem(expr=e, alias="merge_action")
                out.append(transform(it, rw))
            else:
                out.append(it)
        tmp = dict(scope)
        tmp[table] = affected
        sel = ast.Select(items=tuple(out),
                         from_=ast.TableRef(parts=(table,)))
        return QueryCompiler(self, tmp).compile_query(sel)

    def _join_dml_as_merge(self, node) -> ast.Merge:
        """`UPDATE t SET ... FROM rels WHERE c` and `DELETE FROM t USING
        rels WHERE c` as the MERGE they mean: the FROM/USING relations are
        the source, the WHERE is the ON condition, and one MATCHED arm
        updates or deletes."""
        if isinstance(node, ast.Update):
            source = node.from_
            arm = ast.MergeAction(kind="update", assignments=node.assignments)
        else:
            source = node.using
            arm = ast.MergeAction(kind="delete")
        on = node.where if node.where is not None \
            else ast.Literal(value=True, kind="bool")
        return ast.Merge(target=node.table, source=source, on=on,
                         matched=(arm,), returning=node.returning)

    def _upsert_as_merge(self, node, df: DataFrame, cols) -> ast.Merge:
        """INSERT ... ON CONFLICT (k) DO UPDATE as a MERGE whose source is
        the proposed rows `df`, bound as `__excluded` under the alias
        `excluded`: a conflict takes the MATCHED UPDATE arm, a new key the
        NOT MATCHED INSERT arm. RETURNING rides the MERGE's affected rows:
        a conflict row whose DO UPDATE ... WHERE failed takes no arm, so it
        is neither updated nor returned (pg semantics).

        pg raises when the batch itself carries a duplicate conflict key
        ("ON CONFLICT DO UPDATE command cannot affect row a second time").
        For keys already in the table the MERGE duplicate-match guard
        catches this, but two batch rows sharing a NEW key would both take
        the insert arm, so the batch is checked here, eagerly. NULL keys
        never conflict in pg (NULL <> NULL for uniqueness) and are left
        out of the check."""
        keys = list(node.conflict_cols)
        non_null = df
        for k in keys:
            non_null = non_null.where(F.col(k).isNotNull())
        dup = (non_null.groupBy(*keys).count()
               .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                "ON CONFLICT DO UPDATE command cannot affect row a "
                f"second time (duplicate conflict key in batch: "
                f"{tuple(dup[0][k] for k in keys)})")
        on = None
        for c in keys:
            eq = ast.Binary(op="=", left=ast.ColumnRef(parts=(node.table, c)),
                            right=ast.ColumnRef(parts=("excluded", c)))
            on = eq if on is None else ast.Binary(op="and", left=on, right=eq)
        return ast.Merge(
            target=node.table, source=ast.TableRef(parts=("__excluded",)),
            on=on, source_alias="excluded",
            matched=(ast.MergeAction(
                kind="update", condition=node.conflict_where,
                assignments=node.conflict_assignments),),
            not_matched=(ast.MergeAction(
                kind="insert", insert_values=tuple(
                    ast.ColumnRef(parts=("excluded", c)) for c in cols)),),
            returning=node.returning)

    def _exec_merge(self, node, scope: dict, one_match: bool = False):
        """MERGE INTO, and the one path for every DML statement that joins
        its target to a source (UPDATE ... FROM, DELETE ... USING and
        INSERT ... ON CONFLICT DO UPDATE are rewritten to MERGE).

        One join of target and source on the ON condition, then a single
        conditional projection implements every WHEN arm with first-match
        semantics — matched rows take the first satisfied MATCHED arm,
        target-only rows the first NOT MATCHED BY SOURCE arm (default:
        keep), source-only rows the first NOT MATCHED [BY TARGET] arm
        (default: no insert). The join is a full outer join only when a NOT
        MATCHED [BY TARGET] arm needs the source-only rows; otherwise a
        left outer join keeps the target-only rows. A window over the
        target row id then enforces one match per target row: by default
        it raises at execution time if a target row matches more than one
        source row (pg: "MERGE command cannot affect row a second time");
        with `one_match` (UPDATE ... FROM, DELETE ... USING) it keeps one
        match per target row — pg leaves which one unspecified — and a
        local checkpoint pins that choice so the rebound table and
        RETURNING see the same rows. Scale shape: one equi/theta join + one
        hash-partitioned window; nothing is collected. Beyond parity: the
        reference has no MERGE.

        SET values and WHEN conditions may hold subqueries, attached to the
        joined rows; a subquery in the ON condition raises a CompileError.

        With node.returning (pg 17), returns the RETURNING projection over
        the affected rows — the arm each row took is computed as a
        `__merge_action` column riding the same conditional chain, so
        `merge_action()` and the affected-set filter cost no extra pass:
        rows whose arm was DO NOTHING (or whose conditional arm's AND/WHERE
        failed, falling through to the keep default) have a NULL action and
        are neither counted nor returned, matching pg. Update/insert rows
        return the post-image; delete rows the old image. Returns None when
        no RETURNING clause is present. RETURNING may reference target
        columns (post-/old-image), source columns whose names no target
        column or other source column shares (bare), merge_action(), and
        source-qualified columns `<src>.c` / `<src>.*` of a single source
        relation (NULL for NOT MATCHED BY SOURCE rows, like pg)."""
        t_name = node.target_alias or node.target.split(".")[-1]
        base = self.resolve_table(scope, node.target)
        t_cols = list(base.columns)
        for a in node.matched + node.not_matched_by_source:
            unknown = [c for c, _ in a.assignments if c not in t_cols]
            if unknown:
                raise CompileError(f"column(s) {unknown} of relation "
                                   f'"{node.target}" do not exist')
        tj = (base.withColumn("__t_id", F.monotonically_increasing_id())
              .withColumn("__t_mark", F.lit(True))
              .alias(t_name))
        src = node.source
        s_df = QueryCompiler(self, scope).compile_relation(src)
        s_df = s_df.withColumn("__s_mark", F.lit(True))
        # withColumn drops the relation's alias — re-establish it so
        # qualified refs (src.col / excluded.col) keep resolving; a join
        # tree keeps the aliases of its relations
        s_name = None
        if not isinstance(src, ast.Join):
            s_name = (node.source_alias or getattr(src, "alias", None)
                      or (src.parts[-1] if isinstance(src, ast.TableRef)
                          else "__source"))
            s_df = s_df.alias(s_name)

        ec = ExprCompiler(self, scope=scope)
        on = ec.compile(node.on)
        if ec.pending_scalar or ec.pending_correlated or ec.pending_theta:
            raise CompileError(
                "subqueries in the join condition of MERGE ... ON, "
                "UPDATE ... FROM or DELETE ... USING are not supported")
        how = "full_outer" if node.not_matched else "left_outer"
        joined = tj.join(s_df, on, how)

        m_cond = F.col("__t_mark").eqNullSafe(True) \
            & F.col("__s_mark").eqNullSafe(True)
        to_cond = F.col("__t_mark").eqNullSafe(True) & F.col("__s_mark").isNull()
        so_cond = F.col("__t_mark").isNull() & F.col("__s_mark").eqNullSafe(True)

        def tcol(c):
            return F.col(f"`{t_name}`.`{c}`")

        def insert_map(action):
            cols = list(action.insert_columns) or t_cols
            if len(cols) != len(action.insert_values):
                raise CompileError(
                    "MERGE INSERT has %d columns but %d values"
                    % (len(cols), len(action.insert_values)))
            unknown = [c for c in cols if c not in t_cols]
            if unknown:
                raise CompileError(
                    f"MERGE INSERT: unknown target column(s) {unknown}")
            return dict(zip(cols, action.insert_values))

        segments = (
            (m_cond, node.matched, "matched"),
            (to_cond, node.not_matched_by_source, "by_source"),
            (so_cond, node.not_matched, "insert"),
        )
        # each arm's full condition, compiled once: a subquery in it then
        # attaches once, before any chain reads it
        arm_cond = {
            (seg_kind, i): seg_cond if a.condition is None
            else seg_cond & ec.compile(a.condition).eqNullSafe(True)
            for seg_cond, actions, seg_kind in segments
            for i, a in enumerate(actions)}

        def build(value_of, defaults):
            chain = None
            for seg_cond, actions, seg_kind in segments:
                for i, a in enumerate(actions):
                    c, v = arm_cond[seg_kind, i], value_of(a, seg_kind)
                    chain = F.when(c, v) if chain is None else chain.when(c, v)
                d = defaults[seg_kind]
                chain = (F.when(seg_cond, d) if chain is None
                         else chain.when(seg_cond, d))
            return chain

        out_cols = []
        for c in t_cols:
            dtype = base.schema[c].dataType

            def value_of(a, seg_kind, c=c, dtype=dtype):
                if a.kind == "update":
                    vals = dict(a.assignments)
                    if c in vals:
                        return ec.compile(vals[c]).cast(dtype)
                    return tcol(c)
                if a.kind == "insert":
                    v = insert_map(a).get(c)
                    if v is None:
                        return F.lit(None).cast(dtype)
                    return ec.compile(v).cast(dtype)
                return tcol(c)  # delete/nothing: value unused or original

            out_cols.append(build(value_of, {
                "matched": tcol(c), "by_source": tcol(c),
                "insert": F.lit(None).cast(dtype)}).alias(c))

        def keep_of(a, seg_kind):
            if seg_kind == "insert":
                return F.lit(a.kind == "insert")
            return F.lit(a.kind != "delete")

        keep = build(keep_of, {
            "matched": F.lit(True), "by_source": F.lit(True),
            "insert": F.lit(False)})

        # one match per target row, evaluated inside the plan
        per_target = Window.partitionBy("__t_id")
        if one_match:
            # the join forms have no insert arm: every row has a target id
            guard = F.row_number().over(per_target.orderBy("__s_mark")) == 1
        else:
            n_match = F.sum(F.when(m_cond, 1).otherwise(0)).over(per_target)
            guard = F.when(
                F.col("__t_id").isNotNull() & (n_match > 1),
                F.raise_error(F.lit(
                    "MERGE command cannot affect row a second time: a "
                    "target row matched more than one source row"))
                .cast("boolean"),
            ).otherwise(F.lit(True))

        joined, _ = QueryCompiler(self, scope)._attach_pending(joined, ec)
        joined = joined.withColumn("__guard", guard)  # window not legal in WHERE
        if one_match:
            joined = _opcache.local_checkpoint_tracked(joined, eager=False)
        scope[node.target] = (joined
                              .where(keep & F.col("__guard"))
                              .select(*out_cols))
        if not node.returning:
            return None

        # affected set: rows that actually took an update/delete/insert arm
        def action_of(a, seg_kind):
            if a.kind in ("update", "delete", "insert"):
                return F.lit(a.kind.upper())
            return F.lit(None).cast("string")

        no_action = F.lit(None).cast("string")
        action = build(action_of, {"matched": no_action,
                                   "by_source": no_action,
                                   "insert": no_action})
        # delete rows: out_cols already carry the old image (the delete arm's
        # per-column value is tcol(c)); update/insert rows the post-image.
        # Then the source columns no other column shares, under their bare
        # names, and, for a single source relation, every source column as
        # a __src_<c> helper column (invisible to `*` expansion) so
        # RETURNING may reference the matched source row via its alias
        # (pg 17). For target-only (BY SOURCE) rows they are NULL, like pg.
        src_cols = [c for c in s_df.columns if not c.startswith("__")]

        def scol(c):
            return F.col(f"`{s_name}`.`{c}`" if s_name else f"`{c}`")

        bare = [scol(c).alias(c) for c in src_cols
                if c not in t_cols and src_cols.count(c) == 1]
        carriers = ([scol(c).alias(f"__src_{c}") for c in src_cols]
                    if s_name else [])
        affected = (joined
                    .withColumn("__action", action)
                    .where(F.col("__action").isNotNull() & F.col("__guard"))
                    .select(*out_cols, *bare, *carriers,
                            F.col("__action").alias("__merge_action")))
        return self._returning(scope, t_name, affected, node.returning,
                               src_alias=s_name, src_cols=src_cols)

    def _compile_query(self, node, scope: dict) -> DataFrame:
        return QueryCompiler(self, scope).compile_query(node)

    def _execute_statement(self, node, scope: dict):
        out = self._dispatch(node, scope)
        if isinstance(node, _DML) and scope is self.scope:
            name = node.target if isinstance(node, ast.Merge) else node.table
            if isinstance(scope.get(name), DataFrame):
                self._written[name] = weakref.ref(scope[name])
        return out

    def _dispatch(self, node, scope: dict):
        if isinstance(node, _QUERY):
            return self._compile_query(node, scope)
        if isinstance(node, ast.Explain):
            df = self._compile_query(node.query, scope)
            mode = "cost" if node.analyze else "formatted"
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString(mode))
            rows = [(line,) for line in plan.splitlines()]
            return local_relation(self.spark, rows,
                                  "`QUERY PLAN` string")
        if isinstance(node, ast.CreateTableAs):
            if node.if_not_exists and node.name in scope:
                return None  # pg: skipped with a notice
            df = self._compile_query(node.query, scope)
            if node.materialized:
                # pg MATERIALIZED VIEW: contents frozen at creation time —
                # localCheckpoint(eager) materializes to executor storage
                # so later base-table changes do not show until REFRESH.
                # (Distributed blocks, not driver memory; at cluster scale
                # the same cost a real MV's heap table pays.)
                df = _opcache.local_checkpoint_tracked(df, eager=True)
                self._matviews[node.name] = node.query
            elif not node.temp and not node.view:
                # durable catalog (r12): a plain CREATE TABLE AS under a
                # configured table_root writes the result once to parquet
                # and rebinds the name to a SCAN of that parquet — later
                # queries get pushdown/pruning against stored data instead
                # of re-running the defining plan, and a fresh session on
                # the same root re-resolves the table by name.
                dpath = self._durable_path(node.name)
                if dpath is not None:
                    if (not node.replace and os.path.exists(dpath)
                            and node.name not in scope):
                        if node.if_not_exists:
                            return None
                        raise CompileError(
                            f'relation "{node.name}" already exists in '
                            f"the durable table root")
                    df.write.mode("overwrite").parquet(dpath)
                    df = self.spark.read.parquet(dpath)
            scope[node.name] = df
            return None
        if isinstance(node, ast.RefreshMatView):
            query = self._matviews.get(node.name)
            if query is None:
                raise CompileError(
                    f"\"{node.name}\" is not a materialized view")
            scope[node.name] = _opcache.local_checkpoint_tracked(
                self._compile_query(query, scope), eager=True)
            return None
        if isinstance(node, ast.WithDml):
            # CTEs become temporary scope entries visible to the DML; they
            # are compiled EAGERLY-lazily against the pre-DML state (lazy
            # DataFrames over the current bindings — since the DML rebinds
            # rather than mutates, the CTE plans keep reading the original
            # data like pg's same-snapshot semantics). Shadowed names are
            # restored afterwards.
            target = getattr(node.stmt, "table",
                             getattr(node.stmt, "target", None))
            if any(c.name == target for c in node.ctes):
                # pg resolves the DML target to the real relation even
                # when a CTE shares its name; here the CTE would shadow
                # it and the restore would discard the modification —
                # reject instead of silently doing the wrong thing
                raise CompileError(
                    f'WITH query name "{target}" collides with the DML '
                    "target table — rename the CTE")
            _missing = object()
            saved = {c.name: scope.get(c.name, _missing)
                     for c in node.ctes}
            try:
                cte_scope = dict(scope)
                for cte in node.ctes:
                    sub = QueryCompiler(self, cte_scope)
                    if cte.recursive:
                        df = sub._compile_recursive_cte(cte)
                    else:
                        df = sub.compile_query(cte.query)
                        if cte.columns:
                            df = df.toDF(*cte.columns)
                    cte_scope[cte.name] = df
                    scope[cte.name] = df
                return self._execute_statement(node.stmt, scope)
            finally:
                for name, old in saved.items():
                    if old is _missing:
                        scope.pop(name, None)
                    else:
                        scope[name] = old
        if isinstance(node, ast.AlterRename):
            if node.old not in scope:
                if node.if_exists:
                    return None
                raise KeyError(f"table not found: {node.old}")
            if node.new in scope:
                raise CompileError(
                    f'relation "{node.new}" already exists')
            scope[node.new] = scope.pop(node.old)
            if node.old in self._matviews:
                self._matviews[node.new] = self._matviews.pop(node.old)
            return None
        if isinstance(node, ast.SetOption):
            self._options[node.name] = node.value
            return None
        if isinstance(node, ast.ResetOption):
            if node.name is None:
                self._options.clear()
            else:
                self._options.pop(node.name, None)
            return None
        if isinstance(node, ast.Utility):
            return None  # documented no-ops: txn control / maintenance
        if isinstance(node, ast.Prepare):
            self._prepared[node.name] = node.text
            return None
        if isinstance(node, ast.ExecutePrepared):
            text = self._prepared.get(node.name)
            if text is None:
                raise CompileError(
                    f'prepared statement "{node.name}" does not exist')
            vals = []
            for a in node.args:
                neg = False
                if isinstance(a, ast.Unary) and a.op == "-" \
                        and isinstance(a.operand, ast.Literal):
                    a, neg = a.operand, True
                if not isinstance(a, ast.Literal):
                    raise CompileError(
                        "EXECUTE arguments must be literals")
                v = a.value
                if v is None:
                    vals.append("NULL")
                elif a.kind == "string":
                    vals.append("'" + str(v).replace("'", "''") + "'")
                elif a.kind == "bool":
                    vals.append("true" if v else "false")
                else:
                    # numeric splices go in as typed CASTs, never bare
                    # literals: a bare negative after '-' fuses into a
                    # '--' line comment, and a bare/parenthesized integer
                    # in ORDER BY / GROUP BY position resolves as an
                    # ORDINAL — pg's $n is a constant there (sorting and
                    # grouping no-ops), which CAST(n AS ...) reproduces
                    # (LIMIT/OFFSET fold it back via _int_literal)
                    if isinstance(v, float):
                        ty = "DOUBLE"
                    elif int(v) > 0x7FFFFFFFFFFFFFFF + (1 if neg else 0):
                        # pg types an out-of-int64-range integer constant
                        # as numeric; CAST(v AS BIGINT) would overflow.
                        # Splice the magnitude as a STRING argument — a
                        # bare >int64 literal can't round-trip through a
                        # Long-typed lit()
                        vals.append(
                            f"CAST('{'-' if neg else ''}{v}' "
                            "AS DECIMAL(38,0))")
                        continue
                    else:
                        ty = "BIGINT"
                    vals.append(
                        f"CAST({'-' if neg else ''}{v} AS {ty})")
            # token-aware $n substitution: splice at pgparam token
            # positions so $n inside string literals is never touched
            from ..parser.tokenizer import tokenize as _tok

            out, last = [], 0
            for t in _tok(text):
                if t.kind == "pgparam":
                    idx = int(t.value[1:])
                    if not 1 <= idx <= len(vals):
                        raise CompileError(
                            f"no value for parameter ${idx} "
                            f"({len(vals)} given)")
                    out.append(text[last:t.pos])
                    out.append(vals[idx - 1])
                    last = t.pos + len(t.value)
            out.append(text[last:])
            # the spliced text is the plan-cache key: a repeat with the
            # same arguments reuses its plan
            return self._execute_sql("".join(out))
        if isinstance(node, ast.Deallocate):
            if node.name is None:
                self._prepared.clear()
            elif self._prepared.pop(node.name, None) is None:
                raise CompileError(
                    f'prepared statement "{node.name}" does not exist')
            return None
        if isinstance(node, ast.DropTable):
            for name in node.names:
                found = False
                if name in scope:
                    del scope[name]
                    self._matviews.pop(name, None)
                    found = True
                # durable catalog: DROP TABLE removes the stored parquet
                # too (pg DROP removes data); the path helper guarantees
                # the delete stays inside table_root
                dpath = self._durable_path(name)
                if dpath is not None:
                    import shutil

                    if os.path.isdir(dpath):
                        shutil.rmtree(dpath)
                        found = True
                    elif os.path.isfile(dpath):
                        os.remove(dpath)
                        found = True
                if not found and not node.if_exists:
                    raise KeyError(f"table not found: {name}")
            return None
        if isinstance(node, ast.Describe):
            df = self.resolve_table(scope, node.table)
            rows = [(f.name, f.dataType.simpleString())
                    for f in df.schema.fields]
            return local_relation(
                self.spark, rows, "col_name string, data_type string")
        if isinstance(node, ast.InsertInto):
            base = self.resolve_table(scope, node.table)
            if node.query is None:
                # DEFAULT VALUES: one row of NULLs (no column defaults here)
                df = local_relation(
                    self.spark,
                    [tuple(None for _ in base.columns)], base.schema)
            else:
                df = self._compile_query(node.query, scope)
            if node.columns:
                # named columns: missing ones fill NULL, order normalized
                df = df.toDF(*node.columns)
                df = df.select(*[
                    F.col(c) if c in df.columns
                    else F.lit(None).cast(base.schema[c].dataType).alias(c)
                    for c in base.columns])
            else:
                df = df.toDF(*base.columns)  # positional, SQL-style
            # pg coerces the inserted rows to the target column types (and
            # an all-NULL VALUES column arrives untyped)
            df = df.select(*[
                F.col(c).cast(base.schema[c].dataType).alias(c)
                for c in base.columns])
            if node.conflict_action is None:
                affected = df
                scope[node.table] = base.unionByName(df)
            elif node.conflict_action == "nothing":
                keys = list(node.conflict_cols)
                # batch-internal first-wins (pg inserts the first row, the
                # second then conflicts with it), then drop pre-existing keys
                w = Window.partitionBy(*keys).orderBy("__seq")
                first = (df.withColumn(
                             "__seq", F.monotonically_increasing_id())
                         .withColumn("__rn", F.row_number().over(w))
                         .where(F.col("__rn") == 1).drop("__rn", "__seq"))
                affected = (first.join(base.select(*keys).distinct(),
                                       keys, "left_anti")
                            .select(*base.columns))
                scope[node.table] = base.unionByName(affected)
            else:  # DO UPDATE
                tmp = dict(scope, __excluded=df)
                ret = self._exec_merge(
                    self._upsert_as_merge(node, df, base.columns), tmp)
                scope[node.table] = tmp[node.table]
                return ret
            if node.returning:
                return self._returning(scope, node.table, affected,
                                       node.returning)
            return None
        if (isinstance(node, ast.Delete) and node.using is not None
                or isinstance(node, ast.Update) and node.from_ is not None):
            return self._exec_merge(self._join_dml_as_merge(node), scope,
                                    one_match=True)
        if isinstance(node, ast.Delete):
            # alias to the table name so qualified self-refs (t.a) and
            # correlated subquery outer refs resolve
            base = self.resolve_table(scope, node.table).alias(node.table)
            if node.where is None:
                deleted = base
                scope[node.table] = base.limit(0)
                if node.returning:
                    return self._returning(scope, node.table, deleted,
                                           node.returning)
                return None
            ec = ExprCompiler(self, scope=scope)
            cond = ec.compile(node.where)
            cols = list(base.columns)
            base, _ = QueryCompiler(self, scope)._attach_pending(base, ec)
            # keep rows where the predicate is NOT satisfied (3VL: NULL
            # predicate rows survive, matching pg DELETE); reproject to the
            # original columns to shed any attached subquery helpers
            scope[node.table] = base.filter(~cond.eqNullSafe(True)) \
                .select(*cols)
            if node.returning:
                deleted = base.filter(cond.eqNullSafe(True)).select(*cols)
                return self._returning(scope, node.table, deleted,
                                       node.returning)
            return None
        if isinstance(node, ast.Update):
            base = self.resolve_table(scope, node.table).alias(node.table)
            ec = ExprCompiler(self, scope=scope)
            cond = (ec.compile(node.where).eqNullSafe(True)
                    if node.where is not None else F.lit(True))
            # all assignment RHS evaluate against the PRE-update row (SQL
            # semantics) — compile against `base`, apply in one select
            new_vals = {c: ec.compile(e) for c, e in node.assignments}
            cols = list(base.columns)
            base, _ = QueryCompiler(self, scope)._attach_pending(base, ec)
            updated = base.select(*[
                (F.when(cond, new_vals[c]).otherwise(F.col(c)).alias(c)
                 if c in new_vals else F.col(c))
                for c in cols], cond.eqNullSafe(True).alias("__upd"))
            scope[node.table] = updated.drop("__upd")
            if node.returning:
                # pg RETURNING: the post-update image of rows the WHERE hit
                affected = updated.where("__upd").drop("__upd")
                return self._returning(scope, node.table, affected,
                                       node.returning)
            return None
        if isinstance(node, ast.Merge):
            return self._exec_merge(node, scope)
        if isinstance(node, ast.CopyFrom):
            from ..sources.copy import read_csv

            scope[node.table] = read_csv(self, node.path, dict(node.options))
            return None
        if isinstance(node, ast.CopyTo):
            from ..sources.copy import write_csv

            df = (self._compile_query(node.query, scope)
                  if node.query is not None
                  else self.resolve_table(scope, node.table))
            write_csv(self, df, node.path, dict(node.options))
            return None
        if isinstance(node, ast.ShowOption):
            value = self._options.get(node.option,
                                      _SHOW_OPTIONS.get(node.option))
            if value is None:
                raise CompileError(f"unknown SHOW option: {node.option}")
            col = node.option if " " not in node.option else node.option.split()[0]
            return local_relation(self.spark, [(value,)],
                                  f"`{col}` string")
        raise CompileError(f"cannot execute {type(node).__name__}")


def _parse_type(t: str) -> T.DataType:
    mapping = {
        "string": T.StringType(), "str": T.StringType(), "object": T.StringType(),
        "int": T.IntegerType(), "int32": T.IntegerType(),
        "long": T.LongType(), "int64": T.LongType(), "bigint": T.LongType(),
        "double": T.DoubleType(), "float64": T.DoubleType(), "float": T.FloatType(),
        "boolean": T.BooleanType(), "bool": T.BooleanType(),
        "date": T.DateType(), "timestamp": T.TimestampType(),
    }
    return mapping.get(str(t).lower(), T.StringType())


def _capture_caller_scope(spark: SparkSession, depth: int = 2) -> dict:
    """Reference trick: pull dataframe-shaped values out of the caller's
    frame (src/framequery/executor/_executor.py:123-128)."""
    import pandas as pd

    frame = inspect.currentframe()
    for _ in range(depth):
        if frame.f_back is not None:
            frame = frame.f_back
    candidates = {}
    candidates.update(frame.f_globals)
    candidates.update(frame.f_locals)
    return {
        k: v for k, v in candidates.items()
        if isinstance(v, (DataFrame, pd.DataFrame)) and not k.startswith("_")
    }


# ---------------------------------------------------------------- plan cache
# Statement-level logical-plan cache (prepared-statement semantics), one
# implementation with two owners: the module's `_PLAN_CACHE` serves
# scope-based execute(), and each Executor (so each DBAPI connection) owns
# one. Re-running the same pure query skips the parse + compile (the py4j
# expression-building round trips dominate build time: r12 measured
# 0.1-1.5 s per statement, ~14k socket round trips for 9 builds). The
# cache stores the ANALYZED LOGICAL PLAN only — every hit builds a
# brand-new Dataset via Dataset.ofRows, which gets a fresh QueryExecution,
# so EXECUTION always recomputes from the sources: no shuffle-stage or
# result reuse (returning the cached DataFrame object itself would let AQE
# reuse its materialized shuffle stages — that would be result caching,
# which this engine refuses to do).
#
# Cached only when ALL of:
#   - the statement parses to a pure query (Select/SetOp/Pivot/Unpivot —
#     no DML/DDL side effects),
#   - the SQL mentions no volatile/time/sequence function (conservative
#     textual screen; false positives only cost a cache miss),
#   - compiling registered nothing: operators.cache.REGISTRATIONS did not
#     move, so no tracked resource, no compile-time materialization and
#     no name resolved outside the scope
#     (recursive CTEs and correlated-theta decorrelation materialize
#     during compile; rebuilding from their analyzed plan would reference
#     released checkpoint blocks — or, for the driver-local recursive
#     frontier path, replay frozen LocalRelation rows instead of
#     recomputing; a table read from the durable root or the Spark
#     catalog can be rebound behind an unchanged scope, which the read
#     set cannot see),
#   - scope values are all Spark DataFrames (identity-checked),
#   - the compile left the owner's key unchanged (set_config() writes a
#     session option at compile time; a hit would skip that write).
# A hit is honoured while the entry's read set (_ReadSet) still holds.
_PLAN_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_PLAN_CACHE_MAX = 256
_VOLATILE_RE = re.compile(
    r"\b(random|setseed|rand|randn|now|clock_timestamp|statement_timestamp"
    r"|transaction_timestamp|timeofday|current_timestamp|current_date"
    r"|current_time|localtime|localtimestamp|uuid|gen_random_uuid"
    r"|uuid_generate_v4|nextval|currval|setval|pg_sleep)\b", re.I)
_QUERY = (ast.Select, ast.SetOp, ast.Pivot, ast.Unpivot)
_DML = (ast.InsertInto, ast.Update, ast.Delete, ast.Merge)


def _plan_cache_key(q: str, scope: dict, spark: SparkSession,
                    basepath: str) -> Optional[tuple]:
    try:
        sig = tuple(sorted((k, id(v)) for k, v in scope.items()))
    except Exception:
        return None
    return (q, basepath, id(spark), sig)


class _Same:
    """Key part compared by identity. It holds its object, so the id it
    hashes by cannot be recycled while a key holds it."""

    __slots__ = ("obj",)

    def __init__(self, obj):
        self.obj = obj

    def __hash__(self):
        return id(self.obj)

    def __eq__(self, other):
        return isinstance(other, _Same) and other.obj is self.obj


def _by_identity(registry: dict) -> tuple:
    return tuple(sorted((k, _Same(v)) for k, v in registry.items()))


class _ReadSet:
    """What one query compile read from its root scope, which is what its
    cached plan stays valid under:

    - ``tables``: each name it resolved from the scope, held by weakref
      (the binding must still be that very object: a recycled id() can
      never pass for a dead original), or None for a name it resolved
      while absent from the scope (a later binding must miss);
    - ``schema``: when the compile reached the column-type fallback
      (``ExprCompiler._scope_col_dtype``), which walks every scope table's
      dtypes, the scope's names and dtypes — not their identities, so a
      write to a table the query does not read keeps the hit."""

    __slots__ = ("tables", "schema_read", "schema")

    def __init__(self):
        self.tables: Dict[str, Optional[weakref.ref]] = {}
        self.schema_read = False
        self.schema: Optional[dict] = None

    def freeze(self, scope: dict) -> None:
        if self.schema_read:
            self.schema = {n: tuple(df.dtypes) for n, df in scope.items()}

    def valid(self, scope: dict) -> bool:
        for name, ref in self.tables.items():
            if ref is None:
                if name in scope:
                    return False
            elif ref() is None or scope.get(name) is not ref():
                return False
        if self.schema is None:
            return True
        return scope.keys() == self.schema.keys() and all(
            tuple(scope[n].dtypes) == d for n, d in self.schema.items())


class _PlanCache:
    """An LRU of ``key -> (analyzed plan, _ReadSet)`` with one lock around
    lookup, store and evict, and its counters: a hit, a miss (an eligible
    query compiled), an eviction (an entry dropped for room or found
    stale)."""

    def __init__(self, entries: Optional[OrderedDict] = None):
        self.entries = OrderedDict() if entries is None else entries
        self.lock = threading.Lock()
        self.hits = self.misses = self.evictions = 0

    def lookup(self, key, scope: dict,
               spark: SparkSession) -> Optional[DataFrame]:
        with self.lock:
            hit = self.entries.get(key)
            if hit is not None:
                self.entries.move_to_end(key)
        if hit is not None:
            plan, reads = hit
            if reads.valid(scope):
                try:
                    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset \
                        .ofRows(spark._jsparkSession, plan)
                    with self.lock:
                        self.hits += 1
                    return DataFrame(jdf, spark)
                except Exception:
                    pass  # fall through to recompile
            with self.lock:
                if self.entries.get(key) is hit:
                    del self.entries[key]
                    self.evictions += 1
        return None

    def miss(self) -> None:
        with self.lock:
            self.misses += 1

    def store(self, key, df: DataFrame, reads: _ReadSet) -> None:
        try:
            plan = df._jdf.queryExecution().analyzed()
        except Exception:
            return
        with self.lock:
            self.entries[key] = (plan, reads)
            self.entries.move_to_end(key)
            while len(self.entries) > _PLAN_CACHE_MAX:
                self.entries.popitem(last=False)
                self.evictions += 1

    def clear(self) -> None:
        with self.lock:
            self.entries.clear()

    def info(self) -> dict:
        with self.lock:
            return {"hits": self.hits, "misses": self.misses,
                    "evictions": self.evictions,
                    "entries": len(self.entries)}


_SHARED = _PlanCache(_PLAN_CACHE)


def plan_cache_info() -> dict:
    """Hits, misses, evictions and entries of the plan cache that serves
    scope-based :func:`execute`."""
    return _SHARED.info()


def _run_cached(cache: _PlanCache, key_of: Callable[[], Optional[tuple]],
                q: str, scope: dict, spark: SparkSession,
                executor: Callable[[], "Executor"]):
    """Run statement text ``q`` through ``cache``: the one lookup/store
    path of both owners. ``key_of()`` is the owner's key for ``q``;
    ``executor()`` is the Executor that runs it on a miss, whose scope
    holds the same DataFrames as ``scope``."""
    key = None
    if (isinstance(scope, dict) and not _VOLATILE_RE.search(q)
            and all(isinstance(v, DataFrame) for v in scope.values())):
        key = key_of()
    if key is not None:
        df = cache.lookup(key, scope, spark)
        if df is not None:
            return df
    node = parse(q)
    ex = executor()
    if not isinstance(node, _QUERY):
        return ex._execute_statement(node, ex.scope)
    if key is not None:
        cache.miss()
    ex._materialize_written(node)
    n_reg = _opcache.REGISTRATIONS
    ex._reads = reads = _ReadSet()
    try:
        out = ex._compile_query(node, ex.scope)
    finally:
        ex._reads = None
    if (key is not None and _opcache.REGISTRATIONS == n_reg
            and key_of() == key):
        reads.freeze(ex.scope)
        cache.store(key, out, reads)
    return out


def execute(q: str, scope: Optional[dict] = None,
            spark: Optional[SparkSession] = None, basepath: str = ".",
            model: Optional[str] = None):
    """One-shot execute; returns a (lazy) Spark DataFrame or None for DDL.
    `model` is accepted for reference-signature compatibility and ignored."""
    spark = spark or SparkSession.builder.getOrCreate()
    if scope is None:
        scope = _capture_caller_scope(spark)
        return Executor(scope=scope, spark=spark, basepath=basepath).execute(q)
    return _run_cached(
        _SHARED, lambda: _plan_cache_key(q, scope, spark, basepath), q,
        scope, spark,
        lambda: Executor(scope=scope, spark=spark, basepath=basepath))
