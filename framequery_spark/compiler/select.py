"""Compile query ASTs (Select / SetOp) to Spark DataFrames.

Strategy (SURVEY §3.3, §4.1): resolve names/ordinals/aliases/wildcards at
compile time, emit a declarative DataFrame graph, and let Catalyst do all
optimization (predicate pushdown, join strategy, partial aggregation). The
reference's hand-rolled rewrites — join-side pushdown
(src/framequery/executor/_util.py:283-358), implicit-join hoisting
(src/framequery/executor/_executor.py:354-366), 3-level aggregate split
(src/framequery/executor/_executor.py:451-519) — are all subsumed by Catalyst.

Aggregation: every GROUP BY expression is materialized as a hidden `__g{i}`
column; select/having/order expressions have matching subtrees structurally
rewritten to reference it, then compile inside `.agg(...)` where Spark permits
arbitrary expressions over grouping columns + aggregates (map-side partial
aggregation comes free).
"""

from __future__ import annotations

import dataclasses
import functools
import operator
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..parser import ast
from .expressions import (
    AGG_NAMES,
    CompileError,
    ExprCompiler,
    _apply_sort_direction,
    _bt,
)
from .rewrite import contains_aggregate, map_children, transform, walk
from ..operators.cache import (local_checkpoint_tracked as _ckpt_tracked,
                               note_compile_materialization,
                               persist_tracked, release_one)
from ..sources.local_relation import local_relation as _local_relation


# UNION ALL recursive-CTE steps chained per materialized block (see
# _compile_recursive_cte)
_RECURSIVE_UNROLL = 4


class QueryCompiler:
    """Compiles one statement against a session + scope.

    `session` duck-type: .spark, .user_functions, .table_functions,
    .lateral_functions, .resolve_table(scope, name).
    """

    def __init__(self, session, scope: dict):
        self.session = session
        self.scope = scope

    # ---------------------------------------------------------------- queries

    def compile_query(self, node: ast.Node) -> DataFrame:
        if isinstance(node, ast.Select):
            return self.compile_select(node)
        if isinstance(node, ast.SetOp):
            return self.compile_setop(node)
        if isinstance(node, ast.Pivot):
            return self.compile_pivot(node)
        if isinstance(node, ast.Unpivot):
            return self.compile_unpivot(node)
        raise CompileError(f"not a query: {type(node).__name__}")

    # maximum dynamic pivot width: the distinct-value collect is a bounded
    # 1-column driver fetch, and a pivot wider than this is almost certainly
    # a mistaken ON column (DuckDB's own dynamic cap is 100k)
    MAX_PIVOT_VALUES = 10000

    def compile_pivot(self, node: ast.Pivot) -> DataFrame:
        """DuckDB-style PIVOT: Spark's native groupBy().pivot(values).agg()
        — the pivot aggregation stays one (map-side partial) shuffle, with
        the value list either static (IN) or discovered by a bounded
        distinct collect of the ON column only."""
        src = node.source
        df = (self.compile_relation(src) if isinstance(src, ast.TableRef)
              else self.compile_query(src))
        agg_refs = {n.parts[-1].lower() for n in walk(node.using)
                    if isinstance(n, ast.ColumnRef)}
        on_l = node.on_col.lower()
        if node.group_by:
            groups = list(node.group_by)
        else:
            groups = [c for c in df.columns
                      if c.lower() != on_l and c.lower() not in agg_refs]
        if node.in_values:
            vals = []
            for v in node.in_values:
                if not isinstance(v, ast.Literal):
                    raise CompileError("PIVOT IN list expects literals")
                vals.append(v.value)
        else:
            limit = self.MAX_PIVOT_VALUES
            vals = [r[0] for r in df.select(node.on_col).distinct()
                    .orderBy(node.on_col).limit(limit + 1).collect()]
            if len(vals) > limit:
                raise CompileError(
                    f"dynamic PIVOT exceeds {limit} distinct values of "
                    f"{node.on_col}; pass an explicit IN (...) list")
            vals = [v for v in vals if v is not None]
        ec = ExprCompiler(self.session, agg_context=True, scope=self.scope)
        agg = ec.compile(node.using)
        out = df.groupBy(*groups).pivot(node.on_col, vals).agg(agg)
        if node.using.name.lower() == "count":
            # empty pivot cells: Spark leaves NULL, but COUNT over zero rows
            # is 0 (what DuckDB's PIVOT returns)
            out = out.select(*groups, *[
                F.coalesce(F.col(_bt(str(v))), F.lit(0).cast("long"))
                .alias(str(v)) for v in vals])
        if node.using_alias:
            # DuckDB naming: value_alias (Spark's single-agg pivot names
            # columns by the bare value even when the agg is aliased)
            for v in vals:
                out = out.withColumnRenamed(
                    str(v), f"{v}_{node.using_alias}")
        if node.order_by:
            out = self._order_output_only(out, node.order_by)
        return out

    def compile_unpivot(self, node: ast.Unpivot) -> DataFrame:
        """DuckDB-style UNPIVOT via Spark's native unpivot (melt): row-local
        narrow transform, no shuffle; NULL values dropped (DuckDB default)."""
        src = node.source
        df = (self.compile_relation(src) if isinstance(src, ast.TableRef)
              else self.compile_query(src))
        missing = [c for c in node.on_cols if c not in df.columns]
        if missing:
            raise CompileError(f"UNPIVOT column(s) not found: {missing}")
        ids = [c for c in df.columns if c not in node.on_cols]
        out = df.unpivot(ids, list(node.on_cols),
                         node.name_col, node.value_col)
        return out.where(F.col(node.value_col).isNotNull())

    def compile_setop(self, node: ast.SetOp) -> DataFrame:
        left = self.compile_query(node.left)
        right = self.compile_query(node.right)
        if len(left.columns) != len(right.columns):
            raise CompileError("set operation arms have different column counts")
        right = right.toDF(*left.columns)  # positional, SQL-style
        op = node.op
        if op == "union":
            df = left.union(right).distinct()
        elif op == "union all":
            df = left.union(right)
        elif op == "intersect":
            df = left.intersect(right)
        elif op == "intersect all":
            df = left.intersectAll(right)
        elif op == "except":
            df = left.subtract(right)
        elif op == "except all":
            df = left.exceptAll(right)
        else:
            raise CompileError(f"unknown set op {op}")
        if node.order_by:
            df = self._order_output_only(df, node.order_by)
        df = self._apply_limit_offset(df, node.limit, node.offset,
                                      node.order_by, node.limit_ties)
        return df

    def compile_select(self, sel: ast.Select) -> DataFrame:
        compiler = self
        if sel.ctes:
            scope = dict(self.scope)
            for cte in sel.ctes:
                sub = QueryCompiler(self.session, scope)
                if cte.recursive:
                    df = sub._compile_recursive_cte(cte)
                else:
                    df = sub.compile_query(cte.query)
                    if cte.columns:
                        df = df.toDF(*cte.columns)
                scope[cte.name] = df
            compiler = QueryCompiler(self.session, scope)
        return compiler._compile_select_body(sel)

    def _mat_frontier(self, df: DataFrame):
        """Bounded hybrid materialization of one fixpoint frontier.

        Small frontiers (≤ `session.recursive_local_frontier` rows, default
        10k) collect to the driver and continue as a LocalRelation: every
        further round is then exactly ONE tiny job (this take) instead of an
        eager localCheckpoint job plus isEmpty probes — the dominant cost of
        driver-coordinated iteration when the frontier is a handful of rows
        (the common recursive-CTE shape: sequences, hierarchy walks). Large
        frontiers keep the distributed localCheckpoint path unchanged, so a
        100 TB frontier never lands on the driver; `take` early-exits at
        threshold+1 rows, so probing a big frontier costs at most one extra
        partial scan on the round that crosses the threshold. Same bounded
        collect-when-small design as graph.connected_components' hybrid
        finish. Returns (frontier_df, row_count_or_None); None means the
        checkpointed distributed path (count unknown)."""
        threshold = int(getattr(self.session, "recursive_local_frontier",
                                10000))
        spark = self.session.spark
        if threshold > 0:
            rows = df.take(threshold + 1)
            if len(rows) <= threshold:
                # the resulting plan embeds materialized rows → the
                # executor's plan cache must skip this statement
                note_compile_materialization()
                # LocalTableScan, NOT createDataFrame: the parallelize-RDD
                # route pays per-slice Python-worker round trips on every
                # re-scan (measured: 1.2-6 s per take over a 3-row
                # frontier), which each fixpoint round would re-pay
                return _local_relation(spark, rows, df.schema), len(rows)
        return _ckpt_tracked(df, eager=True), None

    def _compile_recursive_cte(self, cte: ast.CTE) -> DataFrame:
        """`WITH RECURSIVE name AS (base UNION [ALL] step)`: driver-
        coordinated fixpoint iteration (Pregel-style — how iterative graph
        algorithms run on Spark). Each step is one distributed job over ONLY
        the previous frontier, and every frontier is materialized (driver-
        local rows when small, localCheckpoint otherwise — `_mat_frontier`)
        so the step plan stays O(1) deep instead of O(iterations); the final
        result is a flat union of materialized frontiers. UNION (distinct)
        follows pg semantics: the step sees only the last iteration's rows,
        new rows are deduped against everything produced so far, and
        iteration stops when no new rows appear. Beyond parity — the
        reference has no WITH RECURSIVE."""
        body = cte.query
        distinct = body.op == "union"
        search = cte.search
        cycle = cte.cycle
        depth_first = search is not None and search[0] == "depth"
        if (depth_first or cycle is not None) and distinct:
            # pg: "with a SEARCH or CYCLE clause, the recursive part ...
            # must be UNION ALL" (path rows are never duplicates anyway)
            raise CompileError(
                "SEARCH DEPTH FIRST / CYCLE require UNION ALL in the "
                "recursive CTE body")
        base = self.compile_query(body.left)  # cte name not in scope yet
        if cte.columns:
            base = base.toDF(*cte.columns)
        user_cols = list(base.columns)
        # pg 14 SEARCH DEPTH FIRST / CYCLE: thread a root-to-self path
        # array (ROW(by-cols) per ancestor) through the fixpoint — the same
        # desugar pg's rewriter applies. The recursive arm gets one extra
        # select item per path column (parent_path || ARRAY[ROW(by)]), so
        # provenance is plan-local and each step stays one distributed job.
        prov = []  # (by_cols, path_col)
        if depth_first:
            prov.append((search[1], search[2]))
        if cycle is not None:
            prov.append((cycle[0], cycle[2]))
        step_ast = body.right
        if prov:
            step_ast = self._thread_path_columns(cte, step_ast, prov,
                                                 user_cols)
            for by, path_col in prov:
                base = base.withColumn(path_col, F.array(F.struct(
                    *[F.col(c).alias(f"f{i + 1}")
                      for i, c in enumerate(by)])))

        def _cycle_pred(path_col: str) -> Column:
            # a step row is a cycle when its own ROW(by) already appears in
            # the parent portion of its path (everything but the last
            # element); base rows have a 1-element path, so the slice is
            # empty and they are never marked
            p = F.col(path_col)
            return F.array_contains(
                F.slice(p, F.lit(1), F.size(p) - 1), F.element_at(p, -1))

        if distinct:
            base = base.distinct()
        frontier, n_f = self._mat_frontier(base)
        frontiers = [frontier]
        depths = [0]  # iteration index per frontier (SEARCH BREADTH FIRST)
        limit = getattr(self.session, "recursive_max_iterations", 100)
        # UNION ALL blocks are unrolled: chain K steps lazily, persist each,
        # then one job materializes the block's union — ~K× fewer driver
        # round-trips than per-step checkpointing, and the next frontier
        # (the last step) checkpoints straight from the persist cache, so
        # nothing is computed twice. UNION (distinct) stays unroll=1: per-
        # step dedup against `seen` is what guarantees termination on
        # cyclic data.
        # SEARCH needs one frontier per iteration (each carries its depth)
        # and CYCLE filters marked rows out of the next frontier, so block
        # unrolling is disabled when either clause is present.
        # Driver-local frontiers (n_f is not None) also stay unroll=1: each
        # step is already exactly one tiny job, so there are no driver
        # round-trips left for unrolling to amortize.
        unroll = 1 if distinct or search is not None or cycle is not None \
            else _RECURSIVE_UNROLL
        step_scope = dict(self.scope)
        rounds = 0
        while True:
            # n_f: exact frontier row count when driver-local, -1 when
            # known non-empty (probed once), None when unknown (probe here)
            if (n_f == 0) if n_f is not None else frontier.isEmpty():
                break
            if rounds >= limit:
                raise CompileError(
                    f"recursive CTE '{cte.name}' exceeded {limit} "
                    "iterations (set recursive_max_iterations to raise)")
            block = []
            step = frontier
            k = 1 if n_f is not None else unroll
            for _ in range(min(k, limit - rounds)):
                step_scope[cte.name] = step
                step = QueryCompiler(self.session, step_scope) \
                    .compile_query(step_ast).toDF(*base.columns)
                block.append(step)
                rounds += 1
            if distinct:
                seen = frontiers[0]
                for f in frontiers[1:]:
                    seen = seen.union(f)
                frontier, n_f = self._mat_frontier(
                    block[0].distinct().subtract(seen))
                if (n_f == 0) if n_f is not None \
                        else frontier.isEmpty():
                    break
                if n_f is None:
                    n_f = -1  # probed non-empty; don't re-probe at the top
                frontiers.append(frontier)
                depths.append(rounds)
            else:
                if len(block) > 1:
                    # block persists are consumed within this compile
                    # (union + frontier checkpoint below) and released
                    # with release_one once the frontier is checkpointed
                    for i, b in enumerate(block):
                        block[i] = persist_tracked(b)
                new_rows = block[0]
                for b in block[1:]:
                    new_rows = new_rows.union(b)
                new_rows, n_new = self._mat_frontier(new_rows)
                # next frontier = last step only; reads the persist cache.
                # CYCLE: marked rows appear in the OUTPUT but never iterate
                # (that is what terminates a cyclic walk under UNION ALL) —
                # the filter runs over the materialized rows, no recompute
                if len(block) > 1:
                    frontier = _ckpt_tracked(block[-1], eager=True)
                    n_f = None
                else:
                    frontier, n_f = new_rows, n_new
                if cycle is not None:
                    frontier = frontier.where(~_cycle_pred(cycle[2]))
                    if n_f is not None and n_f > 0:
                        # filter over a LocalRelation: one trivial job now
                        # keeps the next round's emptiness check free
                        frontier, n_f = self._mat_frontier(frontier)
                    else:
                        n_f = None
                if len(block) > 1:
                    for b in block:
                        release_one(b)
                if (n_new == 0) if n_new is not None \
                        else new_rows.isEmpty():
                    break
                frontiers.append(new_rows)
                depths.append(rounds)
        if search is not None and not depth_first:
            # pg 14 SEARCH BREADTH FIRST BY cols SET ord: append
            # ROW(depth, by-cols) — ordering by it gives breadth-first
            # order; each frontier already knows its iteration depth
            _, by_cols, set_col = search
            frontiers = [
                f.withColumn(set_col, F.struct(
                    F.lit(d).cast("long").alias("depth"),
                    *[F.col(c).alias(c) for c in by_cols]))
                for f, d in zip(frontiers, depths)]
        out = frontiers[0]
        for f in frontiers[1:]:
            out = out.union(f)
        if prov:
            # pg column order: user columns, then the SEARCH SET column,
            # then CYCLE SET + USING. The DEPTH FIRST ord IS the path array
            # (arrays of ROW order lexicographically: every parent sorts
            # before its subtree, siblings order by the BY columns —
            # depth-first preorder); is_cycle derives from the path
            out_cols = list(user_cols)
            if search is not None:  # DFS path array or BF ROW(depth, by)
                out_cols.append(search[2])
            if cycle is not None:
                _, set_col, path_col, mark, default = cycle
                out = out.withColumn(
                    set_col,
                    F.when(_cycle_pred(path_col), F.lit(mark))
                    .otherwise(F.lit(default)))
                out_cols.extend([set_col, path_col])
            out = out.select(*out_cols)
        return out

    def _thread_path_columns(self, cte: ast.CTE, step: ast.Node,
                             prov: List[Tuple[Tuple[str, ...], str]],
                             user_cols: List[str]) -> ast.Select:
        """Desugar pg 14 SEARCH DEPTH FIRST / CYCLE the way pg's rewriter
        does: the recursive arm grows one extra select item per path column,

            <recursive alias>.<path_col> || ARRAY[ROW(<by exprs>)]

        where the BY expressions are the arm's own select items at the BY
        columns' positions — so every row carries its root-to-self path and
        each fixpoint step stays a single distributed job."""
        if not isinstance(step, ast.Select):
            raise CompileError(
                "SEARCH DEPTH FIRST / CYCLE need a plain SELECT recursive "
                "arm (parenthesize nested set operations)")
        items = list(step.items)
        for it in items:
            if isinstance(it, ast.Star) or \
                    isinstance(getattr(it, "expr", None), ast.Star):
                raise CompileError(
                    "with SEARCH DEPTH FIRST or CYCLE, list the recursive "
                    "arm's output columns explicitly (a bare * would "
                    "swallow the internal path column)")
        if len(items) != len(user_cols):
            raise CompileError(
                f"recursive arm of {cte.name!r} returns {len(items)} "
                f"columns, expected {len(user_cols)}")
        alias = self._find_recursive_ref_alias(step.from_, cte.name)
        if alias is None:
            raise CompileError(
                f"SEARCH DEPTH FIRST / CYCLE: recursive reference to "
                f"{cte.name!r} not found in the recursive arm's FROM "
                "clause (references inside subqueries are not supported)")
        extra = []
        for by, path_col in prov:
            exprs = []
            for c in by:
                if c not in user_cols:
                    raise CompileError(
                        f"SEARCH/CYCLE column {c!r} is not a column of "
                        f"{cte.name!r}")
                exprs.append(items[user_cols.index(c)].expr)
            row = ast.Call(name="__row", args=tuple(exprs))
            path = ast.Binary(
                op="||",
                left=ast.ColumnRef(parts=(alias, path_col)),
                right=ast.Call(name="__array", args=(row,)))
            extra.append(ast.SelectItem(expr=path, alias=path_col))
        return dataclasses.replace(step, items=tuple(items) + tuple(extra))

    @staticmethod
    def _find_recursive_ref_alias(node: Optional[ast.Node],
                                  name: str) -> Optional[str]:
        """Effective alias of the recursive CTE reference in a FROM tree
        (top-level table refs and joins only — pg likewise allows exactly
        one recursive self-reference, not one nested in a subquery)."""
        stack = [node]
        while stack:
            n = stack.pop()
            if isinstance(n, ast.Join):
                stack.extend((n.left, n.right))
            elif isinstance(n, ast.TableRef) and ".".join(n.parts) == name:
                return n.alias or n.parts[-1]
            elif isinstance(n, tuple):
                stack.extend(n)
        return None

    def _desugar_named_windows(self, sel: ast.Select) -> ast.Select:
        """Replace `OVER w` references with the WINDOW clause's spec (a pure
        AST rewrite before compilation, so the expression compiler never
        sees a named reference).  Specs that refine a named base window —
        `OVER (w ORDER BY x)` or `WINDOW w2 AS (w1 ...)` — are merged per pg
        rules: partitioning comes from the base (the refinement must not
        re-partition), ordering from the refinement if given, else base."""
        specs = dict(sel.windows)

        def resolve(spec: ast.WindowSpec, seen=()) -> ast.WindowSpec:
            if spec.base_ref is None:
                return spec
            if spec.base_ref in seen:
                raise CompileError(
                    f"circular window definition: {spec.base_ref!r}")
            base = specs.get(spec.base_ref)
            if base is None:
                raise CompileError(
                    f"window \"{spec.base_ref}\" is not defined")
            base = resolve(base, seen + (spec.base_ref,))
            if spec.partition_by:
                raise CompileError(
                    "a window that references a base window cannot "
                    "re-specify PARTITION BY")
            if spec.order_by and base.order_by:
                raise CompileError(
                    "a window that references a base window cannot "
                    "re-specify ORDER BY (the base already orders)")
            return dataclasses.replace(
                spec, base_ref=None,
                partition_by=base.partition_by,
                order_by=spec.order_by or base.order_by,
                frame_type=spec.frame_type or base.frame_type,
                frame_start=spec.frame_start or base.frame_start,
                frame_end=spec.frame_end or base.frame_end,
                exclude=spec.exclude or base.exclude)

        specs = {name: resolve(s) for name, s in specs.items()}

        def fix(node):
            if isinstance(node, ast.WindowCall):
                if node.ref is not None:
                    spec = specs.get(node.ref)
                    if spec is None:
                        raise CompileError(
                            f"window \"{node.ref}\" is not defined")
                    return ast.WindowCall(call=node.call, spec=spec)
                if node.spec is not None and node.spec.base_ref is not None:
                    return ast.WindowCall(call=node.call,
                                          spec=resolve(node.spec))
            return node

        return dataclasses.replace(
            sel,
            items=tuple(transform(i, fix) for i in sel.items),
            order_by=tuple(transform(s, fix) for s in sel.order_by),
            having=transform(sel.having, fix) if sel.having is not None else None,
            qualify=(transform(sel.qualify, fix)
                     if sel.qualify is not None else None),
            windows=())

    def _compile_select_body(self, sel: ast.Select) -> DataFrame:
        if sel.windows:
            sel = self._desugar_named_windows(sel)
        if sel.from_ is not None:
            df = self.compile_relation(sel.from_)
        else:
            # dual: one-row zero-column frame
            # (reference: src/framequery/executor/_pandas.py:89-91)
            df = self.session.spark.range(1).select()

        if sel.where is not None:
            df = self._apply_where(df, sel.where)

        items = self._normalize_items(sel, df)

        has_agg = bool(sel.group_by) or sel.having is not None or any(
            contains_aggregate(e, AGG_NAMES) for e, _ in items
        ) or any(
            contains_aggregate(s.expr, AGG_NAMES) for s in sel.order_by
        ) or (sel.qualify is not None
              and contains_aggregate(sel.qualify, AGG_NAMES))

        if has_agg:
            df = self._compile_aggregate(df, sel, items)
        else:
            df = self._compile_project(df, sel, items)

        return self._apply_limit_offset(df, sel.limit, sel.offset,
                                        sel.order_by, sel.limit_ties)

    # ------------------------------------------------------------- select list

    def _normalize_items(self, sel: ast.Select,
                         df: DataFrame) -> List[Tuple[ast.Node, str]]:
        """Expand stars and assign output names -> [(expr_ast, out_name)]."""
        out: List[Tuple[ast.Node, str]] = []
        for item in sel.items:
            if isinstance(item, ast.Star):
                if item.table is not None:
                    cols = df.select(_bt(item.table) + ".*").columns
                    for c in cols:
                        out.append((ast.ColumnRef(parts=(item.table, c)), c))
                else:
                    cols = [c for c in df.columns if not c.startswith("__")]
                    if len(set(cols)) < len(cols) and sel.from_ is not None:
                        # duplicate names across join sides (e.g. FROM t AS a,
                        # t AS b): bare names are ambiguous, so expand per
                        # relation alias in FROM order — pg's column order
                        for alias in _ordered_aliases(sel.from_):
                            for c in df.select(_bt(alias) + ".*").columns:
                                if c.startswith("__"):
                                    continue
                                out.append(
                                    (ast.ColumnRef(parts=(alias, c)), c))
                    else:
                        for c in cols:
                            out.append(
                                (ast.ColumnRef(parts=(c,), quoted=True), c))
            else:
                name = item.alias or _auto_name(item.expr, len(out))
                out.append((item.expr, name))
        return out

    # ------------------------------------------------------------------ WHERE

    def _apply_where(self, df: DataFrame, where: ast.Node) -> DataFrame:
        plain: List[ast.Node] = []
        for conj in _split_conjuncts(where):
            if isinstance(conj, ast.InSubquery):
                df = self._apply_in_subquery(df, conj)
            elif isinstance(conj, ast.Exists):
                df = self._apply_exists(df, conj)
            elif (isinstance(conj, ast.Unary) and conj.op == "not"
                  and isinstance(conj.operand, ast.Exists)):
                df = self._apply_exists(df, ast.Exists(
                    query=conj.operand.query, negated=not conj.operand.negated))
            else:
                plain.append(conj)
        if plain:
            ec = self._expr_compiler(df)
            cond = None
            for conj in plain:
                c = ec.compile(conj)
                cond = c if cond is None else (cond & c)
            df, cleanup = self._attach_pending(df, ec)
            df = df.filter(cond)
            if cleanup:
                df = df.drop(*cleanup)
        return df

    def _apply_in_subquery(self, df: DataFrame, node: ast.InSubquery) -> DataFrame:
        how = "left_anti" if node.negated else "left_semi"
        sel = node.query
        in_expr = None
        if isinstance(sel, ast.Select) and len(sel.items) == 1 \
                and not isinstance(sel.items[0], ast.Star):
            in_expr = sel.items[0].expr
        split = self._split_correlation(sel, extra_inner=(in_expr,)
                                        if in_expr is not None else ())
        if split is not None:
            sub_df, corr_cond, extra = split
            ec = self._expr_compiler()
            cond = (ec.compile(node.expr) == F.col(extra[0])) & corr_cond
            return df.join(sub_df, cond, how)
        sub = QueryCompiler(self.session, self.scope).compile_query(node.query)
        if len(sub.columns) != 1:
            raise CompileError("IN subquery must return exactly one column")
        sub = sub.toDF("__in_val")
        ec = self._expr_compiler()
        cond = ec.compile(node.expr) == F.col("__in_val")
        return df.join(sub, cond, how)

    def _apply_exists(self, df: DataFrame, node: ast.Exists) -> DataFrame:
        how = "left_anti" if node.negated else "left_semi"
        agg_split = self._split_exists_aggregate(node.query)
        if agg_split is not None:
            # grouped-aggregate EXISTS: a left join carries the per-group
            # HAVING verdict (__xp) and a match marker (__xm); outer rows
            # with NO matching group take the HAVING-over-the-empty-set
            # verdict (pg: count(*)=0 there — EXISTS (...HAVING count(*)<5)
            # is TRUE for keys with no inner rows at all)
            sub_df, corr_cond, empty_pass = agg_split
            joined = df.join(sub_df, corr_cond, "left")
            matched = F.col("__xm").eqNullSafe(True)
            keep = F.when(matched, F.col("__xp").eqNullSafe(True)) \
                .otherwise(F.lit(empty_pass))
            if node.negated:
                keep = ~keep
            return joined.where(keep).drop(*sub_df.columns)
        split = self._split_correlation(node.query)
        if split is not None:
            sub_df, corr_cond, _ = split
            return df.join(sub_df, corr_cond, how)
        # uncorrelated: probe for non-emptiness
        sub = QueryCompiler(self.session, self.scope).compile_query(node.query)
        probe = sub.limit(1).select(F.lit(1).alias("__exists"))
        return df.join(probe, F.lit(True), how)

    def _split_exists_aggregate(self, sel: ast.Node):
        """EXISTS over a correlated aggregate (the Q21-with-HAVING shape):

            EXISTS (SELECT 1 FROM u WHERE u.k = t.k HAVING count(*) > 1)

        Decorrelated into ONE grouped aggregate over the inner relation
        (GROUP BY the equality-correlation keys) carrying the HAVING
        verdict as a flag column, plus the HAVING-over-the-empty-set
        verdict for outer keys with no matching group (pg evaluates the
        aggregate over zero rows there).  Returns (sub_df, cond,
        empty_pass) or None when the shape does not apply (no HAVING,
        explicit GROUP BY, no correlation — those fall through to the
        plain path); a non-equality correlation raises."""
        if not isinstance(sel, ast.Select) or sel.having is None \
                or sel.group_by or sel.from_ is None or sel.ctes:
            return None
        force_false = False
        if sel.limit is not None or sel.offset is not None:
            # the aggregate yields exactly ONE row, so LIMIT >= 1 / OFFSET 0
            # are no-ops; LIMIT 0 or OFFSET >= 1 empty the subquery
            def _lit_int(n):
                return n.value if isinstance(n, ast.Literal) \
                    and n.kind == "int" else None
            lim = _lit_int(sel.limit) if sel.limit is not None else None
            off = _lit_int(sel.offset) if sel.offset is not None else 0
            if (sel.limit is not None and lim is None) or off is None:
                raise CompileError(
                    "EXISTS with HAVING supports only literal LIMIT/OFFSET")
            force_false = (lim == 0) or (off >= 1)
        rule = Correlation(self.session, self.scope, sel)
        if rule.has_outer(sel.having):
            raise CompileError(
                "outer references inside EXISTS ... HAVING are not "
                "supported — move them into WHERE")
        inner_where, pairs = rule.comparisons(
            "EXISTS with HAVING supports only equality correlation "
            "predicates", "unsupported EXISTS correlation",
            equality_only=True)
        if not pairs:
            return None  # uncorrelated HAVING probe handled downstream
        corr = [(oa, ia) for _, oa, ia in pairs]
        n = self._scalar_hidden = getattr(self, "_scalar_hidden", 0) + 1
        keys = [f"__xk{n}_{i}" for i in range(len(corr))]
        dec = ast.Select(
            items=tuple(ast.SelectItem(expr=ia, alias=kn)
                        for (_, ia), kn in zip(corr, keys))
            + (ast.SelectItem(expr=sel.having, alias="__xp"),
               ast.SelectItem(expr=ast.Literal(True, "bool"),
                              alias="__xm")),
            from_=sel.from_, where=inner_where,
            group_by=tuple(ia for _, ia in corr))
        sub = QueryCompiler(self.session, self.scope).compile_query(dec)
        # HAVING over the empty set: one bounded compile-time evaluation
        empty = QueryCompiler(self.session, self.scope).compile_query(
            ast.Select(items=(ast.SelectItem(expr=sel.having,
                                             alias="__xp"),),
                       from_=sel.from_,
                       where=ast.Literal(False, "bool")))
        empty_pass = bool(empty.collect()[0][0]) and not force_false
        if force_false:
            sub = sub.where(F.lit(False))
        ec = self._expr_compiler()
        cond = _and_cols(ec.compile(oa) == F.col(kn)
                         for (oa, _), kn in zip(corr, keys))
        return sub, cond, empty_pass

    def _split_correlation(self, sel: ast.Node, extra_inner: tuple = ()):
        """Decompose a (possibly) correlated subquery: WHERE conjuncts that
        reference columns outside the subquery's own relations become the
        semi/anti-join condition; the rest stay as inner filters. Inner-side
        references in the join condition are projected to hidden `__c{i}`
        columns so the joined namespace has no ambiguity.

        Returns (inner_df, correlated_condition, extra_col_names) or None
        when uncorrelated. Beyond the reference surface (docs/
        SQL_Support.md:20); supports arbitrary correlated predicates
        (equality or theta) — the TPC-H Q4/Q21 shape.
        """
        if not isinstance(sel, ast.Select) or sel.where is None \
                or sel.from_ is None or sel.group_by \
                or sel.having is not None or sel.qualify is not None:
            return None
        rule = Correlation(self.session, self.scope, sel)
        local, corr = rule.split()
        if not corr:
            return None

        # hidden projection of every inner-side expr used in the condition
        proj: Dict[ast.Node, str] = {}

        def rewrite_inner(node: ast.Node) -> ast.Node:
            def repl(n):
                if isinstance(n, ast.ColumnRef) and not rule.is_outer(n):
                    name = proj.setdefault(n, f"__c{len(proj)}")
                    return ast.ColumnRef(parts=(name,), quoted=True)
                return n
            return transform(node, repl)

        corr_rw = [rewrite_inner(c) for c in corr]
        extra_names: List[str] = []
        for e in extra_inner:
            extra_names.append(proj.setdefault(e, f"__c{len(proj)}"))

        ec = self._expr_compiler()
        sub_df = rule.rel
        if local:
            sub_df = sub_df.filter(_and_cols(ec.compile(c) for c in local))
        sub_df = sub_df.select(*[
            ec.compile(ref).alias(name) for ref, name in proj.items()])
        return sub_df, _and_cols(ec.compile(c) for c in corr_rw), extra_names

    # ------------------------------------------------------------- aggregation

    def _compile_aggregate(self, df: DataFrame, sel: ast.Select,
                           items: List[Tuple[ast.Node, str]]) -> DataFrame:
        mode = "groupby"
        sets_idx = None
        gb = sel.group_by
        if len(gb) == 1 and isinstance(gb[0], (ast.Rollup, ast.Cube,
                                               ast.GroupingSets)):
            node = gb[0]
            resolve = lambda e: self._resolve_one_group_expr(e, items, df)
            if isinstance(node, (ast.Rollup, ast.Cube)) and node.distinct:
                # pg 14 GROUP BY DISTINCT: expand rollup/cube to explicit
                # sets (pg order) so duplicate sets can drop below
                from itertools import combinations

                exprs = list(node.exprs)
                if isinstance(node, ast.Rollup):
                    expanded = [tuple(exprs[:i])
                                for i in range(len(exprs), -1, -1)]
                else:
                    expanded = [c for r in range(len(exprs), -1, -1)
                                for c in combinations(exprs, r)]
                node = ast.GroupingSets(sets=tuple(expanded), distinct=True)
            if isinstance(node, ast.GroupingSets):
                mode = "sets"
                group_exprs = []
                rsets = [[resolve(e) for e in s] for s in node.sets]
                if node.distinct:
                    # dedup expanded sets by resolved-expression list
                    # (first occurrence wins, pg's documented behavior)
                    seen, uniq = set(), []
                    for s in rsets:
                        key = tuple(s)
                        if key not in seen:
                            seen.add(key)
                            uniq.append(s)
                    rsets = uniq
                for s in rsets:
                    for e in s:
                        if e not in group_exprs:
                            group_exprs.append(e)
                sets_idx = [[group_exprs.index(e) for e in s]
                            for s in rsets]
            else:
                mode = "rollup" if isinstance(node, ast.Rollup) else "cube"
                group_exprs = [resolve(e) for e in node.exprs]
        else:
            group_exprs = self._resolve_group_by(sel, items, df)

        # materialize group keys as hidden columns, build the rewrite map
        pre_cols: List[Column] = []
        mapping: Dict[ast.Node, ast.Node] = {}
        ec_pre = self._expr_compiler(df)
        for i, g in enumerate(group_exprs):
            gname = f"__g{i}"
            pre_cols.append(ec_pre.compile(g).alias(gname))
            mapping[g] = ast.ColumnRef(parts=(gname,), quoted=True)
        df, cleanup = self._attach_pending(df, ec_pre)
        df_pre = df.select("*", *pre_cols) if pre_cols else df

        def rewrite(node: ast.Node) -> ast.Node:
            return transform(node, lambda n: mapping.get(n, n))

        final_names: List[str] = [name for _, name in items]

        def build_agg_cols(rewrite_fn, ec):
            """Compile the whole aggregate column set (outputs, hidden
            window-agg inputs, HAVING, ORDER-BY extras) under one group-key
            rewrite. Invoked twice for the empty-input grand-total twin
            below, so hidden-column NAMES must be deterministic across
            invocations (same traversal order → same __out/__a/__ord/
            __having names)."""
            agg_cols: List[Column] = []
            # items containing window calls (e.g. rank() OVER (ORDER BY
            # sum(x))) are evaluated AFTER aggregation: their aggregate
            # subtrees become hidden agg columns, the window expression
            # runs over the result
            window_items: Dict[int, ast.Node] = {}
            agg_sub: Dict[ast.Node, ast.Node] = {}

            def hoist_aggs(node: ast.Node) -> ast.Node:
                # replace aggregate calls with hidden agg columns, but keep
                # the head call of a WindowCall (sum(sum(x)) OVER () hoists
                # only the inner sum — the outer one runs as the window
                # function). Dedup keys are the ORIGINAL (pre-rewrite)
                # nodes so the twin pass below — whose rewrite maps every
                # group ref to NULL and would otherwise collapse distinct
                # aggregates like count(a)/count(b) into one — emits the
                # same hidden-column name sequence as the main pass.
                if isinstance(node, ast.WindowCall):
                    call = node.call
                    new_call = ast.Call(
                        name=call.name,
                        args=tuple(hoist_aggs(a) for a in call.args),
                        distinct=call.distinct, star=call.star)
                    return ast.WindowCall(
                        call=new_call,
                        spec=map_children(node.spec, hoist_aggs))
                if isinstance(node, ast.Call) and node.name in AGG_NAMES:
                    if node not in agg_sub:
                        aname = f"__a{len(agg_sub)}"
                        agg_cols.append(
                            ec.compile(rewrite_fn(node)).alias(aname))
                        agg_sub[node] = ast.ColumnRef(parts=(aname,),
                                                      quoted=True)
                    return agg_sub[node]
                return map_children(node, hoist_aggs)

            for i, (expr, _name) in enumerate(items):
                if _contains_window(rewrite_fn(expr)):
                    # hoist on the ORIGINAL tree (stable dedup keys), then
                    # rewrite the remaining group refs for post-agg eval
                    window_items[i] = rewrite_fn(hoist_aggs(expr))
                else:
                    agg_cols.append(
                        ec.compile(rewrite_fn(expr)).alias(f"__out{i}"))

            if sel.having is not None:
                agg_cols.append(
                    ec.compile(rewrite_fn(sel.having)).alias("__having"))

            qualify_expr = None
            if sel.qualify is not None:
                # QUALIFY in agg context: aliases resolve to item
                # expressions, group keys rewrite to hidden __g columns,
                # aggregate subtrees hoist to hidden agg columns; the
                # remaining (window) expression evaluates post-aggregation
                # like window_items do
                q = self._resolve_item_aliases(sel.qualify, items, ())
                qualify_expr = rewrite_fn(hoist_aggs(q))

            # ORDER BY in agg context: outputs or extra aggs
            sort_specs: List[tuple] = []
            n_ord = 0
            for s in sel.order_by:
                target = self._match_output(s.expr, items)
                if target is not None:
                    sort_specs.append((f"__out{target}", s))
                else:
                    oname = f"__ord{n_ord}"
                    n_ord += 1
                    agg_cols.append(
                        ec.compile(rewrite_fn(s.expr)).alias(oname))
                    sort_specs.append((oname, s))

            if not agg_cols:
                agg_cols.append(F.count(F.lit(1)).alias("__dummy"))
            return agg_cols, window_items, qualify_expr, sort_specs

        ec = ExprCompiler(self.session, agg_context=True, scope=self.scope,
                          alias_rewrites=getattr(self, "_alias_rewrites", None),
                          input_df=df)
        agg_cols, window_items, qualify_expr, sort_specs = \
            build_agg_cols(rewrite, ec)
        sort_cols = [_apply_sort_direction(F.col(n), s)
                     for n, s in sort_specs]

        # scalar subqueries referenced from aggregate-context expressions
        # (HAVING, post-agg select arithmetic) attach to the PRE-agg input;
        # their values are group constants and compile as first(__scalar_N)
        df_pre, _ = self._attach_pending(df_pre, ec)

        keys = [F.col(f"__g{i}") for i in range(len(group_exprs))]
        if mode == "rollup":
            grouped = df_pre.rollup(*keys)
        elif mode == "cube":
            grouped = df_pre.cube(*keys)
        elif mode == "sets":
            grouped = df_pre.groupingSets(
                [[F.col(f"__g{i}") for i in s] for s in sets_idx], *keys)
        else:
            grouped = df_pre.groupBy(*keys)
        result = grouped.agg(*agg_cols)

        # pg/SQL-standard: a grouping that includes the EMPTY set (the ()
        # grand total — always present under ROLLUP/CUBE) emits its row
        # even over EMPTY input, like a global aggregate. Spark's
        # rollup/cube/groupingSets emit zero rows there. Union a twin:
        # the same aggregate columns compiled with group refs bound to
        # NULL, aggregated GLOBALLY over limit(0) (one row carrying the
        # empty-input values: count 0, sum NULL, ...), kept only when the
        # pre-agg input is actually empty (a count-only gate scan that
        # Catalyst prunes to metadata where the source allows).
        n_empty_sets = (1 if mode in ("rollup", "cube")
                        else sum(1 for s in sets_idx if not s)
                        if mode == "sets" else 0)
        if n_empty_sets:
            null_map = {g: ast.Literal(None, "null") for g in group_exprs}

            def _twin_node(x: ast.Node) -> ast.Node:
                if x in null_map:
                    return null_map[x]
                if isinstance(x, ast.Call) and \
                        x.name.lower() in ("grouping", "grouping_id"):
                    # in the () row every argument is un-grouped: the
                    # marker is the all-ones bitmask (grouping(b) = 1,
                    # grouping(a, b) = 3, bare grouping_id() = full mask)
                    nargs = len(x.args) or len(group_exprs)
                    return ast.Literal((1 << nargs) - 1, "int")
                return x

            ec_t = ExprCompiler(
                self.session, agg_context=True, scope=self.scope,
                alias_rewrites=getattr(self, "_alias_rewrites", None),
                input_df=df)
            t_cols, _, _, _ = build_agg_cols(
                lambda n: transform(n, _twin_node), ec_t)
            if (ec_t.pending_scalar or ec_t.pending_correlated
                    or ec_t.pending_theta or ec_t.pending_precols):
                # scalar/correlated subqueries fold through first(__scalar)
                # hidden aggs, which are NULL over the twin's zero-row
                # input while pg still evaluates the subquery for the ()
                # row — emitting a row with wrong values is worse than the
                # pre-existing Spark behavior (no row), so skip the twin
                # for this (rare) shape
                twin = None
            else:
                twin = df_pre.limit(0).groupBy().agg(*t_cols)
            if twin is not None:
                # emptiness gate as a LIMIT-1 anti probe, not a second
                # full aggregation of df_pre: keeps one row iff the probe
                # (first row of the pre-agg input) does not exist. The
                # probe's LocalLimit stops each partition after one row
                # on non-empty input; only genuinely empty input scans to
                # the end — where the full scan was unavoidable anyway.
                # Tested alternatives (r11): gating on the MAIN aggregate
                # result's emptiness does NOT get a ReusedExchange (the
                # probe branch re-runs the whole aggregation — strictly
                # worse), and persisting df_pre materializes the full
                # pre-agg input for a 1-row question. The probe stays.
                # Its LocalLimit/GlobalLimit stages recompile on every
                # execution, even plan-cached: Spark names each limit's
                # counter from a JVM-global AtomicInteger
                # (`_limit_counter_N`), so the generated source, which is
                # the codegen cache key, never repeats (4 classes per call).
                probe = df_pre.select(F.lit(1).alias("__probe")).limit(1)
                gate = (self.session.spark.range(1)
                        .select(F.lit(1).alias("__gate1"))
                        .join(probe, F.lit(True), "left_anti"))
                twin = twin.crossJoin(gate).drop("__gate1")
                have = set(twin.columns)
                aligned = [
                    (F.col(f.name) if f.name in have else F.lit(None))
                    .cast(f.dataType).alias(f.name)
                    for f in result.schema.fields]
                twin_sel = twin.select(*aligned)
                # pg emits ONE grand-total row PER () occurrence: GROUPING
                # SETS ((), ()) over empty input yields two rows (Spark
                # already does this on non-empty input — verified r11)
                for _ in range(n_empty_sets):
                    result = result.unionByName(twin_sel)

        if sel.having is not None:
            result = result.filter(F.col("__having"))

        if window_items:
            # post-aggregation window phase: expressions over agg outputs.
            # A column of the input that is neither grouped nor inside an
            # aggregate survives the rewrite as itself, and the aggregate
            # result has no such column (pg's grouping error, not Spark's
            # unresolved-column error naming the hidden __g/__out columns)
            ungrouped = {c.lower() for c in df.columns} \
                - {c.lower() for c in result.columns}
            for expr in window_items.values():
                for n in walk(expr):
                    if isinstance(n, ast.ColumnRef) \
                            and n.parts[-1].lower() in ungrouped:
                        raise CompileError(
                            f'column "{".".join(n.parts)}" must appear in '
                            "the GROUP BY clause or be used in an "
                            "aggregate function")
            ec_post = ExprCompiler(self.session, agg_context=False,
                                   scope=self.scope)
            out_cols = [ec_post.compile(expr).alias(f"__out{i}")
                        for i, expr in window_items.items()]
            if ec_post.pending_precols:
                # GROUPS frames' staged dense_rank keys over the agg result
                result = result.select("*", *[
                    c.alias(n) for n, c in ec_post.pending_precols])
                ec_post.pending_precols.clear()
            result = result.select("*", *out_cols)

        if qualify_expr is not None:
            ec_q = ExprCompiler(self.session, agg_context=False,
                                scope=self.scope)
            qcol = ec_q.compile(qualify_expr)
            if ec_q.pending_precols:
                result = result.select("*", *[
                    c.alias(n) for n, c in ec_q.pending_precols])
                ec_q.pending_precols.clear()
            result = (result.withColumn("__qualify", qcol)
                      .filter(F.col("__qualify")).drop("__qualify"))

        if sel.distinct:
            result = result.select(
                *[F.col(f"__out{i}") for i in range(len(items))]).distinct()
            if sort_cols:
                result = result.orderBy(*sort_cols)
        elif sort_cols:
            result = result.orderBy(*sort_cols)
        return result.select(*[
            F.col(f"__out{i}").alias(name)
            for i, name in enumerate(final_names)
        ])

    def _resolve_group_by(self, sel: ast.Select,
                          items: List[Tuple[ast.Node, str]],
                          df: DataFrame) -> List[ast.Node]:
        """GROUP BY ordinal / select-alias / input column / expression
        (reference normalize_group_by,
        src/framequery/executor/_executor.py:258-306)."""
        return [self._resolve_one_group_expr(g, items, df)
                for g in sel.group_by]

    def _resolve_one_group_expr(self, g: ast.Node,
                                items: List[Tuple[ast.Node, str]],
                                df: DataFrame) -> ast.Node:
        input_cols = {c.lower() for c in df.columns}
        alias_map = {name.lower(): expr for expr, name in items}
        if isinstance(g, ast.Literal) and g.kind == "int":
            idx = g.value - 1
            if not (0 <= idx < len(items)):
                raise CompileError(f"GROUP BY ordinal {g.value} out of range")
            return items[idx][0]
        if (isinstance(g, ast.ColumnRef) and len(g.parts) == 1
                and g.parts[0] not in input_cols
                and g.parts[0] in alias_map):
            # pg resolves input columns first, then select aliases
            return alias_map[g.parts[0]]
        return g

    # -------------------------------------------------------------- projection

    # select-list set-returning functions that can appear several times in
    # one projection — pg 10+ runs them in LOCKSTEP (row i of each, NULL-
    # padded to the longest), not as a cross product
    _SRF_NAMES = frozenset({
        "unnest", "generate_series", "generate_subscripts",
        "string_to_table",
        "regexp_split_to_table", "json_array_elements",
        "json_array_elements_text", "jsonb_array_elements",
        "jsonb_array_elements_text", "json_object_keys",
        "jsonb_object_keys"})

    def _srf_array(self, ec: ExprCompiler, call: ast.Call) -> Column:
        """The array a select-list SRF expands — explode happens once over
        the zip of all of them."""
        from ..functions.registry import pg_sequence_column, pg_split_column

        args = [ec.compile(a) for a in call.args]
        n = call.name.lower()
        if n == "unnest":
            return args[0]
        if n == "generate_series":
            return pg_sequence_column(*args[:3])
        if n == "string_to_table":
            return pg_split_column(args[0], args[1])
        if n == "generate_subscripts":
            from ..functions.registry import pg_subscripts_column

            return pg_subscripts_column(args[0], args[1])
        if n == "regexp_split_to_table":
            return F.split(args[0], args[1])
        if n in ("json_object_keys", "jsonb_object_keys"):
            return F.json_object_keys(args[0].cast("string"))
        return F.from_json(args[0].cast("string"), "array<string>")

    def _compile_project(self, df: DataFrame, sel: ast.Select,
                         items: List[Tuple[ast.Node, str]]) -> DataFrame:
        ec = self._expr_compiler(df)

        srf_idx = [i for i, (e, _) in enumerate(items)
                   if isinstance(e, ast.Call) and not isinstance(
                       e, (ast.WindowCall,))
                   and e.name.lower() in self._SRF_NAMES]
        if len(srf_idx) >= 2:
            # pg lockstep SRF semantics: advance all SRFs together, NULL-
            # padded to the longest; a NULL array behaves as empty (NOT as
            # poisoning the whole row the way arrays_zip would). Staged as:
            # hidden array columns -> one index explode over the max length
            # -> F.get per array (NULL past the end or on NULL arrays).
            import uuid

            tag = uuid.uuid4().hex[:8]
            arr_names = [f"__sa{tag}_{k}" for k in range(len(srf_idx))]
            idx = f"__si{tag}"
            df = df.select("*", *[
                self._srf_array(ec, items[i][0]).alias(an)
                for an, i in zip(arr_names, srf_idx)])
            n = F.greatest(*[F.coalesce(F.size(F.col(an)), F.lit(0))
                             for an in arr_names]) \
                if len(arr_names) > 1 else F.coalesce(
                    F.size(F.col(arr_names[0])), F.lit(0))
            df = df.withColumn(idx, F.explode(
                F.when(n >= 1, F.sequence(F.lit(1), n))
                .otherwise(F.array().cast("array<int>"))))
            val_names = [f"__sv{tag}_{k}" for k in range(len(srf_idx))]
            df = df.select("*", *[
                F.get(F.col(an), F.col(idx) - 1).alias(vn)
                for an, vn in zip(arr_names, val_names)])
            items = list(items)
            for k, i in enumerate(srf_idx):
                items[i] = (ast.ColumnRef(parts=(val_names[k],),
                                          quoted=True), items[i][1])

        if sel.distinct_on:
            # pg DISTINCT ON (the reference's xfail gap): keep the first row
            # per key under the query's ORDER BY, via a ranking window
            from pyspark.sql import Window

            keys = [ec.compile(g) for g in sel.distinct_on]
            order_cols = []
            alias_map = {name.lower(): expr for expr, name in items}
            for s in sel.order_by:
                expr = s.expr
                if isinstance(expr, ast.Literal) and expr.kind == "int":
                    expr = items[expr.value - 1][0]
                elif (isinstance(expr, ast.ColumnRef) and len(expr.parts) == 1
                      and expr.parts[0] in alias_map):
                    expr = alias_map[expr.parts[0]]
                order_cols.append(_apply_sort_direction(ec.compile(expr), s))
            w = Window.partitionBy(*keys).orderBy(
                *(order_cols or [F.lit(1)]))
            df = (df.withColumn("__don", F.row_number().over(w))
                  .filter(F.col("__don") == 1).drop("__don"))
        out_cols = [ec.compile(expr).alias(f"__out{i}")
                    for i, (expr, _) in enumerate(items)]

        qual_col = None
        if sel.qualify is not None:
            # QUALIFY: post-window row filter (DuckDB/Snowflake/BigQuery).
            # Compiled as a hidden column alongside the projection so window
            # expressions (and aliases of them) evaluate exactly once, then
            # filtered before DISTINCT, matching the standard clause order.
            qexpr = self._resolve_item_aliases(sel.qualify, items, df.columns)
            qual_col = ec.compile(qexpr).alias("__qualify")

        # ORDER BY: output refs sort post-projection; other expressions are
        # computed as hidden sort columns against the *input* relation
        sort_cols: List[Column] = []
        extra_cols: List[Column] = []
        for s in sel.order_by:
            target = self._match_output(s.expr, items)
            if target is not None:
                sort_cols.append(_apply_sort_direction(F.col(f"__out{target}"), s))
            else:
                if sel.distinct:
                    raise CompileError(
                        "ORDER BY expression must appear in select list with DISTINCT")
                sname = f"__sort{len(extra_cols)}"
                extra_cols.append(ec.compile(s.expr).alias(sname))
                sort_cols.append(_apply_sort_direction(F.col(sname), s))

        df, _ = self._attach_pending(df, ec)
        df = df.select(*out_cols, *extra_cols,
                       *([qual_col] if qual_col is not None else []))
        if qual_col is not None:
            df = df.filter(F.col("__qualify")).drop("__qualify")
        if sel.distinct:
            df = df.distinct()
        if sort_cols:
            df = df.orderBy(*sort_cols)
        return df.select(*[
            F.col(f"__out{i}").alias(name)
            for i, (_, name) in enumerate(items)
        ])

    def _resolve_item_aliases(self, expr: ast.Node,
                              items: List[Tuple[ast.Node, str]],
                              input_cols) -> ast.Node:
        """Replace bare ColumnRefs naming a select-list alias (and no input
        column — pg scoping resolves input columns first) with the aliased
        expression. Used by QUALIFY, which may filter on window-expression
        aliases."""
        cols = {c.lower() for c in input_cols}
        alias_map = {name.lower(): e for e, name in items}

        def fix(n: ast.Node) -> ast.Node:
            if (isinstance(n, ast.ColumnRef) and len(n.parts) == 1
                    and n.parts[0].lower() not in cols
                    and n.parts[0].lower() in alias_map):
                return alias_map[n.parts[0].lower()]
            return n

        return transform(expr, fix)

    def _match_output(self, expr: ast.Node,
                      items: List[Tuple[ast.Node, str]]) -> Optional[int]:
        """Match an ORDER BY expr to a select-list output: ordinal, alias,
        or structurally equal expression."""
        if isinstance(expr, ast.Literal) and expr.kind == "int":
            idx = expr.value - 1
            if 0 <= idx < len(items):
                return idx
            raise CompileError(f"ORDER BY ordinal {expr.value} out of range")
        if isinstance(expr, ast.ColumnRef) and len(expr.parts) == 1:
            for i, (_, name) in enumerate(items):
                if name.lower() == expr.parts[0].lower():
                    return i
        for i, (e, _) in enumerate(items):
            if e == expr:
                return i
        return None

    def _order_output_only(self, df: DataFrame,
                           order_by: Tuple[ast.SortItem, ...]) -> DataFrame:
        cols = df.columns
        sort_cols = []
        for s in order_by:
            if isinstance(s.expr, ast.Literal) and s.expr.kind == "int":
                c = F.col(_bt(cols[s.expr.value - 1]))
            else:
                c = self._expr_compiler().compile(s.expr)
            sort_cols.append(_apply_sort_direction(c, s))
        return df.orderBy(*sort_cols)

    # --------------------------------------------------------------- relations

    def compile_relation(self, rel: ast.Node) -> DataFrame:
        if isinstance(rel, ast.TableRef):
            df = self.session.resolve_table(self.scope, rel.name)
            if rel.sample_percent is not None:
                # TABLESAMPLE: Bernoulli row sampling (SYSTEM maps to the
                # same — Spark has no block sampling). A row-local filter on
                # the scan side: a 1% sample reads 1% forward of any shuffle.
                # REPEATABLE(seed) uses an xxhash64-of-row threshold rather
                # than Spark's sample(seed), which is not stable across
                # actions; the hash filter is exactly repeatable (duplicate
                # rows sample together — documented deviation).
                frac = rel.sample_percent / 100.0
                if rel.sample_seed is None:
                    df = df.sample(frac)
                else:
                    h = F.abs(F.xxhash64(F.struct(*df.columns),
                                         F.lit(rel.sample_seed)))
                    df = df.filter(h % 1000000 < int(frac * 1000000))
            alias = rel.alias or rel.parts[-1]
            return df.alias(alias)
        if isinstance(rel, ast.SubqueryRel):
            sub = QueryCompiler(self.session, self.scope).compile_query(rel.query)
            return sub.alias(rel.alias)
        if isinstance(rel, ast.Values):
            return self._compile_values(rel)
        if isinstance(rel, (ast.TableFunction, ast.JsonTable)):
            from ..sources.table_functions import compile_from_function

            return compile_from_function(self, None, rel)
        if isinstance(rel, ast.Join):
            return self._compile_join(rel)
        raise CompileError(f"cannot compile relation {type(rel).__name__}")

    def _compile_join(self, join: ast.Join) -> DataFrame:
        left = self.compile_relation(join.left)
        if isinstance(join.right, ast.JsonTable) \
                and join.kind not in ("cross", "inner"):
            raise CompileError(
                f"JSON_TABLE does not support {join.kind} join")
        # pg: LATERAL is implicit for table functions in FROM — `FROM t,
        # unnest(t.arr)` applies per-row without the keyword — and for
        # JSON_TABLE (pg 17)
        if isinstance(join.right, ast.JsonTable) or (
                isinstance(join.right, ast.TableFunction)
                and (join.right.lateral
                     or self._tf_references_columns(join.right))):
            from ..sources.table_functions import compile_from_function

            return compile_from_function(self, left, join.right)
        if isinstance(join.right, ast.SubqueryRel) and join.right.lateral:
            how = {"cross": "inner", "inner": "inner",
                   "left": "left"}.get(join.kind)
            if how is None:
                raise CompileError(
                    f"LATERAL subquery does not support {join.kind} join")
            return self._compile_lateral_subquery(
                left, join.right, how, join.condition)
        right = self.compile_relation(join.right)
        if join.kind == "cross":
            return left.crossJoin(right)
        if join.kind in ("asof_left", "asof_inner"):
            return self._compile_asof_join(join, left, right)
        how = {"inner": "inner", "left": "left", "right": "right",
               "full": "full"}[join.kind]
        if join.using == ("__natural__",):
            common = [c for c in left.columns if c in set(right.columns)
                      and not c.startswith("__")]
            if not common:
                raise CompileError(
                    "NATURAL JOIN: relations share no column names")
            return left.join(right, common, how)
        if join.using:
            return left.join(right, list(join.using), how)
        ec = self._expr_compiler()
        cond = ec.compile(join.condition)
        if ec.pending_correlated or ec.pending_theta:
            raise CompileError(
                "correlated subqueries in JOIN ON are not supported — "
                "move the predicate to WHERE")
        # uncorrelated IN/EXISTS/scalar subqueries in ON compile to pending
        # broadcast frames: attach them to the left input so the condition
        # can reference them, then drop the helper columns
        cleanup: List[str] = []
        for name, sdf in ec.pending_scalar:
            left = left.crossJoin(F.broadcast(sdf))
            cleanup.extend(name) if isinstance(name, tuple) \
                else cleanup.append(name)
        ec.pending_scalar.clear()
        out = left.join(right, cond, how)
        return out.drop(*cleanup) if cleanup else out

    def _compile_lateral_aggregate(self, left: DataFrame,
                                   rel: ast.SubqueryRel, how: str,
                                   on_cond=None) -> DataFrame:
        """Correlated LATERAL whose select list is all aggregates (no
        GROUP BY): pg evaluates it per outer row and it ALWAYS yields
        exactly one row — aggregates over the empty set for non-matching
        outer rows. Decorrelated into ONE grouped aggregate over the inner
        relation (GROUP BY the correlation keys) + a left equi join; the
        empty-set values come from evaluating the same items over WHERE
        FALSE once at compile time (a bounded 1-row job) and coalescing.
        Non-equality correlation (`WHERE i.x < t.x`) takes the theta plan
        of ThetaAggregate instead."""
        sel = rel.query
        rule = Correlation(self.session, self.scope, sel,
                           {c.lower() for c in left.columns})
        inner_where, pairs = rule.comparisons(
            "LATERAL aggregate correlation predicates must be "
            "comparisons (=, <, <=, >, >=, <>)",
            "unsupported LATERAL correlation")
        n = getattr(self, "_lateral_counter", 0)
        self._lateral_counter = n + 1
        ec = self._expr_compiler()
        if any(op != "=" for op, _, _ in pairs):
            theta = ThetaAggregate(
                self.session, self.scope, sel,
                [(it.expr, it.alias or _auto_name(it.expr, i))
                 for i, it in enumerate(sel.items)],
                pairs, inner_where, "__lt", n,
                "theta-correlated LATERAL aggregates")
            # the left join already yields pg's empty-set aggregates for
            # outer rows with no match: no filler union needed
            left, agg_df = theta.attach(ec, left)
            idr = f"{theta.idc}_r"
            right = agg_df.withColumnRenamed(theta.idc, idr) \
                .alias(rel.alias)
            cond = F.col(theta.idc) == F.col(f"{rel.alias}.{idr}")
            hidden = [theta.idc, idr]
        else:
            if not pairs:
                raise CompileError(
                    "LATERAL aggregate subquery has no equality correlation")
            corr = [(oa, ia) for _, oa, ia in pairs]
            hidden = [f"__lk{n}_{i}" for i in range(len(corr))]
            dec = ast.Select(
                items=tuple(sel.items) + tuple(
                    ast.SelectItem(expr=ia, alias=kn)
                    for (_, ia), kn in zip(corr, hidden)),
                from_=sel.from_, where=inner_where,
                group_by=tuple(ia for _, ia in corr))
            sub = QueryCompiler(self.session, self.scope).compile_query(dec)
            # `=` correlation can never select the NULL-key group
            for kn in hidden:
                sub = sub.where(F.col(kn).isNotNull())
            # pg: the aggregate lateral yields exactly one row per outer
            # row — aggregates over the EMPTY set for outer keys with no
            # inner match (count -> 0, max -> NULL). Synthesize those rows
            # by unioning the WHERE FALSE aggregate (a 1-row frame) against
            # the outer keys that found no group, so the final join always
            # matches and the left side's relation aliases survive
            # untouched.
            empty = QueryCompiler(self.session, self.scope).compile_query(
                dataclasses.replace(sel, where=ast.Literal(False, "bool"),
                                    items=tuple(sel.items)))
            missing = (left.select(*[ec.compile(oa).alias(kn)
                                     for (oa, _), kn in zip(corr, hidden)])
                       .distinct()
                       .join(sub.select(*hidden), hidden, "left_anti"))
            filler = missing.crossJoin(F.broadcast(empty))
            sub_full = sub.unionByName(filler.select(*sub.columns))
            right = sub_full.alias(rel.alias)
            cond = _and_cols(
                ec.compile(oa).eqNullSafe(F.col(f"{rel.alias}.{kn}"))
                for (oa, _), kn in zip(corr, hidden))
        trivially_true = (on_cond is None
                          or (isinstance(on_cond, ast.Literal)
                              and on_cond.value is True))
        on_compiled = None if trivially_true else ec.compile(on_cond)
        if how == "left" and on_compiled is not None:
            # pg LEFT JOIN LATERAL (agg) ON <cond>: every outer row still
            # produces its single aggregate row; ON then decides whether it
            # attaches. Folding ON into the join condition makes failing
            # rows genuine non-matches — NULL lateral columns with the
            # alias qualification intact (a post-join nulling would detach
            # the alias-qualified originals)
            cond = cond & on_compiled
        out = left.join(right, cond, "left").drop(*hidden)
        if how != "left" and on_compiled is not None:
            out = out.where(on_compiled.eqNullSafe(True))
        return out

    def _compile_lateral_subquery(self, left: DataFrame,
                                  rel: ast.SubqueryRel, how: str,
                                  on_cond) -> DataFrame:
        """Correlated `[LEFT JOIN] LATERAL (SELECT ... WHERE inner.k =
        outer.k [ORDER BY ...] [LIMIT n]) alias` — the pg top-N-per-group
        staple. Decorrelated into ONE pass over the inner relation: the
        correlation keys become hidden projected columns, the per-outer-row
        LIMIT becomes a row_number window partitioned by those keys, and
        the lateral apply becomes a plain equi shuffle join — never a
        per-outer-row subquery execution. Only equality correlations
        decorrelate this way (same restriction as scalar subqueries)."""
        from pyspark.sql import Window

        sel = rel.query
        if not isinstance(sel, ast.Select) or sel.from_ is None:
            raise CompileError("LATERAL subquery must be a SELECT with FROM")
        if not sel.group_by and sel.having is None and not sel.ctes \
                and sel.limit is None \
                and all(not isinstance(i, ast.Star)
                        and contains_aggregate(i.expr, AGG_NAMES)
                        for i in sel.items):
            # aggregate lateral: (SELECT max(b) m FROM u WHERE u.k = t.k)
            # — a multi-column scalar subquery; decorrelate by grouping
            # the inner on the correlation keys
            return self._compile_lateral_aggregate(left, rel, how, on_cond)
        if sel.group_by or sel.having is not None or sel.ctes \
                or sel.distinct or sel.qualify is not None:
            raise CompileError(
                "LATERAL subquery supports plain correlated SELECTs "
                "(optionally ORDER BY ... LIMIT n)")
        rule = Correlation(self.session, self.scope, sel,
                           {c.lower() for c in left.columns})
        inner_where, pairs = rule.comparisons(
            "LATERAL correlation predicates must be equalities — "
            "for nearest-match-per-row shapes use ASOF JOIN "
            "(single-shuffle union+window plan), or a "
            "theta-correlated scalar subquery for single values",
            "LATERAL correlation references outer columns on both sides",
            equality_only=True)
        if not pairs:
            raise CompileError(
                "LATERAL subquery has no equality correlation — use a "
                "plain subquery in FROM instead")
        corr = [(oa, ia) for _, oa, ia in pairs]
        n = getattr(self, "_lateral_counter", 0)
        self._lateral_counter = n + 1
        keys = [f"__lk{n}_{i}" for i in range(len(corr))]
        # hidden projections: correlation keys + sort expressions (the
        # ORDER BY column need not be in the select list)
        sort_keys = [f"__ls{n}_{j}" for j in range(len(sel.order_by))] \
            if sel.limit is not None else []
        dec = ast.Select(
            items=tuple(sel.items)
            + tuple(ast.SelectItem(expr=ia, alias=k)
                    for (_, ia), k in zip(corr, keys))
            + tuple(ast.SelectItem(expr=s.expr, alias=k)
                    for s, k in zip(sel.order_by, sort_keys)),
            from_=sel.from_, where=inner_where)
        inner_df = QueryCompiler(self.session, self.scope).compile_query(dec)

        if sel.offset is not None:
            # hoisted out of the limit branch: OFFSET without LIMIT must
            # error too, not silently return all rows
            raise CompileError("LATERAL OFFSET is not supported")
        if sel.limit is not None:
            limit_val = sel.limit.value if isinstance(sel.limit, ast.Literal) \
                else None
            if not isinstance(limit_val, int):
                raise CompileError("LATERAL LIMIT must be an integer literal")
            order_cols = [_apply_sort_direction(F.col(k), s)
                          for k, s in zip(sort_keys, sel.order_by)] \
                or [F.lit(1)]
            w = Window.partitionBy(*[F.col(k) for k in keys]) \
                .orderBy(*order_cols)
            inner_df = (inner_df
                        .withColumn("__lrn", F.row_number().over(w))
                        .filter(F.col("__lrn") <= limit_val)
                        .drop("__lrn", *sort_keys))

        right = inner_df.alias(rel.alias)
        ec = self._expr_compiler()
        cond = _and_cols(ec.compile(oa) == F.col(f"{rel.alias}.{k}")
                         for (oa, _), k in zip(corr, keys))
        if on_cond is not None:
            cond = cond & ec.compile(on_cond)
        return left.join(right, cond, how).drop(*keys)

    def _compile_asof_join(self, join: ast.Join, left: DataFrame,
                           right: DataFrame) -> DataFrame:
        """`l ASOF [LEFT|INNER] JOIN r ON l.k = r.k AND l.ts > r.ts`
        (DuckDB syntax) → the union+window asof operator (operators/asof.py):
        for each left row, the single most recent (or, for </<=, earliest
        later) right row per key. ON must be equalities plus exactly ONE
        inequality between the two timestamps: >/>= = backward, </<= =
        forward; strict when the bound excludes equality. One shuffle on
        the key — never a per-key cross product."""
        from ..operators.asof import asof_join

        left_aliases = _relation_aliases(join.left)
        right_aliases = _relation_aliases(join.right)

        def side(ref: ast.ColumnRef) -> str:
            q = ref.qualifier
            if q is not None:
                if q.lower() in left_aliases:
                    return "l"
                if q.lower() in right_aliases:
                    return "r"
                raise CompileError(f"unknown alias in ASOF ON: {q}")
            inl, inr = ref.name in left.columns, ref.name in right.columns
            if inl and not inr:
                return "l"
            if inr and not inl:
                return "r"
            raise CompileError(
                f"ambiguous or unknown column in ASOF ON: {ref.name}")

        eq_pairs: list = []
        ineq = None
        for c in _split_conjuncts(join.condition):
            if not (isinstance(c, ast.Binary)
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)):
                raise CompileError(
                    "ASOF JOIN ON supports only column = column and "
                    "column >/>= column conjuncts")
            ls, rs = side(c.left), side(c.right)
            if ls == rs:
                raise CompileError(
                    "ASOF JOIN ON conjuncts must compare left vs right")
            lref, rref = ((c.left, c.right) if ls == "l"
                          else (c.right, c.left))
            op = c.op
            if ls == "r":  # normalize to left-op-right orientation
                op = {">": "<", ">=": "<=", "<": ">", "<=": ">=",
                      "=": "="}[op]
            if op == "=":
                eq_pairs.append((lref.name, rref.name))
            elif op in (">", ">=", "<", "<="):
                # >/>= = backward (most recent earlier right row);
                # </<= = forward (earliest later right row)
                if ineq is not None:
                    raise CompileError("ASOF JOIN needs exactly one "
                                       "inequality in ON")
                ineq = (lref.name, rref.name, op)
            else:
                raise CompileError(
                    "ASOF JOIN ON supports =, >, >=, <, <= conjuncts")
        if ineq is None:
            raise CompileError("ASOF JOIN ON requires an inequality "
                               "between the two timestamps")
        left_ts, right_ts, op = ineq
        direction = "forward" if op in ("<", "<=") else "backward"

        # the operator matches on shared key names: align right to left
        for ln, rn in eq_pairs:
            if ln != rn:
                right = right.withColumnRenamed(rn, ln)
        on = [ln for ln, _ in eq_pairs]
        r_payload = [c for c in right.columns if c not in on]
        out = asof_join(left, right, on=on, left_ts=left_ts,
                        right_ts=right_ts, right_cols=r_payload,
                        strict=op in (">", "<"), direction=direction)
        if join.kind == "asof_inner":
            ts_out = (right_ts + "_right" if right_ts in left.columns
                      else right_ts)
            out = out.filter(F.col(ts_out).isNotNull())
        # The asof output is ONE flat relation — the original aliases are
        # gone from the plan, so register rewrite maps that let later
        # clauses keep using them: left refs resolve bare; right refs go
        # through the key renames and collision suffixes.
        rmap = {rn: ln for ln, rn in eq_pairs}
        rmap.update({c: c + "_right" for c in r_payload if c in left.columns})
        rewrites = getattr(self, "_alias_rewrites", None) or {}
        for a in _relation_aliases(join.left):
            rewrites[a] = {}
        for a in _relation_aliases(join.right):
            rewrites[a] = rmap
        self._alias_rewrites = rewrites
        return out

    def _compile_values(self, rel: "ast.Values") -> DataFrame:
        """VALUES rows: literal-only; built as a JVM-side LocalTableScan
        (the row set is inline query text, so driver-side construction is
        correct; `local_relation` keeps every re-scan of it — e.g. one per
        recursive-CTE round — free of Python-worker round trips)."""
        def value_of(node):
            if isinstance(node, ast.Literal):
                return node.value
            if isinstance(node, ast.Unary) and node.op == "-" and \
                    isinstance(node.operand, ast.Literal):
                return -node.operand.value
            if isinstance(node, ast.Cast) \
                    and isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "null":
                # the pg NULL::type idiom — the cast only aids inference,
                # which the all-NULL fallback below handles anyway
                return None
            raise CompileError("VALUES rows must be literals")

        rows = [tuple(value_of(v) for v in row) for row in rel.rows]
        ncols = len(rows[0])
        names = list(rel.column_names) or [f"col{i}" for i in range(ncols)]
        try:
            df = _local_relation(self.session.spark, rows, names)
        except Exception:
            # a column of all NULLs defeats type inference (e.g. INSERT ...
            # VALUES (NULL, 1)); build the schema from the first non-null
            # value per column, defaulting untyped columns to string — an
            # INSERT target then casts to the table's column types
            def _ptype(i: int) -> str:
                import datetime
                import decimal
                for r in rows:
                    v = r[i]
                    if v is None:
                        continue
                    if isinstance(v, bool):
                        return "boolean"
                    if isinstance(v, int):
                        return "bigint"
                    if isinstance(v, float):
                        return "double"
                    if isinstance(v, decimal.Decimal):
                        return "decimal(38,18)"
                    if isinstance(v, datetime.datetime):
                        return "timestamp"
                    if isinstance(v, datetime.date):
                        return "date"
                    return "string"
                return "string"

            schema = ", ".join(
                f"`{n}` {_ptype(i)}" for i, n in enumerate(names))
            df = _local_relation(self.session.spark, rows, schema)
        return df.alias(rel.alias or "values")

    # --------------------------------------------------------- table functions

    @staticmethod
    def _tf_references_columns(tf: ast.TableFunction) -> bool:
        """True when a FROM-clause table function's arguments reference
        columns (rather than literals) — the pg implicit-LATERAL case."""
        return any(isinstance(n, ast.ColumnRef) for a in tf.args
                   for n in walk(a, into_subqueries=True))

    # ----------------------------------------------------------------- helpers

    def _expr_compiler(self, df=None) -> ExprCompiler:
        return ExprCompiler(self.session, agg_context=False, scope=self.scope,
                            alias_rewrites=getattr(self, "_alias_rewrites", None),
                            input_df=df)

    def _attach_pending(self, df: DataFrame, ec: ExprCompiler):
        """Attach scalar-subquery results: uncorrelated ones as broadcast
        cross joins, correlated ones as left equi joins against their
        decorrelated grouped aggregates (NULL for missing groups = SQL's
        empty-subquery value), theta-correlated ones through their
        ThetaAggregate and a join back on the outer row id.  Window helper pre-columns (GROUPS frames'
        staged dense_rank keys) attach first — they only reference input
        columns and must exist before the projection evaluates."""
        names = []
        if ec.pending_precols:
            df = df.select("*", *[c.alias(n) for n, c in ec.pending_precols])
            names.extend(n for n, _ in ec.pending_precols)
            ec.pending_precols.clear()
        for name, sdf in ec.pending_scalar:
            df = df.crossJoin(F.broadcast(sdf))
            # quantified comparisons attach one multi-column aggregate
            names.extend(name) if isinstance(name, tuple) else names.append(name)
        ec.pending_scalar.clear()
        for val, sdf, keys in ec.pending_correlated:
            cond = _and_cols(ec.compile(oa) == F.col(kn) for oa, kn in keys)
            df = df.join(sdf, cond, "left")
            names.extend(kn for _, kn in keys)
            names.append(val)
        ec.pending_correlated.clear()
        for theta in ec.pending_theta:
            df, agg_df = theta.attach(ec, df)
            df = df.join(agg_df, theta.idc, "left")
            names.append(theta.idc)
            names.extend(nm for _, nm in theta.items)
        ec.pending_theta.clear()
        return df, names

    def _apply_limit_offset(self, df: DataFrame, limit, offset,
                            order_by=(), ties: bool = False) -> DataFrame:
        if offset is not None:
            df = df.offset(_int_literal(offset, "OFFSET"))
        if limit is None:
            return df
        n = _int_literal(limit, "LIMIT")
        if ties and order_by:
            # FETCH FIRST n ROWS WITH TIES: every row tying with row n on
            # the sort key survives — rank() <= n over the query's ORDER BY
            # (resolved against the output projection, like pg)
            from pyspark.sql import Window

            cols = []
            lower_map = {c.lower(): c for c in df.columns}
            for s in order_by:
                e = s.expr
                if isinstance(e, ast.Literal) and e.kind == "int":
                    c = F.col(df.columns[e.value - 1])
                elif isinstance(e, ast.ColumnRef) \
                        and e.parts[-1].lower() in lower_map:
                    c = F.col(lower_map[e.parts[-1].lower()])
                else:
                    raise CompileError(
                        "FETCH ... WITH TIES supports ORDER BY over output "
                        "columns or ordinals")
                cols.append(_apply_sort_direction(c, s))
            tag = "__fq_ties_rk"
            return (df.withColumn(tag, F.rank().over(Window.orderBy(*cols)))
                    .filter(F.col(tag) <= n).drop(tag))
        return df.limit(n)


def _ordered_aliases(rel: ast.Node) -> List[str]:
    """Relation aliases of a FROM tree in left-to-right (pg output) order."""
    if isinstance(rel, ast.TableRef):
        return [rel.alias or rel.parts[-1]]
    if isinstance(rel, (ast.SubqueryRel, ast.Values)):
        return [rel.alias] if rel.alias else []
    if isinstance(rel, ast.TableFunction):
        return [rel.alias or rel.name]
    if isinstance(rel, ast.JsonTable):
        return [rel.alias or "json_table"]
    if isinstance(rel, ast.Join):
        return _ordered_aliases(rel.left) + _ordered_aliases(rel.right)
    return []


def _relation_aliases(rel: ast.Node) -> set:
    """All table aliases/names visible inside a FROM tree."""
    out = set()
    stack = [rel]
    while stack:
        r = stack.pop()
        if isinstance(r, ast.TableRef):
            out.add((r.alias or r.parts[-1]).lower())
        elif isinstance(r, (ast.SubqueryRel, ast.Values)):
            if r.alias:
                out.add(r.alias.lower())
        elif isinstance(r, ast.TableFunction):
            out.add((r.alias or r.name).lower())
        elif isinstance(r, ast.JsonTable):
            out.add((r.alias or "json_table").lower())
        elif isinstance(r, ast.Join):
            stack.extend([r.left, r.right])
    return out


def _contains_window(node: ast.Node) -> bool:
    return any(isinstance(n, ast.WindowCall) for n in walk(node))


def _split_conjuncts(node: ast.Node) -> List[ast.Node]:
    if isinstance(node, ast.Binary) and node.op == "and":
        return _split_conjuncts(node.left) + _split_conjuncts(node.right)
    return [node]


def _int_literal(node: ast.Node, what: str) -> int:
    # constant-fold the wrappers EXECUTE's parameter splice produces
    # (CAST(n AS BIGINT), unary minus) and — r12 — pg-legal constant
    # arithmetic (pg allows any expression here: LIMIT 1+1, OFFSET 2-1)
    if isinstance(node, ast.Unary) and node.op == "-":
        return -_int_literal(node.operand, what)
    if isinstance(node, ast.Unary) and node.op == "+":
        return _int_literal(node.operand, what)
    if isinstance(node, ast.Cast) and node.type_name.lower() in (
            "int", "integer", "bigint", "smallint",
            "int2", "int4", "int8", "long"):
        return _int_literal(node.expr, what)
    if isinstance(node, ast.Binary) and node.op in ("+", "-", "*", "/",
                                                    "%"):
        a = _int_literal(node.left, what)
        b = _int_literal(node.right, what)
        if node.op in ("/", "%") and b == 0:
            raise CompileError(f"{what}: division by zero")
        # pg integer division/modulo truncate toward zero
        return {"+": a + b, "-": a - b, "*": a * b,
                "/": int(a / b) if b else 0,
                "%": a - int(a / b) * b if b else 0}[node.op]
    if isinstance(node, ast.Literal) and node.kind == "int":
        return node.value
    raise CompileError(f"{what} must be a constant integer expression")


# correlation comparison flip when the outer expression sits on the right
# (`i.x < t.x` normalizes to `t.x > i.x`), and the Column method of each
# normalized comparison
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<=",
         "<>": "<>", "!=": "<>"}
_OPS = {"=": "__eq__", "<": "__lt__", "<=": "__le__", ">": "__gt__",
        ">=": "__ge__", "<>": "__ne__", "!=": "__ne__"}


def _and_ast(conjs: List[ast.Node]) -> Optional[ast.Node]:
    """Left-deep AND of AST conjuncts; None for none."""
    out = None
    for c in conjs:
        out = c if out is None else ast.Binary(op="and", left=out, right=c)
    return out


def _and_cols(cols) -> Column:
    """Left-deep AND of one or more Columns."""
    return functools.reduce(operator.and_, cols)


class Correlation:
    """Which references of the subquery `sel` are outer, and its WHERE
    split along them: the one correlation rule of scalar, EXISTS, IN and
    LATERAL subqueries.

    A qualified ref is outer when its qualifier names no relation of
    `sel.from_`. An unqualified ref resolves inner-first (SQL scoping): it
    is outer when it names no inner column and, for LATERAL (`left_cols`
    given), names a column of the left input — pg allows
    `WHERE o.k = outer_col` without qualifying outer_col. The inner
    relation is compiled once (`rel`), just to read its column set. When
    that fails the error propagates, unless `lenient`: then `rel` is None
    and unqualified refs count as inner (the scalar form's rule, whose
    full compile surfaces the error later if there is one)."""

    def __init__(self, session, scope: dict, sel: ast.Select,
                 left_cols: Optional[set] = None, lenient: bool = False):
        self.aliases = _relation_aliases(sel.from_)
        try:
            self.rel = QueryCompiler(session, scope) \
                .compile_relation(sel.from_)
            self.cols = {c.lower() for c in self.rel.columns}
        except Exception:
            if not lenient:
                raise
            self.rel = self.cols = None
        self.left_cols = left_cols
        self.conjs = _split_conjuncts(sel.where) \
            if sel.where is not None else []

    def is_outer(self, ref: ast.ColumnRef) -> bool:
        if ref.qualifier is not None:
            return ref.qualifier.lower() not in self.aliases
        name = ref.name.lower()
        return (self.cols is not None and name not in self.cols
                and (self.left_cols is None or name in self.left_cols))

    def has_outer(self, node: ast.Node) -> bool:
        return any(isinstance(n, ast.ColumnRef) and self.is_outer(n)
                   for n in walk(node))

    def split(self) -> Tuple[List[ast.Node], List[ast.Node]]:
        """(inner-only conjuncts, correlated conjuncts) of WHERE."""
        inner: List[ast.Node] = []
        corr: List[ast.Node] = []
        for c in self.conjs:
            (corr if self.has_outer(c) else inner).append(c)
        return inner, corr

    def comparisons(self, shape_msg: str, both_msg: str,
                    equality_only: bool = False):
        """(inner-only WHERE or None, [(op, outer_ast, inner_ast)]): WHERE
        with BETWEEN desugared to its two comparisons, every correlated
        conjunct normalized to `outer op inner`. A correlated conjunct
        that is no comparison (no equality, when `equality_only`) raises
        `shape_msg`; one with outer refs on both sides raises
        `both_msg`."""
        conjs: List[ast.Node] = []
        for c in self.conjs:
            if isinstance(c, ast.Between) and not c.negated:
                conjs += [ast.Binary(op=">=", left=c.expr, right=c.low),
                          ast.Binary(op="<=", left=c.expr, right=c.high)]
            else:
                conjs.append(c)
        inner: List[ast.Node] = []
        pairs: List[tuple] = []
        for c in conjs:
            if not self.has_outer(c):
                inner.append(c)
                continue
            if not (isinstance(c, ast.Binary) and c.op in _FLIP) \
                    or (equality_only and c.op != "="):
                raise CompileError(shape_msg)
            lo, ro = self.has_outer(c.left), self.has_outer(c.right)
            if lo and ro:
                raise CompileError(both_msg)
            pairs.append((c.op, c.left, c.right) if lo
                         else (_FLIP[c.op], c.right, c.left))
        return _and_ast(inner), pairs


class ThetaAggregate:
    """Aggregates correlated by comparisons that are not all equalities
    (the running-rank / below-threshold shape), for the scalar form (one
    item) and the LATERAL form (several):

        (SELECT count(*) FROM inner i WHERE i.x < outer.x)

    Planned as: tag each outer row with an id, LEFT theta-join the inner
    relation (its aggregate arguments pre-projected as hidden columns),
    aggregate per outer id. The theta join is a real pairwise join (Spark
    picks broadcast nested-loop when one side is small) — the cost pg pays
    per row, paid once as a join; equality conjuncts stay equi-join keys
    so the pair space is bucketed whenever possible. The left join already
    yields pg's empty-set aggregates (count -> 0, max -> NULL) for outer
    rows with no match. Built in two steps because the scalar form meets
    its outer relation only when the relation compiler attaches it: the
    constructor projects the inner side, attach() joins the outer rows.

    `items` are (aggregate expression, output name) pairs, `pairs` and
    `inner_where` come from Correlation.comparisons, and every hidden
    column is named `{prefix}<kind>{n}...`."""

    def __init__(self, session, scope: dict, sel: ast.Select,
                 items: List[Tuple[ast.Node, str]], pairs: List[tuple],
                 inner_where: Optional[ast.Node], prefix: str, n: int,
                 what: str):
        self.session, self.scope = session, scope
        marker = f"{prefix}m{n}"
        hidden = [ast.SelectItem(expr=ast.Literal(1, "int"), alias=marker)]
        n_args = [0]

        def rewrite_aggs(node):
            if isinstance(node, ast.Call) and node.name.lower() in AGG_NAMES \
                    and not isinstance(node, ast.WindowCall):
                if node.filter_where is not None or node.order_within:
                    raise CompileError(
                        f"FILTER / ordered aggregates are not supported in "
                        f"{what}")
                if node.star or (node.name.lower() == "count"
                                 and not node.args):
                    return ast.Call(name="count",
                                    args=(ast.ColumnRef(parts=(marker,)),))
                args = []
                for a in node.args:
                    h = f"{prefix}a{n}_{n_args[0]}"
                    n_args[0] += 1
                    hidden.append(ast.SelectItem(expr=a, alias=h))
                    args.append(ast.ColumnRef(parts=(h,)))
                return dataclasses.replace(node, args=tuple(args))
            return node

        self.items = []
        for expr, name in items:
            expr = transform(expr, rewrite_aggs)
            if any(isinstance(s, ast.ColumnRef)
                   and not s.parts[0].startswith(prefix)
                   for s in walk(expr)):
                raise CompileError(
                    f"non-aggregate column references are not supported "
                    f"in {what}")
            self.items.append((expr, name))
        # equality keys first: they become the join's equi keys
        self.keys = []  # (op, outer_ast, hidden key name)
        for tag, group in (("e", [p for p in pairs if p[0] == "="]),
                           ("t", [p for p in pairs if p[0] != "="])):
            for i, (op, oa, ia) in enumerate(group):
                kn = f"{prefix}k{n}_{tag}{i}"
                hidden.append(ast.SelectItem(expr=ia, alias=kn))
                self.keys.append((op, oa, kn))
        self.inner = QueryCompiler(session, scope).compile_query(
            ast.Select(items=tuple(hidden), from_=sel.from_,
                       where=inner_where))
        self.idc = f"{prefix}id{n}"

    def attach(self, ec: ExprCompiler, df: DataFrame):
        """(`df` id-tagged, its per-id aggregates); `ec` compiles the
        outer side of the correlation against `df`."""
        # the id column feeds two plan branches (the theta join and the
        # join back); monotonically_increasing_id is recomputed per branch
        # and row order after a shuffle is not stable, so pin the ids with
        # a localCheckpoint barrier first
        tagged = _ckpt_tracked(
            df.withColumn(self.idc, F.monotonically_increasing_id()),
            eager=False)
        cond = _and_cols(getattr(ec.compile(oa), _OPS[op])(F.col(kn))
                         for op, oa, kn in self.keys)
        agg_ec = ExprCompiler(self.session, agg_context=True,
                              scope=self.scope)
        agg = tagged.join(self.inner, cond, "left").groupBy(self.idc).agg(
            *[agg_ec.compile(e).alias(nm) for e, nm in self.items])
        return tagged, agg


def _auto_name(expr: ast.Node, i: int) -> str:
    if isinstance(expr, ast.ColumnRef):
        return expr.parts[-1]
    if isinstance(expr, ast.Call):
        return expr.name
    if isinstance(expr, ast.WindowCall):
        return expr.call.name
    if isinstance(expr, ast.Cast):
        return _auto_name(expr.expr, i)
    if isinstance(expr, ast.Extract):
        return expr.field
    if isinstance(expr, ast.Case):
        return "case"
    if isinstance(expr, (ast.TrimCall,)):
        return "trim"
    if isinstance(expr, ast.PositionCall):
        return "position"
    if isinstance(expr, ast.SubstringCall):
        return "substring"
    return f"col{i}"
