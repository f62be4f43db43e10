"""Recursive-descent parser for the pg-flavored dialect.

Covers the reference's statement surface (reference:
src/framequery/parser/_parser.py:558-565 — select, copy_from, copy_to,
drop_table, create_table_as, show_option) plus beyond-parity extensions the
Spark backend executes for free: FULL/CROSS joins, set operations, HAVING,
IS [NOT] NULL, BETWEEN, EXISTS/IN subqueries, window frames, EXTRACT,
date/interval literals.

Operator precedence follows the reference ladder
(reference: src/framequery/parser/_parser.py:234-277), i.e. PostgreSQL-ish:
::  >  unary +/-/~  >  ^  >  * / %  >  + -  >  << >>  >  &  >  #  >  |
>  ||  >  comparison/IS/IN/LIKE/BETWEEN  >  NOT  >  AND  >  OR.

Deliberate deviations from the reference (documented reference bugs we do not
replicate, SURVEY §2.10): ORDER BY defaults to ASC (SQL standard; reference
defaulted desc at src/framequery/parser/_parser.py:376); `LIMIT ALL` is a
no-op instead of a crash; the 'somecount' token bug is absent.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from . import ast
from .tokenizer import Token, tokenize, unquote_name, unquote_string


class ParseError(ValueError):
    pass


RESERVED_STOP = {
    "from", "where", "group", "having", "order", "limit", "offset", "union",
    "intersect", "except", "on", "join", "inner", "left", "right", "full",
    "cross", "lateral", "as", "and", "or", "not", "in", "is", "like", "ilike",
    "between", "case", "when", "then", "else", "end", "asc", "desc", "nulls",
    "distinct", "all", "by", "with", "using", "select",
    # pg reserves these; keeping them alias-stoppers lets the clauses parse
    "window", "tablesample", "fetch", "qualify", "into", "returning", "for",
    "natural",
}

_INTERVAL_UNIT_MICROS = {
    "microsecond": 1, "microseconds": 1, "us": 1,
    "millisecond": 1_000, "milliseconds": 1_000, "ms": 1_000,
    "second": 1_000_000, "seconds": 1_000_000, "s": 1_000_000,
    "sec": 1_000_000, "secs": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000, "min": 60_000_000,
    "mins": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000, "h": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000, "d": 86_400_000_000,
    "week": 604_800_000_000, "weeks": 604_800_000_000, "w": 604_800_000_000,
}


def _interval_micros(text: str, parser) -> int:
    """Parse a fixed-length interval string ('1 hour', '90 minutes',
    '1 day 12 hours') to microseconds for RANGE frame bounds. Months and
    years are variable-length, so they cannot define a fixed RANGE offset
    and are rejected (matching Spark's own rangeBetween contract)."""
    parts = text.strip().lower().split()
    if not parts or len(parts) % 2 != 0:
        raise parser.error(f"cannot parse interval {text!r} for a frame bound")
    total = 0
    for qty, unit in zip(parts[::2], parts[1::2]):
        try:
            n = int(qty)
        except ValueError:
            raise parser.error(
                f"interval frame bounds need integer quantities, got {qty!r}")
        if unit in ("month", "months", "year", "years", "mon"):
            raise parser.error(
                "month/year intervals are variable-length and cannot define "
                "a fixed RANGE frame offset")
        if unit not in _INTERVAL_UNIT_MICROS:
            raise parser.error(f"unknown interval unit {unit!r}")
        total += n * _INTERVAL_UNIT_MICROS[unit]
    return total


class Parser:
    def __init__(self, tokens: List[Token], sql: str = ""):
        self.tokens = tokens
        self.i = 0
        self.sql = sql
        self._q_depth = 0          # parse_query nesting (SELECT INTO guard)
        self._select_into = None   # pg SELECT ... INTO t -> CTAS wrap
        self._into_allowed = False  # True only for the top-level SELECT stmt

    # ------------------------------------------------------------- utilities

    def peek(self, offset: int = 0) -> Optional[Token]:
        j = self.i + offset
        return self.tokens[j] if j < len(self.tokens) else None

    def at_end(self) -> bool:
        return self.i >= len(self.tokens)

    def error(self, msg: str) -> ParseError:
        tok = self.peek()
        where = f" near {tok.value!r} (offset {tok.pos})" if tok else " at end of input"
        return ParseError(msg + where)

    def advance(self) -> Token:
        tok = self.peek()
        if tok is None:
            raise self.error("unexpected end of input")
        self.i += 1
        return tok

    def is_kw(self, *words: str, offset: int = 0) -> bool:
        tok = self.peek(offset)
        return tok is not None and tok.kind == "name" and tok.value.lower() in words

    def is_op(self, *ops: str, offset: int = 0) -> bool:
        tok = self.peek(offset)
        return tok is not None and tok.kind == "op" and tok.value in ops

    def accept_kw(self, *words: str) -> Optional[str]:
        if self.is_kw(*words):
            return self.advance().value.lower()
        return None

    def accept_op(self, *ops: str) -> Optional[str]:
        if self.is_op(*ops):
            return self.advance().value
        return None

    def expect_kw(self, word: str) -> None:
        if not self.accept_kw(word):
            raise self.error(f"expected keyword {word.upper()}")

    def expect_op(self, op: str) -> None:
        if not self.accept_op(op):
            raise self.error(f"expected {op!r}")

    def parse_name(self) -> str:
        tok = self.peek()
        if tok is None:
            raise self.error("expected identifier")
        if tok.kind == "name":
            self.advance()
            return tok.value.lower()
        if tok.kind == "qname":
            self.advance()
            return unquote_name(tok.value)
        raise self.error("expected identifier")

    # ------------------------------------------------------------ statements

    def parse_statement(self) -> ast.Node:
        if self.is_kw("with"):
            # pg attaches CTEs to DML too: WITH c AS (...) UPDATE/INSERT/
            # DELETE/MERGE. Parse the WITH list once, then dispatch.
            ctes = self.parse_with()
            if self.is_kw("insert"):
                return ast.WithDml(ctes=ctes, stmt=self.parse_insert())
            if self.is_kw("merge"):
                return ast.WithDml(ctes=ctes, stmt=self.parse_merge())
            if self.is_kw("delete"):
                return ast.WithDml(ctes=ctes, stmt=self.parse_delete())
            if self.is_kw("update"):
                return ast.WithDml(ctes=ctes, stmt=self.parse_update())
            self._into_allowed = True
            try:
                node = self.parse_set_expr()
            finally:
                self._into_allowed = False
            if isinstance(node, ast.Select):
                node = ast.Select(**{**_select_kwargs(node), "ctes": ctes})
            else:
                node = _attach_ctes(node, ctes)
            if self._select_into is not None:
                node = ast.CreateTableAs(name=self._select_into, query=node)
                self._select_into = None
            return node
        if self.is_kw("select") or self.is_op("("):
            self._into_allowed = True
            try:
                node = self.parse_query()
            finally:
                self._into_allowed = False
            if self._select_into is not None:
                node = ast.CreateTableAs(name=self._select_into, query=node)
                self._select_into = None
            return node
        if self.is_kw("values"):
            # top-level VALUES (1, 'a'), (2, 'b') — pg/DuckDB statement form,
            # with trailing ORDER BY / LIMIT / OFFSET (pg allows them)
            vals = self.parse_values()
            node = ast.Select(items=(ast.Star(),),
                              from_=ast.Values(rows=vals.rows,
                                               alias="__values"))
            return self._parse_trailing(node)
        if self.is_kw("table") and self.peek(1) is not None \
                and self.peek(1).kind in ("name", "qname"):
            # pg shorthand: TABLE t == SELECT * FROM t; parse_select_core
            # handles it, so set ops / ORDER BY / LIMIT compose
            return self.parse_query()
        if self.is_kw("pivot"):
            return self.parse_pivot()
        if self.is_kw("unpivot"):
            return self.parse_unpivot()
        if self.is_kw("copy"):
            return self.parse_copy()
        if self.is_kw("create"):
            return self.parse_create_table_as()
        if self.is_kw("drop"):
            return self.parse_drop_table()
        if self.is_kw("refresh"):
            self.advance()
            self.expect_kw("materialized")
            self.expect_kw("view")
            return ast.RefreshMatView(
                name=".".join(self.parse_dotted_name()))
        if self.is_kw("show"):
            return self.parse_show()
        if self.is_kw("alter"):
            return self.parse_alter()
        if self.is_kw("set"):
            return self.parse_set()
        if self.is_kw("reset"):
            self.advance()
            if self.accept_kw("all"):
                return ast.ResetOption(name=None)
            parts = [self.advance().value.lower()]
            while self.accept_op("."):
                parts.append(self.advance().value.lower())
            return ast.ResetOption(name=".".join(parts))
        if self.is_kw("begin", "commit", "rollback", "abort", "end",
                      "savepoint", "release", "vacuum", "analyze",
                      "analyse", "discard", "checkpoint", "listen",
                      "unlisten", "notify", "comment", "cluster",
                      "reindex", "lock"):
            # transaction control / maintenance / async-notify: pg clients
            # issue these routinely; no transactions or planner statistics
            # exist here, so accept-and-ignore (see ast.Utility). START
            # TRANSACTION is handled below ("start" would shadow a table
            # named start otherwise — it only triggers before TRANSACTION).
            kind = self.advance().value.lower()
            while not self.at_end() and not self.is_op(";"):
                self.advance()
            return ast.Utility(kind=kind)
        if self.is_kw("start") and self.is_kw("transaction", offset=1):
            while not self.at_end() and not self.is_op(";"):
                self.advance()
            return ast.Utility(kind="begin")
        if self.is_kw("prepare"):
            self.advance()
            name = self.parse_name()
            if self.accept_op("("):  # optional type list: accepted, ignored
                depth = 1
                while depth and not self.at_end():
                    if self.is_op("("):
                        depth += 1
                    elif self.is_op(")"):
                        depth -= 1
                    self.advance()
            self.expect_kw("as")
            tok = self.peek()
            if tok is None:
                raise self.error("expected a statement after PREPARE ... AS")
            text = self.sql[tok.pos:]
            while not self.at_end() and not self.is_op(";"):
                self.advance()
            if self.is_op(";"):  # body text must not include the terminator
                text = self.sql[tok.pos:self.peek().pos]
            return ast.Prepare(name=name, text=text.strip())
        if self.is_kw("execute") and self.peek(1) is not None \
                and self.peek(1).kind in ("name", "qname"):
            self.advance()
            name = self.parse_name()
            args = []
            if self.accept_op("("):
                if not self.is_op(")"):
                    args.append(self.parse_expr())
                    while self.accept_op(","):
                        args.append(self.parse_expr())
                self.expect_op(")")
            return ast.ExecutePrepared(name=name, args=tuple(args))
        if self.is_kw("deallocate"):
            self.advance()
            self.accept_kw("prepare")
            if self.accept_kw("all"):
                return ast.Deallocate(name=None)
            return ast.Deallocate(name=self.parse_name())
        if self.is_kw("explain"):
            self.advance()
            analyze = bool(self.accept_kw("analyze"))
            self.accept_kw("verbose")
            return ast.Explain(query=self.parse_query(), analyze=analyze)
        if self.is_kw("describe", "desc") and self.peek(1) is not None \
                and self.peek(1).kind in ("name", "qname"):
            self.advance()
            return ast.Describe(table=".".join(self.parse_dotted_name()))
        if self.is_kw("truncate"):
            self.advance()
            self.accept_kw("table")
            return ast.Delete(table=".".join(self.parse_dotted_name()))
        if self.is_kw("insert"):
            return self.parse_insert()
        if self.is_kw("merge"):
            return self.parse_merge()
        if self.is_kw("delete"):
            return self.parse_delete()
        if self.is_kw("update"):
            return self.parse_update()
        raise self.error("expected a statement")

    def parse_delete(self) -> ast.Delete:
        self.expect_kw("delete")
        self.expect_kw("from")
        table = ".".join(self.parse_dotted_name())
        using = None
        if self.accept_kw("using"):
            using = self.parse_from()
        where = self.parse_expr() if self.accept_kw("where") else None
        returning = (self.parse_select_list()
                     if self.accept_kw("returning") else ())
        return ast.Delete(table=table, where=where, returning=returning,
                          using=using)

    def parse_update(self) -> ast.Update:
        self.expect_kw("update")
        table = ".".join(self.parse_dotted_name())
        self.expect_kw("set")
        assigns = []
        while True:
            col = self.parse_name()
            self.expect_op("=")
            assigns.append((col, self.parse_expr()))
            if not self.accept_op(","):
                break
        from_ = None
        if self.accept_kw("from"):
            from_ = self.parse_from()
        where = self.parse_expr() if self.accept_kw("where") else None
        returning = (self.parse_select_list()
                     if self.accept_kw("returning") else ())
        return ast.Update(table=table, assignments=tuple(assigns),
                          where=where, returning=returning, from_=from_)

    def _merge_opt_alias(self, *stop_kws: str):
        if self.accept_kw("as"):
            return self.parse_name()
        tok = self.peek()
        if tok is not None and tok.kind in ("name", "qname") \
                and tok.value.lower() not in stop_kws:
            return self.parse_name()
        return None

    def parse_merge(self) -> ast.Node:
        """MERGE INTO t [AS a] USING s [AS b] ON cond WHEN ... THEN ...
        (pg 15 grammar + pg 17's NOT MATCHED BY SOURCE)."""
        self.expect_kw("merge")
        self.expect_kw("into")
        target = ".".join(self.parse_dotted_name())
        target_alias = self._merge_opt_alias("using")
        self.expect_kw("using")
        # any FROM-style relation: table [AS a], (query) a, (VALUES...)
        # v(cols), table_function(...)
        source = self.parse_table_primary()
        source_alias = self._merge_opt_alias("on")
        self.expect_kw("on")
        on = self.parse_expr()

        matched: List[ast.MergeAction] = []
        not_matched: List[ast.MergeAction] = []
        by_source: List[ast.MergeAction] = []
        while self.accept_kw("when"):
            if self.accept_kw("matched"):
                group = matched
            else:
                self.expect_kw("not")
                self.expect_kw("matched")
                group = not_matched
                if self.accept_kw("by"):
                    side = self.parse_name()
                    if side == "source":
                        group = by_source
                    elif side != "target":
                        raise self.error(
                            "expected TARGET or SOURCE after MATCHED BY")
            cond = self.parse_expr() if self.accept_kw("and") else None
            self.expect_kw("then")
            if self.accept_kw("update"):
                if group is not_matched:
                    raise self.error(
                        "UPDATE action requires WHEN MATCHED "
                        "or WHEN NOT MATCHED BY SOURCE")
                self.expect_kw("set")
                assigns = []
                while True:
                    col = self.parse_name()
                    self.expect_op("=")
                    assigns.append((col, self.parse_expr()))
                    if not self.accept_op(","):
                        break
                group.append(ast.MergeAction(
                    kind="update", condition=cond,
                    assignments=tuple(assigns)))
            elif self.accept_kw("delete"):
                if group is not_matched:
                    raise self.error(
                        "DELETE action requires WHEN MATCHED "
                        "or WHEN NOT MATCHED BY SOURCE")
                group.append(ast.MergeAction(kind="delete", condition=cond))
            elif self.accept_kw("insert"):
                if group is not not_matched:
                    raise self.error(
                        "INSERT action requires WHEN NOT MATCHED [BY TARGET]")
                cols: List[str] = []
                if self.is_op("("):
                    self.advance()
                    cols.append(self.parse_name())
                    while self.accept_op(","):
                        cols.append(self.parse_name())
                    self.expect_op(")")
                self.expect_kw("values")
                self.expect_op("(")
                vals = [self.parse_expr()]
                while self.accept_op(","):
                    vals.append(self.parse_expr())
                self.expect_op(")")
                group.append(ast.MergeAction(
                    kind="insert", condition=cond,
                    insert_columns=tuple(cols), insert_values=tuple(vals)))
            elif self.accept_kw("do"):
                self.expect_kw("nothing")
                group.append(ast.MergeAction(kind="nothing", condition=cond))
            else:
                raise self.error(
                    "expected UPDATE, DELETE, INSERT, or DO NOTHING")
        if not (matched or not_matched or by_source):
            raise self.error("MERGE requires at least one WHEN clause")
        returning = (self.parse_select_list()
                     if self.accept_kw("returning") else ())
        return ast.Merge(target=target, source=source, on=on,
                         target_alias=target_alias,
                         source_alias=source_alias,
                         matched=tuple(matched),
                         not_matched=tuple(not_matched),
                         not_matched_by_source=tuple(by_source),
                         returning=returning)

    def _parse_pivot_source(self) -> ast.Node:
        if self.is_op("("):
            self.advance()
            query = self.parse_query()
            self.expect_op(")")
            return query
        return ast.TableRef(parts=tuple(self.parse_dotted_name()))

    def parse_pivot(self) -> ast.Node:
        self.expect_kw("pivot")
        source = self._parse_pivot_source()
        self.expect_kw("on")
        on_col = self.parse_name()
        in_values: List[ast.Node] = []
        if self.accept_kw("in"):
            self.expect_op("(")
            in_values.append(self.parse_expr())
            while self.accept_op(","):
                in_values.append(self.parse_expr())
            self.expect_op(")")
        self.expect_kw("using")
        using = self.parse_expr()
        if not isinstance(using, ast.Call):
            raise self.error("PIVOT USING expects an aggregate call")
        alias = None
        if self.accept_kw("as"):
            alias = self.parse_name()
        group_by: List[str] = []
        if self.accept_kw("group"):
            self.expect_kw("by")
            group_by.append(self.parse_name())
            while self.accept_op(","):
                group_by.append(self.parse_name())
        order_by = self.parse_order_by() if self.is_kw("order") else ()
        return ast.Pivot(source=source, on_col=on_col, using=using,
                         using_alias=alias, in_values=tuple(in_values),
                         group_by=tuple(group_by), order_by=tuple(order_by))

    def parse_unpivot(self) -> ast.Node:
        self.expect_kw("unpivot")
        source = self._parse_pivot_source()
        self.expect_kw("on")
        on_cols = [self.parse_name()]
        while self.accept_op(","):
            on_cols.append(self.parse_name())
        name_col, value_col = "name", "value"
        if self.accept_kw("into"):
            self.expect_kw("name")
            name_col = self.parse_name()
            self.expect_kw("value")
            value_col = self.parse_name()
        return ast.Unpivot(source=source, on_cols=tuple(on_cols),
                           name_col=name_col, value_col=value_col)

    def parse_insert(self) -> ast.Node:
        self.expect_kw("insert")
        self.expect_kw("into")
        table = ".".join(self.parse_dotted_name())
        columns: List[str] = []
        if self.is_op("(") :
            self.advance()
            columns.append(self.parse_name())
            while self.accept_op(","):
                columns.append(self.parse_name())
            self.expect_op(")")
        if self.is_kw("default") and self.is_kw("values", offset=1):
            # pg INSERT ... DEFAULT VALUES: one row of column defaults —
            # this engine has no column defaults, so a row of NULLs
            self.advance()
            self.advance()
            query = None
        elif self.is_kw("values"):
            vals = self.parse_values()
            query = ast.Select(items=(ast.Star(),),
                               from_=ast.Values(rows=vals.rows,
                                                alias="__ins",
                                                column_names=tuple(columns)))
        else:
            query = self.parse_query()
        conflict_cols: List[str] = []
        action = None
        assigns: List[Tuple[str, ast.Node]] = []
        conflict_where = None
        if self.accept_kw("on"):
            self.expect_kw("conflict")
            if self.is_op("("):
                self.advance()
                conflict_cols.append(self.parse_name())
                while self.accept_op(","):
                    conflict_cols.append(self.parse_name())
                self.expect_op(")")
            self.expect_kw("do")
            if self.accept_kw("nothing"):
                action = "nothing"
            else:
                self.expect_kw("update")
                self.expect_kw("set")
                action = "update"
                while True:
                    col = self.parse_name()
                    self.expect_op("=")
                    assigns.append((col, self.parse_expr()))
                    if not self.accept_op(","):
                        break
                if self.accept_kw("where"):
                    conflict_where = self.parse_expr()
            if not conflict_cols:
                raise self.error(
                    "ON CONFLICT requires an explicit column list "
                    "(scope tables carry no unique constraints to infer)")
        returning = (self.parse_select_list()
                     if self.accept_kw("returning") else ())
        return ast.InsertInto(table=table, query=query,
                              columns=tuple(columns),
                              conflict_cols=tuple(conflict_cols),
                              conflict_action=action,
                              conflict_assignments=tuple(assigns),
                              conflict_where=conflict_where,
                              returning=returning)

    def parse_copy(self) -> ast.Node:
        self.expect_kw("copy")
        query = None
        table = ""
        if self.is_op("("):
            self.advance()
            query = self.parse_query()
            self.expect_op(")")
        else:
            table = ".".join(self.parse_dotted_name())
        direction = self.accept_kw("from", "to")
        if direction is None:
            raise self.error("expected FROM or TO in COPY")
        if query is not None and direction != "to":
            raise self.error("COPY (query) supports only TO")
        tok = self.peek()
        if tok is None or tok.kind != "string":
            raise self.error("expected quoted path in COPY")
        self.advance()
        path = unquote_string(tok.value)
        options: List[Tuple[str, str]] = []
        if self.accept_kw("with"):
            self.expect_op("(")
            while True:
                key = self.parse_name()
                val_tok = self.peek()
                if val_tok is not None and val_tok.kind == "string":
                    self.advance()
                    val = unquote_string(val_tok.value)
                elif val_tok is not None and val_tok.kind in ("name", "number"):
                    self.advance()
                    val = val_tok.value
                else:
                    raise self.error("expected option value in COPY WITH")
                options.append((key, val))
                if not self.accept_op(","):
                    break
            self.expect_op(")")
        if direction == "from":
            return ast.CopyFrom(table=table, path=path, options=tuple(options))
        return ast.CopyTo(table=table, path=path, options=tuple(options),
                          query=query)

    def parse_create_table_as(self) -> ast.CreateTableAs:
        self.expect_kw("create")
        replace = False
        if self.accept_kw("or"):
            self.expect_kw("replace")
            replace = True
        # CREATE VIEW == CREATE TABLE AS here: scope entries are lazy
        # DataFrames, so every "table" in the scope already IS a view.
        # MATERIALIZED views are the opposite: frozen at creation,
        # re-computed only by REFRESH.
        # TEMP/TEMPORARY/UNLOGGED are storage hints pg-side; scope tables
        # are session-local lazy DataFrames already. The flag is kept on
        # the AST (r12): when the executor has a durable table_root, TEMP
        # tables stay session-only while plain tables persist to parquet.
        temp = bool(self.accept_kw("temp") or self.accept_kw("temporary")
                    or self.accept_kw("unlogged"))
        materialized = False
        view = False
        if self.is_kw("materialized"):
            self.advance()
            self.expect_kw("view")
            materialized = True
        elif self.accept_kw("view"):
            view = True
        else:
            self.expect_kw("table")
        if_not_exists = False
        if self.accept_kw("if"):
            self.expect_kw("not")
            self.expect_kw("exists")
            if_not_exists = True
        name = ".".join(self.parse_dotted_name())
        self.expect_kw("as")
        query = self.parse_query()
        return ast.CreateTableAs(name=name, query=query, replace=replace,
                                 materialized=materialized,
                                 if_not_exists=if_not_exists,
                                 temp=temp, view=view)

    def parse_drop_table(self) -> ast.DropTable:
        self.expect_kw("drop")
        if self.accept_kw("materialized"):
            self.expect_kw("view")
        elif not self.accept_kw("view"):
            self.expect_kw("table")
        if_exists = False
        if self.is_kw("if"):
            self.advance()
            self.expect_kw("exists")
            if_exists = True
        names = [".".join(self.parse_dotted_name())]
        while self.accept_op(","):
            names.append(".".join(self.parse_dotted_name()))
        return ast.DropTable(names=tuple(names), if_exists=if_exists)

    def parse_alter(self) -> ast.AlterRename:
        self.expect_kw("alter")
        if self.accept_kw("materialized"):
            self.expect_kw("view")
        elif not self.accept_kw("view"):
            self.expect_kw("table")
        if_exists = False
        if self.accept_kw("if"):
            self.expect_kw("exists")
            if_exists = True
        old = ".".join(self.parse_dotted_name())
        if not self.accept_kw("rename"):
            raise self.error(
                "only ALTER TABLE/VIEW ... RENAME TO is supported "
                "(scope tables are schemaless lazy DataFrames — column "
                "DDL belongs in the defining query)")
        self.expect_kw("to")
        new = ".".join(self.parse_dotted_name())
        return ast.AlterRename(old=old, new=new, if_exists=if_exists)

    def parse_set(self) -> ast.Node:
        self.expect_kw("set")
        if not (self.accept_kw("session") or self.accept_kw("local")):
            pass
        if self.is_kw("time") and self.is_kw("zone", offset=1):
            self.advance()
            self.advance()
            tok = self.advance()
            val = unquote_string(tok.value) if tok.kind == "string" \
                else tok.value
            return ast.SetOption(name="timezone", value=val)
        parts = [self.advance().value.lower()]
        while self.accept_op("."):
            parts.append(self.advance().value.lower())
        name = ".".join(parts)
        if not (self.accept_kw("to") or self.accept_op("=")):
            raise self.error("expected TO or = after SET name")
        vals = []
        while not self.at_end() and not self.is_op(";"):
            tok = self.advance()
            if tok.kind == "string":
                vals.append(unquote_string(tok.value))
            elif tok.value != ",":
                vals.append(tok.value)
        return ast.SetOption(name=name, value=", ".join(vals))

    def parse_show(self) -> ast.ShowOption:
        self.expect_kw("show")
        parts = [self.advance().value.lower()]
        while not self.at_end() and not self.is_op(";"):
            parts.append(self.advance().value.lower())
        return ast.ShowOption(option=" ".join(parts))

    # ---------------------------------------------------------------- queries

    def parse_query(self) -> ast.Node:
        """Query with optional WITH prefix and set-op chain."""
        self._q_depth += 1
        try:
            return self._parse_query_inner()
        finally:
            self._q_depth -= 1

    def _parse_query_inner(self) -> ast.Node:
        ctes: Tuple[ast.CTE, ...] = ()
        if self.is_kw("with"):
            ctes = self.parse_with()
        node = self.parse_set_expr()
        if ctes:
            if isinstance(node, ast.Select):
                node = ast.Select(**{**_select_kwargs(node), "ctes": ctes})
            else:
                # attach CTEs to the leftmost select of a set-op tree
                node = _attach_ctes(node, ctes)
        return node

    def parse_with(self) -> Tuple[ast.CTE, ...]:
        self.expect_kw("with")
        recursive = bool(self.accept_kw("recursive"))
        ctes: List[ast.CTE] = []
        while True:
            name = self.parse_name()
            columns: Tuple[str, ...] = ()
            if self.is_op("("):
                self.advance()
                cols = [self.parse_name()]
                while self.accept_op(","):
                    cols.append(self.parse_name())
                self.expect_op(")")
                columns = tuple(cols)
            self.expect_kw("as")
            # pg inlining hints — semantically transparent, accepted + ignored
            if self.is_kw("not") and self.is_kw("materialized", offset=1):
                self.advance()
                self.advance()
            else:
                self.accept_kw("materialized")
            self.expect_op("(")
            query = self.parse_query()
            self.expect_op(")")
            # a WITH RECURSIVE item whose body is `base UNION [ALL] step` is
            # the iterative form; a recursive item without a set-op body is
            # treated as plain (pg does the same — RECURSIVE marks the WITH
            # list, not each item)
            is_rec = recursive and isinstance(query, ast.SetOp) \
                and query.op in ("union", "union all")
            # non-recursive CTE bodies may be any query expression (pg
            # allows WITH r AS (SELECT .. UNION ALL SELECT ..)); only
            # reject nodes the CTE compiler cannot evaluate
            if not is_rec and not isinstance(query, (ast.Select, ast.SetOp)):
                raise self.error("CTE body must be a SELECT or a set operation")
            search = None
            if self.is_kw("search"):
                # pg 14: SEARCH BREADTH|DEPTH FIRST BY cols SET col
                self.advance()
                mode = self.accept_kw("breadth", "depth")
                if mode is None:
                    raise self.error("expected BREADTH or DEPTH after SEARCH")
                self.expect_kw("first")
                self.expect_kw("by")
                by = [self.parse_name()]
                while self.accept_op(","):
                    by.append(self.parse_name())
                self.expect_kw("set")
                search = (mode, tuple(by), self.parse_name())
                if not is_rec:
                    raise self.error(
                        "SEARCH applies only to recursive CTEs")
            cycle = None
            if self.is_kw("cycle"):
                # pg 14: CYCLE cols SET col [TO mark DEFAULT deflt] USING
                # path — per-row provenance threaded by the compiler
                self.advance()
                cyc_cols = [self.parse_name()]
                while self.accept_op(","):
                    cyc_cols.append(self.parse_name())
                self.expect_kw("set")
                cyc_set = self.parse_name()
                mark, deflt = True, False
                if self.accept_kw("to"):
                    mark = self._parse_cycle_mark("TO")
                    self.expect_kw("default")
                    deflt = self._parse_cycle_mark("DEFAULT")
                self.expect_kw("using")
                cyc_path = self.parse_name()
                if not is_rec:
                    raise self.error("CYCLE applies only to recursive CTEs")
                cycle = (tuple(cyc_cols), cyc_set, cyc_path, mark, deflt)
            ctes.append(ast.CTE(name=name, query=query, recursive=is_rec,
                                columns=columns, search=search, cycle=cycle))
            if not self.accept_op(","):
                break
        return tuple(ctes)

    def _parse_cycle_mark(self, clause: str):
        """CYCLE ... SET col TO <literal> DEFAULT <literal>: the mark values
        must be constants (pg restricts them likewise)."""
        node = self.parse_expr()
        if isinstance(node, ast.Unary) and node.op == "-" and \
                isinstance(node.operand, ast.Literal):
            return -node.operand.value
        if not isinstance(node, ast.Literal):
            raise self.error(f"CYCLE {clause} value must be a literal")
        return node.value

    def parse_set_expr(self) -> ast.Node:
        # SQL set-op precedence: INTERSECT binds tighter than UNION/EXCEPT
        # (a UNION b INTERSECT c == a UNION (b INTERSECT c)); same-level
        # operators associate left
        left = self._parse_intersect_chain()
        while self.is_kw("union", "except"):
            op = self.advance().value.lower()
            if self.accept_kw("all"):
                op += " all"
            else:
                self.accept_kw("distinct")
            right = self._parse_intersect_chain()
            left = ast.SetOp(op=op, left=left, right=right)
        return self._parse_trailing(left)

    def _parse_intersect_chain(self) -> ast.Node:
        left = self.parse_select_core()
        while self.is_kw("intersect"):
            self.advance()
            op = "intersect all" if self.accept_kw("all") else "intersect"
            if op == "intersect":
                self.accept_kw("distinct")
            right = self.parse_select_core()
            left = ast.SetOp(op=op, left=left, right=right)
        return left

    def _parse_trailing(self, left: ast.Node) -> ast.Node:
        """Trailing ORDER BY / LIMIT / OFFSET / FETCH (applies to the whole
        query — set-op chain, single select, or top-level VALUES) plus the
        pg row-locking clause, accepted and ignored: FOR UPDATE/SHARE locks
        rows of a mutable heap, and this engine's tables are immutable
        DataFrame snapshots rebound per statement — there is nothing to
        lock, matching how pg treats SELECTs outside a transaction."""
        order_by = self.parse_order_by() if self.is_kw("order") else ()
        limit = offset = None
        limit_ties = False
        if self.accept_kw("limit"):
            limit = None if self.accept_kw("all") else self.parse_expr()
        if self.accept_kw("offset"):
            offset = self.parse_expr()
            self.accept_kw("row") or self.accept_kw("rows")  # ANSI form
        if self.is_kw("fetch"):
            # ANSI: FETCH FIRST|NEXT [n] ROW|ROWS ONLY  (== LIMIT n)
            self.advance()
            if self.accept_kw("first") is None and self.accept_kw("next") is None:
                raise self.error("expected FIRST or NEXT after FETCH")
            tok = self.peek()
            if tok is not None and tok.kind == "number":
                limit = self.parse_expr()
            else:
                limit = ast.Literal(1, "int")
            if self.accept_kw("row") is None and self.accept_kw("rows") is None:
                raise self.error("expected ROW or ROWS in FETCH")
            if self.accept_kw("with"):
                self.expect_kw("ties")
                limit_ties = True
                if not order_by and not (
                        isinstance(left, (ast.Select, ast.SetOp))
                        and left.order_by):
                    raise self.error(
                        "FETCH ... WITH TIES requires ORDER BY")
            else:
                self.expect_kw("only")
        if order_by or limit is not None or offset is not None:
            if isinstance(left, ast.SetOp):
                left = ast.SetOp(op=left.op, left=left.left, right=left.right,
                                 order_by=order_by, limit=limit, offset=offset,
                                 limit_ties=limit_ties)
            else:
                left = ast.Select(**{**_select_kwargs(left),
                                     "order_by": order_by, "limit": limit,
                                     "offset": offset,
                                     "limit_ties": limit_ties})
        while self.accept_kw("for"):
            if self.accept_kw("no"):
                self.expect_kw("key")
                self.expect_kw("update")
            elif self.accept_kw("key"):
                self.expect_kw("share")
            elif not (self.accept_kw("update") or self.accept_kw("share")):
                raise self.error(
                    "expected UPDATE, SHARE, NO KEY UPDATE, or KEY SHARE")
            if self.accept_kw("of"):
                self.parse_dotted_name()
                while self.accept_op(","):
                    self.parse_dotted_name()
            self.accept_kw("nowait") or (
                self.accept_kw("skip") and self.expect_kw("locked"))
        return left

    def parse_select_core(self) -> ast.Node:
        if self.accept_op("("):
            node = self.parse_query()
            self.expect_op(")")
            return node
        if self.is_kw("table") and self.peek(1) is not None \
                and self.peek(1).kind in ("name", "qname"):
            # pg: TABLE t is a select_core alternative (usable in UNION)
            self.advance()
            return ast.Select(items=(ast.Star(),),
                              from_=ast.TableRef(
                                  parts=tuple(self.parse_dotted_name())))
        self.expect_kw("select")
        distinct = False
        distinct_on = ()
        if self.accept_kw("distinct"):
            distinct = True
            if self.accept_kw("on"):
                self.expect_op("(")
                exprs = [self.parse_expr()]
                while self.accept_op(","):
                    exprs.append(self.parse_expr())
                self.expect_op(")")
                distinct_on = tuple(exprs)
                distinct = False
        else:
            self.accept_kw("all")
        items = self.parse_select_list()
        if self.accept_kw("into"):
            # pg legacy CTAS: SELECT ... INTO t FROM ... — only valid in the
            # top-level select (pg rejects it in subqueries and in queries
            # nested under INSERT / CREATE TABLE AS / MERGE, whose
            # parse_query calls also start at depth 1)
            if (self._q_depth > 1 or not self._into_allowed
                    or self._select_into is not None):
                raise self.error("SELECT INTO is only allowed at the top level")
            self.accept_kw("table")
            self._select_into = ".".join(self.parse_dotted_name())
        from_ = None
        if self.accept_kw("from"):
            from_ = self.parse_from()
        where = None
        if self.accept_kw("where"):
            where = self.parse_expr()
        group_by: Tuple[ast.Node, ...] = ()
        if self.is_kw("group"):
            self.advance()
            self.expect_kw("by")
            # pg 14 GROUP BY [ALL|DISTINCT]: DISTINCT dedups the expanded
            # grouping sets ('ALL' bare remains the DuckDB desugar below —
            # pg's no-op ALL modifier is only meaningful before a grouping
            # element, which the bare-ALL branch is not)
            gb_distinct = bool(self.accept_kw("distinct"))
            if self.is_kw("rollup", "cube") and self.is_op("(", offset=1):
                kind = self.advance().value.lower()
                self.advance()
                exprs = [self.parse_expr()]
                while self.accept_op(","):
                    exprs.append(self.parse_expr())
                self.expect_op(")")
                cls = ast.Rollup if kind == "rollup" else ast.Cube
                group_by = (cls(exprs=tuple(exprs),
                                distinct=gb_distinct),)
            elif self.is_kw("grouping") and self.is_kw("sets", offset=1):
                self.advance()
                self.advance()
                self.expect_op("(")
                sets = []
                while True:
                    self.expect_op("(")
                    one: List[ast.Node] = []
                    if not self.is_op(")"):
                        one.append(self.parse_expr())
                        while self.accept_op(","):
                            one.append(self.parse_expr())
                    self.expect_op(")")
                    sets.append(tuple(one))
                    if not self.accept_op(","):
                        break
                self.expect_op(")")
                group_by = (ast.GroupingSets(sets=tuple(sets),
                                             distinct=gb_distinct),)
            elif self.is_kw("all"):
                # GROUP BY ALL (DuckDB/modern SQL): group by every
                # select-list expression that contains no aggregate or
                # window call — desugared here, where the items are in hand
                # (lazy import: the compiler imports parser.ast)
                from ..compiler.expressions import AGG_NAMES
                from ..compiler.rewrite import contains_aggregate, walk

                self.advance()
                keys = []
                for it in items:
                    if not isinstance(it, ast.SelectItem):
                        raise self.error(
                            "GROUP BY ALL cannot expand a * select item")
                    if not (contains_aggregate(it.expr, AGG_NAMES)
                            or any(isinstance(n, ast.WindowCall)
                                   for n in walk(it.expr))):
                        keys.append(it.expr)
                group_by = tuple(keys)
            else:
                exprs = [self.parse_expr()]
                while self.accept_op(","):
                    exprs.append(self.parse_expr())
                group_by = tuple(exprs)
        having = None
        if self.accept_kw("having"):
            having = self.parse_expr()
        windows: List[Tuple[str, ast.WindowSpec]] = []
        if self.is_kw("window"):
            self.advance()
            while True:
                wname = self.parse_name()
                self.expect_kw("as")
                windows.append((wname, self.parse_window_spec()))
                if not self.accept_op(","):
                    break
        qualify = None
        if self.accept_kw("qualify"):
            qualify = self.parse_expr()
        # ORDER BY / LIMIT / OFFSET are parsed at the set-expression level
        # (parse_set_expr) so they bind to a whole UNION chain
        return ast.Select(
            items=items, from_=from_, where=where, group_by=group_by,
            having=having, distinct=distinct, distinct_on=distinct_on,
            windows=tuple(windows), qualify=qualify,
        )

    def parse_order_by(self) -> Tuple[ast.SortItem, ...]:
        self.expect_kw("order")
        self.expect_kw("by")
        out: List[ast.SortItem] = []
        while True:
            expr = self.parse_expr()
            ascending = True
            if self.accept_kw("desc"):
                ascending = False
            elif self.is_kw("using"):
                # pg ORDER BY expr USING op: pg only accepts the strict
                # btree operators (< asc, > desc); <=/>= are rejected with
                # "is not a valid ordering operator", matched here
                self.advance()
                if self.accept_op("<"):
                    ascending = True
                elif self.accept_op(">"):
                    ascending = False
                else:
                    raise self.error(
                        "ORDER BY ... USING supports < and > only "
                        "(<=/>= are not valid ordering operators)")
            else:
                self.accept_kw("asc")
            nulls = None
            if self.accept_kw("nulls"):
                nulls = self.accept_kw("first", "last")
                if nulls is None:
                    raise self.error("expected FIRST or LAST after NULLS")
            out.append(ast.SortItem(expr=expr, ascending=ascending, nulls=nulls))
            if not self.accept_op(","):
                break
        return tuple(out)

    def parse_select_list(self) -> Tuple[ast.Node, ...]:
        items: List[ast.Node] = []
        while True:
            items.append(self.parse_select_item())
            if not self.accept_op(","):
                break
        return tuple(items)

    def parse_select_item(self) -> ast.Node:
        # bare * / t.* / t.schema.*
        if self.is_op("*"):
            self.advance()
            return ast.Star()
        expr = self.parse_expr()
        if isinstance(expr, ast.Star):
            return expr
        alias = None
        if self.accept_kw("as"):
            alias = self.parse_name()
        else:
            tok = self.peek()
            if tok is not None and (
                (tok.kind == "name" and tok.value.lower() not in RESERVED_STOP)
                or tok.kind == "qname"
            ):
                alias = self.parse_name()
        return ast.SelectItem(expr=expr, alias=alias)

    # ------------------------------------------------------------------- FROM

    def parse_from(self) -> ast.Node:
        rel = self.parse_join_chain()
        while self.accept_op(","):
            if self.accept_kw("lateral"):
                right = self.parse_table_primary()
                if isinstance(right, (ast.TableFunction, ast.SubqueryRel)):
                    import dataclasses as _dc

                    right = _dc.replace(right, lateral=True)
                rel = ast.Join(kind="cross", left=rel, right=right)
            else:
                right = self.parse_join_chain()
                rel = ast.Join(kind="cross", left=rel, right=right)
        return rel

    def parse_join_chain(self) -> ast.Node:
        left = self.parse_table_primary()
        while True:
            kind = None
            if self.accept_kw("cross"):
                self.expect_kw("join")
                right = self.parse_table_primary()
                left = ast.Join(kind="cross", left=left, right=right)
                continue
            if self.is_kw("asof") and (
                    self.is_kw("join", offset=1)
                    or (self.is_kw("left", "inner", offset=1)
                        and self.is_kw("join", offset=2))):
                # DuckDB-style ASOF [LEFT|INNER] JOIN — time-series join
                # sugar over the asof operator; `asof` stays usable as an
                # ordinary identifier (the lookahead requires JOIN).
                self.advance()
                kind = "asof_" + (self.accept_kw("left", "inner") or "inner")
                self.expect_kw("join")
                right = self.parse_table_primary()
                self.expect_kw("on")
                cond = self.parse_expr()
                left = ast.Join(kind=kind, left=left, right=right,
                                condition=cond)
                continue
            natural = False
            if self.is_kw("natural"):
                self.advance()
                natural = True
            if self.is_kw("inner", "left", "right", "full"):
                kind = self.advance().value.lower()
                self.accept_kw("outer")
                self.expect_kw("join")
            elif self.is_kw("join"):
                self.advance()
                kind = "inner"
            elif natural:
                raise self.error("expected a join type after NATURAL")
            else:
                break
            right = self.parse_table_primary()
            if natural:
                # NATURAL JOIN: USING(all common columns), resolved at
                # compile time when both schemas are known
                left = ast.Join(kind=kind, left=left, right=right,
                                using=("__natural__",))
            elif self.accept_kw("using"):
                self.expect_op("(")
                cols = [self.parse_name()]
                while self.accept_op(","):
                    cols.append(self.parse_name())
                self.expect_op(")")
                left = ast.Join(kind=kind, left=left, right=right, using=tuple(cols))
            else:
                self.expect_kw("on")
                cond = self.parse_expr()
                left = ast.Join(kind=kind, left=left, right=right, condition=cond)
        return left

    def parse_table_primary(self) -> ast.Node:
        lateral = bool(self.accept_kw("lateral"))
        # pg inheritance qualifier: FROM ONLY t — a no-op here (no table
        # inheritance), consumed only when a table reference follows so a
        # table actually named "only" still resolves
        if self.is_kw("only") and self.peek(1) is not None \
                and self.peek(1).kind in ("name", "qname"):
            self.advance()
        if self.is_op("("):
            self.advance()
            if self.is_kw("values"):
                node = self.parse_values()
                self.expect_op(")")
                alias, colnames = self.parse_values_alias()
                return ast.Values(rows=node.rows, alias=alias,
                                  column_names=colnames)
            if self.is_kw("pivot"):
                query = self.parse_pivot()
            elif self.is_kw("unpivot"):
                query = self.parse_unpivot()
            else:
                query = self.parse_query()
            self.expect_op(")")
            alias = self.parse_optional_alias()
            if alias is None:
                raise ParseError("subquery in FROM requires an alias")
            if not isinstance(query, ast.Select):
                # wrap set-op in a trivial select for uniform handling
                query = ast.Select(items=(ast.Star(),), from_=ast.SubqueryRel(query=query, alias="__setop"))
            return ast.SubqueryRel(query=query, alias=alias, lateral=lateral)
        parts = self.parse_dotted_name()
        if parts[-1].lower() == "json_table" and self.is_op("("):
            return self.parse_json_table(lateral)
        if self.is_op("("):
            # table function
            self.advance()
            args: List[ast.Node] = []
            if not self.is_op(")"):
                args.append(self.parse_expr())
                while self.accept_op(","):
                    args.append(self.parse_expr())
            self.expect_op(")")
            ordinality = False
            if self.accept_kw("with"):
                self.expect_kw("ordinality")
                ordinality = True
            alias, colnames = self.parse_values_alias()
            return ast.TableFunction(
                name=parts[-1].lower(), args=tuple(args), alias=alias,
                lateral=lateral, ordinality=ordinality,
                column_names=colnames,
            )
        alias = self.parse_optional_alias()
        sample_percent = sample_seed = None
        if self.is_kw("tablesample"):
            self.advance()
            method = self.parse_name().lower()
            if method not in ("bernoulli", "system"):
                raise self.error("TABLESAMPLE method must be BERNOULLI or SYSTEM")
            self.expect_op("(")
            tok = self.peek()
            if tok is None or tok.kind != "number":
                raise self.error("expected sample percentage")
            self.advance()
            sample_percent = float(tok.value)
            self.expect_op(")")
            if self.accept_kw("repeatable"):
                self.expect_op("(")
                tok = self.peek()
                if tok is None or tok.kind != "number":
                    raise self.error("expected REPEATABLE seed")
                self.advance()
                sample_seed = int(float(tok.value))
                self.expect_op(")")
        return ast.TableRef(parts=tuple(parts), alias=alias,
                            sample_percent=sample_percent,
                            sample_seed=sample_seed)

    def parse_values(self) -> ast.Values:
        self.expect_kw("values")
        rows = []
        while True:
            self.expect_op("(")
            row = [self.parse_expr()]
            while self.accept_op(","):
                row.append(self.parse_expr())
            self.expect_op(")")
            rows.append(tuple(row))
            if not self.accept_op(","):
                break
        return ast.Values(rows=tuple(rows))

    def parse_values_alias(self):
        alias = self.parse_optional_alias()
        colnames = ()
        if alias is not None and self.accept_op("("):
            names = [self.parse_name()]
            while self.accept_op(","):
                names.append(self.parse_name())
            self.expect_op(")")
            colnames = tuple(names)
        return alias, colnames

    def parse_optional_alias(self) -> Optional[str]:
        if self.accept_kw("as"):
            return self.parse_name()
        tok = self.peek()
        if (tok is not None and tok.kind == "name"
                and tok.value.lower() == "asof"
                and (self.is_kw("join", offset=1)
                     or (self.is_kw("left", "inner", offset=1)
                         and self.is_kw("join", offset=2)))):
            return None  # ASOF [LEFT|INNER] JOIN, not an implicit alias
        if tok is not None and (
            (tok.kind == "name" and tok.value.lower() not in RESERVED_STOP)
            or tok.kind == "qname"
        ):
            return self.parse_name()
        return None

    def parse_dotted_name(self) -> List[str]:
        parts = [self.parse_name()]
        while self.is_op(".") and not self.is_op("*", offset=1):
            self.advance()
            parts.append(self.parse_name())
        return parts

    # ------------------------------------------------------------ expressions

    def parse_expr(self) -> ast.Node:
        return self.parse_or()

    def parse_or(self) -> ast.Node:
        left = self.parse_and()
        while self.is_kw("or"):
            self.advance()
            left = ast.Binary(op="or", left=left, right=self.parse_and())
        return left

    def parse_and(self) -> ast.Node:
        left = self.parse_not()
        while self.is_kw("and"):
            self.advance()
            left = ast.Binary(op="and", left=left, right=self.parse_not())
        return left

    def parse_not(self) -> ast.Node:
        if self.accept_kw("not"):
            return ast.Unary(op="not", operand=self.parse_not())
        return self.parse_predicate()

    def parse_predicate(self) -> ast.Node:
        left = self.parse_concat()
        while True:
            if self.is_op("=", "!=", "<>", "<", "<=", ">", ">=", "!>", "!<"):
                # T-SQL negated comparisons (tokenized by the reference,
                # reference: src/framequery/parser/_parser.py:206):
                # !> is "not greater" == <=, !< is "not less" == >=
                op = self.advance().value
                op = {"!>": "<=", "!<": ">="}.get(op, op)
                # quantified comparison: op ANY|SOME|ALL (subquery)
                if (self.is_kw("any", "some", "all") and self.is_op("(", offset=1)
                        and self.is_kw("select", "with", offset=2)):
                    quant = self.advance().value.lower()
                    self.advance()  # (
                    query = self.parse_query()
                    self.expect_op(")")
                    quant = "any" if quant == "some" else quant
                    # pg equivalences: `= ANY (sub)` IS `IN (sub)` and
                    # `<> ALL (sub)` IS `NOT IN (sub)` — desugar here so
                    # they get the semi/anti join plan
                    if op == "=" and quant == "any":
                        left = ast.InSubquery(expr=left, query=query)
                        continue
                    if op in ("<>", "!=") and quant == "all":
                        left = ast.InSubquery(expr=left, query=query,
                                              negated=True)
                        continue
                    left = ast.QuantComp(
                        op=op, expr=left, quantifier=quant, query=query)
                    continue
                # pg array form: x op ANY|ALL(array_expr)
                if self.is_kw("any", "some", "all") and self.is_op("(", offset=1):
                    quant = self.advance().value.lower()
                    self.advance()  # (
                    arr = self.parse_expr()
                    self.expect_op(")")
                    left = ast.Call(
                        name="__quant_array",
                        args=(left, arr,
                              ast.Literal(op, "string"),
                              ast.Literal(
                                  "any" if quant == "some" else quant,
                                  "string")))
                    continue
                right = self.parse_concat()
                left = ast.Binary(op=op, left=left, right=right)
                continue
            negated = False
            save = self.i
            if self.accept_kw("not"):
                negated = True
                if not self.is_kw("in", "like", "ilike", "between", "similar"):
                    self.i = save
                    break
            if self.accept_kw("is"):
                neg2 = bool(self.accept_kw("not"))
                if self.accept_kw("null"):
                    left = ast.IsNull(expr=left, negated=neg2)
                elif self.is_kw("true", "false"):
                    # pg IS [NOT] TRUE/FALSE never returns NULL: NULL input
                    # -> IS TRUE/FALSE false, IS NOT TRUE/FALSE true. That
                    # is exactly null-safe (not-)distinct-from the literal.
                    val = self.advance().value.lower() == "true"
                    dist = ast.Call(name="__is_distinct_from",
                                    args=(left, ast.Literal(val, "bool")))
                    left = dist if neg2 else ast.Unary(op="not", operand=dist)
                elif self.accept_kw("unknown"):
                    # boolean IS UNKNOWN == IS NULL
                    left = ast.IsNull(expr=left, negated=neg2)
                elif self.accept_kw("distinct"):
                    self.expect_kw("from")
                    right = self.parse_concat()
                    node = ast.Call(name="__is_distinct_from", args=(left, right))
                    left = ast.Unary(op="not", operand=node) if neg2 else node
                elif self.accept_kw("json"):
                    # pg 16 IS [NOT] JSON [VALUE|SCALAR|ARRAY|OBJECT]
                    kind = "value"
                    if self.is_kw("value", "scalar", "array", "object"):
                        kind = self.advance().value.lower()
                    node = ast.Call(name="__is_json",
                                    args=(left, ast.Literal(kind, "string")))
                    left = ast.Unary(op="not", operand=node) if neg2 else node
                elif self.is_kw("normalized") or (
                        self.is_kw("nfc", "nfd", "nfkc", "nfkd")
                        and self.is_kw("normalized", offset=1)):
                    # pg 13 IS [NOT] [form] NORMALIZED
                    form = "NFC"
                    if not self.is_kw("normalized"):
                        form = self.advance().value.upper()
                    self.expect_kw("normalized")
                    node = ast.Call(name="__is_normalized", args=(
                        left, ast.Literal(form, "string")))
                    left = ast.Unary(op="not", operand=node) if neg2 else node
                else:
                    raise self.error(
                        "expected NULL/TRUE/FALSE/UNKNOWN/DISTINCT FROM/"
                        "JSON/NORMALIZED after IS")
                continue
            if self.accept_kw("in"):
                self.expect_op("(")
                if self.is_kw("select", "with"):
                    query = self.parse_query()
                    self.expect_op(")")
                    left = ast.InSubquery(expr=left, query=query, negated=negated)
                else:
                    items = [self.parse_expr()]
                    while self.accept_op(","):
                        items.append(self.parse_expr())
                    self.expect_op(")")
                    left = ast.InList(expr=left, items=tuple(items), negated=negated)
                continue
            if self.is_kw("like", "ilike"):
                ci = self.advance().value.lower() == "ilike"
                # pg quantified pattern: x [NOT] LIKE ANY|SOME|ALL (array)
                # — NOT binds to the per-element match (pg: NOT LIKE ANY
                # is exists(e: x not like e)), the quantifier to the fold
                if (self.is_kw("any", "some", "all")
                        and self.is_op("(", offset=1)):
                    quant = self.advance().value.lower()
                    self.advance()  # (
                    if self.is_kw("select", "with"):
                        # pg subquery form: LIKE ANY (SELECT pattern ...) —
                        # gather the patterns with the ARRAY(subquery)
                        # machinery (1-row aggregate, broadcast; NULL
                        # patterns survive the struct-collect) and reuse
                        # the same array fold
                        arr = ast.ArraySubquery(query=self.parse_query())
                    else:
                        arr = self.parse_expr()
                    self.expect_op(")")
                    left = ast.Call(name="__quant_like", args=(
                        left, arr, ast.Literal(ci, "bool"),
                        ast.Literal(negated, "bool"),
                        ast.Literal("any" if quant == "some" else quant,
                                    "string")))
                    continue
                pattern = self.parse_concat()
                escape = None
                if self.accept_kw("escape"):
                    escape = self.parse_concat()
                left = ast.Like(expr=left, pattern=pattern, negated=negated,
                                case_insensitive=ci, escape=escape)
                continue
            if self.is_op("^@"):
                # pg 11 starts-with operator
                self.advance()
                left = ast.Call(name="starts_with",
                                args=(left, self.parse_concat()))
                continue
            if self.is_op("~~", "~~*", "!~~", "!~~*"):
                # pg operator spellings of LIKE / ILIKE / NOT (I)LIKE
                op = self.advance().value
                pattern = self.parse_concat()
                left = ast.Like(expr=left, pattern=pattern,
                                negated=op.startswith("!"),
                                case_insensitive=op.endswith("*"))
                continue
            if self.is_op("~", "~*", "!~", "!~*"):
                # pg POSIX regex match operators (partial match, unlike
                # DuckDB's anchored ~)
                op = self.advance().value
                pattern = self.parse_concat()
                node = ast.Call(
                    name="__regex_match",
                    args=(left, pattern,
                          ast.Literal(op in ("~*", "!~*"), "bool")))
                left = (ast.Unary(op="not", operand=node)
                        if op.startswith("!") else node)
                continue
            if self.is_op("-|-"):
                # pg range adjacency
                self.advance()
                right = self.parse_concat()
                left = ast.Call(name="__range_adjacent", args=(left, right))
                continue
            if self.is_op("@@"):
                # pg full-text match (tsvector @@ tsquery, either order)
                self.advance()
                right = self.parse_concat()
                left = ast.Call(name="__ts_match", args=(left, right))
                continue
            if self.is_op("<->", "<#>", "<=>"):
                # pgvector distance operators over array columns:
                # <-> L2, <#> NEGATIVE inner product (pgvector's index-
                # friendly spelling), <=> cosine distance
                op = self.advance().value
                right = self.parse_concat()
                fn = {"<->": "l2_distance",
                      "<#>": "__neg_inner_product",
                      "<=>": "cosine_distance"}[op]
                left = ast.Call(name=fn, args=(left, right))
                continue
            if self.is_op("<%", "%>", "<<%", "%>>"):
                # pg_trgm word-similarity operators: the word is on the
                # <-side (a <% b == word_similarity(a, b) over threshold;
                # %> is the swapped spelling); << / >> = strict variants
                op = self.advance().value
                right = self.parse_concat()
                word, text = (left, right) if "<" in op else (right, left)
                left = ast.Call(
                    name="__trgm_word_match",
                    args=(word, text,
                          ast.Literal(len(op) == 3, "bool")))
                continue
            if self.is_op("@?"):
                # pg jsonb @? jsonpath == jsonb_path_exists(left, right)
                self.advance()
                right = self.parse_concat()
                left = ast.Call(name="jsonb_path_exists",
                                args=(left, right))
                continue
            if self.is_op("?", "?|", "?&", "#-"):
                # pg jsonb operators: key/element existence (?, ?|, ?&)
                # and path deletion (#-) — jsonb-only in pg's grammar too,
                # so no type dispatch is needed
                op = self.advance().value
                right = self.parse_concat()
                fn = {"?": "__jsonb_exists", "?|": "__jsonb_exists_any",
                      "?&": "__jsonb_exists_all",
                      "#-": "__jsonb_delete_path"}[op]
                left = ast.Call(name=fn, args=(left, right))
                continue
            if self.is_op("@>", "<@", "&&"):
                # pg array/range operators: contains / contained-by /
                # overlaps (range dispatch happens at compile time)
                op = self.advance().value
                right = self.parse_concat()
                fn = {"@>": "array_contains_all",
                      "<@": "__array_contained", "&&": "array_overlaps"}[op]
                if fn == "__array_contained":
                    left = ast.Call(name="array_contains_all",
                                    args=(right, left))
                else:
                    left = ast.Call(name=fn, args=(left, right))
                continue
            if self.is_kw("similar") and self.is_kw("to", offset=1):
                # bare SIMILAR (no TO) belongs to an enclosing
                # substring(s SIMILAR pat ESCAPE e) special form
                self.advance()
                self.advance()
                pattern = self.parse_concat()
                node = ast.Call(name="__similar_to", args=(left, pattern))
                left = ast.Unary(op="not", operand=node) if negated else node
                continue
            if self.accept_kw("between"):
                symmetric = bool(self.accept_kw("symmetric"))
                self.accept_kw("asymmetric")
                low = self.parse_concat()
                self.expect_kw("and")
                high = self.parse_concat()
                if symmetric:
                    # BETWEEN SYMMETRIC: bounds order-insensitive
                    low, high = (
                        ast.Call(name="least", args=(low, high)),
                        ast.Call(name="greatest", args=(low, high)))
                left = ast.Between(expr=left, low=low, high=high, negated=negated)
                continue
            if negated:
                self.i = save
            break
        return left

    def parse_concat(self) -> ast.Node:
        # pg's prefix math operators (|/ ||/ @) sit at "any other
        # operator" precedence — BELOW + and - — so the operand extends
        # over the whole arithmetic chain: |/ 25 + 11 == |/(25+11) == 6.
        # (parse_unary keeps a fallback for operand positions: 2 + |/ 25.)
        if self.is_op("|/", "||/", "@"):
            op = self.advance().value
            left = ast.Unary(op=op, operand=self.parse_bitor())
        else:
            left = self.parse_bitor()
        while self.is_op("||"):
            self.advance()
            left = ast.Binary(op="||", left=left, right=self.parse_bitor())
        return left

    def parse_bitor(self) -> ast.Node:
        left = self.parse_bitxor()
        while self.is_op("|"):
            self.advance()
            left = ast.Binary(op="|", left=left, right=self.parse_bitxor())
        return left

    def parse_bitxor(self) -> ast.Node:
        left = self.parse_bitand()
        while self.is_op("#"):
            self.advance()
            left = ast.Binary(op="#", left=left, right=self.parse_bitand())
        return left

    def parse_bitand(self) -> ast.Node:
        left = self.parse_shift()
        while self.is_op("&"):
            self.advance()
            left = ast.Binary(op="&", left=left, right=self.parse_shift())
        return left

    def parse_shift(self) -> ast.Node:
        left = self.parse_add()
        while self.is_op("<<", ">>"):
            op = self.advance().value
            left = ast.Binary(op=op, left=left, right=self.parse_add())
        return left

    def parse_add(self) -> ast.Node:
        left = self.parse_mul()
        while self.is_op("+", "-"):
            op = self.advance().value
            left = ast.Binary(op=op, left=left, right=self.parse_mul())
        return left

    def parse_mul(self) -> ast.Node:
        left = self.parse_pow()
        while self.is_op("*", "/", "%"):
            op = self.advance().value
            left = ast.Binary(op=op, left=left, right=self.parse_pow())
        return left

    def parse_pow(self) -> ast.Node:
        left = self.parse_unary()
        if self.is_op("^"):
            self.advance()
            # pg ^ is left-assoc; loop keeps it so
            right = self.parse_unary()
            left = ast.Binary(op="^", left=left, right=right)
            while self.is_op("^"):
                self.advance()
                left = ast.Binary(op="^", left=left, right=self.parse_unary())
        return left

    def parse_unary(self) -> ast.Node:
        # pg prefix math operators: |/ square root, ||/ cube root, @ abs
        if self.is_op("-", "+", "~", "|/", "||/", "@"):
            op = self.advance().value
            operand = self.parse_unary()
            if op == "+":
                return operand
            if op == "-" and isinstance(operand, ast.Literal) and operand.kind in ("int", "float"):
                return ast.Literal(-operand.value, operand.kind)
            return ast.Unary(op=op, operand=operand)
        return self.parse_postfix()

    def parse_postfix(self) -> ast.Node:
        node = self.parse_primary()
        while True:
            if self.is_op("::"):
                self.advance()
                node = ast.Cast(expr=node, type_name=self.parse_type_name())
                continue
            if self.is_op("["):
                self.advance()
                # pg array slice arr[lo:hi] (1-based inclusive, bounds
                # optional) vs plain subscript arr[i]
                low = None if self.is_op(":") else self.parse_expr()
                if self.accept_op(":"):
                    high = None if self.is_op("]") else self.parse_expr()
                    self.expect_op("]")
                    node = ast.Call(
                        name="__array_slice",
                        args=(node,
                              low or ast.Literal(1, "int"),
                              high or ast.Call(name="cardinality",
                                               args=(node,))))
                    continue
                self.expect_op("]")
                node = ast.Call(name="__subscript", args=(node, low))
                continue
            if self.is_kw("at") and self.is_kw("time", offset=1):
                # pg AT TIME ZONE postfix operator
                self.advance()
                self.advance()
                self.expect_kw("zone")
                tz = self.parse_unary()
                node = ast.Call(name="__at_time_zone", args=(node, tz))
                continue
            if self.is_kw("collate"):
                # pg COLLATE: accepted and ignored — Spark compares strings
                # by UTF-8 binary order, which is what COLLATE "C" asks for;
                # locale collations are not supported (documented deviation)
                self.advance()
                self.parse_name()
                continue
            if self.is_op("->", "->>"):
                # pg JSON access: -> keeps json (chainable), ->> gets text
                op = self.advance().value
                if self.is_op("-") and self.peek(1) is not None \
                        and self.peek(1).kind == "number":
                    # negative array index (pg 13: counts from the end)
                    self.advance()
                    key = ast.Literal(-int(self.advance().value), "int")
                else:
                    key = self.parse_primary()
                node = ast.Call(
                    name="__json_arrow" if op == "->" else "__json_arrow_text",
                    args=(node, key))
                continue
            if self.is_op("#>", "#>>"):
                # pg JSON path access: j #> '{a,b,1}' — desugared at parse
                # time into a chain of -> steps (#>> makes the last step ->>)
                op = self.advance().value
                path = self.parse_primary()
                if not (isinstance(path, ast.Literal)
                        and path.kind == "string"):
                    raise self.error(f"{op} requires a literal path array")
                if '"' in path.value:
                    # pg array-literal quoting ('{a,"b,c"}') needs a real
                    # array parser; refuse rather than mis-split on commas
                    raise self.error(
                        f"{op} path elements with quotes are not supported "
                        "— chain -> steps instead")
                parts = [p.strip() for p in
                         path.value.strip().lstrip("{").rstrip("}").split(",")
                         if p.strip()]
                if not parts:
                    raise self.error(f"{op} requires a non-empty path")
                for i, part in enumerate(parts):
                    last = i == len(parts) - 1
                    fn = ("__json_arrow_text"
                          if last and op == "#>>" else "__json_arrow")
                    key = (ast.Literal(int(part), "int")
                           if part.lstrip("-").isdigit()
                           else ast.Literal(part, "string"))
                    node = ast.Call(name=fn, args=(node, key))
                continue
            if self.is_kw("isnull", "notnull"):
                # pg shorthand postfix for IS [NOT] NULL
                word = self.advance().value.lower()
                node = ast.IsNull(expr=node, negated=word == "notnull")
                continue
            break
        return node

    def parse_json_table(self, lateral: bool) -> ast.JsonTable:
        """pg 17 JSON_TABLE(context, 'rowpath' COLUMNS (name type
        [PATH 'p'] | name FOR ORDINALITY, ...)) [AS alias]."""
        self.expect_op("(")
        context = self.parse_expr()
        self.expect_op(",")
        ptok = self.peek()
        if ptok is None or ptok.kind != "string":
            raise self.error("JSON_TABLE requires a literal jsonpath string")
        self.advance()
        path = unquote_string(ptok.value)
        cols = self.parse_json_table_columns()
        self.expect_op(")")
        alias = self.parse_optional_alias()
        return ast.JsonTable(context=context, path=path,
                             columns=cols, alias=alias,
                             lateral=lateral)

    def parse_json_table_columns(self):
        """COLUMNS (...) list, recursively: plain entries are
        (name, type, path), FOR ORDINALITY is (name, None, None), and
        NESTED [PATH] 'p' COLUMNS (...) is (None, 'p', subcolumns)."""
        self.expect_kw("columns")
        self.expect_op("(")
        cols = []
        while True:
            cname = self.parse_name()
            nxt = self.peek()
            if cname.lower() == "nested" and (
                    self.is_kw("path")
                    or (nxt is not None and nxt.kind == "string")):
                self.accept_kw("path")
                ntok = self.peek()
                if ntok is None or ntok.kind != "string":
                    raise self.error(
                        "NESTED PATH requires a literal jsonpath string")
                self.advance()
                npath = unquote_string(ntok.value)
                sub = self.parse_json_table_columns()
                cols.append((None, npath, sub))
            elif self.accept_kw("for"):
                self.expect_kw("ordinality")
                cols.append((cname, None, None))
            else:
                tname = self.parse_type_name()
                cpath = None
                if self.accept_kw("path"):
                    ctok = self.peek()
                    if ctok is None or ctok.kind != "string":
                        raise self.error(
                            "JSON_TABLE COLUMNS PATH requires a literal "
                            "jsonpath string")
                    self.advance()
                    cpath = unquote_string(ctok.value)
                if self.is_kw("exists", "format", "wrapper", "default",
                              "error", "empty"):
                    raise ParseError(
                        "JSON_TABLE column modifiers (EXISTS / FORMAT / "
                        "WRAPPER / DEFAULT ... ON EMPTY|ERROR) are not "
                        "supported; use plain `name type [PATH 'p']` "
                        "columns")
                cols.append((cname, tname, cpath))
            if not self.accept_op(","):
                break
        self.expect_op(")")
        return tuple(cols)

    def parse_type_name(self) -> str:
        parts = [self.parse_name()]
        # multi-word types: double precision, timestamp with time zone, etc.
        while self.is_kw("precision", "varying", "with", "without", "time", "zone"):
            parts.append(self.advance().value.lower())
        name = " ".join(parts)
        if self.accept_op("("):
            args = [self.advance().value]
            while self.accept_op(","):
                args.append(self.advance().value)
            self.expect_op(")")
            name += "(" + ",".join(args) + ")"
        # pg array type suffix: text[], int[][], int[3] (pg ignores both
        # extra dimensions and declared bounds) — normalized to one
        # trailing "[]"
        had_array = False
        while self.is_op("["):
            save = self.i
            self.advance()
            tok = self.peek()
            if tok is not None and tok.kind == "number" \
                    and "." not in tok.value:
                self.advance()  # declared bound, e.g. int[3] — ignored
            if not self.accept_op("]"):
                # not a type suffix — a subscript on the cast result
                self.i = save
                break
            had_array = True
        if had_array:
            name += "[]"
        return name

    def parse_primary(self) -> ast.Node:
        tok = self.peek()
        if tok is None:
            raise self.error("unexpected end of expression")

        if tok.kind == "number":
            self.advance()
            text = tok.value
            if "." in text or "e" in text or "E" in text:
                return ast.Literal(float(text), "float")
            return ast.Literal(int(text), "int")
        if tok.kind == "string":
            self.advance()
            return ast.Literal(unquote_string(tok.value), "string")
        if tok.kind == "param":
            self.advance()
            return ast.Param(name=tok.value[2:-2])
        if tok.kind == "op" and tok.value == "(":
            self.advance()
            if self.is_kw("select", "with"):
                query = self.parse_query()
                self.expect_op(")")
                return ast.ScalarSubquery(query=query)
            node = self.parse_expr()
            if self.is_op(","):
                # pg row constructor (a, b[, ...]) — compiles to a struct,
                # so =/<>/ordering comparisons and IN lists work row-wise
                items = [node]
                while self.accept_op(","):
                    items.append(self.parse_expr())
                self.expect_op(")")
                return ast.Call(name="__row", args=tuple(items))
            self.expect_op(")")
            return node
        if tok.kind == "op" and tok.value == "*":
            self.advance()
            return ast.Star()

        if tok.kind in ("name", "qname"):
            low = tok.value.lower() if tok.kind == "name" else None
            if low == "array" and self.is_op("[", offset=1):
                # pg ARRAY[...] constructor
                self.advance()
                self.advance()
                items: List[ast.Node] = []
                if not self.is_op("]"):
                    items.append(self.parse_expr())
                    while self.accept_op(","):
                        items.append(self.parse_expr())
                self.expect_op("]")
                return ast.Call(name="__array", args=tuple(items))
            if low == "array" and self.is_op("(", offset=1) \
                    and self.is_kw("select", "with", offset=2):
                # pg ARRAY(subquery) constructor: the subquery's single
                # column gathered into an array (subquery ORDER BY honored)
                self.advance()
                self.advance()
                query = self.parse_query()
                self.expect_op(")")
                return ast.ArraySubquery(query=query)
            if low == "row" and self.is_op("(", offset=1):
                # explicit ROW(a, b) constructor
                self.advance()
                self.advance()
                items = []
                if not self.is_op(")"):
                    items.append(self.parse_expr())
                    while self.accept_op(","):
                        items.append(self.parse_expr())
                self.expect_op(")")
                return ast.Call(name="__row", args=tuple(items))
            if low == "case":
                return self.parse_case()
            if low == "cast":
                self.advance()
                self.expect_op("(")
                expr = self.parse_expr()
                self.expect_kw("as")
                type_name = self.parse_type_name()
                self.expect_op(")")
                return ast.Cast(expr=expr, type_name=type_name)
            if low == "exists":
                self.advance()
                self.expect_op("(")
                query = self.parse_query()
                self.expect_op(")")
                return ast.Exists(query=query)
            if low in ("current_date", "current_timestamp", "current_time",
                       "localtimestamp", "localtime", "current_user",
                       "session_user", "current_role", "current_catalog",
                       "user") \
                    and not self.is_op("(", offset=1):
                # pg zero-argument keywords (no parens): datetime family +
                # role/catalog constants (USER == CURRENT_USER)
                self.advance()
                return ast.Call(name="current_user" if low == "user"
                                else low)
            if low == "null":
                self.advance()
                return ast.Literal(None, "null")
            if low in ("true", "false"):
                self.advance()
                return ast.Literal(low == "true", "bool")
            if low in ("date", "timestamp", "interval", "timestamptz",
                       "time") and self.peek(1) is not None \
                    and self.peek(1).kind == "string":
                self.advance()
                lit = unquote_string(self.advance().value)
                return ast.Literal(lit, low)
            if low == "trim" and self.is_op("(", offset=1):
                return self.parse_trim()
            if low == "position" and self.is_op("(", offset=1):
                return self.parse_position()
            if low == "substring" and self.is_op("(", offset=1):
                return self.parse_substring()
            if low == "overlay" and self.is_op("(", offset=1):
                # pg: overlay(x placing y from i [for n])
                self.advance()
                self.advance()
                x = self.parse_expr()
                self.expect_kw("placing")
                y = self.parse_expr()
                self.expect_kw("from")
                i = self.parse_expr()
                args = [x, y, i]
                if self.accept_kw("for"):
                    args.append(self.parse_expr())
                self.expect_op(")")
                return ast.Call(name="__overlay", args=tuple(args))
            if low == "extract" and self.is_op("(", offset=1):
                self.advance()
                self.advance()
                field = self.parse_name()
                self.expect_kw("from")
                expr = self.parse_expr()
                self.expect_op(")")
                return ast.Extract(field=field, expr=expr)

            # reserved words can't start a column reference (they'd swallow a
            # following clause, producing a confusing downstream error) —
            # still allowed as calls (any(...), left(...)) or qualifiers
            if (low in RESERVED_STOP
                    and not self.is_op("(", offset=1)
                    and not self.is_op(".", offset=1)):
                raise self.error(f"unexpected keyword '{low}' in expression")

            # qualified name or function call
            parts = [self.parse_name()] if tok.kind == "qname" else [self.advance().value]
            quoted = tok.kind == "qname"
            while self.is_op("."):
                if self.is_op("*", offset=1):
                    self.advance()
                    self.advance()
                    return ast.Star(table=parts[-1].lower() if not quoted else parts[-1])
                self.advance()
                nxt = self.peek()
                if nxt is None:
                    raise self.error("dangling '.'")
                if nxt.kind == "qname":
                    parts.append(unquote_name(self.advance().value))
                elif nxt.kind == "name":
                    parts.append(self.advance().value)
                else:
                    raise self.error("expected name after '.'")
            if self.is_op("(") and len(parts) == 1:
                return self.parse_call(parts[0].lower())
            # plain column ref: lowercase unquoted parts (pg folds to lower)
            norm = tuple(p if quoted else p.lower() for p in parts)
            return ast.ColumnRef(parts=norm, quoted=quoted)

        raise self.error("unexpected token in expression")

    def parse_call(self, name: str) -> ast.Node:
        self.expect_op("(")
        distinct = False
        star = False
        args: List[ast.Node] = []
        if self.is_op("*") and self.is_op(")", offset=1):
            self.advance()
            star = True
        elif not self.is_op(")"):
            if self.accept_kw("distinct"):
                distinct = True
            else:
                self.accept_kw("all")
            args.append(self.parse_expr())
            while self.accept_op(","):
                args.append(self.parse_expr())
        # in-parens ordered aggregate: string_agg(x, ',' ORDER BY y)
        order_within: Tuple[ast.SortItem, ...] = ()
        if self.is_kw("order"):
            order_within = self.parse_order_by()
        self.expect_op(")")
        # ordered-set aggregate: percentile_cont(f) WITHIN GROUP (ORDER BY c)
        if self.is_kw("within"):
            self.advance()
            self.expect_kw("group")
            self.expect_op("(")
            if order_within:
                raise self.error(
                    "cannot combine in-parens ORDER BY with WITHIN GROUP")
            order_within = self.parse_order_by()
            self.expect_op(")")
        # aggregate FILTER (WHERE cond)
        filter_where = None
        if self.is_kw("filter") and self.is_op("(", offset=1):
            self.advance()
            self.advance()
            self.expect_kw("where")
            filter_where = self.parse_expr()
            self.expect_op(")")
        call = ast.Call(name=name, args=tuple(args), distinct=distinct,
                        star=star, filter_where=filter_where,
                        order_within=order_within)
        if self.is_kw("over"):
            self.advance()
            if self.is_op("("):
                return ast.WindowCall(call=call, spec=self.parse_window_spec())
            # OVER w — named window from the WINDOW clause
            return ast.WindowCall(call=call, spec=None, ref=self.parse_name())
        return call

    def parse_window_spec(self) -> ast.WindowSpec:
        self.expect_op("(")
        partition_by: Tuple[ast.Node, ...] = ()
        order_by: Tuple[ast.SortItem, ...] = ()
        frame_type = None
        frame_start = frame_end = None
        base_ref = None
        # pg: OVER (w [ORDER BY ...] [frame]) refines a named window
        tok = self.peek()
        if tok is not None and tok.kind == "name" \
                and tok.value.lower() not in (
                    "partition", "order", "rows", "range", "groups") \
                and (self.peek(1) is not None
                     and (self.peek(1).kind, self.peek(1).value) == ("op", ")")
                     or self.is_kw("partition", "order", "rows", "range",
                                   "groups", offset=1)):
            base_ref = self.parse_name()
        if self.is_kw("partition"):
            self.advance()
            self.expect_kw("by")
            exprs = [self.parse_expr()]
            while self.accept_op(","):
                exprs.append(self.parse_expr())
            partition_by = tuple(exprs)
        if self.is_kw("order"):
            order_by = self.parse_order_by()
        if self.is_kw("rows", "range", "groups"):
            frame_type = self.advance().value.lower()
            if self.accept_kw("between"):
                frame_start = self.parse_frame_bound()
                self.expect_kw("and")
                frame_end = self.parse_frame_bound()
            else:
                frame_start = self.parse_frame_bound()
                frame_end = ast.FrameBound(kind="current_row")
        exclude = None
        if self.accept_kw("exclude"):
            if self.accept_kw("current"):
                self.expect_kw("row")
                exclude = "current_row"
            elif self.accept_kw("group"):
                exclude = "group"
            elif self.accept_kw("ties"):
                exclude = "ties"
            elif self.accept_kw("no"):
                self.expect_kw("others")
            else:
                raise self.error(
                    "expected CURRENT ROW, GROUP, TIES or NO OTHERS")
        self.expect_op(")")
        return ast.WindowSpec(
            partition_by=partition_by, order_by=order_by, frame_type=frame_type,
            frame_start=frame_start, frame_end=frame_end,
            exclude=exclude, base_ref=base_ref,
        )

    def parse_frame_bound(self) -> ast.FrameBound:
        if self.accept_kw("unbounded"):
            which = self.accept_kw("preceding", "following")
            if which is None:
                raise self.error("expected PRECEDING or FOLLOWING")
            return ast.FrameBound(kind=f"unbounded_{which}")
        if self.accept_kw("current"):
            self.expect_kw("row")
            return ast.FrameBound(kind="current_row")
        if self.accept_kw("interval"):
            tok = self.peek()
            if tok is None or tok.kind != "string":
                raise self.error("expected string literal after INTERVAL")
            self.advance()
            micros = _interval_micros(unquote_string(tok.value), self)
            which = self.accept_kw("preceding", "following")
            if which is None:
                raise self.error("expected PRECEDING or FOLLOWING")
            return ast.FrameBound(kind=which, value=micros, interval=True)
        tok = self.peek()
        if tok is not None and tok.kind == "number":
            self.advance()
            n = int(tok.value)
            which = self.accept_kw("preceding", "following")
            if which is None:
                raise self.error("expected PRECEDING or FOLLOWING")
            return ast.FrameBound(kind=which, value=n)
        raise self.error("bad frame bound")

    def parse_case(self) -> ast.Case:
        self.expect_kw("case")
        operand = None
        if not self.is_kw("when"):
            operand = self.parse_expr()
        whens: List[Tuple[ast.Node, ast.Node]] = []
        while self.accept_kw("when"):
            cond = self.parse_expr()
            self.expect_kw("then")
            result = self.parse_expr()
            if operand is not None:
                # desugar simple CASE to searched (reference does the same,
                # src/framequery/parser/_parser.py:289-302)
                cond = ast.Binary(op="=", left=operand, right=cond)
            whens.append((cond, result))
        default = None
        if self.accept_kw("else"):
            default = self.parse_expr()
        self.expect_kw("end")
        return ast.Case(whens=tuple(whens), default=default)

    def parse_trim(self) -> ast.Node:
        self.advance()  # trim
        self.expect_op("(")
        mode = "both"
        chars = None
        if self.is_kw("both", "leading", "trailing"):
            mode = self.advance().value.lower()
            if not self.is_kw("from"):
                chars = self.parse_expr()
            self.expect_kw("from")
            source = self.parse_expr()
        else:
            first = self.parse_expr()
            if self.accept_kw("from"):
                chars = first
                source = self.parse_expr()
            elif self.accept_op(","):
                source = first
                chars = self.parse_expr()
            else:
                source = first
        self.expect_op(")")
        return ast.TrimCall(mode=mode, chars=chars, source=source)

    def parse_position(self) -> ast.Node:
        self.advance()  # position
        self.expect_op("(")
        needle = self.parse_concat()
        self.expect_kw("in")
        haystack = self.parse_expr()
        self.expect_op(")")
        return ast.PositionCall(needle=needle, haystack=haystack)

    def parse_substring(self) -> ast.Node:
        self.advance()  # substring
        self.expect_op("(")
        source = self.parse_expr()
        if self.accept_kw("similar"):
            # SQL:1999 substring(s SIMILAR pat ESCAPE esc)
            pat = self.parse_expr()
            self.expect_kw("escape")
            esc = self.parse_expr()
            self.expect_op(")")
            return ast.Call(name="__substring_similar",
                            args=(source, pat, esc))
        if self.accept_kw("from"):
            start = self.parse_expr()
            length = None
            if self.accept_kw("for"):
                length = self.parse_expr()
            self.expect_op(")")
            return ast.SubstringCall(source=source, start=start, length=length)
        if self.accept_kw("for"):
            # pg substring(s FOR n) == substring(s FROM 1 FOR n)
            length = self.parse_expr()
            self.expect_op(")")
            return ast.SubstringCall(source=source,
                                     start=ast.Literal(1, "int"),
                                     length=length)
        if self.accept_op(","):
            start = self.parse_expr()
            length = None
            if self.accept_op(","):
                length = self.parse_expr()
            self.expect_op(")")
            return ast.SubstringCall(source=source, start=start, length=length)
        self.expect_op(")")
        return ast.Call(name="substring", args=(source,))


def _select_kwargs(sel: ast.Select) -> dict:
    return {
        "items": sel.items, "from_": sel.from_, "where": sel.where,
        "group_by": sel.group_by, "having": sel.having, "order_by": sel.order_by,
        "limit": sel.limit, "offset": sel.offset,
        "limit_ties": sel.limit_ties, "distinct": sel.distinct,
        "distinct_on": sel.distinct_on, "ctes": sel.ctes,
        "windows": sel.windows, "qualify": sel.qualify,
    }


def _attach_ctes(node: ast.Node, ctes: Tuple[ast.CTE, ...]) -> ast.Node:
    if isinstance(node, ast.Select):
        return ast.Select(**{**_select_kwargs(node), "ctes": ctes + node.ctes})
    if isinstance(node, ast.SetOp):
        return ast.SetOp(op=node.op, left=_attach_ctes(node.left, ctes),
                         right=_attach_ctes(node.right, ctes),
                         order_by=node.order_by, limit=node.limit, offset=node.offset)
    return node


# sub-grammar entry points for parse(sql, what=...) — the reference's
# test-harness convenience (reference parser/_parser.py:20-44 dispatches
# `what` through a constructors dict of sub-parsers). Keys name the
# production; values are Parser method names.
_SUBGRAMMARS = {
    "statement": "parse_statement",
    "select": "parse_query",
    "query": "parse_query",
    "expr": "parse_expr",
    "value": "parse_expr",
    "from": "parse_from",
    "from_clause": "parse_from",
    "table_ref": "parse_table_primary",
    "call": "parse_expr",
    "name": "parse_name",
    "order_by": "parse_order_by",
}


def parse(sql: str, what: str = None) -> ast.Node:
    """Parse a single SQL statement into an AST.

    `what` selects a sub-grammar entry point (reference
    parser/_parser.py:20-44): one of statement, select/query,
    expr/value/call, from/from_clause, table_ref, name, order_by —
    'from' expects the FROM keyword, the rest start at their production.
    """
    tokens = tokenize(sql)
    p = Parser(tokens, sql)
    if what is not None:
        key = what if isinstance(what, str) else getattr(
            what, "__name__", str(what)).lower()
        method = _SUBGRAMMARS.get(str(key).lower())
        if method is None:
            raise ParseError(
                f"unknown sub-grammar {what!r}; one of "
                f"{sorted(_SUBGRAMMARS)}")
        if method == "parse_from":
            p.expect_kw("from")
        node = getattr(p, method)()
    else:
        node = p.parse_statement()
    p.accept_op(";")
    if not p.at_end():
        raise p.error("unexpected trailing input")
    return node
