"""DBAPI 2.0 shim over the engine (reference: src/framequery/alchemy/dbapi.py).

`paramstyle='pyformat'` with client-side literal escaping
(reference escaping rules: src/framequery/util/_funcs.py:14-36);
`Cursor.description` is synthesized from the Spark result schema the way the
reference derives it from pandas dtypes (src/framequery/alchemy/dbapi.py:99-123).
Executing a statement materializes the result eagerly (the DBAPI contract),
so `compute()` == collect here.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from typing import List, Optional, Sequence

apilevel = "2.0"
threadsafety = 1
paramstyle = "pyformat"


class Error(Exception):
    pass


class InterfaceError(Error):
    pass


class ProgrammingError(Error):
    pass


def escape(value) -> str:
    """Escape a python value as a SQL literal (pg-style quoting)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, (_dt.date, _dt.datetime)):
        return "'" + value.isoformat(sep=" " if isinstance(value, _dt.datetime) else "-") + "'"
    s = str(value)
    if "\x00" in s:
        # pg text cannot contain NUL either; refusing beats silently
        # truncating or producing an unparseable literal
        raise ProgrammingError("string parameter contains a NUL byte")
    return "'" + s.replace("'", "''") + "'"


# DBAPI type indicators keyed by Spark simpleString prefixes
_TYPE_MAP = {
    "string": "STRING", "boolean": "BOOLEAN",
    "tinyint": "NUMBER", "smallint": "NUMBER", "int": "NUMBER",
    "bigint": "NUMBER", "float": "NUMBER", "double": "NUMBER",
    "decimal": "NUMBER", "date": "DATETIME", "timestamp": "DATETIME",
}


class Cursor:
    def __init__(self, connection: "Connection"):
        self.connection = connection
        self.description = None
        self.rowcount = -1
        self.arraysize = 1
        self._rows: List[tuple] = []
        self._idx = 0

    # ------------------------------------------------------------- execution

    def execute(self, operation: str, parameters=None) -> "Cursor":
        if parameters:
            operation = operation % {
                k: escape(v) for k, v in dict(parameters).items()}
        result = self.connection._executor.execute(operation)
        self._rows = []
        self._idx = 0
        self.description = None
        self.rowcount = -1
        if result is not None:
            collected = result.collect()
            self._rows = [tuple(r) for r in collected]
            self.rowcount = len(self._rows)
            self.description = [
                (f.name, _TYPE_MAP.get(f.dataType.simpleString().split("(")[0],
                                       "STRING"),
                 None, None, None, None, f.nullable)
                for f in result.schema.fields
            ]
        return self

    def executemany(self, operation: str, seq_of_parameters) -> "Cursor":
        for p in seq_of_parameters:
            self.execute(operation, p)
        return self

    # --------------------------------------------------------------- fetching

    def fetchone(self) -> Optional[tuple]:
        if self._idx >= len(self._rows):
            return None
        row = self._rows[self._idx]
        self._idx += 1
        return row

    def fetchmany(self, size: Optional[int] = None) -> List[tuple]:
        size = size or self.arraysize
        out = self._rows[self._idx:self._idx + size]
        self._idx += len(out)
        return out

    def fetchall(self) -> List[tuple]:
        out = self._rows[self._idx:]
        self._idx = len(self._rows)
        return out

    def __iter__(self):
        while True:
            row = self.fetchone()
            if row is None:
                return
            yield row

    def close(self) -> None:
        self._rows = []

    def setinputsizes(self, sizes) -> None:
        pass

    def setoutputsize(self, size, column=None) -> None:
        pass


class Connection:
    """Holds a persistent Executor; `scope_spec` may be a path to a JSON spec
    file with a `setup` statement list (reference scope spec:
    src/framequery/alchemy/dialect.py:18-48, tests/data/scope.json)."""

    def __init__(self, scope_spec: Optional[str] = None, spark=None,
                 basepath: str = "."):
        from ..executor.executor import Executor

        self._executor = Executor(spark=spark, basepath=basepath)
        if scope_spec:
            with open(scope_spec) as fh:
                spec = json.load(fh)
            base = spec.get("basepath") or os.path.dirname(os.path.abspath(scope_spec))
            for stmt in spec.get("setup", []):
                self._executor.execute(stmt, basepath=base)

    def cursor(self) -> Cursor:
        return Cursor(self)

    def commit(self) -> None:
        pass

    def rollback(self) -> None:
        pass

    def close(self) -> None:
        """Release what the session holds: its plan cache and the
        checkpoints its written tables were materialized to."""
        self._executor.close()

    # convenience introspection (reference get_table_names,
    # src/framequery/alchemy/dialect.py:57-60)
    def table_names(self) -> List[str]:
        return sorted(self._executor.scope)


def connect(scope_spec: Optional[str] = None, spark=None,
            basepath: str = ".") -> Connection:
    return Connection(scope_spec=scope_spec, spark=spark, basepath=basepath)
