"""Result canonicalisation and the DuckDB reference side of the checks.

Every timed response is reduced to a canonical, order-insensitive row set
(columns sorted by name, values normalised the way the repository's
conformance test does) and compared with the reference computed by DuckDB
over the same generated parquet. Floats compare to 1e-9 relative, as the
conformance test's value check does; everything else compares exactly.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb


def _norm(v):
    if v is None or isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):  # pyspark Row inside a row: struct value
        return tuple(_norm(x) for x in v)
    return str(v)


class Result:
    """Canonical form of one response: lower-cased column names in sorted
    order, and the rows re-ordered to match, sorted."""

    __slots__ = ("columns", "rows")

    def __init__(self, columns, rows):
        cols = [c.lower() for c in columns]
        order = sorted(range(len(cols)), key=cols.__getitem__)
        self.columns = [cols[i] for i in order]
        self.rows = sorted(
            (tuple(_norm(r[i]) for i in order) for r in rows),
            key=lambda t: tuple((v is None, str(v)) for v in t))

    def matches(self, other: "Result") -> bool:
        if self.columns != other.columns or len(self.rows) != len(other.rows):
            return False
        return all(_equal(a, b) for ra, rb in zip(self.rows, other.rows)
                   for a, b in zip(ra, rb))


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) and \
            not isinstance(b, bool):
        b = float(b)
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(b, float) and isinstance(a, int) and not isinstance(a, bool):
        return _equal(b, a)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    return a == b


def spark_result(df) -> Result:
    return Result(df.columns, df.collect())


def duck_connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one table per generated parquet file."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def duck_result(con, sql: str) -> Result:
    cur = con.execute(sql)
    return Result([d[0] for d in cur.description], cur.fetchall())
