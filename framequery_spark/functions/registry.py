"""Scalar-function registry: SQL function name -> Column builder.

Parity set from the reference registry (reference:
src/framequery/executor/_pandas.py:48-62, src/framequery/util/_funcs.py:66-114)
plus a broad pg/DuckDB-overlapping library — everything here compiles to
built-in `pyspark.sql.functions` (JVM-side, whole-stage-codegen'd). The sole
exceptions are the structural JSON editors (json_strip_nulls / jsonb_set /
jsonb_insert, plus the jsonb - / #- delete operators and @>/<@ recursive
containment) and normalize() Unicode normalization, which have no Spark
built-in and run as vectorized Arrow pandas_udfs — never row-at-a-time
Python UDFs.
"""

from __future__ import annotations

import functools
from typing import Callable, Dict, List

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

Builder = Callable[[List[Column]], Column]

REGISTRY: Dict[str, Builder] = {}


def register(*names: str, arity=None):
    def deco(fn):
        for n in names:
            REGISTRY[n] = fn
        return fn

    return deco


def _fixed(name: str, fn, *names: str):
    REGISTRY[name] = fn
    for n in names:
        REGISTRY[n] = fn


# ----------------------------------------------------------------- system
# parity constants: reference executor/_pandas.py:49-50
_fixed("version", lambda a: F.lit("PostgreSQL 9.6.0"))
_fixed("current_schema", lambda a: F.lit("public"))
# pg role/catalog constants (r12): a session-less engine reports the
# conventional fixed principal; USER parses to current_user upstream
_fixed("current_user", lambda a: F.lit("postgres"), "session_user",
       "current_role")
_fixed("current_catalog", lambda a: F.lit("framequery"), "current_database")
# pgcrypto / uuid-ossp uuid generators -> Spark's native uuid()
_fixed("gen_random_uuid", lambda a: F.expr("uuid()"), "uuid_generate_v4")

# ------------------------------------------------------------------- math
_fixed("abs", lambda a: F.abs(a[0]))
_fixed("ceil", lambda a: F.ceil(a[0]), "ceiling")
_fixed("floor", lambda a: F.floor(a[0]))
_fixed("sqrt", lambda a: F.sqrt(a[0]))
_fixed("cbrt", lambda a: F.cbrt(a[0]))
_fixed("exp", lambda a: F.exp(a[0]))
_fixed("ln", lambda a: F.log(a[0]))
_fixed("log10", lambda a: F.log10(a[0]))
_fixed("log2", lambda a: F.log2(a[0]))
_fixed("sign", lambda a: F.signum(a[0]))


def _parse_ident_py(s: str, strict: bool):
    """pg parse_ident: split a qualified identifier into its parts,
    downcasing unquoted names and unwrapping double quotes ('""' is a
    literal quote); raises on malformed input like pg. Stateful
    quote-aware scan — pandas_udf tier."""
    out, i, n = [], 0, len(s)
    while True:
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            raise ValueError(f'string is not a valid identifier: "{s}"')
        if s[i] == '"':
            i += 1
            part = []
            while True:
                if i >= n:
                    raise ValueError(
                        f'string is not a valid identifier: "{s}"')
                if s[i] == '"':
                    if s[i + 1:i + 2] == '"':
                        part.append('"')
                        i += 2
                        continue
                    i += 1
                    break
                part.append(s[i])
                i += 1
            if not part:
                raise ValueError(
                    f'string is not a valid identifier: "{s}"')
            out.append("".join(part))
        else:
            j = i
            while j < n and (s[j].isalnum() or s[j] in "_$"):
                j += 1
            if j == i or s[i].isdigit() or s[i] == "$":
                raise ValueError(
                    f'string is not a valid identifier: "{s}"')
            out.append(s[i:j].lower())
            i = j
        while i < n and s[i].isspace():
            i += 1
        if i < n and s[i] == ".":
            i += 1
            continue
        if i < n and strict:
            raise ValueError(
                f'string is not a valid identifier: "{s}"')
        return out


@functools.cache
def _parse_ident_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def pi(col: pd.Series, strict: pd.Series) -> pd.Series:
        return pd.Series([
            None if s is None or st is None
            else _parse_ident_py(s, bool(st))
            for s, st in zip(col, strict)])

    return pi


@register("parse_ident")
def _parse_ident(args: List[Column]) -> Column:
    strict = args[1] if len(args) > 1 else F.lit(True)
    return _parse_ident_udf()(args[0].cast("string"),
                              strict.cast("boolean"))


def _min_scale(a: List[Column]) -> Column:
    """pg 13 min_scale(numeric): the minimal scale needed to represent
    the value exactly — computed from the decimal's string rendering
    with trailing fraction zeros stripped (independent of the stored
    scale, so decimal(38,18) canonicalization does not inflate it)."""
    s = a[0].cast("decimal(38,18)").cast("string")
    frac = F.regexp_replace(F.regexp_extract(s, r"\.(\d*)$", 1),
                            "0+$", "")
    return F.when(a[0].isNotNull(), F.length(frac)).cast("int")


_fixed("min_scale", _min_scale)

# pg 13 trim_scale(numeric): the same VALUE with trailing-zero scale
# removed. Scale is representational in this engine (every numeric is a
# canonical decimal(38,18)), so the value passes through unchanged —
# value semantics match pg; the textual scale of a bare render does not
# (documented model-wide in COVERAGE.md's numeric notes).
_fixed("trim_scale", lambda a: a[0])


def _gcd_col(x: Column, y: Column) -> Column:
    """Euclid's algorithm as a row-local fold over a constant 94-step
    sequence (the 64-bit worst case — consecutive Fibonacci numbers — needs
    ~92 iterations; converged accumulators pass through unchanged). Spark
    has no gcd builtin and this module's contract is no Python UDFs, so the
    loop runs as a JVM higher-order aggregate. NULL in -> NULL out."""
    a0 = F.abs(x.cast("long"))
    b0 = F.abs(y.cast("long"))
    acc0 = F.struct(a0.alias("a"), b0.alias("b"))

    def step(acc, _):
        return F.when(acc["b"] == F.lit(0), acc).otherwise(
            F.struct(acc["b"].alias("a"), (acc["a"] % acc["b"]).alias("b")))

    return F.aggregate(F.sequence(F.lit(1), F.lit(94)), acc0, step)["a"]


def _lcm_col(x: Column, y: Column) -> Column:
    # |x|/gcd * |y| (divide first: exact and overflow-minimal); pg's
    # lcm(0, 0) = 0 special case via the gcd=0 guard
    g = _gcd_col(x, y)
    ax = F.abs(x.cast("long"))
    ay = F.abs(y.cast("long"))
    return F.when(g == F.lit(0), F.lit(0).cast("long")).otherwise(
        F.call_function("div", ax, g) * ay)


_fixed("gcd", lambda a: _gcd_col(a[0], a[1]))
_fixed("lcm", lambda a: _lcm_col(a[0], a[1]))
_fixed("pi", lambda a: F.lit(3.141592653589793))
_fixed("degrees", lambda a: F.degrees(a[0]))
_fixed("radians", lambda a: F.radians(a[0]))
_fixed("sin", lambda a: F.sin(a[0]))
_fixed("cos", lambda a: F.cos(a[0]))
_fixed("tan", lambda a: F.tan(a[0]))
_fixed("asin", lambda a: F.asin(a[0]))
_fixed("acos", lambda a: F.acos(a[0]))
_fixed("atan", lambda a: F.atan(a[0]))
_fixed("atan2", lambda a: F.atan2(a[0], a[1]))
_fixed("random", lambda a: F.rand())
_fixed("isnan", lambda a: F.isnan(a[0]))
# pg setseed(): seeds the session RNG; this engine's only nondeterminism is
# Spark's partition-seeded rand(), which setseed cannot reach -> no-op NULL
_fixed("setseed", lambda a: F.lit(None).cast("double"))


@register("log")
def _log(a):
    # pg: log(x) = log10; log(b, x) = log base b. F.log's base parameter
    # must be a python float, so the column-base form uses ln(x)/ln(b).
    return F.log10(a[0]) if len(a) == 1 else F.log(a[1]) / F.log(a[0])


@register("round")
def _round(a):
    return F.round(a[0], 0) if len(a) == 1 else F.round(a[0], a[1])


@register("trunc")
def _trunc(a):
    # truncation toward zero; trunc(x, n) scales by 10^n first
    if len(a) == 1:
        return a[0].cast("long").cast("double")
    scale = F.pow(F.lit(10.0), a[1])
    return (a[0] * scale).cast("long").cast("double") / scale


_fixed("power", lambda a: F.pow(a[0], a[1]), "pow")
_fixed("mod", lambda a: a[0] % a[1])

# ----------------------------------------------------------------- strings
_fixed("upper", lambda a: F.upper(a[0]))
_fixed("lower", lambda a: F.lower(a[0]))
_fixed("length", lambda a: F.length(a[0]), "char_length", "character_length")
_fixed("octet_length", lambda a: F.octet_length(a[0]))
_fixed("bit_length", lambda a: F.bit_length(a[0]))
_fixed("lpad", lambda a: F.call_function("lpad", a[0], a[1], a[2] if len(a) > 2 else F.lit(" ")))
_fixed("rpad", lambda a: F.call_function("rpad", a[0], a[1], a[2] if len(a) > 2 else F.lit(" ")))
_fixed("repeat", lambda a: F.call_function("repeat", a[0], a[1]))
_fixed("reverse", lambda a: F.reverse(a[0]))
_fixed("replace", lambda a: F.replace(a[0], a[1], a[2]))
_fixed("split_part", lambda a: F.split_part(a[0], a[1], a[2]))
_fixed("strpos", lambda a: F.call_function("position", a[1], a[0]), "instr")
_fixed("initcap", lambda a: F.initcap(a[0]))
_fixed("ascii", lambda a: F.ascii(a[0]), "unicode")
def _chr_unicode(a: List[Column]) -> Column:
    # pg chr(n): the UTF-8 character for Unicode CODE POINT n (Spark's
    # char() is n % 256 — wrong beyond Latin-1). Build the UTF-8 byte
    # sequence arithmetically as hex and decode it — pure JVM.
    n = a[0].cast("long")

    def hx(b: Column) -> Column:
        return F.lpad(F.lower(F.hex(b)), 2, "0")

    def part(shift: int, lead: int) -> Column:
        return hx(F.lit(lead).bitwiseOR(
            F.shiftright(n, shift).bitwiseAND(F.lit(0x3F))))

    one = hx(n)
    two = F.concat(part(6, 0xC0), part(0, 0x80))
    three = F.concat(part(12, 0xE0), part(6, 0x80), part(0, 0x80))
    four = F.concat(part(18, 0xF0), part(12, 0x80), part(6, 0x80),
                    part(0, 0x80))
    hexs = (F.when(n <= 0x7F, one)
            .when(n <= 0x7FF, two)
            .when(n <= 0xFFFF, three)
            .when(n <= 0x10FFFF, four))
    # pg errors on n <= 0 ("null character not permitted" / "character
    # number must be positive"), surrogate halves, and n > 0x10FFFF
    # ("requested character too large") — match, instead of silently
    # emitting NUL / invalid UTF-8 / NULL
    bad = (n <= 0) | ((n >= 0xD800) & (n <= 0xDFFF)) | (n > 0x10FFFF)
    return F.when(
        bad,
        F.raise_error(F.concat(F.lit("chr(): invalid Unicode code point "),
                               n.cast("string"))).cast("string"),
    ).otherwise(F.decode(F.unhex(hexs), "UTF-8"))


_fixed("chr", _chr_unicode)
_fixed("md5", lambda a: F.md5(a[0].cast("string")))
_fixed("sha256", lambda a: F.sha2(a[0].cast("string"), 256))
_fixed("to_hex", lambda a: F.lower(F.hex(a[0])))  # pg to_hex is lowercase
# pg 17 to_bin/to_oct: the value's bit pattern (negatives render as the
# 64-bit two's-complement pattern — pg's bigint arm; F.conv treats the
# input as unsigned 64-bit, which is exactly that)
_fixed("to_bin", lambda a: F.conv(a[0].cast("bigint").cast("string"),
                                  10, 2))
_fixed("to_oct", lambda a: F.conv(a[0].cast("bigint").cast("string"),
                                  10, 8))
_fixed("translate", lambda a: F.call_function("translate", a[0], a[1], a[2]))
_fixed("starts_with", lambda a: a[0].startswith(a[1]), "startswith")
_fixed("ends_with", lambda a: a[0].endswith(a[1]), "endswith")
_fixed("contains", lambda a: F.contains(a[0], a[1]))
_fixed("regexp_replace", lambda a: F.regexp_replace(a[0], a[1], a[2]))
_fixed("regexp_extract", lambda a: F.call_function("regexp_extract", a[0], a[1], a[2] if len(a) > 2 else F.lit(0)))
_fixed("regexp_matches", lambda a: F.regexp_like(a[0], a[1]), "regexp_like")
_fixed("regexp_count", lambda a: F.regexp_count(a[0], a[1]))


@register("substr")
def _substr(a):
    if len(a) == 2:
        return F.call_function("substring", a[0], a[1])
    return F.call_function("substring", a[0], a[1], a[2])


@register("left")
def _left(a):
    # pg: negative n -> all but the last |n| characters
    n = a[1].cast("int")
    return F.when(n >= 0, F.call_function("left", a[0], n)) \
        .otherwise(F.call_function("substring", a[0], F.lit(1),
                                   F.greatest(F.length(a[0]) + n, F.lit(0))))


@register("right")
def _right(a):
    # pg: negative n -> all but the first |n| characters
    n = a[1].cast("int")
    return F.when(n >= 0, F.call_function("right", a[0], n)) \
        .otherwise(F.call_function("substring", a[0], F.lit(1) - n))


@register("concat")
def _concat(a):
    # pg concat(): NULL args treated as '' (reference util/_funcs.py:93-96);
    # Spark's concat is null-propagating, so use concat_ws('').
    return F.concat_ws("", *[x.cast("string") for x in a])


@register("concat_ws")
def _concat_ws(a):
    # first arg is the separator (arrives as a Column) — use the SQL builtin
    return F.call_function("concat_ws", *a)


# plain function-call forms of trim family (the special TRIM(BOTH .. FROM ..)
# syntax is handled by the parser/compiler as TrimCall)
@register("trim")
def _trim(a):
    return F.trim(a[0]) if len(a) == 1 else F.call_function("btrim", a[0], a[1])


@register("btrim")
def _btrim(a):
    return F.call_function("btrim", *a)


@register("ltrim")
def _ltrim(a):
    return F.ltrim(a[0]) if len(a) == 1 else F.call_function("ltrim", a[1], a[0])


@register("rtrim")
def _rtrim(a):
    return F.rtrim(a[0]) if len(a) == 1 else F.call_function("rtrim", a[1], a[0])


# ------------------------------------------------------------- null / cond
_fixed("coalesce", lambda a: F.coalesce(*a))
_fixed("nullif", lambda a: F.nullif(a[0], a[1]))
_fixed("greatest", lambda a: F.greatest(*a))
_fixed("least", lambda a: F.least(*a))
_fixed("ifnull", lambda a: F.coalesce(a[0], a[1]), "nvl")
_fixed("__is_distinct_from", lambda a: ~a[0].eqNullSafe(a[1]))

# ------------------------------------------------------------- date / time
_fixed("now", lambda a: F.current_timestamp(), "current_timestamp",
       "localtimestamp", "transaction_timestamp", "statement_timestamp",
       "clock_timestamp")
_fixed("current_date", lambda a: F.current_date())
# sessions run UTC, so current_time/localtime = the UTC wall-clock time
_fixed("current_time",
       lambda a: F.date_format(F.current_timestamp(), "HH:mm:ss"),
       "localtime")
def _date_trunc(a: List[Column]) -> Column:
    """pg date_trunc including the fields Spark lacks — decade, century,
    millennium (Spark returns silent NULL for unknown fields, which is a
    wrong-answer class; unknown fields now raise like pg instead)."""
    fld = F.lower(F.trim(a[0]))
    ts = a[1].cast("timestamp")
    yr = F.year(ts)

    def jan1(y):
        return F.make_timestamp(y.cast("int"), F.lit(1), F.lit(1),
                                F.lit(0), F.lit(0), F.lit(0))

    known = ["second", "minute", "hour", "day", "week", "month",
             "quarter", "year"]
    return (F.when(fld == "decade", jan1(yr - yr % 10))
            .when(fld == "century", jan1((yr - 1) - (yr - 1) % 100 + 1))
            .when(fld == "millennium",
                  jan1((yr - 1) - (yr - 1) % 1000 + 1))
            # pg's plural sub-second fields -> Spark's singular spellings
            .when(fld == "microseconds",
                  F.call_function("date_trunc", F.lit("MICROSECOND"), ts))
            .when(fld == "milliseconds",
                  F.call_function("date_trunc", F.lit("MILLISECOND"), ts))
            .when(fld.isin(known),
                  F.call_function("date_trunc", a[0], a[1]))
            .otherwise(F.raise_error(F.concat(
                F.lit("date_trunc: unit \""), a[0].cast("string"),
                F.lit("\" not recognized")))))


_fixed("date_trunc", _date_trunc, "datetrunc")
_fixed("to_date", lambda a: F.to_date(a[0]) if len(a) == 1 else F.to_date(a[0], None))
# pg date_part(field, src) — Spark has the same function natively
_fixed("date_part", lambda a: F.call_function("date_part", a[0], a[1]))
_fixed("make_timestamp",
       lambda a: F.make_timestamp(a[0], a[1], a[2], a[3], a[4], a[5]))
_fixed("last_day", lambda a: F.last_day(a[0]))
_fixed("date_add", lambda a: F.date_add(a[0], a[1]))
_fixed("date_sub", lambda a: F.date_sub(a[0], a[1]))
_fixed("datediff", lambda a: F.datediff(a[0], a[1]), "date_diff")
_fixed("months_between", lambda a: F.months_between(a[0], a[1]))
_fixed("add_months", lambda a: F.add_months(a[0], a[1]))
_fixed("age", lambda a: a[0] - a[1])  # pg age(a, b) = interval a - b
# pg dates/timestamps can be 'infinity'; Spark's cannot, so any non-null
# value is finite
def _isfinite(a: List[Column]) -> Column:
    # pg isfinite(date/timestamp/interval): false only for the ±infinity
    # specials, which this engine stores as the extreme sentinel values
    # (see the cast path in compiler/expressions.py) — recognize exactly
    # those; every other non-null value is finite
    x = a[0]
    s = x.cast("string")
    inf = (s.startswith("9999-12-31") & (s.contains("23:59:59.999999")
                                         | (F.length(s) == 10))) \
        | (s.startswith("0001-01-01") & (s.endswith(" 00:00:00")
                                         | (F.length(s) == 10)))
    return F.when(x.isNotNull(), ~inf)


_fixed("isfinite", _isfinite)
def _date_bin(a: List[Column]) -> Column:
    # date_bin(stride, ts, origin): largest origin + n*stride <= ts.
    # Computed in microseconds, pure JVM; handles ts before origin too
    # (floor division, so the bin still starts at/below ts).
    import re as _re
    if _re.search(r"(?i)INTERVAL\b.*\b(year|month|mon)s?\b", str(a[0])):
        # pg: variable-length strides are rejected, not approximated —
        # '1 month' as fixed micros would silently bin as 31 days
        raise ValueError("date_bin stride must not contain month or year units")
    return F.timestamp_micros(
        F.unix_micros(a[2].cast("timestamp"))
        + F.floor((F.unix_micros(a[1].cast("timestamp"))
                   - F.unix_micros(a[2].cast("timestamp")))
                  / _interval_micros_col(a[0]))
        * _interval_micros_col(a[0]))
_fixed("date_bin", _date_bin)


def _interval_micros_col(iv: Column) -> Column:
    # day-time interval -> total microseconds (epoch + iv is exact for
    # fixed-length intervals; month/year strides are variable-length and
    # would mis-bin, matching the RANGE-frame restriction elsewhere)
    return F.unix_micros(F.lit("1970-01-01 00:00:00").cast("timestamp") + iv)
def _width_bucket(a: List[Column]) -> Column:
    """pg width_bucket: 4-arg equi-width form (Spark native) and the pg-14
    2-arg thresholds-array form — the bucket is the count of (ascending)
    thresholds <= the operand."""
    if len(a) == 2:
        return F.size(F.filter(a[1], lambda v: v <= a[0]))
    return F.width_bucket(a[0], a[1], a[2], a[3])


_fixed("width_bucket", _width_bucket)
# NOTE: the delimiter is a regex at the Spark layer — plain single-char
# pg delimiters behave identically except regex metachars
def pg_split_column(s: Column, sep: Column) -> Column:
    """pg string_to_array/string_to_table split semantics, shared by the
    scalar function and the table-function form (sources/table_functions):
    literal (non-regex) separator; NULL separator -> one element per
    character; empty separator -> the whole string as a single element;
    empty input -> empty array."""
    s = s.cast("string")
    sep = sep.cast("string")
    esc = F.regexp_replace(sep, F.lit(r"([^a-zA-Z0-9])"), F.lit(r"\\$1"))
    return F.when(s == "", F.array().cast("array<string>")) \
        .when(sep.isNull(), F.split(s, "(?!^)(?!$)")) \
        .when(sep == "", F.array(s)) \
        .otherwise(F.split(s, esc))


_fixed("string_to_array", lambda a: pg_split_column(a[0], a[1]))
_fixed("array_to_string", lambda a: F.call_function("array_join", a[0], a[1]))
_fixed("to_timestamp", lambda a: F.to_timestamp(a[0]))
_fixed("year", lambda a: F.year(a[0]))
_fixed("month", lambda a: F.month(a[0]))
_fixed("day", lambda a: F.dayofmonth(a[0]))
_fixed("hour", lambda a: F.hour(a[0]))
_fixed("minute", lambda a: F.minute(a[0]))
_fixed("second", lambda a: F.second(a[0]))
_fixed("quarter", lambda a: F.quarter(a[0]))
_fixed("week", lambda a: F.weekofyear(a[0]))
_fixed("dayofweek", lambda a: F.dayofweek(a[0]) - 1)
_fixed("make_date", lambda a: F.make_date(a[0], a[1], a[2]))
_fixed("epoch", lambda a: F.unix_timestamp(a[0]).cast("double"))
_fixed("strftime", lambda a: F.call_function("date_format", a[0], a[1]), "date_format")

# ------------------------------------------------------------------ arrays
_fixed("cardinality", lambda a: F.size(a[0]), "array_length", "len")
_fixed("array_contains", lambda a: F.array_contains(a[0], a[1]), "list_contains")
_fixed("array_distinct", lambda a: F.array_distinct(a[0]))
_fixed("array_sort", lambda a: F.array_sort(a[0]))
_fixed("array_join", lambda a: F.array_join(a[0], a[1]))
_fixed("__subscript", lambda a: F.get(a[0], a[1] - F.lit(1)))  # pg arrays are 1-based


def _array_slice(a):
    # pg arr[lo:hi]: 1-based inclusive; lo clamps to 1 (arr[0:2] == arr[1:2]),
    # hi past the end truncates (F.slice does), inverted bounds -> empty,
    # NULL bound -> NULL. The typed empty array comes from filter(arr, false)
    # so the element type always matches the when-chain.
    arr, lo, hi = a
    lo_c = F.greatest(lo.cast("int"), F.lit(1))
    length = hi.cast("int") - lo_c + F.lit(1)
    empty = F.filter(arr, lambda _: F.lit(False))
    return (F.when(lo.isNull() | hi.isNull(), F.lit(None))
            .when(length > 0, F.slice(arr, lo_c, length))
            .otherwise(empty))


_fixed("__array_slice", _array_slice)
_fixed("array_cat", lambda a: F.concat(a[0], a[1]))
_fixed("array_append", lambda a: F.array_append(a[0], a[1]))
_fixed("array_prepend", lambda a: F.array_prepend(a[1], a[0]))
_fixed("array_position", lambda a: F.array_position(a[0], a[1]))
_fixed("array_positions",
       lambda a: F.filter(
           F.transform(a[0], lambda x, i: F.when(x == a[1], i + 1)),
           lambda p: p.isNotNull()))
_fixed("array_remove", lambda a: F.array_remove(a[0], a[1]))
_fixed("array_replace",
       lambda a: F.transform(
           a[0], lambda x: F.when(x == a[1], a[2]).otherwise(x)))
_fixed("trim_array",
       lambda a: F.slice(a[0], 1, F.greatest(F.size(a[0]) - a[1].cast("int"),
                                             F.lit(0))))
_fixed("array_min", lambda a: F.array_min(a[0]))
_fixed("array_max", lambda a: F.array_max(a[0]))
# pg 1-based, 1-dim arrays: upper = length, lower = 1 (NULL when empty)
_fixed("array_upper", lambda a: F.when(F.size(a[0]) > 0, F.size(a[0])))
_fixed("array_lower", lambda a: F.when(F.size(a[0]) > 0, F.lit(1)))
_fixed("array_contains_all",
       lambda a: F.forall(a[1], lambda e: F.array_contains(a[0], e)))
_fixed("array_overlaps", lambda a: F.arrays_overlap(a[0], a[1]))
_fixed("__array", lambda a: F.array(*a))  # ARRAY[...] constructor
_fixed("row", lambda a: F.struct(*a))  # pg ROW(...) record constructor


def _fractional(*cols: Column) -> bool:
    """True when some argument's type, known before analysis (a literal
    or a cast), is a non-integral number. One py4j probe per argument at
    compile time, like _const_int."""
    from py4j.protocol import Py4JError
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    try:
        for c in cols:
            e = sess._jsparkSession.expression(c._jc)
            if e.resolved():
                name = e.dataType().typeName()
                if name in ("double", "float") or name.startswith("decimal"):
                    return True
    except (Py4JError, AttributeError):
        pass
    return False


def pg_sequence_column(start: Column, stop: Column,
                       step: Column = None) -> Column:
    """F.sequence with pg's empty-set semantics: a series whose step points
    away from the stop bound yields ZERO elements (Spark's sequence would
    either default the step to -1 or raise). `step - step` is the typed
    zero, so the guard works for numeric AND interval steps. The typed
    empty array comes from slice(sequence(start, start), 1, 0).

    Spark's sequence takes integral, date and timestamp bounds only, so a
    fractional series (pg's numeric form) is the integer index sequence
    transformed to start + i * step. Its length rounds the step count to 9
    places first, so 0.1 .. 0.3 by 0.1 keeps its last element."""
    if _fractional(start, stop, *([] if step is None else [step])):
        if step is None:
            step = F.lit(1)
        n = (F.floor(F.round((stop - start) / step, 9)) + 1).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n, F.lit(1)) - 1)
        return F.slice(F.transform(idx, lambda i: start + i * step),
                       1, F.greatest(n, F.lit(0)))
    empty = F.slice(F.sequence(start, start), 1, 0)
    if step is None:
        return F.when(start <= stop, F.sequence(start, stop)) \
            .otherwise(empty)
    zero = step - step
    ok = ((step > zero) & (start <= stop)) | \
         ((step < zero) & (start >= stop))
    return F.when(ok, F.sequence(start, stop, step)).otherwise(empty)


# select-list set-returning functions: pg `SELECT unnest(arr)` == one
# explode generator (the FROM-position table-function forms live in
# sources/table_functions; multiple SRFs in one select list run in
# LOCKSTEP, handled by the projection compiler)
_fixed("unnest", lambda a: F.explode(a[0]))
_fixed("generate_series", lambda a: F.explode(pg_sequence_column(*a[:3])))
_fixed("string_to_table", lambda a: F.explode(pg_split_column(a[0], a[1])))
_fixed("regexp_split_to_table", lambda a: F.explode(F.split(a[0], a[1])))


def _regexp_split_to_array(a: List[Column]) -> Column:
    """pg regexp_split_to_array(string, pattern[, flags]) — the array twin
    of regexp_split_to_table; only the 'i' flag changes split semantics
    (prefixed as the Java-regex inline flag)."""
    pat = a[1]
    if len(a) > 2:
        pat = F.concat(F.when(a[2].contains("i"), F.lit("(?i)"))
                       .otherwise(F.lit("")), pat)
    return F.split(a[0], pat)


_fixed("regexp_split_to_array", _regexp_split_to_array)


# ------------------------------------------------- vector math (embeddings)
# JVM-side higher-order functions; no Python UDF. The one dot / norm /
# cosine implementation: the similarity, dedup, pq and contamination
# operators call these too, and SQL exposes them for ad-hoc queries. Each
# is a sequential left fold from 0.0 over double casts, bit-compatible
# with a plain loop (what the DuckDB oracle computes).
@register("dot_product", "list_dot_product", "list_inner_product")
def _dot(a):
    return F.aggregate(
        F.zip_with(a[0], a[1], lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register("l2_norm")
def _l2norm(a):
    return F.sqrt(
        F.aggregate(
            a[0], F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


@register("cosine_similarity", "list_cosine_similarity")
def _cosine(a):
    return _dot(a) / (_l2norm([a[0]]) * _l2norm([a[1]]))


# pgvector distance surface (r09, beyond-reference pg extension parity):
# the function spellings behind the <-> / <#> / <=> operators, plus the
# accessors. Same JVM zip_with/aggregate shape as the similarity ops —
# whole-stage-codegen'd, no UDF; `ORDER BY emb <-> q LIMIT k` compiles to
# TakeOrderedAndProject (brute-force exact KNN, one corpus scan).
@register("l2_distance", "list_distance")
def _l2_distance(a):
    return F.sqrt(F.aggregate(
        F.zip_with(a[0], a[1],
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v))


@register("l1_distance")
def _l1_distance(a):
    return F.aggregate(
        F.zip_with(a[0], a[1],
                   lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


@register("inner_product")
def _inner_product(a):
    return _dot(a)


@register("cosine_distance")
def _cosine_distance(a):
    return F.lit(1.0) - _cosine(a)


_fixed("vector_dims", lambda a: F.size(a[0]))
_fixed("vector_norm", lambda a: _l2norm(a))


# --------------------------------------------------------- regression aggs
_fixed("regr_slope", lambda a: F.regr_slope(a[0], a[1]))
_fixed("regr_intercept", lambda a: F.regr_intercept(a[0], a[1]))
_fixed("regr_count", lambda a: F.regr_count(a[0], a[1]))
_fixed("regr_r2", lambda a: F.regr_r2(a[0], a[1]))
_fixed("regr_avgx", lambda a: F.regr_avgx(a[0], a[1]))
_fixed("regr_avgy", lambda a: F.regr_avgy(a[0], a[1]))

# ------------------------------------------------------------ more pg misc
# %s path; %I/%L forms are handled in the expression compiler (literal fmt
# only). pg renders NULL %s arguments as empty string (format_string would
# render the literal text 'null'), so coalesce each value argument.
_fixed("format", lambda a: F.call_function(
    "format_string", a[0],
    *[F.coalesce(x.cast("string"), F.lit("")) for x in a[1:]]))
_fixed("quote_ident", lambda a: F.concat(
    F.lit('"'), F.regexp_replace(a[0], '"', '""'), F.lit('"')))
_fixed("quote_literal", lambda a: F.concat(
    F.lit("'"), F.regexp_replace(a[0], "'", "''"), F.lit("'")))
_fixed("quote_nullable", lambda a: F.coalesce(
    F.concat(F.lit("'"), F.regexp_replace(a[0].cast("string"), "'", "''"),
             F.lit("'")), F.lit("NULL")))
_fixed("factorial", lambda a: F.factorial(a[0]))
_fixed("sinh", lambda a: F.sinh(a[0]))
_fixed("cosh", lambda a: F.cosh(a[0]))
_fixed("tanh", lambda a: F.tanh(a[0]))
# pg div(a, b): integer quotient truncated toward zero
_fixed("div", lambda a: (a[0] / a[1]).cast("long"))


_fixed("__overlay", lambda a: F.overlay(a[0], a[1], a[2])
       if len(a) == 3 else F.overlay(a[0], a[1], a[2], a[3]))


def _count_nonnull(a):
    cols = [c.isNotNull().cast("int") for c in a]
    return functools.reduce(lambda x, y: x + y, cols)


_fixed("num_nonnulls", _count_nonnull)
_fixed("num_nulls", lambda a: F.lit(len(a)) - _count_nonnull(a))


# ------------------------------------------------- sketches (Datasketches)
_fixed("hll_sketch_estimate", lambda a: F.hll_sketch_estimate(a[0]))
_fixed("hll_union", lambda a: F.hll_union(a[0], a[1]))
_fixed("theta_sketch_estimate", lambda a: F.theta_sketch_estimate(a[0]))
_fixed("theta_union", lambda a: F.theta_union(a[0], a[1]))
_fixed("theta_intersection", lambda a: F.theta_intersection(a[0], a[1]))
_fixed("theta_difference", lambda a: F.theta_difference(a[0], a[1]))


# ------------------------------------------------------------------- json
_fixed("json_extract", lambda a: F.call_function("get_json_object", a[0], a[1]), "json_extract_path_text")
# pg json_array_length(json): takes json TEXT (the arrows return text);
# JVM-side parse, no UDF
_fixed("json_array_length",
       lambda a: F.json_array_length(a[0].cast("string")),
       "jsonb_array_length")
# pg json_object_keys is SETOF text — explode like the other SRFs (the
# select-list lockstep machinery recognizes it by name)
_fixed("json_object_keys",
       lambda a: F.explode(F.json_object_keys(a[0].cast("string"))),
       "jsonb_object_keys")
# pg to_json(x): any value -> JSON text. F.to_json only takes containers,
# so wrap in a 1-element array and strip the brackets — exact for scalars,
# structs and arrays alike (JSON text cannot contain a top-level bare ']').
# pg to_json(NULL) is SQL NULL (the array-wrap trick would yield the text
# 'null' otherwise)
_fixed("to_json", lambda a: F.when(
    a[0].isNotNull(), _strip_array_brackets(F.to_json(F.array(a[0])))),
    "to_jsonb")
_fixed("row_to_json", lambda a: F.to_json(a[0]))


def _strip_array_brackets(j: Column) -> Column:
    return F.call_function("substring", j, F.lit(2), F.length(j) - 2)


def _json_typeof(a):
    s = F.trim(a[0].cast("string"))
    return (F.when(s.isNull(), F.lit(None))
            .when(s.startswith("{"), F.lit("object"))
            .when(s.startswith("["), F.lit("array"))
            .when(s.startswith('"'), F.lit("string"))
            .when(s == "null", F.lit("null"))
            .when(s.isin("true", "false"), F.lit("boolean"))
            .otherwise(F.lit("number")))


_fixed("json_typeof", _json_typeof, "jsonb_typeof")


def lookup(name: str) -> Builder:
    try:
        return REGISTRY[name]
    except KeyError:
        raise KeyError(f"unknown function: {name}") from None


# ------------------------------------------------------- round-7 gap batch

# pg justify_days/hours/interval re-decompose an interval's FIELDS
# (30 days <-> 1 month, 24 hours <-> 1 day) without changing its value
# under pg's own comparison semantics (which equate 1 month = 30 days).
# Spark's DayTimeIntervalType stores normalized microseconds — there are
# no fields to re-decompose — so these are value-identity here; Spark
# cannot even construct the mixed month/day-time values whose display
# these functions exist to clean up (the literal parser rejects them).
_fixed("justify_days", lambda a: a[0])
_fixed("justify_hours", lambda a: a[0])
_fixed("justify_interval", lambda a: a[0])


def _make_interval(a: List[Column]) -> Column:
    """pg make_interval(years, months, weeks, days, hours, mins, secs) —
    the DAY-TIME arm. The compiler dispatches here only when the
    year/month arguments are statically zero/absent; nonzero year/month
    calls compile to Spark's native make_interval (CalendarIntervalType,
    usable in date/timestamp arithmetic) in compiler/expressions.py. The
    runtime raise below remains as a guard for non-literal year/month
    values that turn out nonzero."""
    args = list(a) + [F.lit(0)] * (7 - len(a))
    y, mo, w, d, h, mi, s = args
    dt = ((w.cast("long") * 7 + d.cast("long")) * F.expr("INTERVAL '1' DAY")
          + h.cast("long") * F.expr("INTERVAL '1' HOUR")
          + mi.cast("long") * F.expr("INTERVAL '1' MINUTE")
          + s.cast("double") * F.expr("INTERVAL '1' SECOND"))
    return F.when(
        (y.cast("long") != 0) | (mo.cast("long") != 0),
        F.raise_error(F.lit(
            "make_interval: year/month components are not representable "
            "in a day-time interval; use an INTERVAL 'n years m months' "
            "literal instead"))).otherwise(dt)


_fixed("make_interval", _make_interval)

# pg 15 regexp family (Spark has native, same first-match semantics;
# regexp_substr returns NULL on no match, regexp_instr 0)
_fixed("regexp_substr", lambda a: F.regexp_substr(a[0], a[1]))
_fixed("regexp_instr", lambda a: F.regexp_instr(a[0], a[1]))


def _to_ascii(a: List[Column]) -> Column:
    # pg to_ascii only converts from LATIN1/LATIN2/LATIN9/WIN1250 and
    # raises in UTF8 databases; this engine is UTF8-only, so mirror pg
    raise ValueError(
        "to_ascii: encoding conversion from UTF8 to ASCII is not "
        "supported (PostgreSQL raises the same in UTF8 databases)")


_fixed("to_ascii", _to_ascii)

# ------------------------------------------------------------ array batch
# pg array_fill(value, dims[, lower_bounds]) — 1-D only (dims[1]); our
# array surface is 1-D throughout (string_to_array, ARRAY literals)
_fixed("array_fill",
       lambda a: F.array_repeat(a[0], F.element_at(a[1], 1).cast("int")))
_fixed("array_ndims", lambda a: F.when(a[0].isNotNull(), F.lit(1)))
# pg array_dims: '[1:n]' text (1-D surface); NULL for empty/NULL arrays
_fixed("array_dims",
       lambda a: F.when(F.size(a[0]) >= 1,
                        F.concat(F.lit("[1:"), F.size(a[0]).cast("string"),
                                 F.lit("]"))))
_fixed("array_lower",
       lambda a: F.when((a[1] == 1) & (F.size(a[0]) >= 1), F.lit(1)))
_fixed("array_upper",
       lambda a: F.when((a[1] == 1) & (F.size(a[0]) >= 1), F.size(a[0])))
_fixed("array_shuffle", lambda a: F.shuffle(a[0]))


def _array_sample(a: List[Column]) -> Column:
    # pg 16: n random elements without replacement; n outside
    # [0, cardinality] is an error (not a clamp)
    return F.when(
        (a[1] < 0) | (a[1] > F.size(a[0])),
        F.raise_error(F.lit(
            "array_sample: sample size must be between 0 and the array "
            "length"))
    ).otherwise(F.slice(F.shuffle(a[0]), F.lit(1), a[1]))


_fixed("array_sample", _array_sample)

# generate_subscripts(arr, dim): subscript series of one dimension — an
# SRF like generate_series; dim > 1 yields the empty set (1-D arrays).
# Shared with the select-list lockstep path (compiler/select._srf_array).


def pg_subscripts_column(arr: Column, dim: Column) -> Column:
    # sequence(1, 0) runs DESCENDING in Spark ([1, 0]) — an empty array
    # must yield the empty set, so guard size >= 1 explicitly
    return F.when((dim == 1) & (F.size(arr) >= 1),
                  F.sequence(F.lit(1), F.size(arr))) \
        .otherwise(F.array().cast("array<int>"))


_fixed("generate_subscripts",
       lambda a: F.explode(pg_subscripts_column(a[0], a[1])))


# --------------------------------------------- json mutation (Arrow batch)
# No Spark built-ins exist for structural JSON edits; these run as
# vectorized Arrow pandas_udfs (never row-at-a-time Python UDFs) — the
# same tier the multimodal decode batch uses. Inputs/outputs are JSON
# text, matching the engine's json representation.

def _pg_json_path(p) -> list:
    # pg text-array path literal: '{a,b,0}' -> ['a', 'b', '0']
    p = (p or "").strip()
    if p.startswith("{") and p.endswith("}"):
        p = p[1:-1]
    return [s.strip() for s in p.split(",")] if p else []


# The pandas_udf factories are functools.cache'd: building one wraps and
# serializes a closure, which should happen once per process and UDF
# shape, not once per compiled expression
@functools.cache
def _json_strip_nulls_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def strip(col: pd.Series) -> pd.Series:
        import json as _json

        def walk(v):
            if isinstance(v, dict):
                return {k: walk(x) for k, x in v.items() if x is not None}
            if isinstance(v, list):
                return [walk(x) for x in v]
            return v

        def one(s):
            if s is None:
                return None
            return _json.dumps(walk(_json.loads(s)),
                               separators=(",", ":"))

        return col.map(one)

    return strip


_fixed("json_strip_nulls",
       lambda a: _json_strip_nulls_udf()(a[0].cast("string")),
       "jsonb_strip_nulls")


@functools.cache
def _jsonb_edit_udf(insert_mode: bool):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def edit(target: pd.Series, path: pd.Series, newval: pd.Series,
             flag: pd.Series) -> pd.Series:
        import json as _json

        def one(t, p, n, fl):
            # pg's jsonb_set/jsonb_insert are STRICT: any NULL argument
            # (including the new value — the famous jsonb_set footgun)
            # yields SQL NULL, never a JSON null write
            if t is None or p is None or n is None or fl is None:
                return None
            doc = _json.loads(t)
            parts = _pg_json_path(p)
            new = _json.loads(n)
            if not parts:
                return _json.dumps(doc, separators=(",", ":"))
            cur = doc
            for seg in parts[:-1]:
                if isinstance(cur, list):
                    # a non-integer or out-of-range segment means the path
                    # does not exist: return the target unchanged (pg's
                    # no-op behavior for absent intermediate steps)
                    try:
                        cur = cur[int(seg)]
                    except (ValueError, IndexError):
                        return _json.dumps(doc, separators=(",", ":"))
                elif isinstance(cur, dict):
                    if seg not in cur:
                        return _json.dumps(doc, separators=(",", ":"))
                    cur = cur[seg]
                else:
                    return _json.dumps(doc, separators=(",", ":"))
            last = parts[-1]
            if isinstance(cur, list):
                try:
                    int(last)
                except ValueError:
                    # non-integer subscript into an array: path absent
                    return _json.dumps(doc, separators=(",", ":"))
            if insert_mode:
                # jsonb_insert: arrays insert before (after when flag);
                # object keys insert only when absent (pg errors on
                # existing keys — mirrored)
                if isinstance(cur, list):
                    i = int(last)
                    if i < 0:
                        i = len(cur) + i + (1 if fl else 0)
                    else:
                        i = i + (1 if fl else 0)
                    cur.insert(i, new)
                elif isinstance(cur, dict):
                    if last in cur:
                        raise ValueError(
                            "jsonb_insert: cannot replace an existing key")
                    cur[last] = new
            else:
                # jsonb_set: create_missing (flag, default true) controls
                # whether an absent object key is added
                if isinstance(cur, list):
                    i = int(last)
                    if -len(cur) <= i < len(cur):
                        cur[i] = new
                    elif fl:
                        cur.insert(0 if i < 0 else len(cur), new)
                elif isinstance(cur, dict):
                    if last in cur or fl:
                        cur[last] = new
            return _json.dumps(doc, separators=(",", ":"))

        return pd.Series([one(t, p, n, bool(fl) if fl is not None else None)
                          for t, p, n, fl in
                          zip(target, path, newval, flag)])

    return edit


def _jsonb_set(a: List[Column]) -> Column:
    flag = a[3] if len(a) > 3 else F.lit(True)
    return _jsonb_edit_udf(False)(a[0].cast("string"), a[1].cast("string"),
                                  a[2].cast("string"),
                                  flag.cast("boolean"))


def _jsonb_insert(a: List[Column]) -> Column:
    flag = a[3] if len(a) > 3 else F.lit(False)
    return _jsonb_edit_udf(True)(a[0].cast("string"), a[1].cast("string"),
                                 a[2].cast("string"), flag.cast("boolean"))


_fixed("jsonb_set", _jsonb_set, "json_set")
_fixed("jsonb_insert", _jsonb_insert)


# ------------------------------------------------------ pg_trgm (r09)
# trigram fuzzy matching (functions/trigram.py — pure JVM HOFs); pg
# returns real (float4) from the similarity functions, cast here at the
# SQL boundary while the operators compare on the exact double
def _trgm(a: List[Column], fn) -> Column:
    from . import trigram as _tg

    return getattr(_tg, fn)(a[0], a[1]).cast("float")


_fixed("similarity", lambda a: _trgm(a, "similarity"))
_fixed("word_similarity", lambda a: _trgm(a, "word_similarity"))
_fixed("strict_word_similarity",
       lambda a: _trgm(a, "strict_word_similarity"))


def _show_trgm(a: List[Column]) -> Column:
    from . import trigram as _tg

    return _tg.trigram_array(a[0])


_fixed("show_trgm", _show_trgm)

# ------------------------------------- fuzzystrmatch + unaccent (r09)
# pg's other fuzzy-matching extension and the accent-stripping dictionary
# (both beyond-reference pg extension surface). All pure JVM expressions.

# soundex: Spark's built-in implements the same American Soundex algorithm
# as pg fuzzystrmatch (verified on the pg-docs examples: Anne/A500,
# Andrew/A536, Margaret/M626, Tymczak/T522, Pfister/P236). Documented
# deviation: for inputs with no leading letter pg skips to the first
# letter, Spark returns the input unchanged — conformance pins letter
# inputs only.
_fixed("soundex", lambda a: F.soundex(a[0]))


def _difference(a: List[Column]) -> Column:
    """pg fuzzystrmatch difference(): the number of matching positions
    (0-4) between the two 4-char soundex codes (pg soundex pads with '0';
    Spark only pads codes it produced from letters, so rpad defensively)."""
    c1 = F.rpad(F.soundex(a[0]), 4, "0")
    c2 = F.rpad(F.soundex(a[1]), 4, "0")
    parts = [
        (F.substring(c1, i, 1) == F.substring(c2, i, 1)).cast("int")
        for i in range(1, 5)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


_fixed("difference", _difference)

# pg levenshtein(source, target[, ins_cost, del_cost, sub_cost]): the
# unit-cost form is Spark's built-in (== DuckDB == pg); the 5-arg costed
# form runs the weighted DP in an Arrow pandas_udf (Spark has no weighted
# variant and the row-ragged DP is not a JVM expression), pinned on the
# pg-docs §F.15 example levenshtein('GUMBO','GAMBOL',2,1,1)=3 and on the
# unit-cost-equivalence property in tests.

def _lev_costed_py(s: str, t: str, ci: int, cd: int, cs: int) -> int:
    # converting SOURCE into TARGET: inserting a target char costs ci,
    # deleting a source char cd, substituting cs
    m, n = len(s), len(t)
    prev = [j * ci for j in range(n + 1)]
    for i in range(1, m + 1):
        cur = [i * cd] + [0] * n
        si = s[i - 1]
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + cd, cur[j - 1] + ci,
                         prev[j - 1] + (0 if si == t[j - 1] else cs))
        prev = cur
    return prev[n]


@functools.cache
def _lev_costed_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def lev(s: pd.Series, t: pd.Series, ci: pd.Series, cd: pd.Series,
            cs: pd.Series) -> pd.Series:
        def one(a, b, x, y, z):
            if a is None or b is None or x is None or y is None \
                    or z is None:
                return None
            return _lev_costed_py(a, b, int(x), int(y), int(z))

        return pd.Series([one(*row) for row in zip(s, t, ci, cd, cs)])

    return lev


def _const_int(c: Column):
    """Compile-time integer value of a foldable Column, else None —
    used to special-case literal arguments into JVM builtins (the plan
    is built once; this costs one py4j probe at compile time, never at
    row time)."""
    try:
        from pyspark.sql import SparkSession

        sess = SparkSession.getActiveSession()
        e = sess._jsparkSession.expression(c._jc)
        if not e.foldable():
            return None
        v = e.eval(None)
        return None if v is None else int(v)
    except Exception:
        return None


def _levenshtein(a: List[Column]) -> Column:
    if len(a) == 2:
        return F.levenshtein(a[0], a[1])
    if len(a) == 5:
        # unit costs: the weighted DP degenerates to the plain distance,
        # so literal (1, 1, 1) costs compile to Spark's built-in JVM
        # levenshtein instead of the per-row python DP (identical value
        # and type by pg's definition; null-in -> null-out both ways)
        if all(_const_int(c) == 1 for c in a[2:5]):
            return F.levenshtein(a[0].cast("string"), a[1].cast("string"))
        return _lev_costed_udf()(
            a[0].cast("string"), a[1].cast("string"),
            a[2].cast("int"), a[3].cast("int"), a[4].cast("int"))
    raise ValueError("levenshtein takes 2 or 5 arguments")


_fixed("levenshtein", _levenshtein)


def _levenshtein_less_equal(a: List[Column]) -> Column:
    """pg levenshtein_less_equal(s, t[, costs...], max_d): accurate when
    the distance is <= max_d, otherwise SOME value > max_d (pg's
    documented contract; this returns max_d + 1). Computed as a bounded
    comparison over the full (unit or costed) distance — correct for any
    max_d column or literal."""
    if len(a) not in (3, 6):
        raise ValueError("levenshtein_less_equal takes 3 or 6 arguments")
    d = _levenshtein(a[:-1])
    m = a[-1].cast("int")
    return F.when(d > m, m + F.lit(1)).otherwise(d)


_fixed("levenshtein_less_equal", _levenshtein_less_equal)

# unaccent: pg's unaccent.rules for Latin-1 Supplement + Latin Extended-A
# (the ranges covering the Western/Central European text in scope for this
# engine's ascii-word operators; combining marks and presentation-form
# ligatures are out of scope — documented subset). 1:1 mappings compile to
# ONE translate(); the multi-char expansions (ß->ss, Æ->AE, ...) are a
# short replace() chain. All row-local, codegen'd.
_UNACCENT_1TO1 = {
    "ÀÁÂÃÄÅĀĂĄ": "A", "àáâãäåāăą": "a",
    "ÇĆĈĊČ": "C", "çćĉċč": "c",
    "ĎĐÐ": "D", "ďđð": "d",
    "ÈÉÊËĒĔĖĘĚ": "E", "èéêëēĕėęě": "e",
    "ĜĞĠĢ": "G", "ĝğġģ": "g",
    "ĤĦ": "H", "ĥħ": "h",
    "ÌÍÎÏĨĪĬĮİ": "I", "ìíîïĩīĭįı": "i",
    "Ĵ": "J", "ĵ": "j",
    "Ķ": "K", "ķ": "k",
    "ĹĻĽĿŁ": "L", "ĺļľŀł": "l",
    "ÑŃŅŇŊ": "N", "ñńņňŉŋ": "n",
    "ÒÓÔÕÖØŌŎŐ": "O", "òóôõöøōŏő": "o",
    "ŔŖŘ": "R", "ŕŗř": "r",
    "ŚŜŞŠ": "S", "śŝşš": "s",
    "ŢŤŦ": "T", "ţťŧ": "t",
    "ÙÚÛÜŨŪŬŮŰŲ": "U", "ùúûüũūŭůűų": "u",
    "Ŵ": "W", "ŵ": "w",
    "ÝŶŸ": "Y", "ýÿŷ": "y",
    "ŹŻŽ": "Z", "źżž": "z",
}
_UNACCENT_FROM = "".join(_UNACCENT_1TO1)
_UNACCENT_TO = "".join(t * len(s) for s, t in _UNACCENT_1TO1.items())
_UNACCENT_MULTI = [("ß", "ss"), ("Æ", "AE"), ("æ", "ae"),
                   ("Œ", "OE"), ("œ", "oe"), ("Þ", "TH"), ("þ", "th"),
                   ("Ĳ", "IJ"), ("ĳ", "ij"),
                   # presentation-form ligatures (r12; pg unaccent.rules
                   # carries the same expansions)
                   ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
                   ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬅ", "st"), ("ﬆ", "st")]
# combining-mark blocks (r12): text carrying DECOMPOSED accents (base
# letter + combining char) drops the mark outright, matching pg's rules
# file which maps every combining diacritic to nothing
_UNACCENT_COMBINING = ("[\u0300-\u036f\u1ab0-\u1aff"
                       "\u1dc0-\u1dff\u20d0-\u20ff\ufe20-\ufe2f]")


def _unaccent(a: List[Column]) -> Column:
    # pg's 2-arg form selects a dictionary; only the default is supported
    col = a[-1]
    out = F.translate(col, _UNACCENT_FROM, _UNACCENT_TO)
    for src, dst in _UNACCENT_MULTI:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.regexp_replace(out, _UNACCENT_COMBINING, "")


_fixed("unaccent", _unaccent)


# -- metaphone (r11): Lawrence Philips' Metaphone, in the Michael Kuhn
# C-implementation lineage that PHP's metaphone() and pg fuzzystrmatch's
# metaphone.c both derive from (the pg file documents the PHP port). The
# rule set below is the published one: the first-letter table, the 26-way
# main switch, and the 5-class character coding (vowel / NOCHANGE-FJLMNR /
# AFFECTH-CGPST / soft-EIY / NOGHTOF-BDH). Verified against the pg-docs
# §F.15 example (metaphone('GUMBO',4)='KM') and this lineage's documented
# quirks (school->SXL, laugh->LF, what->HT) in tests/test_pg_conformance.
# Iterative per-string with lookahead/lookbehind — no JVM expression can
# express it, so this is the same documented Arrow-pandas_udf exception
# tier as normalize()/zlib. Deviation: pg caps input at 255 bytes with an
# error; this accepts any length (superset — the cap is an implementation
# limit, not semantics).

_MPH_VOWEL = frozenset("AEIOU")
_MPH_NOCHANGE = frozenset("FJLMNR")
_MPH_AFFECTH = frozenset("CGPST")
_MPH_SOFT = frozenset("EIY")
_MPH_NOGHTOF = frozenset("BDH")


def _metaphone_py(word: str, maxlen: int) -> str:
    w = "".join(ch for ch in word.upper() if "A" <= ch <= "Z")
    n = len(w)
    out: list = []
    i = 0
    if not n:
        return ""
    # first letter: AE->E; [GKP]N->N; WR->R, WH->H, W+vowel->W; X->S;
    # other initial vowels kept; everything else falls to the main loop
    c, nxt = w[0], w[1] if n > 1 else ""
    if c == "A":
        if nxt == "E":
            out.append("E")
            i = 2
        else:
            out.append("A")
            i = 1
    elif c in "GKP":
        if nxt == "N":
            out.append("N")
            i = 2
    elif c == "W":
        if nxt in ("H", "R"):
            out.append(nxt)
            i = 2
        elif nxt in _MPH_VOWEL:
            out.append("W")
            i = 2
    elif c == "X":
        out.append("S")
        i = 1
    elif c in "EIOU":
        out.append(c)
        i = 1
    while i < n and len(out) < maxlen:
        c = w[i]
        prev = w[i - 1] if i > 0 else ""
        nxt = w[i + 1] if i + 1 < n else ""
        after = w[i + 2] if i + 2 < n else ""
        skip = 0
        if c == prev and c != "C":          # drop duplicates, except CC
            i += 1
            continue
        if c in _MPH_NOCHANGE:
            out.append(c)
        elif c in _MPH_VOWEL:
            pass                            # vowels kept only initially
        elif c == "B":                      # silent in MB
            if prev != "M":
                out.append("B")
        elif c == "C":
            if nxt in _MPH_SOFT:
                if nxt == "I" and after == "A":     # CIA -> X
                    out.append("X")
                elif prev == "S":                   # SC[EIY]: silent
                    pass
                else:
                    out.append("S")
            elif nxt == "H":                        # CH -> X (traditional:
                out.append("X")                     # SCH stays X)
                skip = 1
            else:
                out.append("K")
        elif c == "D":
            if nxt == "G" and after in _MPH_SOFT:   # DG[EIY] -> J
                out.append("J")
                skip = 1
            else:
                out.append("T")
        elif c == "G":
            if nxt == "H":
                # F when GH ends the word, unless B/D/H three back or H
                # four back (B--GH, D--GH, -H--GH, -H---GH stay silent);
                # GH elsewhere: G silent (H silenced by the AFFECTH rule)
                back3 = w[i - 3] if i >= 3 else ""
                back4 = w[i - 4] if i >= 4 else ""
                if after == "" and not (back3 in _MPH_NOGHTOF
                                        or back4 == "H"):
                    out.append("F")
                    skip = 1
            elif nxt == "N":
                # silent in word-final GN and in GNED; else K
                if after == "" or (after == "E"
                                   and (w[i + 3:i + 4] or "") == "D"):
                    pass
                else:
                    out.append("K")
            elif nxt in _MPH_SOFT and prev != "G":  # soft G -> J
                out.append("J")
            else:
                out.append("K")
        elif c == "H":
            # H only before a vowel and not after C/G/P/S/T
            if nxt in _MPH_VOWEL and prev not in _MPH_AFFECTH:
                out.append("H")
        elif c == "K":
            if prev != "C":                 # silent after C
                out.append("K")
        elif c == "P":
            out.append("F" if nxt == "H" else "P")
        elif c == "Q":
            out.append("K")
        elif c == "S":
            if nxt == "I" and after in ("O", "A"):  # SIO/SIA -> X
                out.append("X")
            elif nxt == "H":
                out.append("X")
            else:
                out.append("S")
        elif c == "T":
            if nxt == "I" and after in ("O", "A"):  # TIO/TIA -> X
                out.append("X")
            elif nxt == "H":
                out.append("0")             # theta
            elif not (nxt == "C" and after == "H"):  # silent in TCH
                out.append("T")
        elif c == "V":
            out.append("F")
        elif c == "W":
            if nxt in _MPH_VOWEL:
                out.append("W")
        elif c == "X":
            out.append("K")
            out.append("S")
        elif c == "Y":
            if nxt in _MPH_VOWEL:
                out.append("Y")
        elif c == "Z":
            out.append("S")
        i += 1 + skip
    return "".join(out)[:maxlen]


@functools.cache
def _metaphone_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def mph(col: pd.Series, maxlen: pd.Series) -> pd.Series:
        def one(s, m):
            if s is None or m is None:
                return None
            m = int(m)
            if m <= 0:
                raise ValueError("metaphone: output cannot be empty")
            return _metaphone_py(s, m)

        return pd.Series([one(s, m) for s, m in zip(col, maxlen)])

    return mph


@register("metaphone")
def _metaphone(args: List[Column]) -> Column:
    return _metaphone_udf()(args[0].cast("string"), args[1].cast("int"))


@functools.cache
def _dmetaphone_udf(alt: bool):
    # pg fuzzystrmatch dmetaphone()/dmetaphone_alt(): Double Metaphone
    # primary/alternate codes (functions/dmetaphone.py), 4-char max like
    # pg. Same Arrow-pandas_udf exception tier as metaphone.
    from pyspark.sql.functions import pandas_udf

    from .dmetaphone import _double_metaphone

    @pandas_udf("string")
    def dmp(col: pd.Series) -> pd.Series:
        return pd.Series([None if s is None
                          else _double_metaphone(s)[1 if alt else 0]
                          for s in col])

    return dmp


_fixed("dmetaphone", lambda a: _dmetaphone_udf(False)(a[0].cast("string")))
_fixed("dmetaphone_alt",
       lambda a: _dmetaphone_udf(True)(a[0].cast("string")))


# ------------------------------------------- bytea / pgcrypto batch (r09)
# pg binary-string functions (pg docs §9.5) + pgcrypto digest. bytea is
# Spark BinaryType; byte values extract JVM-side via hex/conv (no UDF).
# Formats/algorithms dispatch through when-chains so non-literal
# arguments still work; unsupported names raise at row time like pg.

def _b64_wrap(b64: Column) -> Column:
    # pg encode(..,'base64') line-wraps every 76 chars (RFC 2045) with
    # no trailing newline (pg base64_encode writes the '\n' before the
    # next group, so an exact-76 line never ends with one). Spark's own
    # base64 MIME-wraps with CRLF in some versions — normalize that away
    # first, then re-wrap with a lookahead so no newline lands at the end.
    flat = F.regexp_replace(b64, "[\r\n]", "")
    return F.regexp_replace(flat, "(.{76})(?=.)", "$1\n")


def _escape_encode(b: Column) -> Column:
    """pg encode(bytea, 'escape'): printable ascii as-is, backslash as
    '\\\\', everything else as '\\nnn' octal — a JVM byte fold (aggregate
    over byte positions reusing _byte_at), no UDF."""
    def render(i: Column) -> Column:
        v = _byte_at(b, i)
        return (F.when(v == 92, F.lit("\\\\"))
                .when((v >= 32) & (v <= 126), F.char(v))
                .otherwise(F.concat(
                    F.lit("\\"), F.lpad(F.conv(v.cast("string"),
                                               10, 8), 3, "0"))))

    return F.when(F.octet_length(b) == 0, F.lit("")).otherwise(
        F.aggregate(F.sequence(F.lit(0), F.octet_length(b) - 1),
                    F.lit(""),
                    lambda acc, i: F.concat(acc, render(i))))


def _escape_decode(s: Column) -> Column:
    """pg decode(text, 'escape'): '\\\\' -> 0x5C, '\\nnn' -> the octal
    byte, other chars -> their UTF-8 bytes; malformed escapes raise like
    pg. Stateful scan as a JVM aggregate over character positions with a
    (hex-accumulator, chars-to-skip) struct — the lookahead consumes 1 or
    3 following chars, so a plain per-char map can't express it."""
    def merge(acc, i):
        ch = F.substring(s, i, 1)
        nxt3 = F.substring(s, i + 1, 3)
        esc_bs = F.substring(s, i + 1, 1) == "\\"
        esc_oct = nxt3.rlike("^[0-3][0-7][0-7]$")
        emitted = (
            F.when(ch != "\\", F.hex(F.encode(ch, "UTF-8")))
            .when(esc_bs, F.lit("5C"))
            .when(esc_oct, F.lpad(F.conv(nxt3, 8, 16), 2, "0"))
            .otherwise(F.raise_error(F.concat(
                F.lit("decode: invalid input syntax for type bytea: "),
                s))))
        skip = (F.when(ch != "\\", F.lit(0))
                .when(esc_bs, F.lit(1))
                .otherwise(F.lit(3)))
        return F.when(acc["k"] > 0, F.struct(
            acc["h"].alias("h"), (acc["k"] - 1).alias("k")))\
            .otherwise(F.struct(
                F.concat(acc["h"], emitted).alias("h"), skip.alias("k")))

    folded = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
        F.struct(F.lit("").alias("h"), F.lit(0).alias("k")),
        merge, lambda acc: acc["h"])
    return F.when(F.length(s) == 0, F.lit("").cast("binary")) \
        .otherwise(F.unhex(folded))


def encode_known(data: Column, fmt: str) -> Column:
    """encode() with a compile-time-known format: builds ONLY that
    branch. Necessary beyond being tidy — the escape branch is a
    higher-order aggregate, and Spark rejects a plan whose lambda body
    wraps a Python-UDF column (encode(hmac(...), 'hex') must therefore
    never carry the escape fold in a dead when-branch)."""
    if fmt == "hex":
        return F.lower(F.hex(data))
    if fmt == "base64":
        return _b64_wrap(F.base64(data))
    return _escape_encode(data)


def decode_known(data: Column, fmt: str) -> Column:
    data = data.cast("string")
    if fmt == "hex":
        return F.unhex(data)
    if fmt == "base64":
        return F.unbase64(F.regexp_replace(data, "[\r\n]", ""))
    return _escape_decode(data)


@functools.cache
def _escape_encode_pd():
    # Runtime-format escape tier: the JVM escape fold is a higher-order
    # aggregate, and Spark rejects any lambda whose body wraps a
    # Python-UDF column — so encode(hmac(...), <computed fmt>) with the
    # HOF in a when-branch fails even for hex/base64 formats. The
    # non-literal-format path therefore computes escape via a pandas_udf
    # (same semantics as _escape_encode; literal formats stay JVM).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def esc_enc(col: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            out = []
            for v in bytes(b):
                if v == 0x5C:
                    out.append("\\\\")
                elif 32 <= v <= 126:
                    out.append(chr(v))
                else:
                    out.append("\\" + format(v, "03o"))
            return "".join(out)

        return col.map(one)

    return esc_enc


@functools.cache
def _escape_decode_pd():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def esc_dec(col: pd.Series) -> pd.Series:
        def one(s):
            if s is None:
                return None
            out, i, n = bytearray(), 0, len(s)
            while i < n:
                ch = s[i]
                if ch != "\\":
                    out.extend(ch.encode("utf-8"))
                    i += 1
                elif s[i + 1:i + 2] == "\\":
                    out.append(0x5C)
                    i += 2
                else:
                    oct3 = s[i + 1:i + 4]
                    if len(oct3) == 3 and oct3[0] in "0123" \
                            and all(c in "01234567" for c in oct3):
                        out.append(int(oct3, 8))
                        i += 4
                    else:
                        raise ValueError(
                            "decode: invalid input syntax for type "
                            "bytea: " + s)
            return bytes(out)

        return col.map(one)

    return esc_dec


def _encode(a: List[Column]) -> Column:
    data, fmt = a[0], F.lower(a[1].cast("string"))
    return (F.when(fmt == "hex", encode_known(data, "hex"))
            .when(fmt == "base64", encode_known(data, "base64"))
            .when(fmt == "escape", _escape_encode_pd()(data))
            .otherwise(F.raise_error(F.concat(
                F.lit("encode: unsupported format "), fmt,
                F.lit(" (hex, base64 and escape are supported)")))))


def _decode(a: List[Column]) -> Column:
    data, fmt = a[0].cast("string"), F.lower(a[1].cast("string"))
    return (F.when(fmt == "hex", decode_known(data, "hex"))
            .when(fmt == "base64", decode_known(data, "base64"))
            .when(fmt == "escape", _escape_decode_pd()(data))
            .otherwise(F.raise_error(F.concat(
                F.lit("decode: unsupported format "), fmt,
                F.lit(" (hex, base64 and escape are supported)")))))


_fixed("encode", _encode)
_fixed("decode", _decode)


def _byte_at(b: Column, n: Column) -> Column:
    # byte n (0-based) as 0-255 int: one-byte binary substr -> hex -> int
    return F.conv(F.hex(F.substring(b, n + F.lit(1), F.lit(1))),
                  16, 10).cast("int")


def _guard_index(b: Column, n: Column, what: str, unit: Column) -> Column:
    # pg raises 'index n out of valid range' for n < 0 or n >= size
    return F.when(
        (n < 0) | (n >= unit),
        F.raise_error(F.concat(F.lit(f"{what}: index "), n.cast("string"),
                               F.lit(" out of valid range")))
    ).otherwise(n)


def _get_byte(a: List[Column]) -> Column:
    b, n = a[0], a[1].cast("int")
    n = _guard_index(b, n, "get_byte", F.octet_length(b))
    return _byte_at(b, n)


def _byte_to_bin(v: Column) -> Column:
    # one byte (0-255) back to a 1-byte binary
    return F.unhex(F.lpad(F.hex(v.cast("int")), 2, "0"))


def _set_byte(a: List[Column]) -> Column:
    b, n, v = a[0], a[1].cast("int"), a[2].cast("int")
    n = _guard_index(b, n, "set_byte", F.octet_length(b))
    v = F.pmod(v, F.lit(256))  # pg uses the low 8 bits
    return F.concat(
        F.substring(b, F.lit(1), n),
        _byte_to_bin(v),
        F.substring(b, n + F.lit(2), F.octet_length(b) - n - F.lit(1)))


def _get_bit(a: List[Column]) -> Column:
    # pg numbers bits from the LSB within each byte: bit n lives in byte
    # n/8 at weight 2^(n%8)
    b, n = a[0], a[1].cast("long")
    n = _guard_index(b, n, "get_bit",
                     F.octet_length(b).cast("long") * 8)
    byte = _byte_at(b, (n / 8).cast("int"))
    k = F.pmod(n, F.lit(8)).cast("int")
    return F.pmod(F.floor(byte / F.pow(F.lit(2.0), k)).cast("int"),
                  F.lit(2))


def _set_bit(a: List[Column]) -> Column:
    b, n, bit = a[0], a[1].cast("long"), a[2].cast("int")
    n = _guard_index(b, n, "set_bit",
                     F.octet_length(b).cast("long") * 8)
    bit = F.when(
        (bit < 0) | (bit > 1),
        F.raise_error(F.concat(F.lit("set_bit: new bit must be 0 or 1, "
                                     "got "), bit.cast("string")))
    ).otherwise(bit)
    pos = (n / 8).cast("int")
    k = F.pmod(n, F.lit(8)).cast("int")
    old = _byte_at(b, pos)
    oldbit = F.pmod(F.floor(old / F.pow(F.lit(2.0), k)).cast("int"),
                    F.lit(2))
    weight = F.pow(F.lit(2.0), k).cast("int")
    newbyte = old - oldbit * weight + bit * weight
    return F.concat(
        F.substring(b, F.lit(1), pos),
        _byte_to_bin(newbyte),
        F.substring(b, pos + F.lit(2), F.octet_length(b) - pos - F.lit(1)))


_fixed("get_byte", _get_byte)
_fixed("set_byte", _set_byte)
_fixed("get_bit", _get_bit)
_fixed("set_bit", _set_bit)


def _digest(a: List[Column]) -> Column:
    # pgcrypto digest(data, type) -> bytea. Spark's md5/sha1/sha2 return
    # hex strings; unhex restores pg's binary return. Text input hashes
    # its UTF-8 bytes in both engines.
    data, algo = a[0], F.lower(a[1].cast("string"))
    return (F.when(algo == "md5", F.unhex(F.md5(data)))
            .when(algo == "sha1", F.unhex(F.sha1(data)))
            .when(algo == "sha224", F.unhex(F.sha2(data, 224)))
            .when(algo == "sha256", F.unhex(F.sha2(data, 256)))
            .when(algo == "sha384", F.unhex(F.sha2(data, 384)))
            .when(algo == "sha512", F.unhex(F.sha2(data, 512)))
            .otherwise(F.raise_error(F.concat(
                F.lit("digest: unknown algorithm "), algo))))


_fixed("digest", _digest)


@functools.cache
def _hmac_udf():
    # pgcrypto hmac(data, key, type) -> bytea: RFC 2104 keyed-hash MAC
    # over the same algorithm set as digest(). The ipad/opad XOR over a
    # block-size key is per-byte state no JVM expression chain expresses
    # sanely, and hand-rolling crypto in Column arithmetic is a bug farm —
    # Python's stdlib hmac inside an Arrow pandas_udf (the documented
    # exception tier), pinned by the RFC 2202/4231 published test vectors
    # in tests/test_pg_conformance.py.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def hm(data: pd.Series, key: pd.Series, algo: pd.Series) -> pd.Series:
        import hashlib
        import hmac as _hmac

        algos = {"md5", "sha1", "sha224", "sha256", "sha384", "sha512"}

        def one(d, k, a):
            if d is None or k is None or a is None:
                return None
            a = a.lower()
            if a not in algos:
                raise ValueError(f"hmac: unknown algorithm {a}")
            d = d.encode("utf-8") if isinstance(d, str) else bytes(d)
            k = k.encode("utf-8") if isinstance(k, str) else bytes(k)
            return _hmac.new(k, d, getattr(hashlib, a)).digest()

        return pd.Series([one(d, k, a)
                          for d, k, a in zip(data, key, algo)])

    return hm


@register("hmac")
def _hmac_fn(args: List[Column]) -> Column:
    return _hmac_udf()(args[0], args[1], args[2].cast("string"))


@functools.cache
def _normalize_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm(col: pd.Series, form: pd.Series) -> pd.Series:
        import unicodedata

        def one(s, f):
            if s is None or f is None:
                return None
            return unicodedata.normalize(f.upper(), s)

        return pd.Series([one(s, f) for s, f in zip(col, form)])

    return norm


@register("normalize")
def _normalize(args: List[Column]) -> Column:
    # pg 13 normalize(text [, form]) — Unicode normalization (default NFC).
    # No JVM builtin exists; vectorized Arrow pandas_udf, the same
    # documented-exception tier as the structural JSON editors. The form
    # keyword is validated at compile time in the expression compiler.
    form = args[1] if len(args) > 1 else F.lit("NFC")
    return _normalize_udf()(args[0].cast("string"), form.cast("string"))


# pg jsonb structural operators (-, #-, @>): genuinely recursive jsonb
# work — the same documented Arrow-pandas_udf exception tier as the
# jsonb_set editors above. Serialization matches them: compact
# separators, keys in source order. Every helper is defined INSIDE the
# udf body: cloudpickle must serialize the closure by value, because the
# engine package is not importable on executor python workers.

@functools.cache
def jsonb_minus_udf(mode: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def minus(target: pd.Series, arg: pd.Series) -> pd.Series:
        import json as _json

        def one(t, a):
            if t is None or a is None:
                return None
            doc = _json.loads(t)
            if mode == "index":
                if not isinstance(doc, list):
                    raise ValueError(
                        "cannot delete from non-array jsonb using an "
                        "integer index")
                i = int(a)
                n = len(doc)
                if i < 0:
                    i += n
                if 0 <= i < n:
                    del doc[i]
                return _json.dumps(doc, separators=(",", ":"))
            keys = _json.loads(a) if mode == "keys" else [a]
            if isinstance(doc, dict):
                for k in keys:
                    doc.pop(k, None)
            elif isinstance(doc, list):
                doc = [x for x in doc
                       if not (isinstance(x, str) and x in keys)]
            else:
                raise ValueError("cannot delete from scalar jsonb")
            return _json.dumps(doc, separators=(",", ":"))

        return pd.Series([one(t, a) for t, a in zip(target, arg)])

    return minus


@functools.cache
def jsonb_delete_path_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def delp(target: pd.Series, path: pd.Series) -> pd.Series:
        import json as _json

        def dump(v):
            return _json.dumps(v, separators=(",", ":"))

        def one(t, p):
            if t is None or p is None:
                return None
            doc = _json.loads(t)
            parts = _json.loads(p)
            if not isinstance(doc, (dict, list)):
                raise ValueError("cannot delete path in scalar jsonb")
            if not parts:
                return dump(doc)
            cur = doc
            for seg in parts[:-1]:
                if isinstance(cur, dict):
                    if seg not in cur:
                        return dump(doc)  # pg: missing path = no-op
                    cur = cur[seg]
                elif isinstance(cur, list):
                    try:
                        i = int(seg)
                    except (TypeError, ValueError):
                        return dump(doc)
                    if i < 0:
                        i += len(cur)
                    if not 0 <= i < len(cur):
                        return dump(doc)
                    cur = cur[i]
                else:
                    return dump(doc)
            last = parts[-1]
            if isinstance(cur, dict):
                cur.pop(last, None)
            elif isinstance(cur, list):
                try:
                    i = int(last)
                except (TypeError, ValueError):
                    return dump(doc)
                if i < 0:
                    i += len(cur)
                if 0 <= i < len(cur):
                    del cur[i]
            return dump(doc)

        return pd.Series([one(t, p) for t, p in zip(target, path)])

    return delp


@functools.cache
def jsonb_contains_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def contains(a: pd.Series, b: pd.Series) -> pd.Series:
        import json as _json

        def rec(x, y, top):
            """pg jsonb containment (jsonb_ops semantics): objects
            contain every right key/value pair recursively; arrays
            contain every right element somewhere (order-insensitive);
            an array contains a primitive at TOP level only; scalars
            compare by jsonb equality (numeric 1 == 1.0, booleans never
            equal numbers)."""
            if isinstance(y, dict):
                return (isinstance(x, dict)
                        and all(k in x and rec(x[k], v, False)
                                for k, v in y.items()))
            if isinstance(y, list):
                return (isinstance(x, list)
                        and all(any(rec(e, v, False) for e in x)
                                for v in y))
            if isinstance(x, list) and top:
                return any(rec(e, y, False) for e in x)
            if isinstance(x, (dict, list)):
                return False
            if isinstance(x, bool) or isinstance(y, bool):
                return x is y if (isinstance(x, bool)
                                  and isinstance(y, bool)) else False
            return x == y

        def one(x, y):
            if x is None or y is None:
                return None
            return rec(_json.loads(x), _json.loads(y), True)

        return pd.Series([one(x, y) for x, y in zip(a, b)],
                         dtype="object")

    return contains


@functools.cache
def jsonb_concat_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def jconcat(a: pd.Series, b: pd.Series) -> pd.Series:
        import json as _json

        def one(x, y):
            """pg jsonb || jsonb: two objects shallow-merge (right wins);
            otherwise both sides coerce to arrays (a non-array wraps as a
            single element) and concatenate."""
            if x is None or y is None:
                return None
            l, r = _json.loads(x), _json.loads(y)
            if isinstance(l, dict) and isinstance(r, dict):
                out = dict(l)
                out.update(r)
            else:
                out = (l if isinstance(l, list) else [l]) \
                    + (r if isinstance(r, list) else [r])
            return _json.dumps(out, separators=(",", ":"))

        return pd.Series([one(x, y) for x, y in zip(a, b)])

    return jconcat
