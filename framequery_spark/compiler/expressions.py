"""Compile expression ASTs to `pyspark.sql.Column` graphs.

Dialect translations (SURVEY §2.8; reference eval rules at
src/framequery/executor/_pandas.py:340-497):
  - `^` is POWER (pg), not XOR           -> F.pow
  - `#` is XOR (pg)                      -> bitwiseXOR
  - `||` null-propagating concat         -> F.concat
  - `concat()` null-ignoring             -> F.concat_ws('')  (registry)
  - `IN`/`LIKE`/`CASE`/`CAST`/`::`       -> native Column ops
Everything compiles to built-in JVM expressions — Python UDFs only appear for
user-registered functions (Executor.add_function), as Arrow pandas_udfs.
"""

from __future__ import annotations

import dataclasses
import re as _re
from typing import Dict, List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import _let
from ..functions.registry import REGISTRY
from ..parser import ast
from .rewrite import contains_aggregate

def _multiset_fusion(c):
    """SQL:2003 FUSION: multiset union-all of the group's array values.
    Canonical (sorted) representation — multisets are unordered, and
    collect_list order is partition-dependent. The reference parses
    fusion/intersection (reference: src/framequery/parser/_parser.py:323-334)
    but cannot execute them (its pandas groupby has no such aggs,
    src/framequery/executor/_pandas.py:167-181); semantics here follow the
    SQL standard."""
    return F.sort_array(F.flatten(F.collect_list(c)))


def _multiset_intersection(c):
    """SQL:2003 INTERSECTION: for each distinct element, min(count) across
    the group's multisets. Pure higher-order-function expression — per-group
    cost O(distinct_values x rows), no Python in the loop."""
    arrs = F.collect_list(c)
    vals = F.array_distinct(F.flatten(arrs))
    counted = F.transform(vals, lambda v: F.struct(
        v.alias("v"),
        F.reduce(
            arrs, F.lit(2147483647),
            lambda m, arr: F.least(
                m, F.size(F.filter(arr, lambda e: e.eqNullSafe(v))))
        ).alias("n")))
    return F.sort_array(
        F.flatten(F.transform(counted,
                              lambda s: F.array_repeat(s["v"], s["n"]))))


AGG_MAP = {
    "sum": lambda c: F.sum(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "count": lambda c: F.count(c),
    "every": lambda c: F.bool_and(c),
    "bool_and": lambda c: F.bool_and(c),
    "any": lambda c: F.bool_or(c),
    "some": lambda c: F.bool_or(c),
    "bool_or": lambda c: F.bool_or(c),
    "stddev": lambda c: F.stddev_samp(c),
    "stddev_samp": lambda c: F.stddev_samp(c),
    "stddev_pop": lambda c: F.stddev_pop(c),
    "variance": lambda c: F.var_samp(c),
    "var_samp": lambda c: F.var_samp(c),
    "var_pop": lambda c: F.var_pop(c),
    "collect": lambda c: F.collect_list(c),
    "array_agg": lambda c: F.collect_list(c),
    "first_value_agg": lambda c: F.first(c),
    "first_value": lambda c: F.first(c),
    "last_value_agg": lambda c: F.last(c),
    "median": lambda c: F.median(c),
    "approx_count_distinct": lambda c: F.approx_count_distinct(c),
    "fusion": _multiset_fusion,
    "intersection": _multiset_intersection,
    # Datasketches HLL (beyond parity): the mergeable-sketch pattern for
    # distinct counts at 100 TB — partial sketches merge map-side, only
    # fixed-size binaries shuffle, and sketches stored per partition/day
    # can be re-merged later without rescanning (hll_union_agg).
    "hll_sketch_agg": lambda c: F.hll_sketch_agg(c),
    "hll_union_agg": lambda c: F.hll_union_agg(c),
    # Datasketches Theta (beyond parity): like HLL but supports set
    # ALGEBRA on sketches — union/intersection/difference of distinct
    # sets without rescanning (e.g. users seen in BOTH of two days).
    "theta_sketch_agg": lambda c: F.theta_sketch_agg(c),
    "theta_union_agg": lambda c: F.theta_union_agg(c),
    "theta_intersection_agg": lambda c: F.theta_intersection_agg(c),
    # pg bitwise aggregates
    "bit_and": lambda c: F.bit_and(c),
    "bit_or": lambda c: F.bit_or(c),
    "bit_xor": lambda c: F.bit_xor(c),
    # pg 16 any_value: an arbitrary non-null input value
    "any_value": lambda c: F.any_value(c, True),
}

# aggregates whose result cannot depend on input order — the only ones
# allowed to silently drop an in-parens ORDER BY (pg permits the syntax
# on any aggregate)
_COMMUTATIVE_AGGS = frozenset({
    "sum", "min", "max", "avg", "count", "median",
    "bool_and", "bool_or", "every", "any", "some",
    "bit_and", "bit_or", "bit_xor",
    "stddev", "stddev_pop", "stddev_samp",
    "var_pop", "var_samp", "variance",
    "approx_count_distinct", "hll_sketch_agg", "hll_union_agg",
    "theta_sketch_agg", "theta_union_agg", "theta_intersection_agg",
})

import itertools as _itertools

# window helper pre-columns (GROUPS dense_rank keys, ROWS-EXCLUDE row
# numbers) can be staged by SEVERAL ExprCompiler instances onto the same
# relation (projection + QUALIFY both attach) — a process-wide sequence
# keeps the hidden names collision-free
_PRECOL_SEQ = _itertools.count()


def _next_precol_name(tag: str) -> str:
    return f"__{tag}{next(_PRECOL_SEQ)}"


def _range_kind_impl(node: ast.Node, probe) -> Optional[str]:
    """pg range type of an expression: a ::int4range-style cast, a range
    constructor call, range-returning aggregates, +/*/- arithmetic, or the
    CASE wrapper the FILTER desugar adds. ONE recursion serves both the
    static check (probe=None) and the scope-schema-probed check (probe
    returns (range_kind, multirange_kind) for column refs) — two parallel
    copies would drift."""
    from ..functions.ranges import RANGE_TYPES

    if isinstance(node, ast.Cast) and node.type_name.lower() in RANGE_TYPES:
        return node.type_name.lower()
    if isinstance(node, ast.Call):
        name = node.name.lower()
        if name in RANGE_TYPES:
            return name
        if name in ("range_intersect_agg", "range_merge") and node.args:
            # both return a range of their argument's subtype (range_merge
            # also takes a multirange — then the result kind comes from it)
            k = _range_kind_impl(node.args[0], probe)
            if k:
                return k
            mk = _multirange_kind_impl(node.args[0], probe)
            if mk:
                from ..functions.multiranges import MULTIRANGE_TYPES
                return MULTIRANGE_TYPES[mk]
        return None
    if isinstance(node, ast.Binary) and node.op in ("+", "*", "-"):
        # a multirange operand makes the whole expression multirange-typed
        # (mr - r is a multirange), never range-typed
        if _multirange_kind_impl(node.left, probe) \
                or _multirange_kind_impl(node.right, probe):
            return None
        return _range_kind_impl(node.left, probe) \
            or _range_kind_impl(node.right, probe)
    if isinstance(node, ast.Case):
        # the FILTER (WHERE ...) desugar wraps aggregate arguments in a
        # CASE — the static kind must see through it
        for _, res in node.whens:
            k = _range_kind_impl(res, probe)
            if k:
                return k
        if node.default is not None:
            return _range_kind_impl(node.default, probe)
        return None
    if probe is not None:
        return probe(node)[0]
    return None


def _multirange_kind_impl(node: ast.Node, probe) -> Optional[str]:
    from ..functions.multiranges import MULTIRANGE_TYPES

    mr_of_range = {v: k for k, v in MULTIRANGE_TYPES.items()}
    if isinstance(node, ast.Cast) \
            and node.type_name.lower() in MULTIRANGE_TYPES:
        return node.type_name.lower()
    if isinstance(node, ast.Call):
        name = node.name.lower()
        if name in MULTIRANGE_TYPES:
            return name
        if name in ("multirange", "range_agg") and node.args:
            k = _range_kind_impl(node.args[0], probe)
            if k:
                return mr_of_range[k]
        return None
    if isinstance(node, ast.Binary) and node.op in ("+", "*", "-"):
        return _multirange_kind_impl(node.left, probe) \
            or _multirange_kind_impl(node.right, probe)
    if isinstance(node, ast.Case):
        for _, res in node.whens:
            k = _multirange_kind_impl(res, probe)
            if k:
                return k
        if node.default is not None:
            return _multirange_kind_impl(node.default, probe)
        return None
    if probe is not None:
        probed = probe(node)[1]
        if probed is None:
            return None
        return mr_of_range[probed]
    return None


def _range_kind(node: ast.Node) -> Optional[str]:
    """Static-only variant (no schema probe)."""
    return _range_kind_impl(node, None)


def _multirange_kind(node: ast.Node) -> Optional[str]:
    return _multirange_kind_impl(node, None)


_RANGE_ACCESSORS = {
    "lower": "range_lower", "upper": "range_upper",
    "isempty": "range_isempty", "is_empty": "range_isempty",
    "lower_inc": "range_lower_inc", "upper_inc": "range_upper_inc",
    "lower_inf": "range_lower_inf", "upper_inf": "range_upper_inf",
}


def _json_path_for_key(k: str) -> str:
    """JSONPath fragment for one object key (shared by -> / ->> and jsonb
    subscripting). get_json_object's path syntax cannot quote ' or ] —
    refuse loudly rather than returning a silent NULL."""
    if k.replace("_", "a").isalnum():
        return f"$.{k}"
    if "'" in k or "]" in k:
        raise CompileError(
            f"JSON key {k!r} contains characters the JSONPath accessor "
            "cannot express (' or ])")
    return f"$['{k}']"


def _decode_unistr(text: str) -> str:
    """pg unistr() escape decoding: \\XXXX (4 hex), \\+XXXXXX (6 hex),
    \\uXXXX, \\UXXXXXXXX (8 hex), and \\\\ for a literal backslash.
    Surrogate pairs combine into one code point (pg accepts them); lone
    surrogates and malformed escapes raise like pg does."""
    out, i, n = [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        nxt = text[i + 1:i + 2]
        if nxt == "\\":
            out.append("\\")
            i += 2
            continue
        if nxt == "+":
            hexs, skip = text[i + 2:i + 8], 8
        elif nxt == "u":
            hexs, skip = text[i + 2:i + 6], 6
        elif nxt == "U":
            hexs, skip = text[i + 2:i + 10], 10
        else:
            hexs, skip = text[i + 1:i + 5], 5
        want = skip - 2 if nxt in ("+", "u", "U") else 4
        if len(hexs) != want or not _re.fullmatch(r"[0-9A-Fa-f]+", hexs):
            raise CompileError(
                f"unistr(): invalid Unicode escape at position {i}")
        out.append(chr(int(hexs, 16)))
        i += skip
    s = "".join(out)
    try:
        # recombine UTF-16 surrogate pairs written as two \XXXX escapes;
        # a lone surrogate fails the strict decode -> reject like pg
        return s.encode("utf-16-le", "surrogatepass").decode("utf-16-le")
    except UnicodeDecodeError:
        raise CompileError("unistr(): invalid surrogate pair")


def interval_expr(text: str) -> Column:
    """INTERVAL literal from pg interval text, with the text validated to a
    safe charset first — the value is interpolated into a SQL fragment, so
    anything else (quotes especially) must be rejected, not injected.
    The SQL-standard year-month form 'Y-M' (pg: interval '1-2' = 1 year
    2 mons) is rewritten to Spark's year-month interval (r12)."""
    if not _re.fullmatch(r"[A-Za-z0-9 .:+\-]+", text or ""):
        raise CompileError(f"invalid interval literal: {text!r}")
    m = _re.fullmatch(r"([+-]?)(\d+)-(\d+)", text.strip())
    if m:
        sgn = "-" if m.group(1) == "-" else ""
        return F.expr(f"INTERVAL '{sgn}{int(m.group(2))}-"
                      f"{int(m.group(3))}' YEAR TO MONTH")
    iso = _re.fullmatch(
        r"P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
        r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
        text.strip(), _re.IGNORECASE)
    if iso and text.strip().upper() != "P":
        # ISO 8601 interval (pg accepts: P1Y2M3DT4H5M6S) -> pg verbose
        y, mo, w, d, h, mi, s = iso.groups()
        parts = []
        for v, unit in ((y, "years"), (mo, "months"), (w, "weeks"),
                        (d, "days"), (h, "hours"), (mi, "minutes"),
                        (s, "seconds")):
            if v is not None:
                parts.append(f"{v} {unit}")
        return interval_expr(" ".join(parts))
    return F.expr(f"INTERVAL '{text}'")


AGG_NAMES = set(AGG_MAP) | {
    "count", "string_agg", "corr", "covar_pop", "covar_samp", "first_value",
    "percentile_cont", "percentile_disc", "mode", "grouping", "grouping_id",
    "approx_percentile", "regr_slope", "regr_intercept", "regr_count",
    "regr_r2", "regr_avgx", "regr_avgy",
    "json_agg", "json_object_agg", "jsonb_agg", "jsonb_object_agg",
    "range_agg", "range_intersect_agg",
}

WINDOW_FUNCS = {
    "row_number": lambda args: F.row_number(),
    "rank": lambda args: F.rank(),
    "dense_rank": lambda args: F.dense_rank(),
    "percent_rank": lambda args: F.percent_rank(),
    "cume_dist": lambda args: F.cume_dist(),
    "ntile": lambda args: F.ntile(args[0]),
    "lag": lambda args: F.lag(args[0], args[1] if len(args) > 1 else 1,
                              args[2] if len(args) > 2 else None),
    "lead": lambda args: F.lead(args[0], args[1] if len(args) > 1 else 1,
                                args[2] if len(args) > 2 else None),
    "first_value": lambda args: F.first(args[0]),
    "last_value": lambda args: F.last(args[0]),
    "nth_value": lambda args: F.nth_value(args[0], args[1]),
}

# window funcs whose int args must stay python ints (offsets / ntile buckets)
_WINDOW_INT_ARGS = {"ntile", "lag", "lead", "nth_value"}

CAST_MAP = {
    "varchar": "string", "text": "string", "char": "string", "string": "string",
    "character varying": "string",
    "int": "int", "integer": "int", "int4": "int",
    "bigint": "long", "int8": "long", "long": "long",
    "smallint": "short", "int2": "short",
    "real": "float", "float4": "float",
    "float": "double", "double": "double", "double precision": "double",
    "float8": "double", "numeric": "decimal(38,18)",
    "boolean": "boolean", "bool": "boolean",
    "date": "date", "timestamp": "timestamp",
    "timestamp without time zone": "timestamp",
    "timestamp with time zone": "timestamp",
    "interval": "interval day to second",
}

COMPARISONS = {"=", "!=", "<>", "<", "<=", ">", ">="}


def _parse_bytea_literal(text: str) -> bytes:
    """pg bytea input syntax (pg docs §8.4): '\\x' + hex digits (embedded
    whitespace legal), or the escape format ('\\\\' backslash, '\\nnn'
    octal byte, other chars as their UTF-8 bytes)."""
    if text.startswith("\\x"):
        h = "".join(text[2:].split())
        try:
            return bytes.fromhex(h)
        except ValueError:
            raise CompileError(
                f"invalid hexadecimal data for type bytea: {text!r}")
    out = bytearray()
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch != "\\":
            out.extend(ch.encode("utf-8"))
            i += 1
            continue
        nxt = text[i + 1:i + 2]
        if nxt == "\\":
            out.append(0x5C)
            i += 2
        elif (len(text[i + 1:i + 4]) == 3
              and text[i + 1] in "0123"
              and all(c in "01234567" for c in text[i + 1:i + 4])):
            out.append(int(text[i + 1:i + 4], 8))
            i += 4
        else:
            raise CompileError(
                f"invalid input syntax for type bytea: {text!r}")
    return bytes(out)


def _parse_pg_brace_array(text: str):
    """Parse a pg array literal '{a, "b,c", NULL}' — possibly nested,
    '{{1,2},{3,4}}' — into (nested) Python lists with None for unquoted
    NULL. pg rules honored: double quotes protect commas/braces/
    whitespace, backslash escapes the next char both inside AND outside
    quotes, unescaped whitespace around elements is skipped, and ragged
    sub-arrays raise like pg's "multidimensional arrays must have array
    expressions with matching dimensions"."""
    s = text.strip()
    if not s.startswith("{"):
        raise CompileError(f"malformed array literal: {text!r}")

    def parse_level(i: int):
        # s[i] == "{"; returns (list, index just past the closing "}")
        i += 1
        items = []
        n = len(s)
        while True:
            while i < n and s[i].isspace():
                i += 1
            if i >= n:
                raise CompileError(f"malformed array literal: {text!r}")
            if s[i] == "}" and not items:
                return items, i + 1  # empty {}
            if s[i] == "{":
                sub, i = parse_level(i)
                items.append(sub)
            elif s[i] == '"':
                i += 1
                cur = []
                while i < n and s[i] != '"':
                    if s[i] == "\\" and i + 1 < n:
                        cur.append(s[i + 1])
                        i += 2
                        continue
                    cur.append(s[i])
                    i += 1
                if i >= n:
                    raise CompileError(f"malformed array literal: {text!r}")
                i += 1  # closing quote
                items.append("".join(cur))
            else:
                chars = []  # (char, escaped)
                while i < n and s[i] not in ",}":
                    if s[i] == "\\" and i + 1 < n:
                        chars.append((s[i + 1], True))
                        i += 2
                        continue
                    if s[i] in '{"':
                        raise CompileError(
                            f"malformed array literal: {text!r}")
                    chars.append((s[i], False))
                    i += 1
                # trailing UNESCAPED whitespace is padding; escaped stays
                while chars and not chars[-1][1] and chars[-1][0].isspace():
                    chars.pop()
                if not chars:
                    # pg rejects empty unquoted elements ('{a,}', '{,a}',
                    # '{1,,2}') as malformed; only a quoted "" is an empty
                    # string element
                    raise CompileError(
                        f"malformed array literal: {text!r}")
                v = "".join(c for c, _ in chars)
                had_escape = any(e for _, e in chars)
                items.append(None if not had_escape and v.upper() == "NULL"
                             else v)
            while i < n and s[i].isspace():
                i += 1
            if i >= n:
                raise CompileError(f"malformed array literal: {text!r}")
            if s[i] == "}":
                return items, i + 1
            if s[i] != ",":
                raise CompileError(f"malformed array literal: {text!r}")
            i += 1

    items, i = parse_level(0)
    if s[i:].strip():
        raise CompileError(f"malformed array literal: {text!r}")

    def shape_of(v):
        # pg: every level must mix only arrays with equal shapes, or only
        # scalars — ragged or depth-mismatched nesting is an error
        if not isinstance(v, list):
            return ()
        shapes = {shape_of(x) for x in v}
        if len(shapes) > 1:
            raise CompileError(
                "multidimensional array literal has mismatching "
                f"dimensions: {text!r}")
        return (len(v),) + (shapes.pop() if shapes else ())

    shape_of(items)
    return items

# pg to_char/to_date template patterns -> Java SimpleDateFormat-style
# patterns (longest-first so MM does not eat Month, etc.)
_PG_DATEFMT = [
    # FM (fill mode) strips pg's fixed-width padding; Java patterns are
    # unpadded already, so it is a no-op token here (parsing direction —
    # the to_char OUTPUT direction uses _date_to_char below, where FM and
    # the pg blank-padding rules are modeled per token)
    ("FM", ""),
    ("HH24", "HH"), ("HH12", "hh"), ("Month", "MMMM"), ("MONTH", "MMMM"),
    ("YYYY", "yyyy"), ("YYY", "yyy"), ("Day", "EEEE"), ("DAY", "EEEE"),
    ("Mon", "MMM"), ("MON", "MMM"), ("MS", "SSS"), ("US", "SSSSSS"),
    ("YY", "yy"), ("MM", "MM"), ("DD", "dd"), ("HH", "hh"), ("MI", "mm"),
    ("SS", "ss"), ("AM", "a"), ("PM", "a"), ("Dy", "E"), ("DY", "E"),
    ("TZ", "z"),
]

# to_char output tokens: (pg token, java, java-under-FM, case fn, pad).
# pg blank-pads Month/Day to 9 chars (docs: "blank-padded to 9 chars")
# and renders the template's own case (MONTH/month); Java MMMM/EEEE give
# only the capitalized unpadded form, so those tokens compile to their
# own date_format segment with upper/lower/rpad applied. FM is pg's
# per-token modifier: it suppresses the padding of exactly the NEXT
# pattern ('FMHH24:MI' unpads the hour, not the minutes).
_TOCHAR_DATE_TOKENS = [
    ("HH24", "HH", "H", None, 0), ("HH12", "hh", "h", None, 0),
    ("MONTH", "MMMM", None, "upper", 9), ("Month", "MMMM", None, None, 9),
    ("month", "MMMM", None, "lower", 9),
    ("YYYY", "yyyy", "y", None, 0), ("YYY", "yyy", None, None, 0),
    ("DAY", "EEEE", None, "upper", 9), ("Day", "EEEE", None, None, 9),
    ("day", "EEEE", None, "lower", 9),
    ("MON", "MMM", None, "upper", 0), ("Mon", "MMM", None, None, 0),
    ("mon", "MMM", None, "lower", 0),
    ("DY", "E", None, "upper", 0), ("Dy", "E", None, None, 0),
    ("dy", "E", None, "lower", 0),
    ("MS", "SSS", None, None, 0), ("US", "SSSSSS", None, None, 0),
    ("YY", "yy", None, None, 0), ("MM", "MM", "M", None, 0),
    ("DD", "dd", "d", None, 0), ("HH", "hh", "h", None, 0),
    ("MI", "mm", "m", None, 0), ("SS", "ss", "s", None, 0),
    ("AM", "a", None, None, 0), ("PM", "a", None, None, 0),
    ("am", "a", None, "lower", 0), ("pm", "a", None, "lower", 0),
    ("TZ", "z", None, None, 0),
    # pg numeric tokens are case-insensitive ('yyyy-mm-dd' is valid pg);
    # lowercase aliases of the numeric rows above (text tokens like
    # month/day already carry their case variants)
    ("hh24", "HH", "H", None, 0), ("hh12", "hh", "h", None, 0),
    ("yyyy", "yyyy", "y", None, 0), ("yyy", "yyy", None, None, 0),
    ("ms", "SSS", None, None, 0), ("us", "SSSSSS", None, None, 0),
    ("yy", "yy", None, None, 0), ("mm", "MM", "M", None, 0),
    ("dd", "dd", "d", None, 0), ("hh", "hh", "h", None, 0),
    ("mi", "mm", "m", None, 0), ("ss", "ss", "s", None, 0),
    ("tz", "z", None, None, 0),
]


def _interval_to_char(arg, fmt: str):
    """pg to_char(interval, template) — docs example
    to_char(interval '15h 2m 12s', 'HH24:MI:SS') = '15:02:12'. Derived
    from total seconds (the engine's normalized day-time storage): when
    the template carries DD, hours normalize into days; without DD, HH24
    runs unbounded (pg's '26 hours' -> '26'). An unjustified '1 day
    2 hours' WITHOUT a DD token prints 26 hours here where pg's separate
    day field prints 02 — the engine-wide normalization deviation,
    documented in COVERAGE.md. Negative intervals print a leading '-'."""
    # casting an interval to bigint counts its SMALLEST declared unit —
    # normalize to second resolution first so the count is always seconds
    secs = arg.cast("interval day to second").cast("bigint")
    s = F.abs(secs)

    def idiv(c, n):  # exact integer division on non-negative bigints
        return ((c - (c % n)) / n).cast("bigint")

    has_dd = "DD" in fmt.upper()
    fields = {
        "DD": idiv(s, 86400),
        "HH24": idiv(s % 86400, 3600) if has_dd else idiv(s, 3600),
        "HH12": idiv(s, 3600) % 12,
        "HH": idiv(s, 3600) % 12,
        "MI": idiv(s % 3600, 60),
        "SS": s % 60,
    }
    segs = [F.when(secs < 0, F.lit("-")).otherwise(F.lit(""))]
    i, fm = 0, False
    while i < len(fmt):
        if fmt.startswith("FM", i) or fmt.startswith("fm", i):
            fm = True
            i += 2
            continue
        for tok in ("HH24", "HH12", "DD", "HH", "MI", "SS"):
            if fmt.startswith(tok, i):
                v = fields[tok].cast("string")
                segs.append(v if fm else F.lpad(v, 2, "0"))
                i += len(tok)
                fm = False
                break
        else:
            if fmt.startswith("MS", i) or fmt.startswith("US", i):
                raise CompileError(
                    "to_char(interval): sub-second templates (MS/US) are "
                    "not supported (second-resolution storage)")
            segs.append(F.lit(fmt[i]))
            i += 1
    return F.concat(*segs)


def _interval_to_pg_text(col) -> Column:
    """pg 'postgres'-style interval rendering for ::text casts:
    '01:30:00', '1 day', '1 day 02:00:00', '-1 days -02:00:00',
    '00:00:00'. Derived from normalized total seconds (hours roll into
    days — the engine-wide day-time normalization; pg's unjustified
    '26 hours' would render '26:00:00' there, '1 day 02:00:00' here,
    documented). Plural follows pg: value != 1 prints 'days' (so
    '-1 days', '1 day')."""
    secs = col.cast("interval day to second").cast("bigint")
    s = F.abs(secs)

    def idiv(c, n):
        return ((c - (c % n)) / n).cast("bigint")

    days = idiv(s, 86400)
    hh, mi, ss = idiv(s % 86400, 3600), idiv(s % 3600, 60), s % 60
    neg = secs < 0
    sgn = F.when(neg, F.lit("-")).otherwise(F.lit(""))

    def p2(c):
        return F.lpad(c.cast("string"), 2, "0")

    time_s = F.concat(sgn, p2(hh), F.lit(":"), p2(mi), F.lit(":"), p2(ss))
    signed_days = F.when(neg, -days).otherwise(days)
    day_s = F.concat(sgn, days.cast("string"),
                     F.when(signed_days == 1, F.lit(" day"))
                     .otherwise(F.lit(" days")))
    return (F.when(days == 0, time_s)
            .when((s % 86400) != 0, F.concat(day_s, F.lit(" "), time_s))
            .otherwise(day_s))


def _ym_interval_to_pg_text(col) -> Column:
    """pg rendering of a year-month interval: '1 year 2 mons',
    '-1 years -2 mons', '00:00:00' for zero. The bigint cast of a
    year-to-month interval counts months."""
    months = col.cast("interval year to month").cast("bigint")
    m = F.abs(months)
    y, mo = ((m - m % 12) / 12).cast("bigint"), m % 12
    neg = months < 0
    sgn = F.when(neg, F.lit("-")).otherwise(F.lit(""))
    sy = F.when(neg, -y).otherwise(y)
    y_s = F.concat(sgn, y.cast("string"),
                   F.when(sy == 1, F.lit(" year"))
                   .otherwise(F.lit(" years")))
    smo = F.when(neg, -mo).otherwise(mo)
    mo_s = F.concat(sgn, mo.cast("string"),
                    F.when(smo == 1, F.lit(" mon"))
                    .otherwise(F.lit(" mons")))
    return (F.when(months == 0, F.lit("00:00:00"))
            .when((y != 0) & (mo != 0), F.concat(y_s, F.lit(" "), mo_s))
            .when(y != 0, y_s)
            .otherwise(mo_s))


def _date_to_char(arg, fmt: str):
    """pg date/timestamp to_char output: compiled to date_format segments.
    Plain numeric/abbreviated tokens accumulate into one Java pattern;
    Month/Day-family tokens (case + 9-char blank padding), FM-unpadded
    numerics, and the COMPUTED pg tokens Java lacks (Q, WW, W, IW, IYYY,
    ID, D, CC, SSSS; TZH/TZM/OF constants under the UTC session) become
    their own segments, concatenated in template order. pg tokens that
    are recognized but unimplemented (RM, TH suffixes, IYY/IY/I, FX)
    raise instead of leaking as literal text."""
    segs: list = []
    buf: list = []

    def flush():
        if buf:
            segs.append(F.date_format(arg, "".join(buf)))
            buf.clear()

    d = F.to_date(arg)
    iso_dow = (F.dayofweek(d) + 5) % 7 + 1       # 1=Mon..7=Sun
    secs_mid = (F.hour(arg) * 3600 + F.minute(arg) * 60 + F.second(arg))
    computed = {
        # (column, zero-pad width; 0 = unpadded); pg numeric tokens are
        # case-insensitive, so each entry carries its lowercase twin
        "IYYY": (F.year(F.date_add(d, 4 - iso_dow)), 4),  # ISO week-year
        "SSSS": (secs_mid, 0),
        "DDD": (F.dayofyear(d), 3),
        "IW": (F.weekofyear(d), 2),
        "WW": ((F.dayofyear(d) - 1) / 7 + 1, 2),
        "CC": ((F.year(d) + 99) / 100, 2),
        "ID": (iso_dow, 0),
        "Q": (F.quarter(d), 0),
        "W": ((F.dayofmonth(d) - 1) / 7 + 1, 0),
        "D": (F.dayofweek(d), 0),                 # pg: 1=Sunday
    }
    computed.update({k.lower(): v for k, v in list(computed.items())
                     if k.lower() not in computed})
    # sessions run UTC, so the zone-offset tokens are constants
    constants = {"TZH": "+00", "TZM": "00", "OF": "+00",
                 "tzh": "+00", "tzm": "00", "of": "+00"}
    unsupported = ("IYY", "IY", "RM", "rm", "TH", "th", "FX", "fx",
                   "SSSSS", "sssss", "iyy", "iy", "I", "i")
    i, fm = 0, False
    n = len(fmt)
    while i < n:
        if fmt.startswith("FM", i) or fmt.startswith("fm", i):
            fm = True
            i += 2
            continue
        hit = next((tok for tok in computed
                    if fmt.startswith(tok, i)
                    # 'D'/'DD' families are table tokens; only match the
                    # computed 'D'/'W' when the table won't claim longer
                    and not any(t2.startswith(tok) and t2 != tok
                                and fmt.startswith(t2, i)
                                for t2 in list(computed)
                                + [t[0] for t in _TOCHAR_DATE_TOKENS])),
                   None)
        if hit is not None:
            flush()
            col, width = computed[hit]
            v = col.cast("int").cast("string")
            segs.append(v if (fm or not width) else F.lpad(v, width, "0"))
            i += len(hit)
            fm = False
            continue
        k = next((t for t in constants if fmt.startswith(t, i)), None)
        if k is not None:
            buf.append("'" + constants[k] + "'")
            i += len(k)
            fm = False
            continue
        unsup = next((t for t in unsupported if fmt.startswith(t, i)),
                     None)
        if unsup is not None:
            raise CompileError(
                f"to_char template {unsup!r} is not supported")
        for tok, jv, jfm, case, pad in _TOCHAR_DATE_TOKENS:
            if fmt.startswith(tok, i):
                pat = jfm if (fm and jfm) else jv
                if case is None and (pad == 0 or fm):
                    buf.append(pat)
                else:
                    flush()
                    c = F.date_format(arg, pat)
                    if case == "upper":
                        c = F.upper(c)
                    elif case == "lower":
                        c = F.lower(c)
                    if pad and not fm:
                        c = F.rpad(c, pad, " ")
                    segs.append(c)
                i += len(tok)
                fm = False
                break
        else:
            ch = fmt[i]
            if ch == "J":
                raise CompileError(
                    "to_char template 'J' (Julian Day) is not supported")
            buf.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    flush()
    if not segs:
        return F.lit("")
    return segs[0] if len(segs) == 1 else F.concat(*segs)


def _pg_to_java_datefmt(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        for k, v in _PG_DATEFMT:
            if fmt.startswith(k, i):
                out.append(v)
                i += len(k)
                break
        else:
            ch = fmt[i]
            if ch == "J":
                # pg 'J' is the absolute Julian Day number (~2460900 today);
                # Java has no such pattern (DDD is day-of-year, 1-366) —
                # refuse rather than silently return the wrong quantity
                raise CompileError(
                    "to_char template 'J' (Julian Day) is not supported")
            # bare letters are literals in pg but pattern chars in Java
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def _is_numeric_tochar_fmt(fmt: str) -> bool:
    """A to_char format is NUMERIC when it carries digit positions (0/9)
    and no UNAMBIGUOUS date template word — pg dispatches on the first
    argument's type; this engine dispatches on the format. MI is
    deliberately NOT a discriminator: it is both pg's minutes token and
    pg's numeric trailing-minus token, but as a date token it never
    appears next to digit positions ('HH24:MI' carries HH; '999MI' is
    numeric), so the remaining words decide every real template."""
    import re

    if not re.search(r"[09]", fmt):
        return False
    return not re.search(
        r"YY|MM|DD|HH|SS|MS|US|AM|PM|TZ|Mon|Day|Dy", fmt, re.I)


def _numeric_to_char(arg, fmt: str):
    """pg numeric to_char: Spark's to_char covers the digit/grouping
    grammar (9 0 , . S) but diverges from pg in four compile-time-fixable
    ways, each anchored to a pg-docs Table 9.29 example:
    - sign column: pg reserves one and FLOATS '-' right across padding
      blanks to sit adjacent to the first digit (to_char(-1,'999') =
      '  -1', not '-  1'); positives get a leading space.
    - zero-units collapse: when the integer part is 0 and the units
      position is an unforced '9', pg drops the position entirely
      (to_char(-0.1,'99.99') = ' -.10'; to_char(0.5,'9.99') = ' .50').
    - forced zeros: a '0' forces every integer digit position to its
      RIGHT (to_char(12,'9990999.9') = '    0012.0') — Spark only forces
      from a LEADING '0', so the integer digits are post-padded to the
      forced width (leading blanks shrink to keep the field width).
    - FM fill mode strips padding blanks AND trailing fractional zeros
      in '9' positions, keeping a bare trailing '.' (pg wart:
      to_char(12,'FM9990999.9') = '0012.'; to_char(148.5,'FM999.990') =
      '148.500' keeps the forced zero).
    Overflow matches pg's docs example (to_char(485,'99') = ' ##')."""
    fm = fmt.upper().startswith("FM")
    body = fmt[2:] if fm else fmt
    dec = arg.cast("decimal(38,10)")
    up = body.upper()
    # S / MI / PR templates place the sign themselves (Spark implements
    # all three with pg's semantics) — no wrapper; FM strips the padding
    # blanks these emit (pg: to_char(485,'FM999MI') = '485')
    if "S" in up or "MI" in up or "PR" in up:
        out = F.to_char(dec, F.lit(body))
        return F.trim(out) if fm else out
    dot = body.find(".")
    int_sec = body[:dot] if dot >= 0 else body
    frac_sec = body[dot + 1:] if dot >= 0 else ""
    z = int_sec.find("0")
    inner = F.to_char(F.abs(dec), F.lit(body))
    if z > 0:
        # Spark only forces zeros from a LEADING '0'; a mid-template '0'
        # is ignored, so post-pad the integer digits to the forced width
        # (digit positions from the first '0' rightward)
        needed = sum(1 for c in int_sec[z:] if c in "09")
        sp = F.regexp_extract(inner, r"^( *)", 1)
        rest = F.ltrim(inner)
        cur = F.length(F.regexp_extract(rest, r"^[0-9]*", 0))
        pad = F.when(rest.rlike(r"^[0-9.]"),
                     F.greatest(F.lit(0), F.lit(needed) - cur)) \
            .otherwise(F.lit(0))
        inner = F.when(
            ~rest.rlike("[0-9#]"),
            F.lit(" " * (len(body) - needed) + "0" * needed)).otherwise(
            F.concat(F.repeat(F.lit(" "), F.length(sp) - pad),
                     F.repeat(F.lit("0"), pad), rest))
    elif z < 0 and dot < 0:
        # pg prints '0' in the units position for exact zero; Spark
        # blanks the whole field (to_char(0,'999') = '   0' vs '   ')
        inner = F.when(~inner.rlike("[0-9#]"),
                       F.lit(" " * (len(body) - 1) + "0")).otherwise(inner)
    if dot >= 0 and z < 0 and int_sec.rstrip(",").endswith("9"):
        # zero-units collapse (only '9' units with no forced '0' left of
        # it; Spark prints the pre-decimal 0 exactly when int part == 0)
        inner = F.regexp_replace(inner, r"^( *)0\.", "$1.")
    if fm:
        inner = F.ltrim(inner)
        frac_digits = [c for c in frac_sec if c in "09"]
        keep = max(i for i, c in enumerate(frac_digits) if c == "0") + 1 \
            if "0" in frac_digits else 0
        if len(frac_digits) > keep:
            inner = F.regexp_replace(
                inner, r"(\.[0-9]{%d}[0-9]*?)0+$" % keep, "$1")
        return F.concat(
            F.when(dec < 0, F.lit("-")).otherwise(F.lit("")), inner)
    # floating sign: original leading blanks, then the sign char, then the
    # significant part — one added column, '-' adjacent to the digits
    return F.concat(
        F.regexp_extract(inner, r"^( *)", 1),
        F.when(dec < 0, F.lit("-")).otherwise(F.lit(" ")),
        F.ltrim(inner))


class CompileError(ValueError):
    pass


def _spark_to_pg_typename(dt) -> str:
    """Spark DataType -> the pg type NAME pg_typeof would print. The
    canonical range/multirange structs print 'record' / 'record[]' (the
    engine's range marking is expression-level, not schema-level —
    documented)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "integer"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DecimalType):
        return "numeric"
    if isinstance(dt, T.StringType):
        return "text"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp without time zone"
    if isinstance(dt, T.BinaryType):
        return "bytea"
    if isinstance(dt, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
        return "interval"
    if isinstance(dt, T.ArrayType):
        return _spark_to_pg_typename(dt.elementType) + "[]"
    if isinstance(dt, T.StructType):
        return "record"
    if isinstance(dt, T.NullType):
        return "unknown"
    return dt.simpleString()


class ExprCompiler:
    """Compiles expression nodes against an implicit input relation.

    - `agg_context=True` permits aggregate calls (compiled via AGG_MAP).
    - `executor` provides user function / subquery resolution hooks.
    - scalar subqueries are attached lazily: each becomes a pending
      broadcast-cross-join recorded in `self.pending_scalar`; the relation
      compiler applies them before the clause that references them.
    """

    def __init__(self, executor=None, agg_context: bool = False,
                 window_allowed: bool = True, scope: Optional[dict] = None,
                 alias_rewrites: Optional[dict] = None, input_df=None):
        self.executor = executor
        self.agg_context = agg_context
        self.window_allowed = window_allowed
        self.scope = scope
        # the compiled input relation this compiler's expressions run over,
        # when the relation compiler knows it: lets the schema probe see
        # DERIVED columns (subquery/CTE projections), not just scope tables
        # — e.g. a tsvector column projected once in a subquery and matched
        # with @@ in the outer query
        self.input_df = input_df
        # aliases flattened into a single relation (ASOF JOIN output):
        # alias -> {original_column: output_column}. Qualified refs through
        # these aliases strip the qualifier (the flat output has unique
        # names) and apply the rename map.
        self.alias_rewrites = alias_rewrites or {}
        self.pending_scalar: List[tuple] = []  # (temp_name, DataFrame)
        # correlated scalar subqueries, decorrelated to grouped lookups:
        # (value_name, grouped DataFrame, [(outer_expr_ast, key_col_name)])
        self.pending_correlated: List[tuple] = []
        # non-equality correlated scalar subqueries, decorrelated to a
        # theta join + per-outer-row aggregate (select.ThetaAggregate)
        self.pending_theta: List[object] = []
        # helper columns that must exist on the input relation before the
        # projection that evaluates this compiler's output runs (GROUPS
        # window frames stage a dense_rank order key here): (name, Column)
        self.pending_precols: List[tuple] = []
        self._scalar_counter = 0

    # ------------------------------------------------------------------ API

    def compile(self, node: ast.Node) -> Column:
        method = getattr(self, "_c_" + type(node).__name__, None)
        if method is None:
            raise CompileError(f"cannot compile {type(node).__name__}")
        return method(node)

    def _probe_type(self, c: Column):
        """The Catalyst DataType of *c*, from a schema-only probe over the
        input relation (else a one-row range): pure analysis, no job runs.
        None when there is nothing to probe or *c* does not resolve."""
        probe_df = self.input_df
        if probe_df is None and self.executor is not None:
            probe_df = self.executor.spark.range(1)
        if probe_df is None:
            return None
        try:
            return probe_df.select(c).schema[0].dataType
        except Exception:
            return None

    # ------------------------------------------------------------ leaf nodes

    def _c_Literal(self, node: ast.Literal) -> Column:
        if node.kind == "null":
            return F.lit(None)
        if node.kind == "date":
            return F.lit(node.value).cast("date")
        if node.kind in ("timestamp", "timestamptz"):
            # Spark's string->timestamp cast parses trailing zone offsets,
            # which is exactly pg's timestamptz literal behavior under the
            # session (UTC) zone
            return F.lit(node.value).cast("timestamp")
        if node.kind == "time":
            # no native TIME type: normalized HH:mm:ss text, the same
            # representation ::time produces (documented deviation)
            import datetime as _dt

            try:
                t = _dt.time.fromisoformat(node.value.strip())
            except ValueError as exc:
                raise CompileError(f"invalid time literal: "
                                   f"{node.value!r}") from exc
            return F.lit(t.strftime("%H:%M:%S"))
        if node.kind == "interval":
            return interval_expr(node.value)
        return F.lit(node.value)

    def _c_ColumnRef(self, node: ast.ColumnRef) -> Column:
        parts = node.parts[-2:] if len(node.parts) > 2 else node.parts
        if len(parts) == 2 and parts[0].lower() in self.alias_rewrites:
            ren = self.alias_rewrites[parts[0].lower()]
            return F.col(_bt(ren.get(parts[1], parts[1])))
        return F.col(".".join(_bt(p) for p in parts))

    def _c_Star(self, node: ast.Star) -> Column:
        if node.table:
            return F.col(_bt(node.table) + ".*")
        return F.col("*")

    def _c_Param(self, node: ast.Param) -> Column:
        raise CompileError(
            f"unbound parameter %({node.name})s — pass params to execute()"
        )

    # ------------------------------------------------------------- operators

    def _c_Unary(self, node: ast.Unary) -> Column:
        operand = self.compile(node.operand)
        if node.op == "-":
            return -operand
        if node.op == "not":
            return ~operand
        if node.op == "~":
            return F.bitwise_not(operand)
        # pg prefix math operators
        if node.op == "|/":
            return F.sqrt(operand)
        if node.op == "||/":
            return F.cbrt(operand)
        if node.op == "@":
            return F.abs(operand)
        raise CompileError(f"unary op {node.op}")

    @staticmethod
    def _static_is_array(node: ast.Node) -> bool:
        """Statically-known array-valued expression: ARRAY[...] literal,
        ARRAY(subquery), or a cast to an array type."""
        if isinstance(node, ast.Call) and node.name == "__array":
            return True
        if isinstance(node, ast.ArraySubquery):
            return True
        if isinstance(node, ast.Cast):
            t = node.type_name.lower()
            return t.endswith("[]") or t.startswith("array")
        return False

    @staticmethod
    def _static_kind(node: ast.Node) -> Optional[str]:
        """Statically-known operand kind for date arithmetic: 'date' /
        'int' / 'interval', else None (column refs are type-unknown)."""
        if isinstance(node, ast.Literal):
            if node.kind in ("date", "interval", "int"):
                return node.kind
            return None
        if isinstance(node, ast.Cast):
            t = node.type_name.lower()
            if t == "date":
                return "date"
            if t.startswith("interval"):
                return "interval"
            if t.startswith("int") or t in ("bigint", "smallint"):
                return "int"
            return None
        if isinstance(node, ast.Call) and node.name.lower() == "current_date":
            return "date"
        if isinstance(node, ast.Call) and node.name.lower() in (
                "justify_days", "justify_hours", "justify_interval",
                "make_interval"):
            return "interval"
        if isinstance(node, ast.Unary) and node.op in ("-", "+"):
            k = ExprCompiler._static_kind(node.operand)
            return k if k == "int" else None
        if isinstance(node, ast.Binary):
            # interval arithmetic stays interval: iv * n, iv / n, iv ± iv
            lk = ExprCompiler._static_kind(node.left)
            rk = ExprCompiler._static_kind(node.right)
            if node.op in ("*", "/") and "interval" in (lk, rk):
                return "interval"
            if node.op in ("+", "-") and lk == "interval" \
                    and rk == "interval":
                return "interval"
        return None

    def _scope_col_dtype(self, node: ast.Node) -> Optional[str]:
        """Best-effort schema probe: the Spark dtype string of a plain or
        table-qualified column ref, when every in-scope table carrying
        that column name agrees on it; None otherwise."""
        if not isinstance(node, ast.ColumnRef):
            return None
        parts = [p.lower() for p in node.parts]
        col = parts[-1]
        qualifier = parts[-2] if len(parts) >= 2 else None
        # the compiled input relation (when known) is authoritative: it
        # already carries derived columns with their real dtypes; only
        # trust it when every same-named column (join sides) agrees
        if self.input_df is not None:
            try:
                hits = {dtype for cname, dtype in self.input_df.dtypes
                        if cname.lower() == col}
                if len(hits) == 1:
                    return hits.pop()
            except Exception:
                pass
        if not self.scope:
            return None
        reads = getattr(self.executor, "_reads", None)
        if reads is not None:
            # the walk below reads every table's dtypes: a cached plan of
            # this compile stays valid only while those stay the same
            reads.schema_read = True
        found = set()
        try:
            for tname, df in self.scope.items():
                dtypes = getattr(df, "dtypes", None)
                if not isinstance(dtypes, list):
                    continue  # not a Spark DataFrame (pandas scope entry)
                short = tname.lower().split(".")[-1]
                if qualifier is not None and qualifier != short:
                    continue
                for cname, dtype in dtypes:
                    if cname.lower() == col:
                        found.add(dtype)
            if not found and qualifier is not None:
                # the qualifier is a query alias, not a scope table name:
                # fall back to searching every scoped table for the column
                for tname, df in self.scope.items():
                    dtypes = getattr(df, "dtypes", None)
                    if not isinstance(dtypes, list):
                        continue
                    for cname, dtype in dtypes:
                        if cname.lower() == col:
                            found.add(dtype)
        except Exception:
            return None
        if len(found) != 1:
            return None
        return found.pop()

    def _operand_kind(self, node: ast.Node) -> Optional[str]:
        """`_static_kind` plus the schema probe, mapped to
        'date' / 'ts' / 'int' / 'interval' / None."""
        k = self._static_kind(node)
        if k is not None:
            return k
        dtype = self._scope_col_dtype(node)
        if dtype is None:
            return None
        if dtype == "date":
            return "date"
        if dtype.startswith("timestamp"):
            return "ts"
        if dtype in ("int", "bigint", "smallint", "tinyint"):
            return "int"
        if dtype.startswith("interval"):
            return "interval"
        return None

    # functions that provably RETURN text for _is_texty — the string
    # transforms a pg user composes with % (unaccent('x') % 'y' is the
    # canonical pg_trgm + unaccent idiom)
    _TEXT_RETURNING_FNS = frozenset({
        "unaccent", "lower", "upper", "trim", "ltrim", "rtrim", "btrim",
        "initcap", "reverse", "replace", "translate", "concat",
        "concat_ws", "substring", "substr", "left", "right", "lpad",
        "rpad", "regexp_replace", "repeat", "soundex", "md5",
    })

    # calls that provably RETURN jsonb/json for the jsonb-operator
    # dispatch (@>, -): the casts plus the structural editors
    _JSONB_RETURNING_FNS = frozenset({
        "to_json", "to_jsonb", "json_strip_nulls", "jsonb_strip_nulls",
        "jsonb_set", "jsonb_insert", "__jsonb_delete_path", "json_query",
        "row_to_json",
    })

    def _is_jsonby(self, node: ast.Node) -> bool:
        """Provably json(b): a ::json/::jsonb cast, a jsonb-returning
        call, a jsonb-minus chain, or a variant-typed scope column — the
        proof bar the jsonb @> / - dispatch requires (mirrors _is_texty)."""
        if isinstance(node, ast.Cast) and node.type_name.lower() in (
                "json", "jsonb"):
            return True
        if isinstance(node, ast.Call) and \
                node.name.lower() in self._JSONB_RETURNING_FNS:
            return True
        if isinstance(node, ast.Binary) and node.op == "-" \
                and self._is_jsonby(node.left):
            return True
        dtype = self._scope_col_dtype(node)
        return dtype is not None and dtype.startswith("variant")

    def _jsonb_text(self, node: ast.Node) -> Column:
        """Compile a jsonb-ish operand down to JSON TEXT: ::jsonb casts
        and variant columns re-serialize via to_json; everything else
        (arrow results, editor outputs, plain string columns) is already
        text."""
        c = self.compile(node)
        if isinstance(node, ast.Cast) and node.type_name.lower() in (
                "json", "jsonb"):
            return F.to_json(c)
        dtype = self._scope_col_dtype(node)
        if dtype is not None and dtype.startswith("variant"):
            return F.to_json(c)
        return c.cast("string")

    def _is_texty(self, node: ast.Node) -> bool:
        """Provably text: a string literal, a ::varchar/::text cast, a
        ||-concatenation, a call to a string-returning function, or a
        string-typed scope column — the proof bar the pg_trgm % dispatch
        requires (see _c_Binary)."""
        if isinstance(node, ast.Literal) and node.kind == "string":
            return True
        if isinstance(node, ast.Cast) and node.type_name.lower() in (
                "varchar", "text", "char", "string"):
            return True
        if isinstance(node, ast.Binary) and node.op == "||":
            return self._is_texty(node.left) or self._is_texty(node.right)
        if isinstance(node, ast.Call) and \
                node.name.lower() in self._TEXT_RETURNING_FNS:
            return True
        return self._scope_col_dtype(node) == "string"

    _LO_TO_RANGE = {"int": "int4range", "bigint": "int8range",
                    "decimal(38,18)": "numrange", "date": "daterange",
                    "timestamp": "tsrange"}

    def _probed_range_kinds(self, node: ast.Node):
        """(range_kind, multirange_kind) of a bare column ref whose scope
        dtype is the canonical range struct / multirange array — lifts the
        re-marking-cast requirement for columns read from scope tables.
        A probe hit is only a HINT (a same-named derived-relation column
        could shadow the scope table's): arithmetic dispatch in _c_Binary
        therefore requires BOTH operands marked, so a collision falls back
        to the generic compile path instead of a hijacked range error."""
        dtype = self._scope_col_dtype(node)
        if dtype is None:
            return None, None
        s = dtype.replace(" ", "")
        multi = s.startswith("array<struct<lo:")
        inner = s[6:-1] if multi else s
        if not inner.startswith("struct<lo:") \
                or "lo_inc:boolean" not in inner \
                or "is_empty:boolean" not in inner:
            return None, None
        # the lo type may itself contain commas — decimal(38,18) — so cut
        # at the ',hi:' field boundary, not the first comma
        m = _re.match(r"struct<lo:(.+?),hi:", inner)
        if not m:
            return None, None
        k = self._LO_TO_RANGE.get(m.group(1))
        if k is None:
            return None, None
        return (None, k) if multi else (k, None)

    def _range_kind_of(self, node: ast.Node) -> Optional[str]:
        """_range_kind with the scope-schema probe folded into every
        recursion step (one shared recursion: _range_kind_impl)."""
        return _range_kind_impl(node, self._probed_range_kinds)

    def _multirange_kind_of(self, node: ast.Node) -> Optional[str]:
        return _multirange_kind_impl(node, self._probed_range_kinds)

    def _c_Binary(self, node: ast.Binary) -> Column:
        op = node.op
        if op in ("+", "*", "-", "<<", ">>"):
            # static marking on either side dispatches; a probe-only hint
            # dispatches ONLY when both sides are range-typed (a derived
            # column shadowing a same-named stored range column must fall
            # back to the generic path, not hijack plain arithmetic)
            static_hit = _range_kind(node.left) or _range_kind(node.right) \
                or _multirange_kind(node.left) \
                or _multirange_kind(node.right)
            if static_hit:
                return self._compile_range_binary(node)
            l_marked = self._range_kind_of(node.left) \
                or self._multirange_kind_of(node.left)
            r_marked = self._range_kind_of(node.right) \
                or self._multirange_kind_of(node.right)
            if l_marked and r_marked:
                return self._compile_range_binary(node)
        left = self.compile(node.left)
        right = self.compile(node.right)
        if op == "and":
            return left & right
        if op == "or":
            return left | right
        if op == "+":
            # pg date + int = date (Spark needs explicit date_add). The
            # operand kinds are probed here and under "-" only: a probe may
            # read the scope schemas, which ties a cached plan to them
            lk = self._operand_kind(node.left)
            rk = self._operand_kind(node.right)
            if lk == "date" and rk == "int":
                return F.date_add(left, right.cast("int"))
            if lk == "int" and rk == "date":
                return F.date_add(right, left.cast("int"))
            return left + right
        if op == "-" and self._is_jsonby(node.left):
            # pg jsonb - text (delete key / string elements), - int
            # (delete array index), - text[] (delete several keys)
            from ..functions.registry import jsonb_minus_udf

            jt = self._jsonb_text(node.left)
            if self._operand_kind(node.right) == "int" or (
                    isinstance(node.right, ast.Literal)
                    and node.right.kind == "int"):
                return jsonb_minus_udf("index")(jt, right.cast("string"))
            if self._static_is_array(node.right):
                # ARRAY['a','b'], '{a,b}'::text[], or any array-typed
                # expression: pg jsonb - text[] deletes several keys
                return jsonb_minus_udf("keys")(jt, F.to_json(right))
            return jsonb_minus_udf("key")(jt, right.cast("string"))
        if op == "-":
            lk = self._operand_kind(node.left)
            rk = self._operand_kind(node.right)
            if lk == "date" and rk == "date":
                # pg date - date = integer days (Spark yields an interval).
                # Applied only when BOTH operands resolve to date —
                # timestamp - date must stay an interval (incl. time of day)
                # and date - int stays native date arithmetic
                return F.datediff(left.cast("date"),
                                  right.cast("date")).cast("long")
            if lk == "date" and rk == "int":
                return F.date_sub(left, right.cast("int"))
            return left - right
        if op == "*":
            return left * right
        if op == "/":
            # pg/duckdb float division for our dialect (reference uses
            # operator.truediv, src/framequery/executor/_pandas.py:401)
            return left / right
        if op == "%":
            # pg_trgm `text % text` = trigram similarity over the 0.3
            # threshold. Dispatch needs PROOF of text on both sides (a
            # string literal, a string-typed scope column, or a ::varchar
            # cast) — anything less falls back to arithmetic modulo, so a
            # derived numeric column can never be hijacked
            if self._is_texty(node.left) and self._is_texty(node.right):
                from ..functions import trigram as _tg

                return _tg.similarity_match(left, right)
            return left % right
        if op == "^":
            return F.pow(left, right)  # pg ^ is power, not xor
        if op == "||":
            if self._is_tsvector(node.left) and self._is_tsvector(node.right):
                from ..functions import textsearch as _ts
                return _ts.tsvector_concat(left, right)
            lj, rj = self._is_jsonby(node.left), self._is_jsonby(node.right)
            if lj and rj or (
                    # pg unknown-literal inference: when one side is
                    # provably jsonb, a bare string literal on the other
                    # side is a jsonb literal, not text — the standard
                    # jsonb-update idiom (col || '{"k":"v"}')
                    lj and isinstance(node.right, ast.Literal)
                    and node.right.kind == "string") or (
                    rj and isinstance(node.left, ast.Literal)
                    and node.left.kind == "string"):
                # pg jsonb || jsonb: shallow object merge (right wins),
                # array concat, scalars wrap to arrays
                from ..functions.registry import jsonb_concat_udf

                return jsonb_concat_udf()(self._jsonb_text(node.left),
                                          self._jsonb_text(node.right))
            # pg: array || element appends, element || array prepends;
            # decided statically (ARRAY[...] / ARRAY(...) / ::type[] forms).
            # Unknown-typed sides keep concat (string||string, array||array)
            la = self._static_is_array(node.left)
            ra = self._static_is_array(node.right)
            if la and not ra and self._static_kind(node.right) is not None \
                    or la and isinstance(node.right, ast.Literal):
                return F.array_append(left, right)
            if ra and not la and isinstance(node.left, ast.Literal):
                return F.array_prepend(right, left)
            return F.concat(left, right)  # null-propagating, matches pg
        if op == "&":
            return left.bitwiseAND(right)
        if op == "|":
            return left.bitwiseOR(right)
        if op == "#":
            return left.bitwiseXOR(right)  # pg XOR spelling
        if op == "<<":
            return F.call_function("shiftleft", left, right)
        if op == ">>":
            return F.call_function("shiftright", left, right)
        if op == "=":
            return left == right
        if op in ("!=", "<>"):
            return left != right
        if op == "<":
            return left < right
        if op == "<=":
            return left <= right
        if op == ">":
            return left > right
        if op == ">=":
            return left >= right
        raise CompileError(f"binary op {op}")

    def _compile_range_binary(self, node: ast.Binary) -> Column:
        """pg range/multirange operators: + (union), * (intersection),
        - (difference), << / >> (strictly left/right). A range paired with
        a multirange promotes to a singleton multirange; range - range
        returns the surviving piece and raises pg's contiguity error only
        when the subtraction genuinely splits the range."""
        from ..functions import multiranges as _mrg
        from ..functions import ranges as _rg

        lk = self._range_kind_of(node.left)
        rk = self._range_kind_of(node.right)
        lm = self._multirange_kind_of(node.left)
        rm = self._multirange_kind_of(node.right)
        if not ((lk or lm) and (rk or rm)):
            raise CompileError(
                f"range operator {node.op} requires two range or "
                "multirange operands (cast column references to the range "
                "type to re-mark them)")
        a = self.compile(node.left)
        b = self.compile(node.right)
        if lm or rm:
            rtype = _mrg.MULTIRANGE_TYPES[lm or rm]
            if lk:
                a = _mrg.multirange_of(rtype, a)
            if rk:
                b = _mrg.multirange_of(rtype, b)
            if node.op == "+":
                return _mrg.mr_union(rtype, a, b)
            if node.op == "*":
                return _mrg.mr_intersect(rtype, a, b)
            if node.op == "-":
                return _mrg.mr_difference(rtype, a, b)
            if node.op == "<<":
                return _mrg.mr_strictly_left(a, b)
            return _mrg.mr_strictly_left(b, a)
        rtype = lk or rk
        if node.op == "+":
            return _rg.range_union(rtype, a, b)
        if node.op == "*":
            return _rg.range_intersect(rtype, a, b)
        if node.op == "-":
            return _mrg.range_difference(rtype, a, b)
        if node.op == "<<":
            return _rg.strictly_left(a, b)
        return _rg.strictly_left(b, a)

    # ------------------------------------------------------------ predicates

    def _c_IsNull(self, node: ast.IsNull) -> Column:
        c = self.compile(node.expr)
        return c.isNotNull() if node.negated else c.isNull()

    def _c_Between(self, node: ast.Between) -> Column:
        c = self.compile(node.expr)
        cond = (c >= self.compile(node.low)) & (c <= self.compile(node.high))
        return ~cond if node.negated else cond

    def _c_InList(self, node: ast.InList) -> Column:
        c = self.compile(node.expr)
        if all(isinstance(i, ast.Literal) for i in node.items):
            cond = c.isin([i.value for i in node.items])
        else:
            cond = None
            for item in node.items:
                eq = c == self.compile(item)
                cond = eq if cond is None else (cond | eq)
        return ~cond if node.negated else cond

    def _c_Like(self, node: ast.Like) -> Column:
        c = self.compile(node.expr)
        fn = "ilike" if node.case_insensitive else "like"
        if node.escape is not None:
            # LIKE ... ESCAPE 'c' — Spark's like()/ilike() take the escape
            # char as a third argument, but Spark REJECTS an escape before
            # an ordinary character while pg treats it as that character
            # (r12): for literal pattern+escape, drop the redundant
            # escapes at compile time (keeping escape-before-%_/self)
            if isinstance(node.escape, ast.Literal) \
                    and node.escape.kind == "string" \
                    and isinstance(node.pattern, ast.Literal) \
                    and node.pattern.kind == "string" \
                    and len(str(node.escape.value)) == 1:
                esc = str(node.escape.value)
                pat = str(node.pattern.value)
                out = []
                i = 0
                while i < len(pat):
                    ch = pat[i]
                    if ch == esc:
                        if i + 1 >= len(pat):
                            raise CompileError(
                                "LIKE pattern must not end with escape "
                                "character")
                        nxt = pat[i + 1]
                        if nxt in ("%", "_") or nxt == esc:
                            out.append(ch)
                        out.append(nxt)
                        i += 2
                    else:
                        out.append(ch)
                        i += 1
                cond = F.call_function(fn, c, F.lit("".join(out)),
                                       F.lit(esc))
            else:
                cond = F.call_function(fn, c, self.compile(node.pattern),
                                       self.compile(node.escape))
        elif isinstance(node.pattern, ast.Literal):
            pat = str(node.pattern.value)
            cond = c.ilike(pat) if node.case_insensitive else c.like(pat)
        else:
            cond = F.call_function(fn, c, self.compile(node.pattern))
        return ~cond if node.negated else cond

    def _c_Case(self, node: ast.Case) -> Column:
        col = None
        for cond, result in node.whens:
            ccond = self.compile(cond)
            cres = self.compile(result)
            col = F.when(ccond, cres) if col is None else col.when(ccond, cres)
        if node.default is not None:
            col = col.otherwise(self.compile(node.default))
        return col

    _PG_BOOL = {"t": True, "true": True, "yes": True, "on": True, "1": True,
                "f": False, "false": False, "no": False, "off": False,
                "0": False}

    def _c_Cast(self, node: ast.Cast) -> Column:
        t = node.type_name.lower()
        if t in ("bool", "boolean") and isinstance(node.expr, ast.Literal) \
                and node.expr.kind == "string":
            # pg accepts t/f/yes/no/on/off/1/0 (Spark only true/false/1/0)
            v = self._PG_BOOL.get(node.expr.value.strip().lower())
            if v is None:
                raise CompileError(
                    f"invalid input for boolean: {node.expr.value!r}")
            return F.lit(v)
        from ..functions.ranges import RANGE_TYPES as _RANGE_TYPES
        if t in _RANGE_TYPES:
            from ..functions.ranges import parse_range_literal

            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "string":
                try:
                    return parse_range_literal(t, node.expr.value)
                except ValueError as exc:
                    raise CompileError(str(exc))
            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "null":
                from ..functions.multiranges import _struct_ddl
                return F.lit(None).cast(_struct_ddl(t))
            # non-literal: re-marking cast for an already-range struct —
            # pass it through so column refs can re-enter range dispatch
            return self.compile(node.expr)
        from ..functions.multiranges import MULTIRANGE_TYPES as _MR_TYPES
        if t in _MR_TYPES:
            from ..functions.multiranges import (_struct_ddl,
                                                 parse_multirange_literal)

            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "string":
                try:
                    return parse_multirange_literal(t, node.expr.value)
                except ValueError as exc:
                    raise CompileError(str(exc))
            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "null":
                return F.lit(None).cast(
                    f"array<{_struct_ddl(_MR_TYPES[t])}>")
            # re-marking cast (see the range cast above)
            return self.compile(node.expr)
        if t.startswith("interval") and isinstance(node.expr, ast.Literal) \
                and node.expr.kind == "string":
            # '1 day'::interval — pg interval text, which Spark's CAST
            # cannot parse; route through the INTERVAL literal syntax
            return interval_expr(node.expr.value)
        if t == "bytea":
            # pg bytea input (pg docs §8.4): '\x...' hex form, else the
            # escape form where \\ is a backslash and \nnn an octal byte.
            # String literals parse at compile time with the full grammar;
            # column casts handle the hex form + plain text JVM-side and
            # raise at row time on a backslash (escape form needs the
            # stateful parser — not expressible as a JVM expression chain).
            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "string":
                return F.lit(_parse_bytea_literal(node.expr.value))
            cb = self.compile(node.expr)
            s = cb.cast("string")
            # hex form mirrors the literal parser: embedded whitespace is
            # legal (stripped first), anything else raises — F.unhex alone
            # would silently yield NULL on bad digits where pg errors
            hexbody = F.regexp_replace(
                F.substring(s, F.lit(3), F.length(s)), "[ \t\n\r]", "")
            return (F.when(s.startswith("\\x"),
                           F.when(hexbody.rlike("^([0-9a-fA-F]{2})*$"),
                                  F.unhex(hexbody))
                           .otherwise(F.raise_error(F.concat(
                               F.lit("invalid hexadecimal data for type "
                                     "bytea: "), s))))
                    .when(s.contains("\\"), F.raise_error(F.concat(
                        F.lit("bytea escape format requires a literal: "),
                        s)))
                    .otherwise(s.cast("binary")))
        c = self.compile(node.expr)
        if t in ("json", "jsonb"):
            # reference: json.loads into object cells (util/_funcs.py:110-114);
            # Spark-native: VariantType (Spark 4) keeps it queryable at scale.
            # jsonb differs from json only in pg's storage/dedup behavior —
            # one parsed representation serves both here.
            return F.parse_json(c.cast("string"))
        if t == "time":
            # Spark has no TIME type; pg ::time projects the time-of-day.
            # Rendered as HH:mm:ss text — sorts and compares correctly
            # (fixed-width), documented deviation from a native time type.
            return F.date_format(c.cast("timestamp"), "HH:mm:ss")
        if t.endswith("[]"):
            # pg array type: text[], int[] … (extra dims already collapsed
            # by the parser). A string literal is the pg brace form
            # '{a,"b,c",NULL}'; anything else casts element-wise.
            elem = t[:-2].strip()
            eb = elem.split("(")[0]
            if eb in ("decimal", "numeric"):
                # parameterized first: numeric(10,2)[] must not collapse
                # to the bare-numeric default precision
                spark_elem = "decimal" + (
                    elem[elem.index("(") :] if "(" in elem else "(38,18)")
            else:
                spark_elem = CAST_MAP.get(elem) or CAST_MAP.get(eb)
            if spark_elem is None:
                raise CompileError(f"unsupported cast target: {node.type_name}")
            if isinstance(node.expr, ast.Literal) \
                    and node.expr.kind == "string":
                items = _parse_pg_brace_array(node.expr.value)

                def depth_of(v):
                    return 1 + depth_of(v[0]) \
                        if isinstance(v, list) and v \
                        and isinstance(v[0], list) else 1

                def ddl(d):
                    return f"array<{ddl(d - 1)}>" if d else spark_elem

                def build(v, d):
                    # d = remaining nesting under v (validated rectangular)
                    if not isinstance(v, list):
                        return F.lit(v).cast(spark_elem)
                    if not v:
                        return F.array().cast(f"array<{ddl(d - 1)}>")
                    return F.array(*[build(x, d - 1) for x in v])

                return build(items, depth_of(items))
            return c.cast(f"array<{spark_elem}>")
        base = t.split("(")[0]
        if base in ("date", "timestamp") \
                and isinstance(node.expr, ast.Literal) \
                and node.expr.kind == "string" \
                and node.expr.value.strip().lower() in ("infinity",
                                                        "-infinity"):
            # pg date/timestamp ±infinity specials: Spark's types cannot
            # carry them, so they map to the extreme SENTINEL values
            # (date 0001-01-01 / 9999-12-31 and the matching timestamp
            # bounds) — the standard migration approximation: ordering
            # and the SCD 'valid_to = infinity' idiom behave, and
            # isfinite() recognizes exactly these sentinels. Documented
            # deviation: a genuine 9999-12-31 row is indistinguishable.
            neg = node.expr.value.strip().startswith("-")
            if base == "date" and not t.startswith("timestamp"):
                v = "0001-01-01" if neg else "9999-12-31"
                return F.lit(v).cast("date")
            v = ("0001-01-01 00:00:00"
                 if neg else "9999-12-31 23:59:59.999999")
            return F.lit(v).cast("timestamp")
        if base in ("decimal", "numeric") \
                and isinstance(node.expr, ast.Literal) \
                and node.expr.kind == "string" \
                and node.expr.value.strip().lower() in (
                    "nan", "infinity", "inf", "+infinity", "+inf",
                    "-infinity", "-inf"):
            # pg numeric carries NaN/±Infinity; Spark decimals cannot, so
            # these literals compile to DOUBLE specials. Spark's SQL
            # comparison semantics for them match pg's numeric rules
            # (NaN = NaN is true, NaN sorts above all numbers) —
            # documented approximation: the value is double, not numeric
            return F.lit(float(node.expr.value.strip().lower()
                               .replace("infinity", "inf")))
        if t in ("text", "varchar", "string", "char") \
                or base in ("varchar", "char"):
            # interval -> text renders pg's 'postgres' style ('01:30:00',
            # '1 day 02:00:00'), not Spark's INTERVAL sql literal; the
            # operand type comes from a Catalyst schema-only probe (same
            # mechanism as pg_typeof — compile-time, no job)
            from pyspark.sql import types as T

            dt = self._probe_type(c)
            if isinstance(dt, T.DayTimeIntervalType):
                return _interval_to_pg_text(c)
            if isinstance(dt, T.YearMonthIntervalType):
                return _ym_interval_to_pg_text(c)
        if t in CAST_MAP:
            return c.cast(CAST_MAP[t])
        if base in ("decimal", "numeric"):
            inner = t[t.index("(") :] if "(" in t else "(38,18)"
            return c.cast(f"decimal{inner}")
        if base in CAST_MAP:
            return c.cast(CAST_MAP[base])
        raise CompileError(f"unsupported cast target: {node.type_name}")

    # ----------------------------------------------------------- special forms

    def _c_TrimCall(self, node: ast.TrimCall) -> Column:
        src = self.compile(node.source)
        if node.chars is None:
            if node.mode == "both":
                return F.trim(src)
            return F.ltrim(src) if node.mode == "leading" else F.rtrim(src)
        chars = self.compile(node.chars)
        if node.mode == "both":
            return F.call_function("btrim", src, chars)
        fn = "ltrim" if node.mode == "leading" else "rtrim"
        return F.call_function(fn, chars, src)

    def _c_PositionCall(self, node: ast.PositionCall) -> Column:
        needle = self.compile(node.needle)
        haystack = self.compile(node.haystack)
        return F.call_function("position", needle, haystack)

    def _c_SubstringCall(self, node: ast.SubstringCall) -> Column:
        if isinstance(node.start, ast.Literal) \
                and node.start.kind == "string" \
                and isinstance(node.length, ast.Literal) \
                and node.length.kind == "string":
            # pg's deprecated SQL99 spelling of the SIMILAR form:
            # substring(s FROM pattern FOR escape) — both args are strings,
            # which is how pg itself disambiguates from FROM start FOR len
            return self._compile_substring_similar(node.source, node.start,
                                                   node.length)
        src = self.compile(node.source)
        if node.length is None and isinstance(node.start, ast.Literal) \
                and node.start.kind == "string":
            # pg regex form: substring(x FROM 'pattern') — first match, or
            # the first capture group if the pattern has one; NULL when no
            # match (regexp_extract returns '' there, hence the guard)
            pat = node.start.value
            grp = 1 if _re.search(r"(?<!\\)\(", pat) else 0
            return F.when(F.regexp_like(src, F.lit(pat)),
                          F.regexp_extract(src, pat, grp))
        start = self.compile(node.start)
        if node.length is None:
            return F.call_function("substring", src, start)
        return F.call_function("substring", src, start, self.compile(node.length))

    def _c_Extract(self, node: ast.Extract) -> Column:
        c = self.compile(node.expr)
        f = node.field.lower()
        if f == "epoch" and self._operand_kind(node.expr) == "interval":
            # pg extract(epoch FROM interval) = total seconds; computed by
            # adding the interval to the epoch anchor (exact for day-time
            # intervals, which is all `interval_expr` produces)
            anchor = F.lit("1970-01-01 00:00:00").cast("timestamp")
            return F.unix_micros(anchor + c) / 1_000_000.0
        if f in ("year", "y"):
            return F.year(c).cast("long")
        if f in ("month", "mon"):
            return F.month(c).cast("long")
        if f in ("day", "d"):
            return F.dayofmonth(c).cast("long")
        if f == "hour":
            return F.hour(c).cast("long")
        if f == "minute":
            return F.minute(c).cast("long")
        if f == "second":
            return F.second(c).cast("long")
        if f == "quarter":
            return F.quarter(c).cast("long")
        if f == "week":
            return F.weekofyear(c).cast("long")
        if f in ("dow", "dayofweek"):
            return (F.dayofweek(c) - 1).cast("long")  # pg: 0 = Sunday
        if f in ("doy", "dayofyear"):
            return F.dayofyear(c).cast("long")
        if f == "isodow":
            return F.dayofweek(F.date_sub(c.cast("date"), 1)).cast("long")
        if f == "isoyear":
            # ISO week-numbering year: the year of the week's Thursday
            return F.year(F.date_add(c.cast("date"),
                                     4 - F.dayofweek(
                                         F.date_sub(c.cast("date"), 1))
                                     )).cast("long")
        if f == "epoch":
            return F.unix_timestamp(c).cast("double")
        if f == "decade":
            return F.floor(F.year(c) / 10).cast("long")
        if f == "century":
            return F.ceil(F.year(c) / 100.0).cast("long")
        if f == "millennium":
            return F.ceil(F.year(c) / 1000.0).cast("long")
        if f in ("milliseconds", "millisecond"):
            # pg: seconds + fraction, in ms (e.g. 30.5s -> 30500.0)
            return (F.unix_micros(c.cast("timestamp")) % 60000000) / 1000.0
        if f in ("microseconds", "microsecond"):
            return (F.unix_micros(c.cast("timestamp")) % 60000000).cast("long")
        if f in ("timezone", "timezone_hour", "timezone_minute"):
            # the session time zone is pinned to UTC engine-wide, so the
            # pg UTC-offset fields are constant zero
            return F.when(c.isNotNull(), F.lit(0)).cast("long")
        if f == "julian":
            # pg: Julian Day number — 1970-01-01 is JD 2440588; a date
            # extracts the integer day count, a timestamp adds the
            # day-fraction (pg returns numeric for both)
            days = F.datediff(c.cast("date"),
                              F.lit("1970-01-01").cast("date")) + 2440588
            frac = (F.unix_micros(c.cast("timestamp"))
                    - F.unix_micros(c.cast("date").cast("timestamp"))
                    ) / 86400000000.0
            return days.cast("double") + frac
        raise CompileError(f"unsupported extract field: {node.field}")

    # -------------------------------------------------------------- functions

    def _c_Call(self, node: ast.Call) -> Column:
        name = node.name
        if name in ("__json_arrow", "__json_arrow_text"):
            return self._compile_json_arrow(node)
        if name == "__similar_to":
            return self._compile_similar_to(node)
        if name == "__regex_match":
            # pg `~` / `~*`: PARTIAL regex match (Spark regexp_like is
            # partial too); case-insensitive variant prepends (?i). The
            # negated forms wrap in NOT at parse time (3VL preserved:
            # NULL input stays NULL through regexp_like and NOT).
            text = self.compile(node.args[0])
            pat = self.compile(node.args[1])
            if node.args[2].value:
                pat = F.concat(F.lit("(?i)"), pat)
            return F.regexp_like(text, pat)
        if name == "__quant_like":
            # x [NOT] LIKE|ILIKE ANY|ALL (array): JVM exists/forall over
            # per-element like() — SQL 3-valued logic for free, matching
            # the comparison-operator quantified form above
            x = self.compile(node.args[0])
            arr = self.compile(node.args[1])
            ci = node.args[2].value
            neg = node.args[3].value
            quant = node.args[4].value

            def lk(e: Column) -> Column:
                m = F.call_function("ilike" if ci else "like", x, e)
                return ~m if neg else m

            return F.forall(arr, lk) if quant == "all" else F.exists(arr, lk)
        if name == "__quant_array":
            return self._compile_quant_array(node)
        if name == "__neg_inner_product":
            # pgvector `a <#> b`: NEGATIVE inner product (so that smaller
            # is more similar, matching the other distance operators)
            from ..functions.registry import REGISTRY as _FN_REGISTRY

            return -_FN_REGISTRY["inner_product"](
                [self.compile(node.args[0]), self.compile(node.args[1])])
        if name == "__trgm_word_match":
            # pg_trgm <% / %> / <<% / %>> (parse time swaps the operands
            # so the WORD is always args[0]; args[2] = strict)
            from ..functions import trigram as _tg

            return _tg.word_similarity_match(
                self.compile(node.args[0]), self.compile(node.args[1]),
                strict=bool(node.args[2].value))
        if name == "__is_normalized":
            # pg IS [form] NORMALIZED == the string equals its own
            # normalization (NULL-propagating)
            from ..functions.registry import REGISTRY as _FN_REGISTRY

            s = self.compile(node.args[0]).cast("string")
            return s == _FN_REGISTRY["normalize"](
                [s, self.compile(node.args[1])])
        if name == "__jsonb_exists":
            jt = self._jsonb_text(node.args[0])
            k = self.compile(node.args[1]).cast("string")
            return _jsonb_exists_one(jt, k)
        if name in ("__jsonb_exists_any", "__jsonb_exists_all"):
            jt = self._jsonb_text(node.args[0])
            arr = self.compile(node.args[1])
            hof = F.exists if name.endswith("any") else F.forall
            return hof(arr, lambda k: _jsonb_exists_one(jt,
                                                        k.cast("string")))
        if name == "__jsonb_delete_path":
            from ..functions.registry import jsonb_delete_path_udf

            p = node.args[1]
            if isinstance(p, ast.Literal) and p.kind == "string":
                # pg text-array literal: '{a,b,1}' -> json list
                import json as _json

                v = p.value.strip()
                if v.startswith("{") and v.endswith("}"):
                    v = v[1:-1]
                parts = [x.strip().strip('"') for x in v.split(",")] \
                    if v else []
                path = F.lit(_json.dumps(parts))
            else:
                path = F.to_json(self.compile(p))
            return jsonb_delete_path_udf()(
                self._jsonb_text(node.args[0]), path)
        if name == "normalize" and len(node.args) == 2 and \
                isinstance(node.args[1], ast.ColumnRef) and \
                not node.args[1].quoted and \
                node.args[1].name.lower() in ("nfc", "nfd", "nfkc", "nfkd"):
            # pg spells the form as a bare keyword: normalize(s, NFKC) —
            # rewrite it to the string literal the registry builder takes
            node = ast.Call(name="normalize", args=(
                node.args[0],
                ast.Literal(node.args[1].name.upper(), "string")))
        if name == "normalize" and len(node.args) == 2 and \
                isinstance(node.args[1], ast.Literal) and \
                node.args[1].kind == "string" and \
                node.args[1].value.upper() not in ("NFC", "NFD",
                                                   "NFKC", "NFKD"):
            raise CompileError(
                f"normalize(): unrecognized form {node.args[1].value!r} "
                "(expected NFC, NFD, NFKC or NFKD)")
        if name == "__substring_similar":
            return self._compile_substring_similar(node.args[0],
                                                   node.args[1],
                                                   node.args[2])
        if name == "date_part" and len(node.args) == 2 and \
                isinstance(node.args[0], ast.Literal) and \
                node.args[0].kind == "string":
            # pg date_part('field', src) == extract(field FROM src) — route
            # literal fields through the Extract compiler so pg-only fields
            # (epoch, dow/doy 0-based, isoyear, decade, ...) work; Spark's
            # native date_part lacks them. Non-literal fields fall through
            # to the registry (Spark-native date_part).
            return self._c_Extract(ast.Extract(field=node.args[0].value,
                                               expr=node.args[1]))
        if name in ("encode", "decode") and len(node.args) == 2 and \
                isinstance(node.args[1], ast.Literal) and \
                node.args[1].kind == "string":
            # pg bytea <-> text: encode(x, 'base64'|'hex'), decode inverse.
            # Literal formats fail at COMPILE time; the registry builders
            # (lowercase hex, RFC 2045 base64 wrap) do the actual work and
            # also handle non-literal format expressions at row time.
            fmt = node.args[1].value.lower()
            if fmt not in ("base64", "hex", "escape"):
                raise CompileError(
                    f"encode/decode supports base64, hex and escape, "
                    f"got {fmt!r}")
            from ..functions.registry import decode_known, encode_known

            # single-branch compile: a dead escape when-branch is a
            # higher-order lambda that Spark rejects around UDF inputs
            fn = encode_known if name == "encode" else decode_known
            return fn(self.compile(node.args[0]), fmt)
        if name == "format" and node.args \
                and isinstance(node.args[0], ast.Literal) \
                and node.args[0].kind == "string" \
                and ("%I" in node.args[0].value
                     or "%L" in node.args[0].value):
            # pg format() with identifier/literal quoting directives —
            # compiled to a concat of quoted pieces (the plain-%s form goes
            # through format_string in the registry)
            pieces = []
            argi = 1
            for p in _re.split(r"(%[sIL%])", node.args[0].value):
                if p == "%%":
                    pieces.append(F.lit("%"))
                elif p in ("%s", "%I", "%L"):
                    if argi >= len(node.args):
                        raise CompileError("format(): too few arguments")
                    s = self.compile(node.args[argi]).cast("string")
                    argi += 1
                    if p == "%s":
                        pieces.append(F.coalesce(s, F.lit("")))
                    elif p == "%I":
                        # pg raises on NULL identifiers instead of
                        # null-propagating through the whole result
                        pieces.append(F.when(
                            s.isNotNull(),
                            F.concat(F.lit('"'),
                                     F.regexp_replace(s, '"', '""'),
                                     F.lit('"'))
                        ).otherwise(F.raise_error(F.lit(
                            "null values cannot be formatted as an SQL "
                            "identifier"))))
                    else:
                        pieces.append(F.coalesce(
                            F.concat(F.lit("'"),
                                     F.regexp_replace(s, "'", "''"),
                                     F.lit("'")), F.lit("NULL")))
                elif p:
                    pieces.append(F.lit(p))
            return F.concat(*pieces)
        if name == "regexp_replace" and len(node.args) in (3, 4):
            # pg: replaces the FIRST match unless the 'g' flag is given
            # (Spark's regexp_replace is always global). The first-match
            # form isolates the match with regexp_instr, rewrites just that
            # slice (group refs intact), and re-concatenates.
            flags = ""
            if len(node.args) == 4:
                fa = node.args[3]
                if not (isinstance(fa, ast.Literal) and fa.kind == "string"):
                    raise CompileError(
                        "regexp_replace flags must be a string literal")
                flags = fa.value
            src = self.compile(node.args[0])
            pat_node = node.args[1]
            rep_node = node.args[2]
            if isinstance(rep_node, ast.Literal) and rep_node.kind == "string":
                # pg group references are \1..\9; Spark (Java) uses $1..$9
                rep_node = ast.Literal(
                    _re.sub(r"\\(\d)", r"$\1", rep_node.value), "string")
            rep = self.compile(rep_node)
            if "i" in flags:
                if not (isinstance(pat_node, ast.Literal)
                        and pat_node.kind == "string"):
                    raise CompileError(
                        "regexp_replace with 'i' needs a literal pattern")
                pat_node = ast.Literal("(?i)" + pat_node.value, "string")
            pat = self.compile(pat_node)
            if "g" in flags:
                return F.regexp_replace(src, pat, rep)
            start = F.regexp_instr(src, pat)  # 1-based match start, 0 if none
            m_end = start + F.length(
                F.call_function("regexp_extract", src, pat, F.lit(0)))
            head = F.call_function("substring", src, F.lit(1), m_end - 1)
            tail = F.call_function("substring", src, m_end)
            return F.when(start > 0,
                          F.concat(F.regexp_replace(head, pat, rep), tail)) \
                .otherwise(src)
        if name in ("to_char", "to_date", "to_timestamp", "to_number") and \
                len(node.args) == 2 and \
                isinstance(node.args[1], ast.Literal) and \
                node.args[1].kind == "string":
            raw_fmt = node.args[1].value
            arg = self.compile(node.args[0])
            if name == "to_number":
                # pg to_number: lenient about an UNDECLARED leading minus
                # (and the sign-column space to_char emits); Spark's
                # formatter requires S for any sign, so peel it off and
                # negate when the template has no S
                s = F.trim(arg.cast("string"))
                body = raw_fmt[2:] if raw_fmt.upper().startswith("FM") \
                    else raw_fmt
                if "S" in body.upper():
                    return F.to_number(s, F.lit(body))
                bare = s.substr(F.lit(2), F.length(s))
                return F.when(s.startswith("-"),
                              -F.to_number(bare, F.lit(body))) \
                        .otherwise(F.to_number(s, F.lit(body)))
            if name == "to_char" and _is_numeric_tochar_fmt(raw_fmt):
                return _numeric_to_char(arg, raw_fmt)
            # pg format strings (YYYY/DD/HH24/MI/...) are converted to Java
            # patterns at compile time; the runtime call is pure JVM
            if name == "to_char":
                # interval arm: resolved by a Catalyst schema-only probe
                # (same mechanism as pg_typeof); dates/timestamps fall
                # through to the date segment compiler
                from pyspark.sql import types as T

                dt = self._probe_type(arg)
                if isinstance(dt, T.DayTimeIntervalType):
                    return _interval_to_char(arg, raw_fmt)
                if isinstance(dt, T.YearMonthIntervalType):
                    raise CompileError(
                        "to_char over year-month intervals is not "
                        "supported (day-time intervals format via "
                        "HH24/MI/SS/DD)")
                return _date_to_char(arg, raw_fmt)
            fmt = _pg_to_java_datefmt(raw_fmt)
            if name == "to_date":
                return F.to_date(arg, fmt)
            return F.to_timestamp(arg, fmt)
        if name in ("current_setting", "set_config"):
            # session-option access (r12): resolved at compile time against
            # the executor's SET/SHOW store — pg's overwhelmingly-common
            # literal-argument form; non-literal names raise with guidance
            lits = []
            for a in node.args:
                if isinstance(a, ast.Literal):
                    lits.append(a.value)
                elif isinstance(a, ast.Cast) \
                        and isinstance(a.expr, ast.Literal):
                    lits.append(a.expr.value)
                else:
                    raise CompileError(
                        f"{name}: arguments must be literals (the setting "
                        "store is session state, resolved at compile time)")
            if self.executor is None:
                raise CompileError(f"{name} requires an executor session")
            opts = self.executor._options
            from ..executor.executor import _SHOW_OPTIONS
            if name == "set_config":
                if len(lits) != 3:
                    raise CompileError(
                        "set_config(setting, value, is_local) takes 3 "
                        "arguments")
                opts[str(lits[0]).lower()] = str(lits[1])
                return F.lit(str(lits[1]))
            if not 1 <= len(lits) <= 2:
                raise CompileError(
                    "current_setting(setting[, missing_ok]) takes 1-2 "
                    "arguments")
            key = str(lits[0]).lower()
            val = opts.get(key, _SHOW_OPTIONS.get(key))
            if val is None:
                if len(lits) == 2 and lits[1]:
                    return F.lit(None).cast("string")
                raise CompileError(
                    f'unrecognized configuration parameter "{lits[0]}"')
            return F.lit(str(val))
        if name == "pg_typeof" and len(node.args) == 1:
            # pg_typeof: the argument's type name as text, resolved at
            # COMPILE time via a Catalyst schema-only probe (no job runs —
            # df.select(col).schema is pure analysis). A bare string
            # literal reports 'unknown' like pg's untyped literals.
            a0 = node.args[0]
            if isinstance(a0, ast.Literal) and a0.kind == "string":
                return F.lit("unknown")
            dt = self._probe_type(self.compile(a0))
            if dt is None:
                raise CompileError(
                    "pg_typeof: cannot resolve the argument's type in "
                    "this context")
            return F.lit(_spark_to_pg_typename(dt))
        if name == "__at_time_zone":
            # pg `expr AT TIME ZONE z`: session-tz timestamps are stored
            # UTC-based (sessions run UTC), so this is the timestamptz ->
            # zone-local wall-clock direction (from_utc_timestamp); the
            # result is a naive timestamp, like pg
            return F.from_utc_timestamp(self.compile(node.args[0]),
                                        self.compile(node.args[1]))
        if name == "__row":
            # pg row constructor: a struct with positional field names, so
            # two row values of the same arity type-match for =/</IN
            # regardless of the source column names
            return F.struct(*[self.compile(a).alias(f"f{i + 1}")
                              for i, a in enumerate(node.args)])
        from ..functions import ranges as _rg
        if name in _rg.RANGE_TYPES:
            # range constructor: int4range(lo, hi[, '[)'])
            if len(node.args) not in (2, 3):
                raise CompileError(f"{name}() takes 2 or 3 arguments")
            bounds = "[)"
            if len(node.args) == 3:
                b = node.args[2]
                if not (isinstance(b, ast.Literal) and b.kind == "string"):
                    raise CompileError(
                        f"{name}() bounds flags must be a string literal")
                bounds = b.value
            try:
                return _rg.make_range(name, self.compile(node.args[0]),
                                      self.compile(node.args[1]), bounds)
            except ValueError as exc:
                raise CompileError(str(exc))
        from ..functions import multiranges as _mrg
        if name in _mrg.MULTIRANGE_TYPES:
            # multirange constructor: int4multirange(r1, r2, ...) — zero
            # or more range arguments, canonicalized (sorted/merged)
            for a in node.args:
                if not self._range_kind_of(a):
                    raise CompileError(
                        f"{name}() arguments must be ranges (cast column "
                        "references to the range type to re-mark them)")
            try:
                return _mrg.make_multirange(
                    name, [self.compile(a) for a in node.args])
            except ValueError as exc:
                raise CompileError(str(exc))
        if name == "__range_adjacent":
            ka = self._range_kind_of(node.args[0])
            kb = self._range_kind_of(node.args[1])
            ma = self._multirange_kind_of(node.args[0])
            mb = self._multirange_kind_of(node.args[1])
            if not (ka or kb or ma or mb):
                raise CompileError("-|- requires range operands")
            a = self.compile(node.args[0])
            b = self.compile(node.args[1])
            if ma or mb:
                from ..functions import multiranges as _mrg
                rt = _mrg.MULTIRANGE_TYPES[ma or mb]
                if ka:
                    a = _mrg.multirange_of(rt, a)
                if kb:
                    b = _mrg.multirange_of(rt, b)
                return _mrg.mr_adjacent(a, b)
            return _rg.adjacent(a, b)
        if name == "array_contains_all" and len(node.args) == 2 \
                and (self._is_jsonby(node.args[0])
                     or self._is_jsonby(node.args[1])):
            # jsonb @> jsonb / jsonb <@ jsonb (pre-swapped): recursive
            # structural containment — the one genuinely recursive jsonb
            # operation, Arrow pandas_udf like the structural editors
            from ..functions.registry import jsonb_contains_udf

            return jsonb_contains_udf()(
                self._jsonb_text(node.args[0]),
                self._jsonb_text(node.args[1]))
        if name in ("array_contains_all", "array_overlaps") \
                and len(node.args) == 2 \
                and (self._range_kind_of(node.args[0])
                     or self._range_kind_of(node.args[1])
                     or self._multirange_kind_of(node.args[0])
                     or self._multirange_kind_of(node.args[1])):
            from ..functions import multiranges as _mrg
            ka = self._range_kind_of(node.args[0])
            kb = self._range_kind_of(node.args[1])
            ma = self._multirange_kind_of(node.args[0])
            mb = self._multirange_kind_of(node.args[1])
            a = self.compile(node.args[0])
            b = self.compile(node.args[1])
            if name == "array_overlaps":
                if ma and mb:
                    return _mrg.mr_overlaps_mr(a, b)
                if ma and kb:
                    return _mrg.mr_overlaps_range(a, b)
                if ka and mb:
                    return _mrg.mr_overlaps_range(b, a)
                if not (ka and kb):
                    raise CompileError("&& requires two range operands")
                return _rg.range_overlaps(a, b)
            # @> with args (container, containee); <@ arrives pre-swapped
            if ma and mb:
                return _mrg.mr_contains_mr(a, b)
            if ma and kb:
                return _mrg.mr_contains_range(a, b)
            if ma:
                return _mrg.mr_contains_elem(a, b)
            if ka and mb:
                raise CompileError(
                    "a range cannot contain a multirange; use "
                    "multirange(r) @> mr")
            if ka and kb:
                return _rg.contains_range(a, b)
            if ka:
                return _rg.contains_elem(a, b)
            raise CompileError(
                "@> / <@ with a range requires the range on the "
                "containing side")
        if name in _RANGE_ACCESSORS and len(node.args) == 1:
            if self._range_kind_of(node.args[0]):
                return getattr(_rg, _RANGE_ACCESSORS[name])(
                    self.compile(node.args[0]))
            if self._multirange_kind_of(node.args[0]):
                from ..functions import multiranges as _mrg
                fn = _RANGE_ACCESSORS[name].replace("range_", "mr_")
                return getattr(_mrg, fn)(self.compile(node.args[0]))
        if name == "range_merge" and node.args:
            from ..functions import multiranges as _mrg
            mk = self._multirange_kind_of(node.args[0])
            if len(node.args) == 1 and mk:
                return _mrg.range_merge_mr(
                    _mrg.MULTIRANGE_TYPES[mk],
                    self.compile(node.args[0]))
            if len(node.args) == 2:
                ka = self._range_kind_of(node.args[0])
                kb = self._range_kind_of(node.args[1])
                if ka and kb:
                    # smallest range covering both (pg range_merge: works
                    # on disjoint inputs too; empties are identity; NULL
                    # propagates — _merge2 would read NULL bounds as
                    # infinities)
                    a = self.compile(node.args[0])
                    b = self.compile(node.args[1])
                    return F.when(a.isNull() | b.isNull(),
                                  F.lit(None).cast(
                                      _mrg._struct_ddl(ka or kb))) \
                        .when(a["is_empty"], b) \
                        .when(b["is_empty"], a) \
                        .otherwise(_mrg._merge2(a, b))
            raise CompileError(
                "range_merge() takes two ranges or one multirange "
                "(cast column references to re-mark them)")
        if name == "multirange" and len(node.args) == 1:
            rk = self._range_kind_of(node.args[0])
            if not rk:
                raise CompileError(
                    "multirange() requires a range argument (cast column "
                    "references to the range type to re-mark them)")
            from ..functions import multiranges as _mrg
            return _mrg.multirange_of(rk, self.compile(node.args[0]))
        if name == "date_bin" and node.args \
                and isinstance(node.args[0], ast.Literal) \
                and node.args[0].kind == "string":
            # pg implicitly reads the stride string as an interval
            # (date_bin('15 minutes', ts, origin)); without this the
            # string literal reaches the micros arithmetic as a
            # timestamp cast
            from ..functions.registry import REGISTRY as _FNS

            return _FNS["date_bin"](
                [interval_expr(node.args[0].value)]
                + [self.compile(x) for x in node.args[1:]])
        if name == "make_interval" and node.args:
            # pg make_interval(years, months, weeks, days, hours, mins,
            # secs). Spark cannot mix year-month and day-time interval
            # CLASSES in one typed interval, so the type is chosen
            # statically: zero/absent year+month args (the common case)
            # keep the day-time interval (comparable, collectable);
            # otherwise emit Spark's native make_interval — a
            # CalendarIntervalType usable in date/timestamp arithmetic
            # (its bare collection is unimplemented in PySpark itself;
            # that limitation surfaces as PySpark's own error).
            def _zero(arg) -> bool:
                return isinstance(arg, ast.Literal) \
                    and arg.kind in ("int", "float") and not arg.value

            ym = node.args[:2]
            if not all(_zero(a) for a in ym):
                args = [self.compile(a) for a in node.args]
                args += [F.lit(0)] * (7 - len(args))
                return F.make_interval(*args)
            # fall through to the registry day-time implementation
        ts_col = self._compile_textsearch(name, node)
        if ts_col is not None:
            return ts_col
        if name == "__is_json":
            # pg 16 IS JSON [VALUE|SCALAR|ARRAY|OBJECT]: NULL in -> NULL,
            # validity via Spark's native JSON parser (try_parse_json),
            # shape via the first non-space character
            x = self.compile(node.args[0]).cast("string")
            kind = node.args[1].value
            t = F.trim(x)
            base = F.try_parse_json(x).isNotNull()
            if kind == "object":
                base = base & t.startswith("{")
            elif kind == "array":
                base = base & t.startswith("[")
            elif kind == "scalar":
                base = base & ~t.startswith("{") & ~t.startswith("[")
            return F.when(x.isNull(),
                          F.lit(None).cast("boolean")).otherwise(base)
        if name == "jsonb_path_exists" and len(node.args) == 2:
            # pg jsonb_path_exists(jsonb, jsonpath) == the SQL/JSON
            # json_exists predicate over the same jsonpath machinery
            node = ast.Call(name="json_exists", args=node.args)
            name = "json_exists"
        if name in ("json_exists", "json_value", "json_query"):
            return self._compile_sql_json(node)
        if name == "unistr":
            arg = node.args[0]
            if not (isinstance(arg, ast.Literal) and arg.kind == "string"):
                raise CompileError("unistr() requires a string literal "
                                   "argument")
            return F.lit(_decode_unistr(arg.value))
        if name == "__subscript" and len(node.args) == 2 \
                and isinstance(node.args[1], ast.Literal) \
                and node.args[1].kind == "string":
            # jsonb subscripting (pg 14): expr['key'] on a json value.
            # String keys cannot index Spark arrays, so the literal kind
            # dispatches; chains like j['a']['b'] compose (each step
            # returns JSON text).
            return F.get_json_object(
                self.compile(node.args[0]).cast("string"),
                _json_path_for_key(node.args[1].value))
        if name in ("json_build_object", "jsonb_build_object"):
            # pg json_build_object('k', v, ...) -> JSON object text. Keys
            # must be string literals (the overwhelmingly common pg usage):
            # they become struct field names, so values keep their own
            # types (a create_map would force one value type).
            if len(node.args) % 2:
                raise CompileError(
                    f"{name}() requires an even number of arguments")
            fields = []
            for i in range(0, len(node.args), 2):
                key = node.args[i]
                if not (isinstance(key, ast.Literal) and key.kind == "string"):
                    raise CompileError(
                        f"{name}() keys must be string literals")
                fields.append(self.compile(node.args[i + 1])
                              .alias(str(key.value)))
            return F.to_json(F.struct(*fields))
        if name in ("json_build_array", "jsonb_build_array"):
            # per-element JSON fragments (JVM to_json of a one-element
            # array, brackets stripped), concatenated — each element keeps
            # its own type, so mixed int/string/null arrays serialize like
            # pg instead of being forced into one Spark array element type
            frags = []
            for a in node.args:
                t = F.to_json(F.array(self.compile(a)))
                frags.append(t.substr(F.lit(2), F.length(t) - 2))
            return F.concat(F.lit("["), F.concat_ws(",", *frags), F.lit("]"))
        if name in AGG_NAMES or (
                name in ("rank", "dense_rank", "percent_rank", "cume_dist")
                and node.order_within and node.args):
            if not self.agg_context:
                raise CompileError(
                    f"aggregate {name}() not allowed here (no GROUP BY context)"
                )
            return self._compile_agg(node)
        # registered built-in scalar functions
        if self.executor is not None and name in self.executor.user_functions:
            args = [self.compile(a) for a in node.args]
            return self.executor.user_functions[name](*args)
        if name in REGISTRY:
            args = [self.compile(a) for a in node.args]
            return REGISTRY[name](args)
        raise CompileError(f"unknown function: {name}")

    def _compile_sql_json(self, node: ast.Call) -> Column:
        """pg 17 SQL/JSON query functions (2-argument forms).

        Non-wildcard paths ride Spark's variant machinery
        (parse_json + try_variant_get), which distinguishes a MISSING
        member from an explicit JSON null — exactly json_exists'
        semantics. to_json on the extracted variant re-serializes with
        proper quoting for json_query. Wildcard paths ([*]) fall back to
        get_json_object (variant paths reject them); its scalar results
        come back unquoted, a documented deviation for json_query over
        wildcards. jsonpath filter expressions (``? (@.x > 2)``) compile
        through :mod:`framequery_spark.functions.jsonpath` into variant
        array filters (lax-mode subset; see that module's grammar)."""
        name = node.name
        patharg = node.args[1] if len(node.args) > 1 else None
        if not (isinstance(patharg, ast.Literal) and patharg.kind == "string"):
            raise CompileError(f"{name}() requires a literal jsonpath "
                               "second argument")
        path = patharg.value
        from ..functions.jsonpath import JsonPathError, split_filter_path
        try:
            fsplit = split_filter_path(path)
        except JsonPathError as exc:
            raise CompileError(f"{name}(): {exc}")
        if fsplit is not None:
            return self._compile_jsonpath_filter(name, node, fsplit)
        if "@" in path:
            raise CompileError(
                f"{name}(): @ outside a ? (...) filter is not supported")
        j = self.compile(node.args[0]).cast("string")
        if "*" in path:
            g = F.get_json_object(j, path)
            if name == "json_exists":
                return F.when(j.isNull(), F.lit(None).cast("boolean")) \
                    .otherwise(g.isNotNull())
            if name == "json_query":
                return g
            return F.when(g.startswith("{") | g.startswith("["),
                          F.lit(None).cast("string")).otherwise(g)
        v = F.try_variant_get(F.parse_json(j), path, "variant")
        if name == "json_exists":
            return F.when(j.isNull(), F.lit(None).cast("boolean")) \
                .otherwise(v.isNotNull())
        if name == "json_query":
            return F.to_json(v)
        # json_value: scalars only (pg default ON ERROR is NULL for
        # objects/arrays); an explicit JSON null is SQL NULL.  The
        # extracted variant and its serialization are let-bound so the
        # document is parsed once per row (the naive form re-parsed it for
        # every guard reference; q67 solo 2.6 -> 1.1 s).
        return _let(v, lambda vv: _let(F.to_json(vv), lambda jt: F.when(
            jt.isNull() | (jt == "null")
            | jt.startswith("{") | jt.startswith("["),
            F.lit(None).cast("string"))
            .otherwise(F.try_variant_get(vv, "$", "string"))))

    def _compile_jsonpath_filter(self, name: str, node: ast.Call,
                                 fsplit) -> Column:
        """SQL/JSON query function with a trailing jsonpath filter:
        base items become an array<variant>, the filter is a pure-JVM
        predicate per element (missing members / failed casts are NULL ->
        dropped, pg's lax-mode unknown), an optional post-filter member
        suffix maps over the matches. json_query without a wrapper
        returns the single match (zero or several -> NULL, pg's default
        ON ERROR); json_value additionally requires a scalar."""
        from ..functions.jsonpath import JsonPathError, parse_filter

        base, body, suffix = fsplit
        if "*" in (base[:-3] if base.endswith("[*]") else base):
            raise CompileError(
                f"{name}(): only a single trailing [*] wildcard is "
                f"supported in a filtered jsonpath (got {base!r})")
        try:
            pred = parse_filter(body)
        except JsonPathError as exc:
            raise CompileError(f"{name}(): {exc}")
        j = self.compile(node.args[0]).cast("string")
        v = F.parse_json(j)
        if base.endswith("[*]"):
            arr_path = base[:-3].strip() or "$"
            elems = F.try_variant_get(v, arr_path, "array<variant>")
        else:
            # pg lax mode auto-wraps a single value
            single = F.try_variant_get(v, base or "$", "variant")
            elems = F.filter(F.array(single), lambda e: e.isNotNull())
        matches = F.filter(
            elems, lambda e: F.coalesce(pred(e), F.lit(False)))
        if suffix:
            matches = F.filter(
                F.transform(matches, lambda m: F.try_variant_get(
                    m, "$" + suffix, "variant")),
                lambda x: x.isNotNull())
        if name == "json_exists":
            return F.when(j.isNull(), F.lit(None).cast("boolean")) \
                .otherwise(F.coalesce(F.size(matches) > 0, F.lit(False)))
        # The match array (a parse + extract + filter chain) is referenced
        # several times below — let-bind it (and the first match's
        # serialization) so the chain runs once per row.
        if name == "json_query":
            return _let(matches, lambda mm: F.when(
                F.size(mm) == 1, F.to_json(F.try_element_at(mm, F.lit(1))))
                .otherwise(F.lit(None).cast("string")))
        return _let(matches, lambda mm: _let(
            F.try_element_at(mm, F.lit(1)), lambda ff: _let(
                F.to_json(ff), lambda jt: F.when(
                    (F.size(mm) == 1) & ~jt.startswith("{")
                    & ~jt.startswith("[") & (jt != "null"),
                    F.try_variant_get(ff, "$", "string"))
                .otherwise(F.lit(None).cast("string")))))

    _TSV_DDL_FLAT = ("array<struct<lexeme:string,positions:array<int>,"
                     "weight:string>>")

    def _is_tsvector(self, node: ast.Node) -> bool:
        """Statically-known tsvector expression (constructor calls,
        setweight/strip, || concat) or a scope column with the canonical
        tsvector dtype."""
        if isinstance(node, ast.Call):
            n = node.name.lower()
            if n in ("to_tsvector", "setweight", "array_to_tsvector"):
                return True
            if n in ("strip", "ts_delete", "ts_filter") and node.args \
                    and self._is_tsvector(node.args[0]):
                return True
            return False
        if isinstance(node, ast.Binary) and node.op == "||":
            return self._is_tsvector(node.left) \
                or self._is_tsvector(node.right)
        dtype = self._scope_col_dtype(node)
        return dtype is not None \
            and dtype.replace(" ", "") == self._TSV_DDL_FLAT

    def _tsquery_node(self, node: ast.Node):
        """Parsed tsquery tree from a literal-query expression
        (to_tsquery / plainto_tsquery / phraseto_tsquery with literal
        text, or 'q'::tsquery); None when the node is not tsquery-shaped;
        CompileError on non-literal query text."""
        from ..functions import textsearch as _ts

        if isinstance(node, ast.Cast) \
                and node.type_name.lower() == "tsquery":
            inner = node.expr
            if isinstance(inner, ast.Literal) and inner.kind == "string":
                try:
                    return _ts.parse_tsquery(inner.value)
                except _ts.TsQueryError as exc:
                    raise CompileError(str(exc))
            raise CompileError("::tsquery requires a string literal")
        if isinstance(node, ast.Call):
            n = node.name.lower()
            if n in ("to_tsquery", "plainto_tsquery", "phraseto_tsquery",
                     "websearch_to_tsquery"):
                args = node.args
                config = "simple"
                if len(args) == 2:
                    c = args[0]
                    if not (isinstance(c, ast.Literal)
                            and c.kind == "string"):
                        raise CompileError(
                            f"{n}() config must be a string literal")
                    config = c.value.lower()
                    text_arg = args[1]
                elif len(args) == 1:
                    text_arg = args[0]
                else:
                    raise CompileError(f"{n}() takes 1 or 2 arguments")
                if config not in ("simple", "english"):
                    raise CompileError(
                        f"text search configuration {config!r} is not "
                        "supported (simple / english)")
                if not (isinstance(text_arg, ast.Literal)
                        and text_arg.kind == "string"):
                    raise CompileError(
                        f"{n}() requires a literal query string")
                try:
                    if n == "to_tsquery":
                        return _ts.parse_tsquery(text_arg.value, config)
                    if n == "plainto_tsquery":
                        return _ts.plain_tsquery(text_arg.value, config)
                    if n == "websearch_to_tsquery":
                        return _ts.websearch_tsquery(text_arg.value, config)
                    return _ts.phrase_tsquery(text_arg.value, config)
                except _ts.TsQueryError as exc:
                    raise CompileError(str(exc))
            if n == "ts_rewrite":
                if len(node.args) != 3:
                    raise CompileError(
                        "ts_rewrite() takes (query, target, substitute)")
                trees = [self._tsquery_node(a) for a in node.args]
                if any(t is None for t in trees):
                    raise CompileError(
                        "ts_rewrite() requires literal tsquery arguments "
                        "(to_tsquery(...) / 'q'::tsquery)")
                try:
                    return _ts.ts_rewrite_tree(*trees)
                except _ts.TsQueryError as exc:
                    raise CompileError(str(exc))
        return None

    def _compile_textsearch(self, name: str, node: ast.Call):
        """pg full-text search calls; None when `name` is not FTS."""
        from ..functions import textsearch as _ts

        if name == "to_tsvector":
            args = node.args
            config = "simple"
            if len(args) == 2:
                c = args[0]
                if not (isinstance(c, ast.Literal) and c.kind == "string"):
                    raise CompileError(
                        "to_tsvector() config must be a string literal")
                config = c.value.lower()
                text = args[1]
            elif len(args) == 1:
                text = args[0]
            else:
                raise CompileError("to_tsvector() takes 1 or 2 arguments")
            try:
                return _ts.to_tsvector(
                    self.compile(text).cast("string"), config)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        if name in ("to_tsquery", "plainto_tsquery", "phraseto_tsquery",
                    "websearch_to_tsquery", "ts_rewrite"):
            # standalone use: pg renders the parsed query as text
            q = self._tsquery_node(node)
            return F.lit(_ts.render_tsquery(q))
        if name == "setweight" and len(node.args) == 2:
            w = node.args[1]
            if not (isinstance(w, ast.Literal) and w.kind == "string"):
                raise CompileError(
                    "setweight() weight must be a string literal")
            try:
                return _ts.setweight(self.compile(node.args[0]), w.value)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        if name == "strip" and len(node.args) == 1 \
                and self._is_tsvector(node.args[0]):
            return _ts.strip_positions(self.compile(node.args[0]))
        if name == "length" and len(node.args) == 1 \
                and self._is_tsvector(node.args[0]):
            # pg length(tsvector): number of lexemes
            return F.size(self.compile(node.args[0])).cast("long")
        if name == "tsvector_to_array" and len(node.args) == 1:
            return _ts.tsvector_to_array(self.compile(node.args[0]))
        if name == "array_to_tsvector" and len(node.args) == 1:
            return _ts.array_to_tsvector(self.compile(node.args[0]))
        if name == "ts_delete" and len(node.args) == 2:
            lex = node.args[1]
            if isinstance(lex, ast.Literal) and lex.kind == "string":
                return _ts.ts_delete(self.compile(node.args[0]),
                                     lex.value)
            if isinstance(lex, ast.Call) and lex.name == "__array" \
                    and all(isinstance(x, ast.Literal) for x in lex.args):
                return _ts.ts_delete(self.compile(node.args[0]),
                                     [x.value for x in lex.args])
            raise CompileError(
                "ts_delete() lexemes must be a string literal or an "
                "array of string literals")
        if name == "ts_filter" and len(node.args) == 2:
            wa = node.args[1]
            if isinstance(wa, ast.Literal) and wa.kind == "string":
                # pg char[] literal form '{a,b}'
                ws = [w.strip() for w in
                      wa.value.strip("{}").split(",") if w.strip()]
            elif isinstance(wa, ast.Call) and wa.name == "__array" \
                    and all(isinstance(x, ast.Literal) for x in wa.args):
                ws = [str(x.value) for x in wa.args]
            else:
                raise CompileError(
                    "ts_filter() weights must be a literal char array")
            try:
                return _ts.ts_filter(self.compile(node.args[0]), ws)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        if name == "ts_headline":
            args = list(node.args)
            if len(args) < 2 or len(args) > 4:
                raise CompileError(
                    "ts_headline() takes ([config,] document, query "
                    "[, options])")
            # the query argument identifies the layout: doc-first or
            # config-first
            if self._tsquery_node(args[1]) is not None:
                config, doc, q_arg = "simple", args[0], args[1]
                rest = args[2:]
            elif len(args) >= 3 and self._tsquery_node(args[2]) \
                    is not None:
                c = args[0]
                if not (isinstance(c, ast.Literal)
                        and c.kind == "string"):
                    raise CompileError(
                        "ts_headline() config must be a string literal")
                config, doc, q_arg = c.value.lower(), args[1], args[2]
                rest = args[3:]
            else:
                raise CompileError(
                    "ts_headline() requires a literal tsquery argument")
            options = ""
            if rest:
                o = rest[0]
                if not (isinstance(o, ast.Literal)
                        and o.kind == "string"):
                    raise CompileError(
                        "ts_headline() options must be a string literal")
                options = o.value
            if config not in ("simple", "english"):
                raise CompileError(
                    f"text search configuration {config!r} is not "
                    "supported (simple / english)")
            try:
                return _ts.ts_headline(
                    self.compile(doc).cast("string"),
                    self._tsquery_node(q_arg), config, options)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        if name == "numnode" and len(node.args) == 1:
            q = self._tsquery_node(node.args[0])
            if q is None:
                raise CompileError("numnode() requires a literal tsquery")
            return F.lit(_ts.numnode(q))
        if name == "querytree" and len(node.args) == 1:
            q = self._tsquery_node(node.args[0])
            if q is None:
                raise CompileError(
                    "querytree() requires a literal tsquery")
            return F.lit(_ts.querytree(q))
        if name == "__ts_match":
            a, b = node.args
            qb = self._tsquery_node(b)
            qa = None if qb is not None else self._tsquery_node(a)
            if qb is not None:
                tsv_node, qnode = a, qb
            elif qa is not None:
                tsv_node, qnode = b, qa
            else:
                raise CompileError(
                    "@@ requires a literal tsquery on one side "
                    "(to_tsquery / plainto_tsquery / phraseto_tsquery "
                    "or ::tsquery of a literal)")
            tsv = self.compile(tsv_node)
            if not self._is_tsvector(tsv_node):
                # pg: text @@ tsquery coerces the text via to_tsvector —
                # but ONLY when the side is provably text (a literal or a
                # string-typed scope column). A tsvector column of a
                # derived relation is invisible to the schema probe, and
                # coercing ITS string rendering would silently re-tokenize
                # garbage — raise the guided error instead.
                is_text = (isinstance(tsv_node, ast.Literal)
                           and tsv_node.kind == "string") \
                    or self._scope_col_dtype(tsv_node) == "string"
                if not is_text:
                    raise CompileError(
                        "@@ cannot infer the document side's type; wrap "
                        "it in to_tsvector(...) (tsvector columns of "
                        "derived relations are invisible to the schema "
                        "probe)")
                tsv = _ts.to_tsvector(tsv.cast("string"))
            try:
                return _ts.compile_match(tsv, qnode)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        if name in ("ts_rank", "ts_rank_cd"):
            args = list(node.args)
            # optional trailing normalization (integer literal; pg
            # bitmask — 1/2/8/16/32 and combinations supported for both
            # functions, bit 4 raises; see textsearch.py
            # _apply_rank_normalization)
            def _const_mask(n):
                # pg idiom: the normalization is often written as a
                # bit-or of the flag constants (ts_rank(v, q, 2|8)) —
                # fold int-literal '|' trees to the constant
                if isinstance(n, ast.Literal) and n.kind == "int":
                    return int(n.value)
                if isinstance(n, ast.Binary) and n.op == "|":
                    l, r = _const_mask(n.left), _const_mask(n.right)
                    if l is not None and r is not None:
                        return l | r
                return None

            normalization = 0
            if len(args) >= 3 and _const_mask(args[-1]) is not None:
                normalization = _const_mask(args.pop())
            weights = None
            if len(args) == 3:
                wa = args.pop(0)
                if not (isinstance(wa, ast.Call)
                        and wa.name == "__array"
                        and len(wa.args) == 4
                        and all(isinstance(x, ast.Literal)
                                for x in wa.args)):
                    raise CompileError(
                        f"{name}() weights must be a 4-element array "
                        "literal {D,C,B,A}")
                weights = [float(x.value) for x in wa.args]
            if len(args) != 2:
                raise CompileError(
                    f"{name}() takes ([weights,] tsvector, tsquery "
                    "[, normalization])")
            q = self._tsquery_node(args[1])
            if q is None:
                raise CompileError(
                    f"{name}() requires a literal tsquery")
            if not self._is_tsvector(args[0]):
                raise CompileError(
                    f"{name}() first argument must be a tsvector "
                    "(to_tsvector(...) or a stored tsvector column)")
            try:
                if name == "ts_rank_cd":
                    return _ts.ts_rank_cd(self.compile(args[0]), q,
                                          weights, normalization)
                return _ts.ts_rank(self.compile(args[0]), q, weights,
                                   normalization)
            except _ts.TsQueryError as exc:
                raise CompileError(str(exc))
        return None

    def _compile_quant_array(self, node: ast.Call) -> Column:
        """pg `x op ANY|ALL (array)` — JVM higher-order exists/forall, which
        follow SQL 3-valued logic (a NULL element makes an undecided ANY
        NULL, an undecided ALL NULL) without touching Python."""
        x = self.compile(node.args[0])
        arr = self.compile(node.args[1])
        op = node.args[2].value
        quant = node.args[3].value

        def cmp(e: Column) -> Column:
            return {"=": x == e, "!=": x != e, "<>": x != e,
                    "<": x < e, "<=": x <= e,
                    ">": x > e, ">=": x >= e}[op]

        if quant == "all":
            return F.forall(arr, cmp)
        return F.exists(arr, cmp)

    def _compile_substring_similar(self, source: ast.Node, pat: ast.Node,
                                   esc: ast.Node) -> Column:
        """SQL:1999 substring(s SIMILAR pat ESCAPE esc) (pg also spells it
        substring(s FROM pat FOR esc)): the pattern must match the WHOLE
        string; the portion between the two escape-double-quote markers is
        returned (the whole match when the pattern has no markers); NULL
        when the string does not match."""
        for arg, what in ((pat, "pattern"), (esc, "escape")):
            if not (isinstance(arg, ast.Literal) and arg.kind == "string"):
                raise CompileError(
                    f"substring SIMILAR requires a literal {what}")
        regex, markers = _similar_to_regex(pat.value, esc.value,
                                           capture_markers=True)
        src = self.compile(source)
        return F.when(F.regexp_like(src, F.lit(regex)),
                      F.regexp_extract(src, regex, 1 if markers else 0))

    def _compile_hypothetical_agg(self, node: ast.Call,
                                  fcond: Optional[Column]) -> Column:
        """SQL:2008 hypothetical-set aggregates:
        rank/dense_rank/percent_rank/cume_dist(v) WITHIN GROUP
        (ORDER BY c) — the position the hypothetical value v WOULD take
        in the group's ordering. Compiled to counting conditional sums
        (rank = 1 + rows sorting strictly before v, etc.), so the whole
        thing stays one partial-aggregable pass — no sort, no window.
        Single sort key only (pg's multi-key form is unsupported —
        raises); NULL ordering follows the declared/pg-default rule
        (ASC -> NULLS LAST, DESC -> NULLS FIRST)."""
        name = node.name
        keys = node.order_within
        if len(node.args) != 1 or len(keys) != 1:
            raise CompileError(
                f"{name}(value) WITHIN GROUP (ORDER BY col) takes exactly "
                "one value and one sort key")
        v = self.compile(node.args[0])
        c = self.compile(keys[0].expr)
        asc = keys[0].ascending
        nulls = keys[0].nulls
        nulls_first = (nulls == "first") if nulls else (not asc)
        valid = fcond if fcond is not None else F.lit(True)

        def csum(cond: Column) -> Column:
            return F.coalesce(
                F.sum(F.when(valid & cond, 1).otherwise(0)), F.lit(0))

        n = csum(F.lit(True))
        n_null = csum(c.isNull())
        nn = n - n_null
        before = (c < v) if asc else (c > v)
        before_eq = (c <= v) if asc else (c >= v)
        lt = csum(c.isNotNull() & before)
        le = csum(c.isNotNull() & before_eq)
        null_ahead = F.when(F.lit(nulls_first), n_null).otherwise(F.lit(0))

        if name == "rank":
            r = F.lit(1) + lt + null_ahead
            r_null = F.lit(1) if nulls_first else nn + 1
            return F.when(v.isNull(), r_null).otherwise(r).cast("long")
        if name == "dense_rank":
            d_lt = F.coalesce(
                F.count_distinct(F.when(valid & c.isNotNull() & before, c)),
                F.lit(0))
            has_null = F.when(n_null > 0, 1).otherwise(0)
            d = F.lit(1) + d_lt + F.when(F.lit(nulls_first),
                                         has_null).otherwise(F.lit(0))
            d_all = F.coalesce(
                F.count_distinct(F.when(valid & c.isNotNull(), c)),
                F.lit(0))
            d_null = F.lit(1) if nulls_first else d_all + 1
            return F.when(v.isNull(), d_null).otherwise(d).cast("long")
        if name == "percent_rank":
            r = F.lit(1) + lt + null_ahead
            r_null = F.lit(1) if nulls_first else nn + 1
            rk = F.when(v.isNull(), r_null).otherwise(r)
            return F.when(n > 0, (rk - 1).cast("double") / n) \
                .otherwise(F.lit(0.0))
        # cume_dist: (rows preceding or peer of v, incl. v) / (n + 1)
        ahead = le + null_ahead
        ahead_null = n_null + (F.lit(0) if nulls_first else nn)
        cd = F.when(v.isNull(), ahead_null).otherwise(ahead)
        return (cd + 1).cast("double") / (n + 1)

    def _compile_similar_to(self, node: ast.Call) -> Column:
        """pg `x SIMILAR TO p`: SQL-regex matching the WHOLE string, where
        % = .* and _ = . while |, *, +, ?, {m,n}, (), [...] keep their regex
        meaning and ., ^, $ are literal. Converted to a Java regex at
        compile time (literal patterns only) and evaluated JVM-side via
        rlike."""
        pat = node.args[1]
        if not (isinstance(pat, ast.Literal) and pat.kind == "string"):
            raise CompileError("SIMILAR TO requires a literal pattern")
        regex, _ = _similar_to_regex(pat.value, "\\")
        return self.compile(node.args[0]).rlike(regex)

    def _compile_json_arrow(self, node: ast.Call) -> Column:
        """pg `json -> key` / `json ->> key` (beyond parity — the reference
        surfaces json only via `::json` + `json_each`). Compiles to JVM
        get_json_object with a JSONPath built from the literal key: string
        key -> field access, int key -> array index. Chaining works
        (`a->'b'->>'c'`) because nested objects come back as json text.
        Deviation from pg: scalar values are unquoted for `->` as well
        (get_json_object always unwraps scalars)."""
        src = node.args[0]
        # `expr::json -> 'k'` (pg idiom: validate-then-navigate): the arrow
        # navigates the TEXT, so the variant-producing cast is dropped —
        # get_json_object wants a string, and pg's ::json is a no-op on
        # already-valid json text
        while isinstance(src, ast.Cast) and src.type_name.lower() in (
                "json", "jsonb"):
            src = src.expr
        obj = self.compile(src)
        key = node.args[1]
        if isinstance(key, ast.Literal) and key.kind == "string":
            path = _json_path_for_key(key.value)
        elif isinstance(key, ast.Literal) and key.kind == "int":
            if key.value < 0:
                # pg 13+: negative index counts from the array end.
                # JSONPath can't express it, so parse to array<string> and
                # element_at (1-based; negatives index from the end).
                return F.element_at(
                    F.from_json(obj, "array<string>"), key.value)
            path = f"$[{key.value}]"
        else:
            raise CompileError("-> / ->> requires a literal string or int key")
        return F.get_json_object(obj, path)

    @staticmethod
    def _desugar_agg_filter(node: ast.Call) -> ast.Call:
        """`agg(x) FILTER (WHERE c)` -> `agg(CASE WHEN c THEN x END)`.
        Exact: every Spark aggregate skips NULL inputs. count(*) becomes
        count(CASE WHEN c THEN 1 END). Only value arguments are wrapped —
        trailing parameter literals (string_agg separator, percentile
        fraction) stay as-is."""
        cond = node.filter_where
        if node.name in ("grouping", "grouping_id"):
            raise CompileError(f"FILTER not allowed on {node.name}()")
        if node.star or not node.args:
            args = (ast.Case(whens=((cond, ast.Literal(1, "int")),)),)
            return dataclasses.replace(node, name="count", args=args,
                                       star=False, filter_where=None)
        n_values = 2 if (node.name in ("corr", "covar_pop", "covar_samp")
                         or node.name.startswith("regr_")) else 1
        args = tuple(
            ast.Case(whens=((cond, a),)) if i < n_values else a
            for i, a in enumerate(node.args))
        return dataclasses.replace(node, args=args, filter_where=None)

    def _compile_agg(self, node: ast.Call) -> Column:
        name = node.name
        if node.order_within:
            # ordered aggregates handle FILTER themselves: CASE-wrapping the
            # value arg here would turn filtered rows into NULL *elements*
            # of the collected array (and would wrap the percentile
            # fraction) instead of excluding the rows.
            return self._compile_ordered_agg(node)
        if node.filter_where is not None:
            node = self._desugar_agg_filter(node)
        if name in ("percentile_disc", "mode") :
            raise CompileError(f"{name}() requires WITHIN GROUP (ORDER BY ...)")
        if name == "grouping":
            return F.grouping(self.compile(node.args[0])).cast("long")
        if name == "grouping_id":
            return F.grouping_id(*[self.compile(a) for a in node.args]).cast("long")
        if name == "count":
            if node.star or not node.args:
                # count(*) -> count(1) (reference rewrite,
                # src/framequery/executor/_executor.py:479-481)
                return F.count(F.lit(1))
            arg = self.compile(node.args[0])
            return F.count_distinct(arg) if node.distinct else F.count(arg)
        if name == "string_agg":
            col = self.compile(node.args[0])
            sep = node.args[1].value if len(node.args) > 1 and isinstance(
                node.args[1], ast.Literal) else ","
            # pg: a NULL delimiter concatenates without separators
            return F.array_join(F.collect_list(col),
                                sep if sep is not None else "")
        if name in ("json_agg", "jsonb_agg"):
            # pg json_agg(x) -> JSON array text. collect_list + to_json:
            # element serialization (structs/arrays/scalars) is JVM-side.
            return F.to_json(F.collect_list(self.compile(node.args[0])))
        if name in ("range_agg", "range_intersect_agg"):
            # pg 14 range aggregates: union -> multirange, intersection ->
            # range. Subtype from the argument's static or probed kind.
            rk = self._range_kind_of(node.args[0])
            if not rk:
                raise CompileError(
                    f"{name}() requires a range argument (cast column "
                    "references to the range type to re-mark them)")
            from ..functions import multiranges as _mrg
            arg = self.compile(node.args[0])
            if name == "range_agg":
                return _mrg.range_agg(rk, arg)
            return _mrg.range_intersect_agg(rk, arg)
        if name in ("json_object_agg", "jsonb_object_agg"):
            # pg json_object_agg(k, v) -> JSON object text keeping duplicate
            # keys in aggregation order; jsonb_object_agg is last-wins.
            # Built from one-entry-map JSON fragments (JVM-side key/value
            # quoting and escaping) so no multi-key map is ever constructed —
            # spark.sql.mapKeyDedupPolicy=EXCEPTION can't throw on duplicates.
            k = self.compile(node.args[0]).cast("string")
            v = self.compile(node.args[1])
            entries = F.collect_list(F.struct(k.alias("k"), v.alias("v")))
            if name == "jsonb_object_agg":
                # last-wins: drop entry i when a later entry shares its key
                entries = F.filter(
                    entries,
                    lambda e, i: ~F.exists(
                        F.slice(entries, i + F.lit(2), F.size(entries)),
                        lambda e2: e2["k"] == e["k"]))
            frags = F.transform(
                entries,
                lambda e: F.to_json(F.create_map(e["k"], e["v"])))
            inner = F.array_join(
                F.transform(frags,
                            lambda s: s.substr(F.lit(2), F.length(s) - 2)),
                ",")
            return F.concat(F.lit("{"), inner, F.lit("}"))
        if name == "corr":
            return F.corr(self.compile(node.args[0]), self.compile(node.args[1]))
        if name == "covar_pop":
            return F.covar_pop(self.compile(node.args[0]), self.compile(node.args[1]))
        if name == "covar_samp":
            return F.covar_samp(self.compile(node.args[0]), self.compile(node.args[1]))
        if name.startswith("regr_"):
            return getattr(F, name)(self.compile(node.args[0]),
                                    self.compile(node.args[1]))
        if name == "percentile_cont":
            # percentile_cont(frac) WITHIN GROUP unsupported; 2-arg form:
            # percentile_cont(col, frac)
            return F.percentile(self.compile(node.args[0]),
                                self.compile(node.args[1]))
        if name == "approx_percentile":
            # sketch-based quantile (t-digest-style): fixed-size state
            # merges map-side — the scalable form of percentile at 100 TB
            return F.percentile_approx(self.compile(node.args[0]),
                                       self.compile(node.args[1]))
        arg = self.compile(node.args[0])
        if node.distinct:
            if name == "sum":
                return F.sum_distinct(arg)
            if name == "avg":
                return F.sum_distinct(arg) / F.count_distinct(arg)
            if name == "collect":
                return F.collect_set(arg)
            if name == "count":
                return F.count_distinct(arg)
            raise CompileError(f"DISTINCT not supported for {name}()")
        fn = AGG_MAP.get(name)
        if fn is None:
            raise CompileError(f"unknown aggregate: {name}")
        return fn(arg)

    def _compile_ordered_agg(self, node: ast.Call) -> Column:
        """Ordered-set aggregates: `percentile_cont/disc(f) WITHIN GROUP
        (ORDER BY c)`, `mode() WITHIN GROUP (ORDER BY c)`, and ordered
        `string_agg`/`array_agg` (either syntax). Beyond parity — the
        reference grammar has no WITHIN GROUP.

        FILTER (WHERE c) semantics: filtered rows are excluded from the
        aggregate entirely. For percentile/mode the sort-key value is
        NULLed out (both ignore NULL inputs); for the collect family the
        whole (keys, value) struct is NULLed so collect_list skips the row
        while legitimately-NULL values in kept rows survive."""
        name = node.name
        keys = node.order_within
        fcond = (self.compile(node.filter_where)
                 if node.filter_where is not None else None)
        if name in ("percentile_cont", "percentile_disc"):
            if len(node.args) != 1 or len(keys) != 1:
                raise CompileError(
                    f"{name}(fraction) WITHIN GROUP (ORDER BY col) takes "
                    "exactly one fraction and one sort key")
            frac = self.compile(node.args[0])
            col = self.compile(keys[0].expr)
            if fcond is not None:
                col = F.when(fcond, col)
            if name == "percentile_cont":
                # DESC ordering: continuous percentile is symmetric,
                # P_desc(f) == P_asc(1 - f)
                if not keys[0].ascending:
                    frac = F.lit(1.0) - frac
                return F.percentile(col, frac)
            # pg percentile_disc: first value (in the declared order) whose
            # cume_dist >= fraction. Exact via per-group sorted collect —
            # each GROUP's values must fit in executor memory (same caveat
            # as collect_list/median). DESC = take from the descending
            # order, i.e. index from the other end of the asc-sorted array.
            arr = F.sort_array(F.collect_list(col))
            idx = F.greatest(F.lit(1),
                             F.ceil(frac * F.size(arr)).cast("int"))
            if not keys[0].ascending:
                idx = F.size(arr) - idx + 1
            return F.element_at(arr, idx)
        if name in ("rank", "dense_rank", "percent_rank", "cume_dist") \
                and node.args:
            return self._compile_hypothetical_agg(node, fcond)
        if name == "mode":
            if node.args or len(keys) != 1:
                raise CompileError("mode() WITHIN GROUP (ORDER BY col) takes "
                                   "no direct args and one sort key")
            # most frequent value; ties break arbitrarily (Spark F.mode)
            col = self.compile(keys[0].expr)
            if fcond is not None:
                col = F.when(fcond, col)
            return F.mode(col)
        if name in _COMMUTATIVE_AGGS:
            # pg allows ORDER BY inside ANY aggregate; for genuinely
            # commutative aggregates it cannot change the result, so
            # compile the plain aggregate. Order-SENSITIVE aggregates
            # (first_value, ...) must NOT take this shortcut — dropping
            # their ORDER BY would silently return partition-order-
            # dependent values.
            return self._compile_agg(
                dataclasses.replace(node, order_within=()))
        if name in ("first_value", "first_value_agg", "last_value_agg") \
                and len(keys) == 1:
            # ordered first/last as aggregates: min_by/max_by on the single
            # sort key (pg leaves ties unspecified; so do these)
            val = self.compile(node.args[0])
            key = self.compile(keys[0].expr)
            if fcond is not None:
                val = F.when(fcond, val)
                key = F.when(fcond, key)
            want_first = name in ("first_value", "first_value_agg")
            asc = keys[0].ascending
            return (F.min_by(val, key) if want_first == asc
                    else F.max_by(val, key))
        if name in ("string_agg", "collect", "array_agg", "json_agg",
                    "jsonb_agg"):
            # deterministic ordered aggregation: collect structs of
            # (sort keys..., value), sort_array (lexicographic over fields —
            # value last acts as a tiebreak), then project the value back out.
            # collect_list alone is partition-order-dependent; this is the
            # only distributed-safe way to get a stable ordering.
            ascending = {k.ascending for k in keys}
            if len(ascending) != 1:
                raise CompileError(
                    "ordered aggregates need a uniform ASC/DESC direction "
                    "(sort_array flips all keys together)")
            val = self.compile(node.args[0])
            parts = [self.compile(k.expr).alias(f"k{i}")
                     for i, k in enumerate(keys)] + [val.alias("v")]
            entry = F.struct(*parts)
            if fcond is not None:
                entry = F.when(fcond, entry)  # collect_list skips NULL structs
            arr = F.sort_array(F.collect_list(entry),
                               asc=ascending.pop())
            if node.distinct:
                # pg: DISTINCT + ORDER BY requires the sort key to be the
                # argument itself, so struct-level dedup is value dedup;
                # the array is already sorted, so order survives
                arr = F.array_distinct(arr)
            vals = F.transform(arr, lambda s: s["v"])
            if name == "string_agg":
                sep = node.args[1].value if len(node.args) > 1 and isinstance(
                    node.args[1], ast.Literal) else ","
                return F.array_join(vals, sep if sep is not None else "")
            if name in ("json_agg", "jsonb_agg"):
                return F.to_json(vals)
            return vals
        raise CompileError(f"WITHIN GROUP / ORDER BY not supported for {name}()")

    # ---------------------------------------------------------------- windows

    def _c_WindowCall(self, node: ast.WindowCall) -> Column:
        from pyspark.sql import Window

        if not self.window_allowed:
            raise CompileError("window functions not allowed in this clause")
        if node.ref is not None:
            raise CompileError(f"window \"{node.ref}\" is not defined")
        call = node.call
        spec = node.spec
        if spec.base_ref is not None:
            # only reachable when the SELECT has no WINDOW clause at all —
            # _desugar_named_windows resolves refinements otherwise
            raise CompileError(f"window \"{spec.base_ref}\" is not defined")
        if spec.frame_type == "groups":
            return self._compile_groups_frame(node, Window)
        w = Window.partitionBy(*[self.compile(p) for p in spec.partition_by]) \
            if spec.partition_by else Window.partitionBy()
        interval_frame = any(
            b is not None and b.interval
            for b in (spec.frame_start, spec.frame_end))
        if interval_frame and spec.frame_type != "range":
            raise CompileError("INTERVAL frame bounds require a RANGE frame")
        if interval_frame:
            # RANGE over a time key: Spark's rangeBetween takes numeric
            # offsets on the order expression, so order by unix_micros(key)
            # and use the bound's microsecond value — value-identical to
            # pg's RANGE INTERVAL semantics for fixed-length intervals
            if len(spec.order_by) != 1:
                raise CompileError(
                    "RANGE with INTERVAL bounds requires exactly one "
                    "ORDER BY expression")
            s = spec.order_by[0]
            micros = F.unix_micros(self.compile(s.expr).cast("timestamp"))
            w = w.orderBy(_apply_sort_direction(micros, s))
        elif spec.order_by:
            w = w.orderBy(*[self._sort_col(s) for s in spec.order_by])
        if spec.frame_type is not None:
            start = _frame_value(spec.frame_start, Window)
            end = _frame_value(spec.frame_end, Window)
            if spec.frame_type == "rows":
                w = w.rowsBetween(start, end)
            else:
                w = w.rangeBetween(start, end)
        name = call.name
        if name in WINDOW_FUNCS:
            if call.filter_where is not None:
                # pg: FILTER applies only to aggregates, not pure window fns
                raise CompileError(f"FILTER not allowed on {name}() window function")
            if name in _WINDOW_INT_ARGS:
                args = []
                for i, a in enumerate(call.args):
                    if i >= 1 or name == "ntile":
                        if not isinstance(a, ast.Literal):
                            raise CompileError(f"{name}() offset must be a literal")
                        args.append(a.value)
                    else:
                        args.append(self.compile(a))
            else:
                args = [self.compile(a) for a in call.args]
            col = WINDOW_FUNCS[name](args)
        elif name in AGG_NAMES or name in ("count",):
            if spec.exclude is not None:
                return self._window_exclude(node, w, Window)
            inner = ExprCompiler(self.executor, agg_context=True,
                                 scope=self.scope,
                                 alias_rewrites=self.alias_rewrites)
            col = inner._compile_agg(call)
        else:
            if spec.exclude is not None:
                raise CompileError(
                    "frame EXCLUDE applies only to aggregate window calls")
            raise CompileError(f"unknown window function: {name}")
        return col.over(w)

    def _compile_groups_frame(self, node: ast.WindowCall, Window) -> Column:
        """pg GROUPS window frames, rewritten to a RANGE frame over a staged
        dense_rank column.

        dense_rank numbers the ORDER BY peer groups 1, 2, 3, ... without
        gaps, and a RANGE frame includes every peer of a boundary row, so
        `GROUPS BETWEEN a PRECEDING AND b FOLLOWING` over the original key
        is value-identical to `RANGE BETWEEN a PRECEDING AND b FOLLOWING`
        ordered by that dense_rank.  Spark has no native GROUPS mode; the
        dense_rank itself is a window expression and cannot appear inside
        another window spec, so it is staged as a pending pre-projection
        column (attached by the relation compiler before the projection
        evaluates this column)."""
        spec = node.spec
        if not spec.order_by:
            raise CompileError("GROUPS frame requires an ORDER BY clause")
        if any(b is not None and b.interval
               for b in (spec.frame_start, spec.frame_end)):
            raise CompileError("GROUPS frame bounds must be integers")
        wdr = Window.partitionBy(
            *[self.compile(p) for p in spec.partition_by]) \
            if spec.partition_by else Window.partitionBy()
        wdr = wdr.orderBy(*[self._sort_col(s) for s in spec.order_by])
        name = _next_precol_name("gdr")
        self.pending_precols.append((name, F.dense_rank().over(wdr)))
        new_spec = dataclasses.replace(
            spec, frame_type="range",
            order_by=(ast.SortItem(
                expr=ast.ColumnRef(parts=(name,), quoted=True)),))
        return self._c_WindowCall(dataclasses.replace(node, spec=new_spec))

    def _window_exclude(self, node: ast.WindowCall, w, Window) -> Column:
        """pg frame `EXCLUDE CURRENT ROW | GROUP | TIES` for sum/count/avg.

        Spark has no native frame exclusion, so the excluded contribution is
        subtracted: agg(frame) ⊖ agg(excluded rows).  CURRENT ROW subtracts
        the row's own contribution (exact for any frame).  GROUP/TIES
        subtract the ORDER BY peer group, which is exact when the frame is
        guaranteed to contain the whole peer group — true for RANGE frames
        (peers share the range key) but not for ROWS frames that can cut
        through a peer group, so those raise."""
        call, spec = node.call, node.spec
        name = call.name
        if name not in ("sum", "count", "avg"):
            raise CompileError(
                f"frame EXCLUDE is supported for sum/count/avg, not {name}() "
                "(non-subtractable aggregate)")
        if spec.exclude in ("group", "ties") and spec.frame_type == "rows":
            return self._window_exclude_rows_peers(node, w, Window)

        def _offset(bound, default):
            if bound is None:
                return default
            return {"unbounded_preceding": float("-inf"),
                    "current_row": 0,
                    "unbounded_following": float("inf"),
                    "preceding": -(bound.value or 0),
                    "following": (bound.value or 0)}[bound.kind]

        # a frame that cannot contain the current row (e.g. ROWS BETWEEN 5
        # PRECEDING AND 1 PRECEDING) makes every EXCLUDE form a no-op: the
        # row is already outside, and for RANGE frames its peers share
        # offset 0 so they are outside too — subtract nothing
        start0 = _offset(spec.frame_start,
                         float("-inf") if spec.frame_type is None else 0)
        end0 = _offset(spec.frame_end, 0)
        if not (start0 <= 0 <= end0):
            inner = ExprCompiler(self.executor, agg_context=True,
                                 scope=self.scope,
                                 alias_rewrites=self.alias_rewrites)
            return inner._compile_agg(call).over(w)
        if call.distinct:
            raise CompileError("frame EXCLUDE with DISTINCT is not supported")
        arg = F.lit(1) if call.star else self.compile(call.args[0])
        contrib_cnt = F.lit(1) if call.star else arg.isNotNull().cast("long")
        contrib_sum = F.lit(1) if call.star else F.coalesce(arg, F.lit(0))
        f_sum = F.sum(arg).over(w)
        f_cnt = (F.count(F.lit(1)) if call.star else F.count(arg)).over(w)
        if spec.exclude == "current_row":
            ex_sum, ex_cnt = contrib_sum, contrib_cnt
        else:
            # peer group window: same partition, keyed by the ORDER BY values
            peer_keys = [self.compile(p) for p in spec.partition_by] + \
                [self.compile(s.expr) for s in spec.order_by]
            wp = Window.partitionBy(*peer_keys)
            g_sum = F.coalesce(F.sum(arg).over(wp), F.lit(0))
            g_cnt = (F.count(F.lit(1)) if call.star else F.count(arg)).over(wp)
            if spec.exclude == "group":
                ex_sum, ex_cnt = g_sum, g_cnt
            else:  # ties: exclude peers but keep the current row
                ex_sum, ex_cnt = g_sum - contrib_sum, g_cnt - contrib_cnt
        new_cnt = f_cnt - ex_cnt
        if name == "count":
            return new_cnt
        new_sum = F.when(new_cnt > 0, F.coalesce(f_sum, F.lit(0)) - ex_sum)
        if name == "avg":
            return new_sum / new_cnt
        return new_sum

    def _window_exclude_rows_peers(self, node: ast.WindowCall, w,
                                   Window) -> Column:
        """EXCLUDE GROUP/TIES under a ROWS frame — the one exclusion form a
        single subtraction cannot express, because a ROWS frame can cut
        through the ORDER BY peer group: the excluded set is the
        INTERSECTION of the frame's row range and the peer group's row
        range.

        Peers are contiguous once rows are ordered, so with row position
        rn (staged as a pending pre-column — windows cannot nest), group
        span [glo, ghi] (min/max of rn over the peer partition) and frame
        span [rn+a, rn+b], the intersection is [max(glo, rn+a),
        min(ghi, rn+b)] and its aggregate falls out of prefix sums:

            peers_in_frame = pre(min(ghi, rn+b)) - pre(max(glo, rn+a) - 1)

        Every pre() lands on one of four window shapes computable per row
        with FIXED frame bounds: pre(ghi) = the default RANGE frame (it
        includes all peers), pre(glo - 1) = pre(ghi) - group_sum,
        pre(rn+b) = ROWS UNBOUNDED PRECEDING .. b FOLLOWING, and
        pre(rn+a-1) = ROWS UNBOUNDED PRECEDING .. a-1. Which branch
        applies is decided per row by comparing positions. Everything
        stays a JVM window expression — no joins, no extra shuffles
        beyond the window's own."""
        call, spec = node.call, node.spec
        name = call.name
        if name not in ("sum", "count", "avg"):
            raise CompileError(
                f"frame EXCLUDE is supported for sum/count/avg, not {name}() "
                "(non-subtractable aggregate)")
        if call.distinct:
            raise CompileError("frame EXCLUDE with DISTINCT is not supported")
        arg = F.lit(1) if call.star else self.compile(call.args[0])

        part = [self.compile(p) for p in spec.partition_by]
        order = [self._sort_col(s) for s in spec.order_by]
        if not order:
            raise CompileError("a ROWS frame with EXCLUDE GROUP/TIES "
                               "requires an ORDER BY clause")
        w_pos = (Window.partitionBy(*part) if part
                 else Window.partitionBy()).orderBy(*order)
        rn_name = _next_precol_name("xrn")
        self.pending_precols.append((rn_name, F.row_number().over(w_pos)))
        rn = F.col(rn_name)
        # Every POSITIONAL window below re-sorts in its own window exec;
        # with tied ORDER BY keys that sort is not guaranteed to reproduce
        # the tie order rn was assigned under (the peer window even
        # re-shuffles on a different key set). Appending the staged rn as
        # the final sort key makes each positional sort total AND
        # consistent with the staged numbering — the whole computation then
        # reflects one single valid tie ordering.
        w_tot = (Window.partitionBy(*part) if part
                 else Window.partitionBy()).orderBy(*order, rn.asc())

        INF = float("inf")

        def _off(bound, default):
            if bound is None:
                return default
            return {"unbounded_preceding": -INF, "current_row": 0,
                    "unbounded_following": INF,
                    "preceding": -(bound.value or 0),
                    "following": (bound.value or 0)}[bound.kind]

        a_off = _off(spec.frame_start, -INF)
        b_off = _off(spec.frame_end, 0)

        peers = [self.compile(p) for p in spec.partition_by] + \
            [self.compile(s.expr) for s in spec.order_by]
        wp = Window.partitionBy(*peers)
        glo, ghi = F.min(rn).over(wp), F.max(rn).over(wp)
        gsum = F.coalesce(F.sum(arg).over(wp), F.lit(0))
        gcnt = (F.count(F.lit(1)) if call.star else F.count(arg)).over(wp)

        # pre(ghi): default RANGE frame = everything up to and including
        # the current row's whole peer group
        w_rng = ((Window.partitionBy(*part) if part else Window.partitionBy())
                 .orderBy(*order)
                 .rangeBetween(Window.unboundedPreceding, Window.currentRow))
        pre_ghi_s = F.coalesce(F.sum(arg).over(w_rng), F.lit(0))
        pre_ghi_c = (F.count(F.lit(1)) if call.star
                     else F.count(arg)).over(w_rng)

        def _pre_rows(off):
            wr = w_tot.rowsBetween(Window.unboundedPreceding, int(off))
            return (F.coalesce(F.sum(arg).over(wr), F.lit(0)),
                    (F.count(F.lit(1)) if call.star
                     else F.count(arg)).over(wr))

        if b_off == INF:
            hi_s, hi_c = pre_ghi_s, pre_ghi_c
        else:
            s_, c_ = _pre_rows(b_off)
            cond_hi = ghi <= rn + int(b_off)
            hi_s = F.when(cond_hi, pre_ghi_s).otherwise(s_)
            hi_c = F.when(cond_hi, pre_ghi_c).otherwise(c_)
        if a_off == -INF:
            lo_s, lo_c = pre_ghi_s - gsum, pre_ghi_c - gcnt
        else:
            s_, c_ = _pre_rows(a_off - 1)
            cond_lo = glo >= rn + int(a_off)
            lo_s = F.when(cond_lo, pre_ghi_s - gsum).otherwise(s_)
            lo_c = F.when(cond_lo, pre_ghi_c - gcnt).otherwise(c_)

        ilo = glo if a_off == -INF else F.greatest(glo, rn + int(a_off))
        ihi = ghi if b_off == INF else F.least(ghi, rn + int(b_off))
        nonempty = ilo <= ihi
        peers_s = F.when(nonempty, hi_s - lo_s).otherwise(F.lit(0))
        peers_c = F.when(nonempty, hi_c - lo_c).otherwise(F.lit(0))

        contrib_c = F.lit(1) if call.star else arg.isNotNull().cast("long")
        contrib_s = F.lit(1) if call.star else F.coalesce(arg, F.lit(0))
        # the current row is in the frame iff a <= 0 <= b
        in_frame = a_off <= 0 <= b_off
        if spec.exclude == "group":
            ex_s, ex_c = peers_s, peers_c
        else:  # ties: keep the current row if the frame contains it
            ex_s = peers_s - (contrib_s if in_frame else F.lit(0))
            ex_c = peers_c - (contrib_c if in_frame else F.lit(0))

        # the user's ROWS frame, rebuilt on the rn-tiebroken total order so
        # the frame contents agree with the tie ordering rn was staged under
        f_start = (Window.unboundedPreceding if a_off == -INF
                   else int(a_off))
        f_end = Window.unboundedFollowing if b_off == INF else int(b_off)
        w_frame = w_tot.rowsBetween(f_start, f_end)
        f_sum = F.sum(arg).over(w_frame)
        f_cnt = (F.count(F.lit(1)) if call.star
                 else F.count(arg)).over(w_frame)
        new_cnt = f_cnt - ex_c
        if name == "count":
            return new_cnt
        new_sum = F.when(new_cnt > 0, F.coalesce(f_sum, F.lit(0)) - ex_s)
        if name == "avg":
            return new_sum / new_cnt
        return new_sum

    def _sort_col(self, item: ast.SortItem) -> Column:
        c = self.compile(item.expr)
        return _apply_sort_direction(c, item)

    # -------------------------------------------------------------- subqueries

    def _c_QuantComp(self, node: ast.QuantComp) -> Column:
        """`x op ANY|ALL (subquery)` for ordering ops, with exact pg 3-valued
        logic, via ONE 1-row aggregate of the subquery (count / null-count /
        min / max) broadcast-cross-joined in — never a per-row subquery:

          x > ALL(S):  FALSE if x <= max(S');  NULL if x is NULL (S nonempty)
                       or S has NULLs;  else TRUE   (S' = non-null S; empty
                       S -> TRUE).  ANY mirrors with min/max swapped.

        A definite answer needs only the extreme value: x > ALL(S) is
        refuted exactly by max(S') and witnessed by comparing against it."""
        if self.executor is None or self.scope is None:
            raise CompileError("quantified comparison requires an executor context")
        op = node.op
        if op not in ("<", "<=", ">", ">="):
            raise CompileError(
                f"{op} {node.quantifier.upper()} (subquery) is not supported: "
                "use IN for = ANY and NOT IN for <> ALL")
        sub_df = self.executor._compile_query(node.query, self.scope)
        if len(sub_df.columns) != 1:
            raise CompileError("quantified subquery must return exactly one column")
        y = F.col(sub_df.columns[0])
        i = self._scalar_counter
        self._scalar_counter += 1
        n, nn, mn, mx = (f"__q{i}_n", f"__q{i}_nn", f"__q{i}_mn", f"__q{i}_mx")
        agg = sub_df.agg(F.count(F.lit(1)).alias(n),
                         F.count(F.when(y.isNull(), F.lit(1))).alias(nn),
                         F.min(y).alias(mn), F.max(y).alias(mx))
        self.pending_scalar.append(((n, nn, mn, mx), agg))
        x = self.compile(node.expr)
        null_b = F.lit(None).cast("boolean")
        if node.quantifier == "all":
            # decided FALSE by the witness extreme; min/max ignore NULLs
            refute = {"<": x >= F.col(mn), "<=": x > F.col(mn),
                      ">": x <= F.col(mx), ">=": x < F.col(mx)}[op]
            return (F.when(F.col(n) == 0, F.lit(True))
                    .when(x.isNull(), null_b)
                    .when(refute, F.lit(False))
                    .when(F.col(nn) > 0, null_b)
                    .otherwise(F.lit(True)))
        witness = {"<": x < F.col(mx), "<=": x <= F.col(mx),
                   ">": x > F.col(mn), ">=": x >= F.col(mn)}[op]
        return (F.when(F.col(n) == 0, F.lit(False))
                .when(x.isNull(), null_b)
                .when(witness, F.lit(True))
                .when(F.col(nn) > 0, null_b)
                .otherwise(F.lit(False)))

    def _c_ScalarSubquery(self, node: ast.ScalarSubquery) -> Column:
        if self.executor is None or self.scope is None:
            raise CompileError("scalar subquery requires an executor context")
        corr = self._try_decorrelate_scalar(node.query)
        if corr is not None:
            return corr
        sub_df = self.executor._compile_query(node.query, self.scope)
        if len(sub_df.columns) != 1:
            raise CompileError("scalar subquery must return exactly one column")
        name = f"__scalar_{self._scalar_counter}"
        self._scalar_counter += 1
        sub_df = sub_df.toDF(name)
        self.pending_scalar.append((name, sub_df))
        col = F.col(name)
        # inside .agg(...) a plain column ref is illegal — the attached
        # scalar is constant per group, so first() is exact
        return F.first(col) if self.agg_context else col

    def _c_ArraySubquery(self, node: ast.ArraySubquery) -> Column:
        """pg ARRAY(subquery): gather the single output column into an
        array, honoring the subquery's ORDER BY.  The subquery result is
        tagged with a partition-ordered id so the collected array keeps the
        sorted order regardless of how many partitions the agg reads."""
        if self.executor is None or self.scope is None:
            raise CompileError("ARRAY(subquery) requires an executor context")
        sub_df = self.executor._compile_query(node.query, self.scope)
        if len(sub_df.columns) != 1:
            raise CompileError(
                "ARRAY(subquery) must return exactly one column")
        name = f"__scalar_{self._scalar_counter}"
        self._scalar_counter += 1
        v = F.col(sub_df.columns[0])
        tagged = sub_df.select(
            F.monotonically_increasing_id().alias("__ord"), v.alias("__v"))
        agg = tagged.agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("__ord"),
                                                     F.col("__v")))),
                lambda s: s["__v"]).alias(name))
        self.pending_scalar.append((name, agg))
        col = F.col(name)
        return F.first(col) if self.agg_context else col

    def _try_decorrelate_scalar(self, sel: ast.Node) -> Optional[Column]:
        """Correlated scalar-aggregate subquery (the TPC-H Q2/Q17 shape):

            (SELECT agg(x) FROM inner WHERE inner.k = outer.k AND ...)

        Decorrelated into one grouped aggregate over the inner relation
        (GROUP BY the correlation keys — a single shuffle of the inner side,
        never a per-outer-row execution) plus a left equi join attached by
        the relation compiler; missing groups yield NULL, matching SQL's
        empty-subquery semantics. Only equality correlations decorrelate
        this way; other comparisons take the theta plan of
        select.ThetaAggregate, and any other correlated predicate raises.
        The outer-reference rule is select.Correlation's."""
        from .select import Correlation, ThetaAggregate

        if not isinstance(sel, ast.Select) or sel.from_ is None:
            return None
        if (len(sel.items) != 1 or isinstance(sel.items[0], ast.Star)
                or sel.group_by or sel.having is not None
                or sel.qualify is not None
                or sel.limit is not None or sel.ctes):
            return None
        if not contains_aggregate(sel.items[0].expr, AGG_NAMES):
            return None
        rule = Correlation(self.executor, self.scope, sel, lenient=True)
        inner_where, pairs = rule.comparisons(
            "correlated scalar subqueries support only comparison "
            "correlation predicates",
            "correlation predicate references outer columns on both sides")
        if not pairs:
            return None  # uncorrelated after all
        n = self._scalar_counter
        self._scalar_counter += 1
        val = f"__scv{n}"
        if any(op != "=" for op, _, _ in pairs):
            self.pending_theta.append(ThetaAggregate(
                self.executor, self.scope, sel, [(sel.items[0].expr, val)],
                pairs, inner_where, "__sc", n,
                "non-equality correlated subqueries"))
            col = F.col(val)
            return F.first(col) if self.agg_context else col
        corr_pairs = [(oa, ia) for _, oa, ia in pairs]
        key_names = [f"__sck{n}_{i}" for i in range(len(corr_pairs))]
        dec = ast.Select(
            items=(ast.SelectItem(expr=sel.items[0].expr, alias=val),)
            + tuple(ast.SelectItem(expr=ia, alias=kn)
                    for (_, ia), kn in zip(corr_pairs, key_names)),
            from_=sel.from_,
            where=inner_where,
            group_by=tuple(ia for _, ia in corr_pairs),
        )
        sub_df = self.executor._compile_query(dec, self.scope)
        self.pending_correlated.append(
            (val, sub_df,
             [(oa, kn) for (oa, _), kn in zip(corr_pairs, key_names)]))
        col = F.col(val)
        fill = self._empty_group_fill(sel, sub_df, val)
        if fill is not None:
            col = F.coalesce(col, fill)
        # see _c_ScalarSubquery: constant per group inside .agg(...)
        return F.first(col) if self.agg_context else col

    def _empty_group_fill(self, sel: ast.Select, sub_df,
                          val: str) -> Optional[Column]:
        """Value the correlated subquery takes for outer rows with no
        matching inner group. SQL semantics: the aggregate evaluated over
        zero rows — 0 for count, NULL for sum/min/max/avg/... (the left
        join's NULL is then already correct, PostgreSQL-verified). For a
        bare aggregate call this is decided structurally; a composite
        expression (count(*)+1, coalesce(sum(x), 0)) falls back to
        evaluating the select item once over WHERE FALSE — a constant-fold
        job at compile time, not a per-row cost."""
        expr = sel.items[0].expr
        dtype = sub_df.schema[val].dataType
        if isinstance(expr, ast.Call) and expr.name.lower() in AGG_NAMES:
            if expr.name.lower() in ("count", "approx_count_distinct"):
                return F.lit(0).cast(dtype)
            return None
        empty = ast.Select(
            items=(ast.SelectItem(expr=expr, alias=val),),
            from_=sel.from_,
            where=ast.Literal(value=False, kind="bool"),
        )
        row = self.executor._compile_query(empty, self.scope).first()
        if row is None or row[0] is None:
            return None
        return F.lit(row[0]).cast(dtype)

    def _c_InSubquery(self, node: ast.InSubquery) -> Column:
        # expression-context `x IN (SELECT col FROM ...)` (WHERE-conjunct
        # positions take the semi-join fast path in select.py before ever
        # reaching here): desugared to a correlated EXISTS with the
        # membership equality folded into the subquery's WHERE, which the
        # scalar-count decorrelation turns into ONE grouped aggregate +
        # left join. NULL semantics are simplified to 2-valued (pg IN
        # returns NULL when no match and the list has NULLs).
        sel = node.query
        if not (isinstance(sel, ast.Select) and len(sel.items) == 1
                and not isinstance(sel.items[0], ast.Star)):
            raise CompileError(
                "IN subquery must select exactly one column")
        if _subquery_shapes_rows(sel):
            # GROUP BY / HAVING / LIMIT / OFFSET / DISTINCT ON change the
            # membership set, so the subquery must compile in full: wrap it
            # as a derived table and collect from that. Correlated refs
            # cannot resolve inside the derived table — surfaced as a
            # CompileError instead of a silently-wrong membership test.
            inner = dataclasses.replace(
                sel, items=(ast.SelectItem(expr=sel.items[0].expr,
                                           alias="__in_v"),))
            coll = ast.Select(
                items=(ast.SelectItem(
                    expr=ast.Call(name="collect",
                                  args=(ast.ColumnRef(parts=("__in_v",),
                                                      quoted=True),)),
                    alias=None),),
                from_=ast.SubqueryRel(query=inner, alias="__in_sub"))
            try:
                arr = self._c_ScalarSubquery(ast.ScalarSubquery(query=coll))
            except Exception as exc:
                raise CompileError(
                    "correlated IN subquery with GROUP BY/HAVING/LIMIT/"
                    "OFFSET/DISTINCT ON is not supported in expression "
                    f"position: {exc}") from exc
        else:
            # the subquery collects its column (correlated filters
            # decorrelate as usual); the membership expr compiles in the
            # OUTER context and probes the array — folding `subcol = x`
            # into the inner WHERE would capture x's unqualified refs in
            # the inner scope.
            coll = ast.Select(
                items=(ast.SelectItem(
                    expr=ast.Call(name="collect",
                                  args=(sel.items[0].expr,)), alias=None),),
                from_=sel.from_, where=sel.where, ctes=sel.ctes)
            arr = self._c_ScalarSubquery(ast.ScalarSubquery(query=coll))
        x = self.compile(node.expr)
        col = F.coalesce(F.array_contains(arr, x), F.lit(False))
        return ~col if node.negated else col

    def _c_Exists(self, node: ast.Exists) -> Column:
        # expression-context EXISTS: count(*) over the subquery (correlated
        # equality predicates decorrelate via _try_decorrelate_scalar, with
        # the empty-group coalesce-to-0) compared against 0 — no per-row
        # execution, one grouped aggregate + left join.
        sel = node.query
        if not isinstance(sel, ast.Select):
            raise CompileError("EXISTS requires a SELECT subquery")
        if _subquery_shapes_rows(sel):
            # GROUP BY / HAVING / LIMIT / OFFSET / DISTINCT ON change the
            # subquery's row count, so count over the full subquery as a
            # derived table instead of count(*) over its bare FROM/WHERE.
            cnt = ast.Select(
                items=(ast.SelectItem(
                    expr=ast.Call(name="count", star=True), alias=None),),
                from_=ast.SubqueryRel(query=sel, alias="__exists_sub"))
            try:
                n = self._c_ScalarSubquery(ast.ScalarSubquery(query=cnt))
            except Exception as exc:
                raise CompileError(
                    "correlated EXISTS subquery with GROUP BY/HAVING/LIMIT/"
                    "OFFSET/DISTINCT ON is not supported in expression "
                    f"position: {exc}") from exc
            col = n > F.lit(0)
            return ~col if node.negated else col
        if any(not isinstance(it, ast.Star)
               and contains_aggregate(it.expr, AGG_NAMES)
               for it in sel.items):
            # pg: an aggregate subquery without GROUP BY yields exactly one
            # row even over zero inputs, so EXISTS is constant TRUE
            # (e.g. EXISTS (SELECT max(x) FROM t WHERE false)).
            return F.lit(bool(node.negated) is False)
        cnt = ast.Select(
            items=(ast.SelectItem(
                expr=ast.Call(name="count", star=True), alias=None),),
            from_=sel.from_, where=sel.where, ctes=sel.ctes)
        col = self._c_ScalarSubquery(ast.ScalarSubquery(query=cnt)) > F.lit(0)
        return ~col if node.negated else col


def _jsonb_exists_one(jt: Column, k: Column) -> Column:
    """pg `jsonb ? text`: top-level key of an object, string ELEMENT of
    an array (non-string elements never match), or equality with a
    string scalar. Pure JVM: json_object_keys for objects, an
    array<variant> existence fold with a schema_of_variant string guard
    for arrays."""
    s = F.trim(jt)
    elems = F.try_variant_get(F.try_parse_json(jt), "$", "array<variant>")
    return (F.when(s.isNull() | k.isNull(), F.lit(None).cast("boolean"))
            .when(s.startswith("{"),
                  F.array_contains(F.json_object_keys(jt), k))
            .when(s.startswith("["),
                  F.coalesce(F.exists(elems, lambda e: F.when(
                      F.schema_of_variant(e) == F.lit("STRING"),
                      F.try_variant_get(e, "$", "string") == k)
                      .otherwise(F.lit(False))), F.lit(False)))
            .when(s.startswith('"'),
                  F.try_variant_get(F.try_parse_json(jt), "$",
                                    "string") == k)
            .otherwise(F.lit(False)))


def _similar_to_regex(p: str, esc: str,
                      capture_markers: bool = False) -> tuple:
    """SQL SIMILAR pattern -> (anchored Java regex, n_markers). `esc` is
    the single escape character (pg default '\\\\'); esc followed by any
    char makes it literal. With capture_markers (the substring(...
    SIMILAR ... ESCAPE ...) form), each esc+'\"' pair is a marker: the
    first becomes '(' and the second ')' — pg allows exactly zero or two
    (zero -> the whole match is group 0)."""
    if len(esc) != 1:
        raise CompileError("SIMILAR TO escape must be a single character")
    out, i, in_class, markers = [], 0, False, 0
    while i < len(p):
        ch = p[i]
        if ch == esc and i + 1 < len(p):
            nxt = p[i + 1]
            if capture_markers and nxt == '"' and not in_class:
                markers += 1
                if markers > 2:
                    raise CompileError(
                        "SQL regular expression may not contain more than "
                        'two escape-double-quote separators')
                out.append("(" if markers == 1 else ")")
            else:
                out.append("\\" + nxt if nxt in r"\^$.|?*+()[]{}" else nxt)
            i += 2
            continue
        if in_class:
            out.append(ch)
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
            out.append(ch)
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch in ".^$":  # regex-special but literal in SIMILAR TO
            out.append("\\" + ch)
        elif ch == "(" and capture_markers:
            # user parens must not capture — only the markers may, so the
            # returned group number is always 1
            out.append("(?:")
        else:
            out.append(ch)
        i += 1
    if capture_markers and markers == 1:
        raise CompileError(
            "SQL regular expression may not contain exactly one "
            'escape-double-quote separator')
    return "^(?:" + "".join(out) + ")$", markers


def _subquery_shapes_rows(sel: ast.Select) -> bool:
    """True when the subquery has clauses that change its result SET beyond
    plain FROM/WHERE (so IN/EXISTS desugaring cannot copy just those two):
    GROUP BY, HAVING, QUALIFY, LIMIT, OFFSET, DISTINCT ON. Plain DISTINCT
    and ORDER BY (without LIMIT) are membership/emptiness-neutral."""
    return (bool(sel.group_by) or sel.having is not None
            or sel.qualify is not None
            or sel.limit is not None or sel.offset is not None
            or bool(sel.distinct_on))


def _apply_sort_direction(c: Column, item: ast.SortItem) -> Column:
    # pg defaults: ASC -> NULLS LAST, DESC -> NULLS FIRST
    nulls = item.nulls or ("last" if item.ascending else "first")
    if item.ascending:
        return c.asc_nulls_last() if nulls == "last" else c.asc_nulls_first()
    return c.desc_nulls_first() if nulls == "first" else c.desc_nulls_last()


def _frame_value(bound: ast.FrameBound, Window) -> int:
    if bound is None:
        return Window.currentRow
    if bound.kind == "unbounded_preceding":
        return Window.unboundedPreceding
    if bound.kind == "unbounded_following":
        return Window.unboundedFollowing
    if bound.kind == "current_row":
        return Window.currentRow
    if bound.kind == "preceding":
        return -bound.value
    return bound.value


def _bt(part: str) -> str:
    """Backtick-quote one name part for F.col."""
    return "`" + part.replace("`", "``") + "`"
