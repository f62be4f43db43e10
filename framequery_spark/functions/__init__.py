"""SQL function surface: the name registry plus the pg-extension families.

`_let` lives here, at the bottom of the layering, because the function
families, the expression compiler and the operators all bind
subexpressions with it."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _let(value: Column, body) -> Column:
    """Single-evaluation let-binding: evaluate ``value`` once per row and
    feed it to ``body`` as a HOF lambda variable (``transform`` over a
    one-element array).

    Interpreted HOFs (CodegenFallback) re-evaluate every non-variable
    subtree once per array element, so inlining e.g. a regexp split()
    into a transform() lambda turns O(words) work into O(words^2). And
    Catalyst performs no common-subexpression elimination on duplicated
    variant/JSON subtrees: referencing an expensive Column twice
    re-executes the whole tree (q67's json_value inlined parse_json(props)
    seven times). Multi-reference bodies bind their inputs here instead."""
    return F.element_at(F.transform(F.array(value), body), 1)
