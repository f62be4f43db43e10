"""Generic structural AST utilities: transform, walk, aggregate detection.

The reference decomposes aggregates with a bespoke 3-level split
(reference: src/framequery/executor/_executor.py:451-519). We instead rewrite
group-key subtrees to pre-computed columns and let Spark's analyzer validate —
these helpers provide the structural rewrite machinery.

This module holds the engine's one child iteration over AST nodes
(:func:`_children`) and its one rebuild (:func:`_rebuild`); every structural
walk in the parser, compiler and executor goes through the functions below.
A child is a Node held by a field directly, in a tuple, or in a tuple of
tuples (CASE whens, VALUES rows, GROUPING SETS).
"""

from __future__ import annotations

import dataclasses
import functools
from typing import Callable, Iterator, Set

from ..parser import ast

# subquery bodies: their own scopes
_SCOPES = (ast.Select, ast.SetOp)


@functools.lru_cache(maxsize=None)
def _field_names(cls) -> tuple:
    return tuple(f.name for f in dataclasses.fields(cls))


def _children(node: ast.Node) -> Iterator[ast.Node]:
    """Each child Node of *node*, in field order."""
    for name in _field_names(type(node)):
        v = getattr(node, name)
        if isinstance(v, ast.Node):
            yield v
        elif isinstance(v, tuple):
            for item in v:
                if isinstance(item, ast.Node):
                    yield item
                elif isinstance(item, tuple):
                    for x in item:
                        if isinstance(x, ast.Node):
                            yield x


def _map_tuple(t: tuple, fn: Callable, nested: bool = True) -> tuple:
    out = tuple(fn(x) if isinstance(x, ast.Node)
                else _map_tuple(x, fn, False)
                if nested and isinstance(x, tuple) else x
                for x in t)
    return t if all(a is b for a, b in zip(out, t)) else out


def _rebuild(node: ast.Node, fn: Callable) -> ast.Node:
    """*node* with fn applied to each of its children; *node* itself when fn
    returned every child unchanged (compared by identity, nested tuples
    too)."""
    changed = {}
    for name in _field_names(type(node)):
        v = getattr(node, name)
        if isinstance(v, ast.Node):
            nv = fn(v)
        elif isinstance(v, tuple):
            nv = _map_tuple(v, fn)
        else:
            continue
        if nv is not v:
            changed[name] = nv
    return dataclasses.replace(node, **changed) if changed else node


def transform(node, fn: Callable):
    """Bottom-up structural rewrite. fn(node) -> node (possibly new).

    Does not descend into subquery bodies (Select/SetOp) — those have their
    own scopes.
    """
    if not isinstance(node, ast.Node):
        return node
    if not isinstance(node, _SCOPES):
        node = _rebuild(node, lambda c: transform(c, fn))
    return fn(node)


def map_children(node, fn: Callable):
    """Rebuild *node* with fn applied to each direct child Node (fn is
    responsible for its own recursion). Subquery bodies are left alone."""
    if isinstance(node, _SCOPES) or not isinstance(node, ast.Node):
        return node
    return _rebuild(node, fn)


def walk(node, into_subqueries: bool = False) -> Iterator[ast.Node]:
    """Pre-order traversal of all Node instances."""
    if not isinstance(node, ast.Node):
        return
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        if into_subqueries or not isinstance(n, _SCOPES):
            stack.extend(reversed(tuple(_children(n))))


def contains_aggregate(node, agg_names: Set[str]) -> bool:
    """True if *node* contains a set-function call outside a window spec or
    subquery."""
    if isinstance(node, ast.WindowCall) or not isinstance(node, ast.Node):
        return False
    if isinstance(node, ast.Call):
        if node.name in agg_names or (node.star and node.name == "count"):
            return True
        # hypothetical-set aggregates: rank(v) WITHIN GROUP (ORDER BY c)
        # — aggregate ONLY in the WITHIN GROUP form (bare rank() is a
        # window function)
        if node.name in ("rank", "dense_rank", "percent_rank",
                         "cume_dist") and node.order_within and node.args:
            return True
    if isinstance(node, _SCOPES):
        return False
    return any(contains_aggregate(c, agg_names) for c in _children(node))
