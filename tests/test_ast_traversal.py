"""One AST traversal: compiler/rewrite.py holds the engine's only child
iteration over AST nodes, and it sees Nodes nested in tuples of tuples
(CASE whens), which the hand-rolled walkers it replaced did not."""
import ast as pyast
import pathlib

from framequery_spark.compiler.expressions import AGG_NAMES
from framequery_spark.compiler.rewrite import (contains_aggregate,
                                               map_children, transform, walk)
from framequery_spark.parser import ast, parse


def _case_over_sum():
    return parse("SELECT CASE WHEN sum(x) > 1 THEN y ELSE 0 END FROM t"
                 ).items[0].expr


def test_only_rewrite_iterates_ast_fields():
    """No engine module but compiler/rewrite.py reads dataclasses.fields,
    under any alias: every structural walk goes through its helpers."""
    root = pathlib.Path(__file__).resolve().parent.parent / "framequery_spark"
    home = root / "compiler" / "rewrite.py"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == home:
            continue
        tree = pyast.parse(path.read_text())
        modules, names = set(), set()
        for node in pyast.walk(tree):
            if isinstance(node, pyast.Import):
                modules.update(a.asname or a.name for a in node.names
                               if a.name == "dataclasses")
            elif isinstance(node, pyast.ImportFrom) \
                    and node.module == "dataclasses":
                names.update(a.asname or a.name for a in node.names
                             if a.name in ("fields", "*"))
        for node in pyast.walk(tree):
            if (isinstance(node, pyast.Attribute) and node.attr == "fields"
                    and isinstance(node.value, pyast.Name)
                    and node.value.id in modules) \
                    or (isinstance(node, pyast.Name) and node.id in names) \
                    or ("*" in names and isinstance(node, pyast.Name)
                        and node.id == "fields"):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found, ("dataclasses.fields outside compiler/rewrite.py (use "
                       f"its transform/map_children/walk): {found}")


def test_walk_and_contains_aggregate_see_case_branches():
    expr = _case_over_sum()
    assert any(isinstance(n, ast.Call) and n.name == "sum"
               for n in walk(expr))
    assert {n.parts for n in walk(expr) if isinstance(n, ast.ColumnRef)} \
        == {("x",), ("y",)}
    assert contains_aggregate(expr, AGG_NAMES)
    # a subquery's aggregate and a window call are not aggregates here
    sub = parse("SELECT (SELECT max(x) FROM u), sum(x) OVER () FROM t")
    assert not any(contains_aggregate(it.expr, AGG_NAMES)
                   for it in sub.items)


def test_transform_and_map_children_rebuild_case_branches():
    expr = _case_over_sum()
    # nothing changed: the same object back (identity, not equality)
    assert transform(expr, lambda n: n) is expr
    assert map_children(expr, lambda n: n) is expr
    renamed = transform(expr, lambda n: ast.ColumnRef(parts=("z",))
                        if n == ast.ColumnRef(parts=("y",)) else n)
    assert renamed.whens[0][1] == ast.ColumnRef(parts=("z",))
    assert renamed.whens[0][0] is expr.whens[0][0]
