"""CI guard for the scripts: bench.py and every tools/*.py must import as a
module (without running main()), and every `from framequery_spark... import`
or `from __spark_entry__ import` they make — including the deferred ones
inside function bodies — must resolve. A script still calling a deleted or
renamed helper then fails here instead of at its next manual run."""
import ast
import glob
import importlib
import importlib.util
import os

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py"] + sorted(
    os.path.relpath(p, HERE) for p in glob.glob(os.path.join(HERE, "tools", "*.py")))


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_resolve(script):
    path = os.path.join(HERE, script)
    name = "_script_" + os.path.splitext(script)[0].replace(os.sep, "_")
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    missing = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level or not node.module:
            continue
        if node.module.split(".")[0] not in ("framequery_spark", "__spark_entry__"):
            continue
        mod = importlib.import_module(node.module)
        missing += [f"{node.module}.{a.name} (line {node.lineno})"
                    for a in node.names
                    if not hasattr(mod, a.name)
                    and not (hasattr(mod, "__path__") and importlib.util.find_spec(
                        f"{node.module}.{a.name}"))]
    assert not missing, f"{script} imports names that no longer exist: {missing}"


def test_capture_plans_strips_session_ids():
    spec = importlib.util.spec_from_file_location(
        "_capture_plans", os.path.join(HERE, "tools", "capture_plans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    one = ("Scan ExistingRDD [k#12L, v#13] MapPartitionsRDD[36] at "
           "localCheckpoint\nExchange hashpartitioning(k#12L, 8), "
           "ENSURE_REQUIREMENTS, [plan_id=101]\n"
           "Generate explode(__lat_f4378a6b#7), [k#12L], false, [col#8]")
    two = one.replace("#12", "#40").replace("#13", "#41").replace(
        "[36]", "[52]").replace("=101", "=217").replace(
        "f4378a6b", "0c1d2e3f")
    assert mod._strip_ids(one) == mod._strip_ids(two)
    assert "[36]" not in mod._strip_ids(one)
