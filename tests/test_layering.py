"""Layering: the SQL function layer and the expression compiler sit below
the pipeline operators, so importing them must not pull in operators.dedup
(a functions -> operators import once made trigram and dedup import each
other lazily to dodge a cycle)."""
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_functions_and_compiler_do_not_import_operators_dedup():
    code = (
        "import sys\n"
        "import framequery_spark.functions.trigram\n"
        "import framequery_spark.functions.textsearch\n"
        "import framequery_spark.functions.snowball\n"
        "import framequery_spark.compiler.expressions\n"
        "print('framequery_spark.operators.dedup' in sys.modules)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False", out.stdout + out.stderr


def test_one_lateral_explode_skeleton():
    # every explode-based table function and JSON_TABLE stages its array
    # through sources/table_functions.py:_lateral_explode; user lateral
    # functions join through sources/lateral_udtf.py. A lateralJoin or a
    # Spark table-valued-function call anywhere else is a second copy.
    import re

    pkg = os.path.join(HERE, "framequery_spark")
    join_ok = {os.path.join("sources", "table_functions.py"),
               os.path.join("sources", "lateral_udtf.py")}
    tvf_ok = {os.path.join("sources", "table_functions.py")}
    bad = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if "lateralJoin(" in src and rel not in join_ok:
                bad.append(f"{rel}: lateralJoin(")
            if re.search(r"\.tvf\.", src) and rel not in tvf_ok:
                bad.append(f"{rel}: .tvf.")
    assert not bad, bad
