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
