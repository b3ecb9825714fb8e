"""Every Python operator in ``drain3_spark/`` crosses into Python over
Arrow (``mapInArrow`` / ``arrow_udf``): no engine module imports
``pandas`` or calls ``mapInPandas``, ``pandas_udf`` or
``applyInPandas``.  AST only: no Spark, no imports of the engine."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PANDAS_APIS = {"mapInPandas", "pandas_udf", "applyInPandas"}


def _pandas_uses(tree):
    """``import pandas`` / ``from pandas ...`` statements and every
    reference to a pandas-boundary API, as ``(line, what)``."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, f"import {a.name}") for a in node.names
                    if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                out.append((node.lineno, f"from {node.module}"))
            out += [(node.lineno, a.name) for a in node.names
                    if a.name in PANDAS_APIS]
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_APIS:
            out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in PANDAS_APIS:
            out.append((node.lineno, node.id))
    return out


def test_engine_has_no_pandas_boundary():
    hits = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, "drain3_spark")):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    uses = _pandas_uses(ast.parse(f.read(), path))
                if uses:
                    hits[os.path.relpath(path, ROOT)] = uses
    assert hits == {}, hits


def test_guard_flags_each_pandas_form():
    src = ("import pandas as pd\n"
           "from pandas import DataFrame\n"
           "from pyspark.sql.functions import pandas_udf\n"
           "df.mapInPandas(f, s)\n"
           "df.groupBy('k').applyInPandas(f, s)\n"
           "F.pandas_udf('long')\n")
    got = [what for _, what in _pandas_uses(ast.parse(src))]
    assert sorted(got) == sorted(["import pandas", "from pandas",
                                  "pandas_udf", "mapInPandas",
                                  "applyInPandas", "pandas_udf"])
    # the Arrow forms and pyspark's own pandas-named modules are fine
    ok = ("from pyspark.sql.pandas.types import to_arrow_schema\n"
          "from pyspark.sql.functions import arrow_udf\n"
          "df.mapInArrow(f, s)\n")
    assert _pandas_uses(ast.parse(ok)) == []
