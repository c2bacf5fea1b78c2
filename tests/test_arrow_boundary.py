"""The engine's one Python boundary is Arrow: no module imports pandas or
plans a pandas UDF stage, except the stateful streaming stages, which
have no Arrow form that needs no session conf (see streaming/ops.py)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "geopandas_spark"
ALLOWED = {"streaming/ops.py"}


def _pandas_uses(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, ast.Name):
            names = [node.id]
        else:
            continue
        for n in names:
            if n == "pandas" or n.startswith("pandas.") \
                    or n in ("pandas_udf", "mapInPandas") \
                    or n.startswith("applyInPandas"):
                yield node.lineno, n


def test_no_pandas_boundary_outside_the_streaming_state_stages():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED:
            continue
        found += [f"{rel}:{line}: {name}" for line, name in
                  _pandas_uses(ast.parse(path.read_text(), str(path)))]
    assert not found, "\n".join(found)


def test_the_walk_sees_every_pandas_form():
    src = ("import pandas as pd\nfrom pandas import Series\n"
           "from pyspark.sql.functions import pandas_udf\n"
           "df.mapInPandas(f, s)\ng.applyInPandasWithState(f)\n"
           "from pyspark.sql.pandas.types import to_arrow_type\n"
           "t.to_pandas()\n")
    assert [n for _, n in _pandas_uses(ast.parse(src))] == [
        "pandas", "pandas", "pandas_udf", "mapInPandas",
        "applyInPandasWithState"]
