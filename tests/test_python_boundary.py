"""The package's one Python boundary (``functions/udfs.py``) and its row map.

Two guards:

- A Spark-free AST scan keeps pandas off the data path: no ``mapInPandas``,
  no ``pandas_udf`` and no ``import pandas`` anywhere in the package, except
  inside a function handed to ``applyInPandasWithState`` (that operator's
  API is pandas-only).
- ``map_rows`` is exercised with a row rule that returns 0, 1 and 3 rows,
  with nulls in binary, timestamp and map columns, and with a batch whose
  every row returns nothing.
"""

from __future__ import annotations

import ast
import os
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "mysql_cdc_rs_spark")
PANDAS_APIS = {"mapInPandas", "pandas_udf"}


def _stateful_fns(tree: ast.AST) -> set[str]:
    """Names of the functions handed to ``applyInPandasWithState``."""
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandasWithState"
        ):
            args = node.args[:1] + [k.value for k in node.keywords if k.arg == "func"]
            out |= {a.id for a in args if isinstance(a, ast.Name)}
    return out


def pandas_uses(source: str, name: str = "<src>") -> list[str]:
    """Every pandas-on-the-data-path use in ``source`` as 'name:line what'."""
    tree = ast.parse(source, name)
    allowed = _stateful_fns(tree)
    found = []

    def visit(node: ast.AST, exempt: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            exempt = exempt or node.name in allowed
        hit = None
        if isinstance(node, ast.Attribute) and node.attr in PANDAS_APIS:
            hit = node.attr
        elif isinstance(node, ast.Name) and node.id in PANDAS_APIS:
            hit = node.id
        elif isinstance(node, ast.alias) and node.name in PANDAS_APIS:
            hit = node.name
        elif isinstance(node, ast.Import) and not exempt:
            if any(a.name.split(".")[0] == "pandas" for a in node.names):
                hit = "import pandas"
        elif isinstance(node, ast.ImportFrom) and not exempt:
            if (node.module or "").split(".")[0] == "pandas":
                hit = "import pandas"
        if hit:
            found.append(f"{name}:{node.lineno} {hit}")
        for child in ast.iter_child_nodes(node):
            visit(child, exempt)

    visit(tree, False)
    return found


def test_scan_flags_each_pandas_form():
    src = (
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "def f(df):\n"
        "    from pandas import DataFrame\n"
        "    return df.mapInPandas(g, 'x long')\n"
        "def stateful(key, pdfs, state):\n"
        "    import pandas as pd\n"
        "    yield pd.DataFrame({'n': [1]})\n"
        "def g(df):\n"
        "    return df.groupBy('k').applyInPandasWithState(stateful, 'n long',"
        " 'n long', 'update', 'NoTimeout')\n"
    )
    assert pandas_uses(src) == [
        "<src>:1 import pandas",
        "<src>:2 pandas_udf",
        "<src>:4 import pandas",
        "<src>:5 mapInPandas",
    ]


def test_package_data_path_is_pandas_free():
    found = []
    for d, dirs, files in os.walk(PACKAGE):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    found += pandas_uses(fh.read(), os.path.relpath(path, REPO))
    assert not found, "pandas on the data path:\n  " + "\n  ".join(found)


# --- map_rows on Spark ---------------------------------------------------------

OUT_DDL = "id long, j int, blob binary, ts timestamp, tags map<string,string>"


def test_map_rows_zero_one_many_rows_with_nulls(spark):
    from pyspark.sql import functions as F

    from mysql_cdc_rs_spark.functions.udfs import map_rows

    # nested, so the rule ships by value (executors cannot import tests/)
    def rule(i, blob):
        for j in range([0, 1, 3][i % 3]):
            if j == 0:  # the input blob, null where it is; null ts and map
                yield i, j, blob, None, None
            else:
                ts = datetime(2025, 1, 1, j, tzinfo=timezone.utc)
                yield i, j, b"x" * j, ts, {"j": str(j), "i": str(i)}

    # two input partitions = two Arrow batches; every id in the first is
    # 0 mod 3, so that whole batch returns nothing
    data = [(0, b"a"), (3, None), (6, b"g"), (1, None), (2, b"c"), (5, None)]
    rdd = spark.sparkContext.parallelize(data, 2)
    assert rdd.glom().map(len).collect() == [3, 3]
    df = spark.createDataFrame(rdd, "id long, blob binary")

    out = map_rows(df, rule, OUT_DDL)
    assert out.schema.simpleString() == (
        "struct<id:bigint,j:int,blob:binary,ts:timestamp,"
        "tags:map<string,string>>"
    )
    got = sorted(
        (r.id, r.j, None if r.blob is None else bytes(r.blob), r.us, r.tags)
        for r in out.select(
            "id", "j", "blob", F.unix_micros("ts").alias("us"), "tags"
        ).collect()
    )
    want = sorted(
        (i, j, b, None if ts is None else int(ts.timestamp()) * 1_000_000, m)
        for rid, blob in data
        for i, j, b, ts, m in rule(rid, blob)
    )
    assert got == want
    assert len(got) == 7  # id 1 -> 1 row; 2 and 5 -> 3 rows; 0, 3, 6 -> 0
    assert any(r[2] is None for r in got)  # null binary made it through

    # a DataFrame whose every batch returns nothing
    assert map_rows(spark.range(10), lambda i: [], OUT_DDL).count() == 0
