"""One way to build array expressions: parsed SQL.

A higher-order function (transform, aggregate, zip_with, filter, ...)
built through the Python API crosses py4j once per node it creates —
~430 round trips for one cosine select against 9 for the same tree
parsed from an `F.expr` string. The package builds every array
expression as Spark SQL text (`functions/vectors.spark_dot_expr` is the
pattern); this scan keeps the Python-lambda forms and the retired
lambda helpers from coming back. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib

import agri_market_data_pipeline_spark

LAMBDA_HOFS = {
    "transform", "aggregate", "zip_with", "filter", "exists", "forall",
    "reduce", "map_filter", "map_zip_with", "transform_keys",
    "transform_values",
}
RETIRED = {"vec_dot", "vec_norm2", "vec_cosine", "_pq_encode"}


def _offenses(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
            for alias in node.names:
                if alias.name in LAMBDA_HOFS | {"array_sort"}:
                    found.append((node.lineno, f"import {alias.name}"))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if isinstance(f.value, ast.Name) and f.value.id == "F":
                if f.attr in LAMBDA_HOFS:
                    found.append((node.lineno, f"F.{f.attr}"))
                if f.attr == "array_sort" and (
                    len(node.args) > 1 or node.keywords
                ):
                    found.append((node.lineno, "F.array_sort with a comparator"))
        name = getattr(node, "id", None) or getattr(node, "attr", None)
        if isinstance(node, (ast.FunctionDef, ast.alias)):
            name = getattr(node, "name", None)
        if name in RETIRED:
            found.append((node.lineno, name))
    return found


def test_scan_flags_lambda_forms():
    src = (
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import zip_with\n"
        "a = F.transform('v', lambda x: x)\n"
        "b = F.array_sort('v', lambda l, r: l - r)\n"
        "c = F.array_sort('v')\n"
        "d = F.expr('transform(v, x -> x)')\n"
        "from ..functions.vectors import vec_cosine\n"
        "def _pq_encode(m): ...\n"
    )
    got = sorted(_offenses(ast.parse(src)))
    assert got == [
        (2, "import zip_with"),
        (3, "F.transform"),
        (4, "F.array_sort with a comparator"),
        (7, "vec_cosine"),
        (8, "_pq_encode"),
    ], got


def test_array_expressions_are_parsed_sql():
    pkg = pathlib.Path(agri_market_data_pipeline_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        offenders += [f"{rel}:{line} {what}" for line, what in _offenses(tree)]
    assert not offenders, offenders
