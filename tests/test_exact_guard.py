"""One way to sum exactly: the DECIMAL lattices live in functions/exact.

A double SUM hash-compares across Spark and DuckDB only when both
accumulate it in the same DECIMAL lattice and cast the total back to
DOUBLE. `functions/exact` names the three common lattices (`DEC`,
`DEC_FINE`, `DEC_WIDE`) and builds the sums (`dsum`/`sql_dsum`); this
scan keeps one of them spelled as a literal, or a local exact-sum
helper, from coming back anywhere else in the package. The
single-operator lattices `functions/exact` lists are not scanned.
Docstrings are prose and may cite a lattice. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib
import re

import agri_market_data_pipeline_spark

LATTICE = re.compile(r"decimal\s*\(\s*(?:30\s*,\s*(?:6|15)|38\s*,\s*6)\s*\)", re.I)
HELPERS = {"exact", "dec"}
HOME = "functions/exact.py"


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _offenses(tree: ast.AST) -> list[tuple[int, str]]:
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            found += [(node.lineno, m.group(0)) for m in LATTICE.finditer(node.value)]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name in HELPERS:
                found.append((node.lineno, f"def {node.name}"))
    return found


def test_scan_flags_spelled_lattices():
    src = (
        '"""Sums in DECIMAL(30,6)."""\n'
        'a = F.sum(x.cast("decimal(30,6)")).cast("double")\n'
        'b = f"CAST(SUM(CAST({e} AS DECIMAL( 38 , 6 ))) AS DOUBLE)"\n'
        'c = "CAST(v AS Decimal(30,15))"\n'
        'd = "CAST(v AS DECIMAL(38,0)) + CAST(w AS DECIMAL(30,60))"\n'
        "def f():\n"
        "    def exact(c):\n"
        '        """Cast to DECIMAL(30,15)."""\n'
        "        return dsum(c, DEC_FINE)\n"
        "    def dec(c): ...\n"
    )
    got = sorted(_offenses(ast.parse(src)))
    assert got == [
        (2, "decimal(30,6)"),
        (3, "DECIMAL( 38 , 6 )"),
        (4, "Decimal(30,15)"),
        (7, "def exact"),
        (10, "def dec"),
    ], got


def test_lattices_are_named_in_functions_exact():
    pkg = pathlib.Path(agri_market_data_pipeline_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == HOME:
            continue
        tree = ast.parse(path.read_text(), str(path))
        offenders += [f"{rel}:{line} {what}" for line, what in _offenses(tree)]
    assert not offenders, offenders
