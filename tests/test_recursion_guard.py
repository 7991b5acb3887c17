"""One way to run a per-series recursion with O(1) state: a JVM fold.

A recursion whose carried state is a few integers or doubles per series
folds inside the JVM through `timeseries.fold_series` (sorted array,
one `aggregate()`), as its DuckDB twin advances a `WITH RECURSIVE` in
rank lockstep. An `applyInPandas` pays a JVM -> Arrow -> pandas -> JVM
round trip per group to advance that same state. This scan fails on any
`.applyInPandas(` call in the package outside the allowlist below, each
entry with the reason its Python worker stays. Pure AST, no Spark
session. (`applyInPandasWithState`, the streaming state API, is a
different method.)
"""

from __future__ import annotations

import ast
import pathlib

import agri_market_data_pipeline_spark

# (module, enclosing top-level function) -> why it keeps applyInPandas
ALLOWED = {
    ("operators/timeseries.py", "ts_regime_viterbi"): (
        "its state grows with n: the backtrace needs one backpointer pair "
        "per step"
    ),
    ("operators/udfs.py", "udaf_grouped"): (
        "the grouped pandas UDF is the surface the operator exists to "
        "exercise"
    ),
    ("operators/udfs.py", "udf_cogroup_pandas"): (
        "the cogrouped pandas UDF is the surface the operator exists to "
        "exercise"
    ),
}


def _calls(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, enclosing top-level function or '<module>') per call."""
    found = []
    for top in tree.body:
        owner = top.name if isinstance(
            top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) else "<module>"
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInPandas"
            ):
                found.append((node.lineno, owner))
    return found


def test_scan_finds_apply_in_pandas_calls():
    src = (
        "def holt(df):\n"
        "    return df.groupBy('et').applyInPandas(f, schema='x long')\n"
        "def stream(df):\n"
        "    return df.groupBy('k').applyInPandasWithState(f, 'x', 'y', 'A', 'N')\n"
        "g = df.groupBy('a').cogroup(o.groupBy('a')).applyInPandas(f, 'x long')\n"
    )
    assert _calls(ast.parse(src)) == [(2, "holt"), (5, "<module>")]


def test_apply_in_pandas_only_where_state_or_purpose_needs_it():
    pkg = pathlib.Path(agri_market_data_pipeline_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        offenders += [
            f"{rel}:{line} {owner}"
            for line, owner in _calls(tree)
            if (rel, owner) not in ALLOWED
        ]
    assert not offenders, offenders
