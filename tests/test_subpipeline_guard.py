"""One builder per repeated sub-pipeline.

The daily event series and the md5 probe score each have one Spark
builder and one oracle CTE string (`timeseries.daily_events` /
`DAILY_EVENTS_SQL`, `similarity._probe_scores` / `_PROBE_SCORES_SQL`).
This scan keeps their hand-pasted copies from coming back: it fails on
the daily-series grouping or the `'probe:'` md5 weight expression
anywhere in `operators/` outside its builder, in Spark code or in
oracle SQL. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib
import re

import agri_market_data_pipeline_spark

# builder family -> (module, top-level names that may hold the form)
BUILDERS = {
    "daily": ("operators/timeseries.py", {"daily_events", "DAILY_EVENTS_SQL"}),
    "probe": ("operators/similarity.py", {"_probe_scores", "_PROBE_SCORES_SQL"}),
}

# oracle SQL: the per-(event_type, day) mean of value, lattice or not,
# spelled out (literal or `{DEC}`) or through functions/exact's
# sql_dsum / sql_davg
_DAILY_SQL_RE = re.compile(
    r"epoch_us\(ts\) // 86400000000 AS day_no,.{0,60}?"
    r"(SUM\(CAST\(value AS (DECIMAL\(30, ?6\)|\{DEC\})\)\)"
    r"|\{sql_d(sum|avg)\('value'[^}]*\)\})"
)
# either engine's SQL: md5 of 'probe:' and the dimension index
_PROBE_SQL_RE = re.compile(r"md5\((concat\()?'probe:'\s*(\|\||,)\s*CAST\(i0?\b")


def _strings(tree: ast.AST):
    """(line, text) of every string literal; an f-string's literal parts
    are joined around the `{source}` of its expressions. Whitespace runs
    collapse to one space."""
    inner = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            parts = []
            for v in node.values:
                inner.add(id(v))
                parts.append(
                    v.value
                    if isinstance(v, ast.Constant)
                    else "{" + ast.unparse(v.value) + "}"
                )
            yield node.lineno, " ".join("".join(parts).split())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in inner
        ):
            yield node.lineno, " ".join(node.value.split())


def _consts(node: ast.AST) -> list[str]:
    return [
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, (str, int))
        and not isinstance(n.value, bool)
    ]


def _offenses(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for line, text in _strings(tree):
        if _DAILY_SQL_RE.search(text):
            found.append((line, "daily"))
        if _PROBE_SQL_RE.search(text):
            found.append((line, "probe"))
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        args = [c for a in node.args for c in _consts(a)]
        if node.func.attr == "groupBy":
            # the Python-API daily grouping: (event_type, day number)
            day = any("86400000000" in str(c) for c in args)
            if day and any("event_type" in str(c) for c in args):
                found.append((node.lineno, "daily"))
        if node.func.attr == "concat":
            # the Python-API weight: md5(concat(lit('probe:'), col('i')))
            if "probe:" in args and ({"i", "i0"} & set(args)):
                found.append((node.lineno, "probe"))
    return found


def _scan(path: pathlib.Path, rel: str):
    """(offenders outside builders, {family: hits inside its builder})."""
    tree = ast.parse(path.read_text(), str(path))
    outside, inside = [], {}
    for stmt in tree.body:
        names = set()
        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
            names = {stmt.name}
        elif isinstance(stmt, ast.Assign):
            names = {t.id for t in stmt.targets if isinstance(t, ast.Name)}
        for line, family in _offenses(stmt):
            module, allowed = BUILDERS[family]
            if rel == module and names & allowed:
                inside[family] = inside.get(family, 0) + 1
            else:
                outside.append(f"{rel}:{line} {family}")
    return outside, inside


def test_scan_flags_each_form():
    src = (
        "from pyspark.sql import functions as F\n"
        "ORACLE = f'''WITH daily AS (\n"
        "  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,\n"
        "         CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)\n"
        "                    / COUNT(*) * 1e6 + 0.5) AS BIGINT) AS lv\n"
        "  FROM {t} GROUP BY 1, 2)'''\n"
        "daily = ev.groupBy(\n"
        "    F.col('event_type').alias('et'),\n"
        "    F.expr('unix_micros(ts) div 86400000000').alias('day_no'),\n"
        ").agg(F.count('*'))\n"
        "P = \"md5('probe:' || CAST(i AS VARCHAR))\"\n"
        "w = F.md5(F.concat(F.lit('probe:'), F.col('i').cast('string')))\n"
        "q = F.expr(\"md5(concat('probe:', CAST(i0 + 1 AS STRING)))\")\n"
        "# not these: another probe key, a per-row day number\n"
        "k = F.md5(F.concat(F.lit('probe:'), F.col('o_orderkey')))\n"
        "d = ev.select(F.expr('unix_micros(ts) div 86400000000'))\n"
        "S = f'''daily AS (\n"
        "  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,\n"
        '         {sql_dsum("value")} / COUNT(*) AS v FROM events)\'\'\'\n'
        "T = f'''daily AS (\n"
        "  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,\n"
        "         SUM(CAST(value AS {DEC})) / COUNT(*) AS v FROM events)'''\n"
        "U = f'''daily AS (\n"
        "  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,\n"
        '         {sql_dsum("value", DEC)} AS v FROM events)\'\'\'\n'
        "V = f'''daily AS (\n"
        "  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,\n"
        '         {sql_davg("value")} AS v FROM events)\'\'\'\n'
    )
    got = sorted(_offenses(ast.parse(src)))
    assert got == [
        (2, "daily"),
        (7, "daily"),
        (11, "probe"),
        (12, "probe"),
        (13, "probe"),
        (17, "daily"),
        (20, "daily"),
        (23, "daily"),
        (26, "daily"),
    ], got


def test_repeated_subpipelines_live_only_in_their_builders():
    pkg = pathlib.Path(agri_market_data_pipeline_spark.__file__).parent
    offenders, inside = [], {}
    for path in sorted((pkg / "operators").rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        out, ins = _scan(path, rel)
        offenders += out
        for family, n in ins.items():
            inside[family] = inside.get(family, 0) + n
    assert not offenders, offenders
    # each builder holds its form once per engine: the scan still
    # recognises what it guards
    assert inside == {"daily": 2, "probe": 2}, inside
