"""Vector (embedding) expressions as SQL strings, one builder per engine.

No UDF: dot products, norms, and cosine similarity are higher-order
functions over ArrayType(Float). The Spark builders return Spark-SQL
text for ``F.expr``/``selectExpr``, the one way this package builds an
array expression: the parser makes the whole tree in one py4j call,
where a Python-lambda ``F.zip_with``/``F.aggregate`` form crosses py4j
once per node (~430 calls against 9 for one cosine select).
``tests/test_hof_guard.py`` keeps the lambda forms out. The ``sql_*``
builders are the DuckDB twins the oracles use. Element values are cast
float→double (exact) before arithmetic so results are engine-portable;
callers ROUND final similarity values when comparing across engines
(fold order of a 64-element sum may differ).
"""

from __future__ import annotations


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of spark_dot_expr (explicit element-wise, same cast
    path)."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def sql_cosine(a: str, b: str) -> str:
    """DuckDB twin of spark_cosine_expr — same zero-norm → 0.0 contract."""
    denom = f"(sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)}))"
    return (
        f"(CASE WHEN {denom} > 0 THEN {sql_dot(a, b)} / {denom} "
        f"ELSE 0.0 END)"
    )


def spark_dot_expr(a: str, b: str) -> str:
    """Σ a[i]·b[i] as Spark SQL: a zip_with cast-double product folded
    left to right by aggregate from a double 0.0 (no UDF, no shuffle).
    `a`/`b` are SQL expressions of two equal-length float arrays; a dot
    of a vector with itself is its squared L2 norm."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (s, x) -> s + x)"
    )


def spark_cosine_expr(a: str, b: str) -> str:
    """Cosine similarity dot/(‖a‖·‖b‖) as Spark SQL; sqrt is
    IEEE-exact. A zero vector has no direction — its similarity to
    anything is defined as 0.0 (ranks last, never errors). The guard is
    mandatory: Spark ANSI throws DIVIDE_BY_ZERO on DOUBLE division too,
    and DuckDB yields NULL, so an unguarded zero norm either crashes or
    hash-diverges (degencheck's zero-norm embedding pins this)."""
    denom = (
        f"(sqrt({spark_dot_expr(a, a)}) * sqrt({spark_dot_expr(b, b)}))"
    )
    return (
        f"(CASE WHEN {denom} > 0 THEN {spark_dot_expr(a, b)} / {denom} "
        f"ELSE 0.0D END)"
    )
