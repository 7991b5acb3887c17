"""Query/oracle registry consumed by ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers here as

    @query("op_id", oracle="SELECT ... -- DuckDB-runnable ANSI SQL")
    def op(spark, sf_dir) -> DataFrame: ...

Contract (driver): the Spark result and the DuckDB oracle result are
compared by row count + schema + order-insensitive value hash, with
columns sorted by name — so every computed column is aliased to the SAME
name on both sides. Operators whose semantics are not SQL-expressible
(LSH, streaming state) register with ``oracle=None`` → rows-only check.

Determinism rules used throughout the operator library:

- double SUMs accumulate in one of the three DECIMAL lattices named in
  ``functions/exact`` (``DEC``, ``DEC_FINE``, ``DEC_WIDE``) through
  ``dsum``/``sql_dsum``, then CAST back to DOUBLE: exact,
  order-independent, bitwise-equal across engines while the unscaled
  sum stays below 2^53 (past that, the result takes ROUND(6)); three
  single-operator lattices stay at their call sites (listed there);
- AVG is computed as exact-sum / count in double on both sides;
- inherently order-sensitive float reductions (stddev) are ROUNDed on
  both sides;
- window orderings always include a unique tiebreaker key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _render_doc(fn: QueryFn) -> None:
    """Substitute `{_CONSTANT}` tokens in a docstring with the value of
    that module-level constant (f-strings can't BE docstrings, so the
    operator docs reference their tuning constants as tokens; this
    renders them once at registration). Only `{_UPPER_CASE}` tokens are
    touched — regex quantifiers `{m,n}` and set notation pass through —
    and unknown names are left as-is (e.g. a constant defined below its
    user)."""
    import re
    import sys

    doc = fn.__doc__
    if not doc or "{_" not in doc:
        return
    g = sys.modules[fn.__module__].__dict__
    fn.__doc__ = re.sub(
        r"\{(_[A-Z][A-Z0-9_]*)\}",
        lambda m: str(g[m.group(1)]) if m.group(1) in g else m.group(0),
        doc,
    )


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id {name!r}")
        _render_doc(fn)
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn
    return deco


def all_queries() -> dict[str, QueryFn]:
    # Import triggers registration of every operator module.
    from . import operators  # noqa: F401
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    from . import operators  # noqa: F401
    return dict(ORACLE)
