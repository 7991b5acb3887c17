"""Cross-engine-deterministic aggregate expressions: one way to sum exactly.

Floating-point SUM is order-dependent; Spark's partial/final hash
aggregation and DuckDB's execution will generally sum in different
orders, so ``SUM(double)`` hash-compares unreliably. We accumulate in
DECIMAL (exact, associative, order-independent) and cast the final value
back to DOUBLE — bitwise identical across engines. AVG follows as
exact-sum / count evaluated in double on both sides.

The three lattices most exact sums use are named here. Each value is
snapped to the lattice by one cast (the same IEEE value → the same
decimal on both engines) and the sum is exact. The cast back to DOUBLE
is bitwise equal on both engines only while the sum's unscaled integer
(sum · 10^scale) is below 2^53 ≈ 9.007e15, i.e. 15 full significant
digits: Spark rounds the decimal correctly, DuckDB converts the
unscaled integer to double and then divides by 10^scale, which rounds
twice past 2^53. Measured on 4,000 random values per digit count at
scales 6 and 15: 0 mismatches up to 15 digits and just below 2^53,
~5% at 16 digits, ~26% just above 2^53 and from 17 digits on.

    constant   lattice          sums                         bitwise while
    DEC        DECIMAL(30,6)    prices, quantities, money    |sum| < 9e9
    DEC_FINE   DECIMAL(30,15)   z-scores, returns, their     |sum| < 9
                                moments (unit-scale values)
    DEC_WIDE   DECIMAL(38,6)    products of two measures     |sum| < 9e9
                                (price·qty, x², value·dt)

DEC_WIDE differs from DEC only in the headroom of one snapped row
(1e32 against 1e24). A sum past its bound is still exact and
order-independent, but its DOUBLE may differ by an ulp between engines:
ROUND(6) the value or ratio built from it (``ts_twap``, ``ts_var_cvar``).
Integer lattices (``DECIMAL(19,0)`` … ``DECIMAL(38,0)``) are an overflow
convention of their own, and three lattices that one operator each uses
stay at their call sites: DECIMAL(30,12) (``ts_periodicity_strength``),
DECIMAL(30,2) (``agg_cuped_adjust``) and DECIMAL(20,10)
(``graph_adamic_adar``).

SQL twins (DuckDB), for a lattice L (default DEC):
    sql_dsum(x, L)   CAST(SUM(CAST(x AS L)) AS DOUBLE)
    sql_davg(x)      CAST(SUM(CAST(x AS DEC)) AS DOUBLE) / COUNT(x)

Windowed sums and sums kept in DECIMAL spell ``CAST(x AS L)`` with the
constant itself. ``tests/test_exact_guard.py`` fails on one of the
three lattices spelled as a literal anywhere else in the package.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The lattices and the magnitude under which their sums cast back to
# bitwise-equal DOUBLEs on both engines (unscaled sum < 2^53; table above).
DEC = "DECIMAL(30,6)"  # prices, quantities, money: |sum| < 9e9
DEC_FINE = "DECIMAL(30,15)"  # unit-scale values, moments: |sum| < 9
DEC_WIDE = "DECIMAL(38,6)"  # products of two measures: |sum| < 9e9


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, lattice: str = DEC) -> Column:
    """Order-independent SUM of a double column (exact decimal path)."""
    return F.sum(_c(col).cast(lattice)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact sum in double / non-null count."""
    c = _c(col)
    return dsum(c) / F.count(c)


def sql_dsum(expr: str, lattice: str = DEC) -> str:
    return f"CAST(SUM(CAST({expr} AS {lattice})) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"
