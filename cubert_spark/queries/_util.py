"""Shared helpers for the query inventory.

Cross-engine float discipline: double aggregations route through
DECIMAL (exact, order-independent) and cast back to double, so Spark
and DuckDB produce bit-identical results regardless of partial-agg
ordering. Per-row double arithmetic (products, divisions) is IEEE-754
deterministic and needs no special handling.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cubert_spark.operators.groupby import exact_sum


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double column, returned as
    double: the Spark side of :func:`dsum_sql`, bit-identical to it.

    The cost is per row. A plain ``CAST(x AS DECIMAL(30,6))`` builds a
    BigDecimal from ``Double.toString`` for every row; instead each row
    becomes its DECIMAL(30,6) unscaled integer on a long
    (``operators.groupby.exact_unscaled``). With ``w = x * 1e6``, the
    cast rounds x's decimal string half-up, and that string times 1e6
    lies within about ``|w| * 2^-52`` of ``w``. So whenever ``w`` is
    more than ``|w| * 2^-48`` from a half-integer, the cast equals
    ``rint(w)``; near-ties, ``|x| >= 1.4e8``, NaN, +-Inf and NULL take
    the cast itself. The integers add exactly in a DECIMAL(38,0) (the
    same 1e32 overflow bound as the DECIMAL(38,6) sum). Each output
    group then divides by 10^6 once and converts decimal -> string ->
    double. The string step (r13) keeps the double bit-identical
    across engines at any magnitude: a direct decimal -> double cast
    drifts 1 ulp once a sum outgrows double precision (Spark
    single-rounds via BigDecimal, DuckDB's int128 path can
    double-round), while string -> double parsing is correctly rounded
    in both."""
    return exact_sum(F.col(col) if isinstance(col, str) else col)


def dsum_sql(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)"


def davg(col: Column | str) -> Column:
    """Exact-sum-based average: identical single double division on
    both engines."""
    return dsum(col) / F.count(F.lit(1))


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT(*)"
