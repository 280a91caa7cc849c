"""GROUP BY with the Cubert aggregation set (SURVEY.md §2.4).

The reference's GroupByOperator (src/operator/GroupByOperator.java:44)
is a streaming sort-based aggregate with a combiner replay
(CubertCombiner.java:53-106); Spark's HashAggregate partial->final is
the same dataflow chosen automatically, with sort-based fallback when
groups overflow memory — i.e. the scale behavior Cubert hand-codes.

Aggregate names follow AggregationType.java:20-32:
SUM MIN MAX COUNT COUNT_DISTINCT BITWISE_OR BAG(CREATE_ARRAYLIST)
MEDIAN_SUM (enum'd, unimplemented in the reference factory — we
implement it as exact median, the obvious intent).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Cubert aggregation name -> fn(Column) -> Column.
#: Null semantics match the reference: SUM/MIN/MAX skip nulls
#: (CHANGELOG:23, same as Spark); COUNT counts rows regardless of
#: nulls (CountAggregation.java:27 ignores its argument) -> count(*).
AGGS: dict[str, Callable[..., Column]] = {
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "COUNT": lambda *_: F.count(F.lit(1)),
    "COUNT_DISTINCT": F.countDistinct,  # exact, no sort precondition needed
    "BITWISE_OR": F.bit_or,
    "BAG": F.collect_list,
    "CREATE_ARRAYLIST": F.collect_list,
    "MEDIAN_SUM": lambda c: F.percentile(c, F.lit(0.5)),
    # engine extensions beyond the reference set
    "AVG": F.avg,
    "COUNT_NONNULL": F.count,
    "COLLECT_SET": F.collect_set,
    "PERCENTILE": lambda c, p: F.percentile(c, F.lit(p)),
    "APPROX_COUNT_DISTINCT": F.approx_count_distinct,
}


def split_spec(spec: tuple) -> tuple[str, str | Column, list, str]:
    """``(AGG_NAME, input_col, *params[, alias])`` -> (upper-cased name,
    input, params, alias). Only PERCENTILE takes a parameter, its rank
    fraction. The alias defaults to ``name_col``."""
    name, col, *rest = spec
    key = name.upper()
    if key not in AGGS:
        raise KeyError(f"unknown aggregation {name!r}")
    n = 1 if key == "PERCENTILE" else 0
    if len(rest) < n:
        raise ValueError(f"{key} takes {n} parameter(s) after its input: {spec!r}")
    params, rest = rest[:n], rest[n:]
    alias = rest[0] if rest else f"{name.lower()}_{col}"
    return key, col, params, alias


def agg_column(spec: str | tuple | Column) -> Column:
    """Build one aggregate Column.

    Accepts a Column, or a tuple ``(AGG_NAME, input_col[, alias])``
    mirroring Cubert's ``AGGREGATES SUM(col) AS alias`` clause
    (grammar CubertPhysical.g4:51-53); PERCENTILE carries its rank
    fraction after the input: ``("PERCENTILE", col, p[, alias])``.
    """
    if isinstance(spec, Column):
        return spec
    if isinstance(spec, str):
        return F.expr(spec)
    key, col, params, alias = split_spec(spec)
    c = AGGS[key](F.col(col) if isinstance(col, str) else col, *params)
    return c.alias(alias)


#: Scale of every exact double sum: the 6 decimal places of the
#: ``DECIMAL(30,6)`` the oracle SQL sums in (queries/_util.dsum_sql).
_SCALE = 10**6


def exact_unscaled(c: Column) -> Column:
    """``CAST(c AS DECIMAL(30,6)) * 10^6`` as a long-backed
    ``DECIMAL(36,0)``, bit for bit, without a BigDecimal per row.

    Spark casts a double by rounding its decimal string S
    (``Decimal.apply(double)`` goes through ``Double.toString``)
    half-up to 6 places. With ``w = c * 1e6`` in double arithmetic,
    ``|S * 1e6 - w| <= ~|w| * 2^-52``: half an ulp for S -> c, half an
    ulp for the product. So whenever ``w`` lies more than
    ``|w| * 2^-48`` from a half-integer, S rounds to ``rint(w)``, an
    integer a bigint holds exactly: that is the fast path. The test is
    evaluated in double, and rounding is monotone, so a computed sum
    below 0.5 means the exact one is. Its margin term also bounds the
    fast path to ``|w| < 2^47`` (``|c| < 1.4e8``), far inside
    DECIMAL(30,6), so no separate magnitude test is needed. Near-ties,
    larger values, NaN, +-Inf and NULL take the slow path, the cast
    itself, and behave exactly as it does.
    """
    w = c * float(_SCALE)
    r = F.rint(w)
    fast = F.abs(w - r) + F.abs(w) * 2.0**-48 < 0.5
    return F.when(fast, r.cast("bigint").cast("decimal(36,0)")).otherwise(
        (c.cast("decimal(30,6)") * _SCALE).cast("decimal(36,0)")
    )


def exact_sum(c: Column) -> Column:
    """Exact, order-independent sum of a double column, returned as
    double: equal bit for bit to ``CAST(CAST(SUM(CAST(c AS
    DECIMAL(30,6))) AS STRING) AS DOUBLE)``.

    Rows add as :func:`exact_unscaled` integers in a DECIMAL(38,0),
    which overflows at the same 1e32 as the DECIMAL(38,6) sum of
    DECIMAL(30,6). Each output group divides by 10^6 once, then takes
    the decimal -> string -> double step of ``queries._util.dsum``.
    """
    return (F.sum(exact_unscaled(c)) / _SCALE).cast("string").cast("double")


def group_by(
    df: DataFrame,
    keys: Sequence[str | Column],
    *aggregates: str | tuple | Column,
) -> DataFrame:
    """``GROUP x BY keys AGGREGATES ...``; empty keys = ``GROUP x BY ALL``
    (GroupByOperator.java:86-89) which aggregates the whole relation.

    Catalyst plans partial aggregation map-side (the Cubert combiner,
    CubertCombiner.java:53) and the shuffle is on the group keys only —
    at 100 TB the combiner reduction is what keeps the shuffle small.
    """
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    aggs = [agg_column(a) for a in aggregates]
    if not cols:
        return df.agg(*aggs)
    return df.groupBy(*cols).agg(*aggs)
