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
