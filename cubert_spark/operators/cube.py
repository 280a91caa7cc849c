"""CUBE / ROLLUP / GROUPING SETS / GROUPING COMBOS (SURVEY.md §2.4).

The reference's flagship operator (src/operator/CubeOperator.java:60):
ancestor enumeration over packed dimension keys, a bounded
open-addressing hash table flushed at 95% occupancy, and a combiner +
reducer re-aggregation. Catalyst's ``Expand`` operator generates the
identical ancestor enumeration, and partial->final hash aggregation
(with spill) replaces the flush trick — the same algorithm, already
distributed and memory-safe, so none of that machinery is reimplemented.

Non-additive measures: Cubert computes exact COUNT(DISTINCT m) and
exact percentiles per cuboid via INNER dimensions — an inner
aggregation at the finest grain, then an outer one per ancestor
cuboid, so each (ancestor, member) contributes once
(CubeOperator.java:223-292, CountDistinctCubeAggregator.java:25).
Catalyst's distinct-aggregate rewrite is the same two-phase Expand
(group by dims+m, then re-agg), so ``count_distinct`` measures Just
Work. Exact percentiles take the same inner/outer shape here
explicitly: when every aggregate is a ``PERCENTILE`` / ``MEDIAN_SUM``
/ ``COUNT`` tuple spec over one measure ``m``, the inner level is a
codegen'd ``groupBy(dims + [m]).count()`` histogram and the outer
level is the cuboid aggregation over it, ``percentile(m, p, freq)``
and ``sum(freq)``. Spark's ``percentile`` buffer is already a
value->count map, so the answers are bit-identical to the one-level
``percentile`` over raw rows, while the Expand multiplies histogram
rows (about |dims| x |distinct m|) instead of fact rows. The cost is
a second, histogram-sized shuffle. Any other aggregate list, or an
opaque ``Column`` (e.g. ``percentile_approx``), keeps the one-level
plan. One contract difference: ``groupBy`` normalizes floating keys,
so a ``-0.0`` measure counts as ``0.0`` and every NaN as one NaN.

Null semantics: rolled-up dimensions surface as NULL with
``grouping(col)`` = 1, the standard SQL convention Cubert also follows
(CubeDimensions.outputKey, src/operator/cube/CubeDimensions.java:288-327).
Cubert *rejects* real NULLs in dimension values (CubeDimensions.java:
234-236); we allow them (Spark distinguishes via grouping()), and
``reject_null_dims=True`` restores the reference behavior.
"""

from __future__ import annotations

from itertools import combinations
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from cubert_spark.operators.groupby import agg_column, split_spec


def _cols(names: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in names]


def _check_null_dims(df: DataFrame, dims: Sequence[str]) -> DataFrame:
    """Distributed guard reproducing CubeDimensions.java:234-236 (null
    dimension values rejected) without a driver-side action."""
    conds = [F.col(d).isNull() for d in dims]
    any_null = conds[0]
    for c in conds[1:]:
        any_null = any_null | c
    guard = F.when(
        any_null, F.raise_error(F.lit("cube: null dimension value (reference rejects)"))
    ).otherwise(F.lit(True))
    return df.withColumn("__cube_guard", guard).filter("__cube_guard").drop("__cube_guard")


#: Frequency column of the two-level plan's inner histogram.
_FREQ = "__cube_freq"


def _histogram_plan(
    df: DataFrame, keys: Sequence[str | Column], aggregates: tuple
) -> tuple[DataFrame, list[Column]] | None:
    """The two-level percentile plan's inner histogram and outer
    aggregates, or None when ``aggregates`` are not all PERCENTILE /
    MEDIAN_SUM / COUNT tuple specs over one measure column."""
    measure, outer = None, []
    for spec in aggregates:
        if not isinstance(spec, tuple):
            return None
        kind, col, params, alias = split_spec(spec)
        if kind == "COUNT":
            outer.append(F.sum(_FREQ).alias(alias))
        elif (
            kind in ("PERCENTILE", "MEDIAN_SUM")
            and isinstance(col, str)
            and measure in (None, col)
        ):
            measure = col
            p = params[0] if params else 0.5
            outer.append(F.percentile(F.col(col), F.lit(p), F.col(_FREQ)).alias(alias))
        else:
            return None
    if measure is None:
        return None
    # plain top-level columns only: the outer level re-reads the keys by
    # name from the histogram
    cols = set(df.columns)
    if measure not in cols or not all(isinstance(k, str) and k in cols for k in keys):
        return None
    inner = list(dict.fromkeys([*keys, measure]))
    hist = df.groupBy(*inner).agg(F.count(F.lit(1)).alias(_FREQ))
    return hist, outer


def _aggregate(
    df: DataFrame,
    keys: Sequence[str | Column],
    group: Callable[[DataFrame], GroupedData],
    aggregates: tuple,
) -> DataFrame:
    """``group(df).agg(aggregates)``, through the two-level histogram
    plan when the aggregates allow it."""
    plan = _histogram_plan(df, keys, aggregates)
    if plan is not None:
        hist, outer = plan
        return group(hist).agg(*outer)
    return group(df).agg(*[agg_column(a) for a in aggregates])


def cube(
    df: DataFrame,
    dims: Sequence[str],
    *aggregates: str | tuple | Column,
    reject_null_dims: bool = False,
) -> DataFrame:
    """``CUBE x BY dims AGGREGATES ...`` — full 2^n cuboids."""
    if reject_null_dims:
        df = _check_null_dims(df, dims)
    return _aggregate(df, dims, lambda d: d.cube(*_cols(dims)), aggregates)


def rollup(
    df: DataFrame,
    dims: Sequence[str],
    *aggregates: str | tuple | Column,
) -> DataFrame:
    """``CUBE ... ROLLUPS (...)`` — hierarchical prefixes."""
    return _aggregate(df, dims, lambda d: d.rollup(*_cols(dims)), aggregates)


def grouping_sets(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    *aggregates: str | tuple | Column,
) -> DataFrame:
    """``CUBE x BY dims GROUPING SETS ((a,b),(a),())``.

    Uses DataFrame ``groupingSets`` (Spark >= 3.4 API); all dimensions
    mentioned anywhere appear in the output, NULL where rolled up.
    """
    all_dims: list[str] = []
    for s in sets:
        for d in s:
            if d not in all_dims:
                all_dims.append(d)
    gs = [_cols(s) for s in sets]
    return _aggregate(
        df, all_dims, lambda d: d.groupingSets(gs, *_cols(all_dims)), aggregates
    )


def grouping_combos(
    df: DataFrame,
    dims: Sequence[str],
    max_arity: int,
    *aggregates: str | tuple | Column,
    include_grand_total: bool = True,
) -> DataFrame:
    """``GROUPING COMBOS n`` (grammar CubertPhysical.g4:129): every
    cuboid of arity <= n — enumerated explicitly into grouping sets,
    which Catalyst compiles to a single Expand (one pass over the
    fact, shared shuffle), NOT one job per cuboid.
    """
    sets: list[list[str]] = []
    if include_grand_total:
        sets.append([])
    for k in range(1, max_arity + 1):
        sets.extend(list(c) for c in combinations(dims, k))
    return grouping_sets(df, sets, *aggregates)
