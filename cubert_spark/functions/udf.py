"""User-extension surface (SURVEY.md §2.9) — the Spark mappings of
Cubert's Function / AggregationFunction / CubeAggregator /
TupleOperator extension points.

Everything here is Arrow-batched (pandas_udf / mapInPandas): the
10-100x rule — never row-at-a-time Python in a hot path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def scalar_udf(fn: Callable, return_type: str):
    """Cubert scalar Function (src/functions/Function.java:48) ->
    vectorized pandas UDF. ``fn`` maps pandas Series -> pandas Series.

    >>> double_it = scalar_udf(lambda s: s * 2, "double")
    """
    return pandas_udf(fn, return_type)


def grouped_agg_udaf(fn: Callable, return_type: str):
    """Cubert AggregationFunction (AggregationFunction.java:32:
    setup/resetState/aggregate/output) -> GROUPED_AGG pandas UDF.
    ``fn`` maps pandas Series -> scalar. Usable in groupBy().agg() and
    over unbounded windows.

    >>> gmean = grouped_agg_udaf(lambda s: float(np.exp(np.log(s).mean())), "double")
    """

    # the Series -> scalar hints make pandas_udf infer GROUPED_AGG (the
    # PandasUDFType argument is deprecated)
    def agg(s: pd.Series) -> object:
        return fn(s)

    return pandas_udf(agg, return_type)


def cube_udaf(
    df: DataFrame,
    dims: Sequence[str],
    udaf_cols: Sequence[Column],
) -> DataFrame:
    """EasyCubeAggregator analog (EasyCubeAggregator.java:36): run
    custom aggregates over every cuboid of ``dims``. Catalyst's Expand
    feeds the same rows to each grouping set, so a GROUPED_AGG pandas
    UDAF composes with cube() exactly like built-ins."""
    return df.cube(*dims).agg(*udaf_cols)


def transform_batches(df: DataFrame, fn: Callable, schema: str) -> DataFrame:
    """Cubert user TupleOperator/BlockOperator (TupleOperator.java:29)
    -> mapInPandas. ``fn(iter[pd.DataFrame]) -> iter[pd.DataFrame]``
    sees whole Arrow batches (a 'block' in Cubert terms)."""
    return df.mapInPandas(fn, schema=schema)


def transform_groups(
    df: DataFrame, keys: Sequence[str], fn: Callable, schema: str
) -> DataFrame:
    """Per-group block transform (the PivotedBlock pattern: operator
    sees one group at a time) -> applyInPandas."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)
