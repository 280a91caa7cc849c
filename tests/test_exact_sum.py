"""Exactness of the fast-path DECIMAL sum (operators.groupby.exact_sum).

Per row, ``exact_unscaled(v)`` must equal ``CAST(v AS DECIMAL(30,6)) *
10^6`` for every double, including the adversarial ones: exact 6-dp
ties and their neighbouring doubles, 7th-digit-5 values, magnitudes
from 1e-9 to 1e20, signed zeros, subnormals, 2dp x 2dp products and
the fast path's magnitude edge. Per group, ``dsum`` must equal the
plain DECIMAL(30,6) sum it replaces."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from cubert_spark.operators.groupby import exact_unscaled
from cubert_spark.queries._util import davg, dsum


def _neighbours(x: np.ndarray, steps: int = 2) -> np.ndarray:
    """``x`` and the ``steps`` doubles either side of each value."""
    out, up, down = [x], x, x
    for _ in range(steps):
        up, down = np.nextafter(up, np.inf), np.nextafter(down, -np.inf)
        out += [up, down]
    return np.concatenate(out)


def _battery() -> np.ndarray:
    rng = np.random.default_rng(20261020)
    n = 8_000
    sign = lambda m: rng.choice([-1.0, 1.0], m)  # noqa: E731
    # integers 1 .. 2^52, log-uniform: the unscaled values around which
    # the fast path must hand over to the cast
    k = np.floor(np.exp(rng.uniform(0, 52 * np.log(2), n)))
    ties = (k + 0.5) / 1e6  # exact 6-dp ties: S rounds half-up
    seventh5 = (100 * k + 50 + rng.choice([-1.0, 1.0], n)) / 1e8
    exact6 = k / 1e6
    cents = np.floor(rng.uniform(0, 1e9, n)) / 100
    price = np.floor(rng.uniform(90_000, 11_000_000, n)) / 100
    disc = np.floor(rng.uniform(0, 11, n)) / 100
    pow2 = 2.0 ** np.arange(-60, 70)
    edges = np.array(
        [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-300,
         5e-7, 4.999999e-7, 5.000001e-7, 1.5e-6, 2.5e-6, 0.1, 0.7,
         2.0**47 / 1e6, 2.0**50 / 1e6, 1e12 + 0.25, 1e15 + 0.5, 1e20]
    )
    return np.concatenate(
        [
            _neighbours(sign(n) * ties),
            _neighbours(sign(n) * seventh5, 1),
            sign(n) * exact6,
            sign(n) * cents,
            price * (1 - disc),  # TPC-H revenue terms
            (np.floor(rng.uniform(0, 1e5, n)) / 100) * price,  # 2dp x 2dp
            sign(n) * 10 ** rng.uniform(-9, 9, n),
            sign(n // 4) * 10 ** rng.uniform(9, 20, n // 4),
            rng.uniform(-1e5, 1e5, n),
            _neighbours(np.concatenate([pow2, -pow2, edges, -edges]), 3),
        ]
    )


@pytest.fixture(scope="module")
def battery(spark):
    v = _battery()
    pdf = pd.DataFrame({"g": np.arange(len(v)) % 97, "v": v})
    pdf.loc[pdf.index % 101 == 0, "v"] = None
    return spark.createDataFrame(pdf, "g int, v double")


def test_unscaled_value_matches_the_cast_per_row(battery):
    v = F.col("v")
    bad = battery.filter(
        ~exact_unscaled(v).eqNullSafe(v.cast("decimal(30,6)") * 10**6)
    )
    assert battery.count() > 100_000
    assert bad.limit(20).collect() == []


def _cast_sum(c):
    """The sum ``dsum`` replaces: every row cast to DECIMAL(30,6)."""
    return F.sum(c.cast("decimal(30,6)")).cast("string").cast("double")


def test_dsum_matches_the_decimal_sum_per_group(battery):
    got = battery.groupBy("g").agg(
        dsum("v").alias("fast"),
        _cast_sum(F.col("v")).alias("cast"),
        davg("v").alias("avg_fast"),
        (_cast_sum(F.col("v")) / F.count(F.lit(1))).alias("avg_cast"),
    )
    assert got.count() == 97
    assert got.filter(
        ~F.col("fast").eqNullSafe(F.col("cast"))
        | ~F.col("avg_fast").eqNullSafe(F.col("avg_cast"))
    ).collect() == []
    whole = battery.agg(dsum("v").alias("fast"), _cast_sum(F.col("v")).alias("cast"))
    row = whole.collect()[0]
    assert row["fast"] == row["cast"]


def test_null_and_empty_groups_sum_to_null(spark):
    nulls = spark.createDataFrame([(1, None), (1, None), (2, 1.5)], "g int, v double")
    got = dict(nulls.groupBy("g").agg(dsum("v").alias("s")).collect())
    assert got == {1: None, 2: 1.5}
    empty = spark.createDataFrame([], "v double")
    assert empty.agg(dsum("v").alias("s")).collect()[0]["s"] is None


def _outcome(df, col):
    try:
        return "ok", df.agg(col.alias("s")).collect()[0]["s"]
    except PySparkException as e:
        return "error", type(e).__name__, e.getCondition()


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_values_behave_as_the_cast(spark, ansi, bad):
    df = spark.createDataFrame([(1.25,), (bad,)], "v double")
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        assert _outcome(df, dsum("v")) == _outcome(df, _cast_sum(F.col("v")))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
