"""Exact percentiles over CUBE / ROLLUP / GROUPING SETS: the two-level
histogram plan (``operators.cube``) against the one-level ``Column``
spelling of the same aggregates, on the inputs production brings —
null dimensions and measures, empty input, one hot value, skewed keys.

Results are compared by ``repr`` of every row, which is exact for
floats (it round-trips) and tells ``-0.0`` from ``0.0`` and NaN from
NULL, so a pass means bit-identical answers."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cubert_spark.operators import cube, group_by, grouping_sets, rollup
from cubert_spark.operators.groupby import agg_column
from cubert_spark.plans import explain_str

SCHEMA = "d1 string, d2 int, v double"
SPECS = (
    ("MEDIAN_SUM", "v", "med"),
    ("PERCENTILE", "v", 0.25, "p25"),
    ("PERCENTILE", "v", [0.1, 0.9], "p10_90"),
    ("COUNT", "*", "n"),
)

GROUPERS = {
    "cube": lambda df, *a: cube(df, ["d1", "d2"], *a),
    "rollup": lambda df, *a: rollup(df, ["d1", "d2"], *a),
    "grouping_sets": lambda df, *a: grouping_sets(df, [["d1", "d2"], ["d2"], []], *a),
}


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _histogram_below_expand(df) -> bool:
    """The inner histogram aggregate (count per dims + measure) sits
    below the Expand in the physical plan."""
    plan = explain_str(df, mode="simple")
    below = plan[plan.index("Expand") :]
    return "HashAggregate(keys=" in below and "count(1)" in below


def _two_level_vs_one_level(df, grouper: str, specs=SPECS) -> list[str]:
    two = GROUPERS[grouper](df, *specs)
    one = GROUPERS[grouper](df, *[agg_column(s) for s in specs])
    assert _histogram_below_expand(two)
    assert not _histogram_below_expand(one)
    got = _rows(two)
    assert got == _rows(one)
    return got


def test_percentile_tuple_spec(spark):
    """``("PERCENTILE", col, p[, alias])`` carries its rank fraction
    between the input and the alias; a missing p is a clear error."""
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    r = group_by(
        df, [], ("PERCENTILE", "v", 0.5, "p50"), ("PERCENTILE", "v", 0.25)
    ).collect()[0]
    assert r["p50"] == 2.5
    assert r["percentile_v"] == 1.75
    with pytest.raises(ValueError, match="PERCENTILE takes 1 parameter"):
        agg_column(("PERCENTILE", "v"))


@pytest.mark.parametrize("grouper", sorted(GROUPERS))
def test_null_dims_and_null_measures(spark, grouper):
    rows = [
        ("a", 1, 1.0), ("a", 1, None), ("a", None, 3.0), (None, 1, 4.0),
        (None, None, None), ("b", 2, None), ("b", 2, None), ("b", 3, 2.5),
        ("a", 1, 7.0), (None, 1, 4.0),
    ]
    got = _two_level_vs_one_level(spark.createDataFrame(rows, SCHEMA).repartition(3), grouper)
    # ("b", 2) holds only null measures: its percentiles are NULL, its
    # COUNT still counts both rows
    if grouper != "grouping_sets":
        assert "('b', 2, None, None, None, 2)" in got


@pytest.mark.parametrize("grouper", sorted(GROUPERS))
def test_empty_input(spark, grouper):
    df = spark.createDataFrame([], SCHEMA)
    assert _two_level_vs_one_level(df, grouper) == []


@pytest.mark.parametrize("grouper", sorted(GROUPERS))
def test_single_hot_value(spark, grouper):
    rows = [("k", 1, 42.0)] * 500
    got = _two_level_vs_one_level(spark.createDataFrame(rows, SCHEMA).repartition(4), grouper)
    assert all("42.0, 42.0, [42.0, 42.0], 500)" in r for r in got)


@pytest.mark.parametrize("grouper", sorted(GROUPERS))
def test_skewed_dim_keys(spark, grouper):
    rng = random.Random(7)
    rows = [("hot", 0, float(rng.randint(1, 50))) for _ in range(1500)]
    rows += [
        (f"k{rng.randint(0, 199)}", rng.randint(0, 3), rng.random() * 100)
        for _ in range(300)
    ]
    _two_level_vs_one_level(spark.createDataFrame(rows, SCHEMA).repartition(4), grouper)


@pytest.mark.parametrize(
    "specs",
    [SPECS, (("SUM", "v", "s"), ("COUNT", "*", "n"))],
    ids=["two_level", "one_level"],
)
def test_reject_null_dims(spark, specs):
    """``cube(reject_null_dims=True)`` is the reference's rule
    (CubeDimensions.java:234-236): a NULL in any dimension raises, a
    NULL measure does not, and input without NULL dimensions gives the
    same rows as the default cube."""
    clean = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None), ("b", 1, 3.0), ("b", 1, 5.0)], SCHEMA
    ).repartition(2)
    got = _rows(cube(clean, ["d1", "d2"], *specs, reject_null_dims=True))
    assert got == _rows(cube(clean, ["d1", "d2"], *specs))
    assert len(got) == 8  # cuboids: 3 (d1, d2) + 2 (d1) + 2 (d2) + 1 ()
    for bad in (("a", None, 1.0), (None, 1, 1.0)):
        df = spark.createDataFrame([("a", 1, 1.0), bad], SCHEMA)
        with pytest.raises(Exception, match="null dimension value"):
            cube(df, ["d1", "d2"], *specs, reject_null_dims=True).collect()


def test_integral_measure_and_rollup_of_the_measure(spark):
    """An integral measure, and a measure that is also a dimension."""
    rows = [(i % 3, i % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "d int, v long")
    specs = (("MEDIAN_SUM", "v", "med"), ("COUNT", "v", "n"))
    for dims in (["d"], ["d", "v"]):
        two = cube(df, dims, *specs)
        assert _histogram_below_expand(two)
        assert _rows(two) == _rows(cube(df, dims, *[agg_column(s) for s in specs]))


def test_other_specs_keep_one_level_plan(spark):
    """Only PERCENTILE / MEDIAN_SUM / COUNT over one measure take the
    histogram plan; a second measure, another aggregate or an opaque
    Column keeps the one-level plan."""
    df = spark.createDataFrame([("a", 1, 1.0)], SCHEMA)
    for specs in (
        (("MEDIAN_SUM", "v"), ("MEDIAN_SUM", "d2")),
        (("MEDIAN_SUM", "v"), ("SUM", "v")),
        (("MEDIAN_SUM", "v"), F.count(F.lit(1)).alias("n")),
        (("COUNT", "*", "n"),),
    ):
        assert not _histogram_below_expand(cube(df, ["d1"], *specs)), specs


def test_signed_zero_and_nan_contract(spark):
    """Contract: the inner ``groupBy`` normalizes floating keys, so the
    two-level plan counts ``-0.0`` as ``0.0`` and every NaN as one
    canonical NaN. The one-level plan keeps ``-0.0`` in its buffer, so
    a group whose answer is a zero may differ in the sign only."""
    rows = [("z", 1, -0.0), ("z", 1, -0.0), ("m", 1, -0.0), ("m", 1, 0.0),
            ("n", 1, float("nan")), ("n", 1, 1.0), ("n", 1, float("nan"))]
    df = spark.createDataFrame(rows, SCHEMA)
    specs = (("MEDIAN_SUM", "v", "med"), ("COUNT", "*", "n"))
    two = {(r["d1"], r["d2"]): (r["med"], r["n"]) for r in cube(df, ["d1", "d2"], *specs).collect()}
    one = {
        (r["d1"], r["d2"]): (r["med"], r["n"])
        for r in cube(df, ["d1", "d2"], *[agg_column(s) for s in specs]).collect()
    }
    assert two.keys() == one.keys()
    assert repr(two[("z", 1)]) == "(0.0, 2)"
    assert repr(one[("z", 1)]) == "(-0.0, 2)"
    for k in two:
        (a, na), (b, nb) = two[k], one[k]
        assert na == nb and (a == b or repr(a) == repr(b) == "nan"), k
