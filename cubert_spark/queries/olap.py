"""OLAP cube queries (SURVEY.md §2.4): CUBE / ROLLUP / GROUPING SETS /
GROUPING COMBOS, additive and non-additive (exact count-distinct)
measures, exact median — the reference's flagship surface
(CubeOperator.java:60, cube/ package).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubert_spark.catalog import load_table
from cubert_spark.operators import cube, grouping_combos, grouping_sets, rollup, group_by
from cubert_spark.queries._util import dsum, dsum_sql


def q_cube_additive(spark: SparkSession, sf: str) -> DataFrame:
    """Full CUBE with additive measures (SUM/COUNT/MIN/MAX —
    ValueAggregationType.java:23-26). Catalyst Expand enumerates the
    2^n ancestors exactly like CubeDimensions.ancestors()."""
    o = load_table(spark, sf, "orders")
    return cube(
        o,
        ["o_orderstatus", "o_orderpriority"],
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


SQL_CUBE_ADDITIVE = f"""
SELECT o_orderstatus, o_orderpriority,
       {dsum_sql('o_totalprice')} AS sum_price,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_cube_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Non-additive CUBE: exact COUNT(DISTINCT custkey) per cuboid —
    Cubert's INNER-dimension machinery (CubeOperator.java:223-292,
    CountDistinctCubeAggregator.java:25); Catalyst's distinct-aggregate
    rewrite runs the same two-phase Expand."""
    o = load_table(spark, sf, "orders")
    return cube(
        o,
        ["o_orderstatus", "o_orderpriority"],
        F.countDistinct("o_custkey").alias("uniq_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_CUBE_COUNT_DISTINCT = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(DISTINCT o_custkey) AS uniq_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUPS clause (grammar:114): hierarchical region -> nation."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    c = load_table(spark, sf, "customer")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return rollup(
        j,
        ["r_name", "n_name"],
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("sum_bal"),
    )


SQL_ROLLUP = f"""
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (grammar:114-115) incl. grand total."""
    li = load_table(spark, sf, "lineitem")
    return grouping_sets(
        li,
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_grouping_combos(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING COMBOS 2 over three dimensions (grammar:129): all
    cuboids of arity <= 2, one Expand pass."""
    o = load_table(spark, sf, "orders")
    o = o.withColumn("o_year", F.year("o_orderdate"))
    return grouping_combos(
        o,
        ["o_orderstatus", "o_orderpriority", "o_year"],
        2,
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("uniq_customers"),
    )


SQL_GROUPING_COMBOS = """
SELECT o_orderstatus, o_orderpriority, o_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS uniq_customers
FROM (SELECT *, CAST(YEAR(o_orderdate) AS INT) AS o_year FROM orders)
GROUP BY GROUPING SETS (
  (), (o_orderstatus), (o_orderpriority), (o_year),
  (o_orderstatus, o_orderpriority), (o_orderstatus, o_year),
  (o_orderpriority, o_year)
)
"""


def q_grouping_id(spark: SparkSession, sf: str) -> DataFrame:
    """grouping() flags distinguish rolled-up NULL from data NULL —
    the Spark/SQL answer to Cubert's null-dimension rejection
    (CubeDimensions.java:234-236)."""
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_GROUPING_ID = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_median(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median per group — Cubert's ExtractMedian machinery
    (ExtractMedianOperator.java:35) collapses to percentile(0.5).
    l_quantity is integral-valued, so the midpoint interpolation is
    exact in binary on both engines."""
    li = load_table(spark, sf, "lineitem")
    return group_by(
        li,
        ["l_returnflag"],
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        # 0.75: the rank fraction is exactly representable in binary, so
        # interpolation over integral quantities is bit-exact on both
        # engines regardless of formula association.
        F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
    )


SQL_MEDIAN = """
SELECT l_returnflag,
       QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
       QUANTILE_CONT(l_quantity, 0.75) AS p75_qty
FROM lineitem
GROUP BY l_returnflag
"""


def q_cube_median(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median (and p75) per CUBOID — the reference's flagship
    claim: exact percentile measures computed for every ancestor of a
    CUBE in one job (README.md:16, ExtractMedianOperator.java:35 +
    MedianFlattenOperator.java:31, the partitioned-additive machinery
    of CubeOperator.java:223-292).

    Spark spelling: Cubert tuple specs (``MEDIAN_SUM``, ``PERCENTILE``,
    ``COUNT``), which ``operators.cube`` plans in two levels like
    CubeOperator.java:223-292: an inner codegen'd histogram
    ``groupBy(dims, l_quantity).count()`` at the finest grain, then
    the outer cuboid aggregation over it — Catalyst's Expand
    enumerates the 2^n cuboids (same ancestor set as
    CubeDimensions.ancestors()) of the HISTOGRAM rows, and
    ``percentile(l_quantity, p, freq)`` runs once per (cuboid,
    group). The Expand multiplies ~|groups| x 50 histogram rows
    instead of the fact rows, and the second shuffle carries only the
    histogram. Bit-identical to ``percentile`` over raw rows, whose
    buffer is the same value->count map. For high-arity cubes use
    ``grouping_combos(max_arity)`` to cap the cuboid set.

    l_quantity is integral-valued, so midpoint interpolation at the
    0.5/0.75 rank fractions is exact in binary on both engines (same
    argument as ``median_percentile``, the flat-group twin this row
    subsumes).

    Parity note: the reference operator extracts the row AT a
    caller-computed rank position per ancestor (its scripts pick the
    position, typically count/2 — an ELEMENT median), so the
    continuous (interpolated) spelling here is one convention of the
    same capability; the element convention is ``percentile_disc``
    (exercised by the ``latency_percentiles`` row) and drops in
    unchanged."""
    li = load_table(spark, sf, "lineitem")
    return cube(
        li,
        ["l_returnflag", "l_linestatus"],
        ("MEDIAN_SUM", "l_quantity", "median_qty"),
        ("PERCENTILE", "l_quantity", 0.75, "p75_qty"),
        ("COUNT", "*", "n"),
    )


SQL_CUBE_MEDIAN = """
SELECT l_returnflag, l_linestatus,
       QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
       QUANTILE_CONT(l_quantity, 0.75) AS p75_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_grouping_sets_median(spark: SparkSession, sf: str) -> DataFrame:
    """Exact percentile over explicit GROUPING SETS (the reference's
    grammar also admits median measures under GROUPING SETS /
    ROLLUPS — CubertPhysical.g4:114). Folded twin of ``cube_median``:
    same two-level histogram + Expand plan, explicit set list instead
    of the full 2^n."""
    li = load_table(spark, sf, "lineitem")
    return grouping_sets(
        li,
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        ("MEDIAN_SUM", "l_quantity", "median_qty"),
        ("COUNT", "*", "n"),
    )


SQL_GROUPING_SETS_MEDIAN = """
SELECT l_returnflag, l_linestatus,
       QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


def q_cube_median_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB fallback for percentile measures over CUBE: exact
    percentile buffers hold each (cuboid, group)'s DISTINCT measure
    values as a (value -> count) map — bounded and fast for
    integral/categorical measures (the exact row beat GK 2.9x on
    l_quantity's ~50 distinct values), unboundable for continuous
    measures (the grand-total cuboid's buffer holds every distinct
    value of the table in one task: GK measured 6.8x faster at a 6M-
    distinct measure, and the exact buffer is the OOM point on a
    production-sized executor). The bounded-memory sketch
    (``approx_percentile``, Greenwald-Khanna summaries: size grows
    with accuracy, NOT with group size) replaces the exact buffer.
    Measured decision rule: SCALE.md "r12 cube_median exact-buffer
    regimes" (<= ~1e5 distinct measure values -> exact; else GK).

    Contract columns instead of engine-specific sketch output (the
    sketch's value is not oracle-replayable): the exact median and
    count attest the cuboid math, and ``approx_ok`` pins the sketch
    to the exact p45..p55 band — at accuracy=10000 the rank error is
    1e-4, orders inside that band, so the oracle emits TRUE."""
    li = load_table(spark, sf, "lineitem")
    out = cube(
        li,
        ["l_returnflag", "l_linestatus"],
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.45)).alias("__p45"),
        F.percentile("l_quantity", F.lit(0.55)).alias("__p55"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("__apx"),
        F.count(F.lit(1)).alias("n"),
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "median_qty",
        "n",
        ((F.col("__apx") >= F.col("__p45")) & (F.col("__apx") <= F.col("__p55")))
        .alias("approx_ok"),
    )


SQL_CUBE_MEDIAN_APPROX = """
SELECT l_returnflag, l_linestatus,
       QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
       COUNT(*) AS n,
       TRUE AS approx_ok
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


QUERIES = {
    "cube_additive": q_cube_additive,
    "cube_count_distinct": q_cube_count_distinct,
    "rollup": q_rollup,
    "grouping_sets": q_grouping_sets,
    "grouping_combos": q_grouping_combos,
    "grouping_id": q_grouping_id,
    "median_percentile": q_median,
    "cube_median": q_cube_median,
    "grouping_sets_median": q_grouping_sets_median,
    "cube_median_approx": q_cube_median_approx,
}

ORACLES = {
    "cube_additive": SQL_CUBE_ADDITIVE,
    "cube_count_distinct": SQL_CUBE_COUNT_DISTINCT,
    "rollup": SQL_ROLLUP,
    "grouping_sets": SQL_GROUPING_SETS,
    "grouping_combos": SQL_GROUPING_COMBOS,
    "grouping_id": SQL_GROUPING_ID,
    "median_percentile": SQL_MEDIAN,
    "cube_median": SQL_CUBE_MEDIAN,
    "grouping_sets_median": SQL_GROUPING_SETS_MEDIAN,
    "cube_median_approx": SQL_CUBE_MEDIAN_APPROX,
}
