"""Blocked sparse-matrix multiplication (SURVEY.md §1.1 graph/matrix
support: CollateVectorBlockOperator.java:45 + vector blocks).

Cubert collates 'vector blocks' against a metadata block to multiply
blocked sparse matrices; the declarative form is a join on the inner
dimension + groupBy(sum) — Catalyst plans the same co-partitioned
dataflow when the inputs are bucketed on the join key (blockgen).
COO layout: (i, j, v).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cubert_spark.operators.groupby import exact_sum


def sparse_matmul(a: DataFrame, b: DataFrame) -> DataFrame:
    """C = A x B for COO matrices with columns (i, j, v).

    The accumulation is the exact DECIMAL(30,6) sum of
    ``operators.groupby.exact_sum``: exact, and therefore independent
    of partial-aggregation order (floating sums would vary run to run
    at scale), and bit-identical across engines at any magnitude.
    Shuffles: one on the inner dimension (the join), one on (i, j)
    for the final sum — broadcast the small side to drop to one.
    """
    al = a.select(F.col("i"), F.col("j").alias("k"), F.col("v").alias("va"))
    bl = b.select(F.col("i").alias("k"), F.col("j"), F.col("v").alias("vb"))
    return (
        al.join(bl, "k")
        .groupBy("i", "j")
        .agg(exact_sum(F.col("va") * F.col("vb")).alias("v"))
    )


def vector_block_multiply(matrix: DataFrame, vector: DataFrame) -> DataFrame:
    """y = A x v for COO matrix (i, j, v) and vector (j, v) — the
    CollateVectorBlock use case. Vector broadcasts when small."""
    vl = F.broadcast(vector.select(F.col("j"), F.col("v").alias("vx")))
    return (
        matrix.join(vl, "j")
        .groupBy("i")
        .agg(exact_sum(F.col("v") * F.col("vx")).alias("v"))
    )
