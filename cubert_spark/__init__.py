"""cubert_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of LinkedInAttic/Cubert.

Design (see SURVEY.md): Cubert's physical-plan language (blocks, pivots,
combiners, compact hash tables) collapses into Spark's Catalyst/Tungsten
execution. This package exposes:

- ``session``     — tuned SparkSession factory (AQE, shuffle sizing).
- ``catalog``     — star-schema / dataset loading conventions.
- ``schema``      — Cubert schema-string <-> StructType bridge.
- ``operators``   — Cubert operator semantics as DataFrame combinators
  (GROUP BY, CUBE incl. grouping combos + exact count-distinct, joins,
  FLATTEN, RANK/TOP-N, DISTINCT/SORT/LIMIT, GATHER/COMBINE, DUPLICATE,
  dictionary ENCODE/DECODE, BLOCKGEN as bucketed tables, TEE).
- ``functions``   — the Cubert built-in scalar function registry mapped
  onto pyspark.sql.functions (JVM-side, codegen-friendly).
- ``plans``       — plan assertions (NO_OP ASSERT) and the incremental
  summary rewrite (Cubert's SummaryRewriter).
- ``streaming``   — Structured Streaming surface (new capability;
  reference is batch-only, SURVEY.md §2.10).
- ``datapipe``    — large-scale training-data pipeline ops: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, text analysis, binary-blob metadata.

Every operator is written for 100 TB scale: declarative DataFrame plans
(Catalyst does pushdown/pruning/join planning), broadcast for small
dimensions, partial aggregation, no driver-side materialization.
"""

from cubert_spark.session import get_session, session_builder
from cubert_spark.catalog import Catalog, load_tables

__version__ = "0.1.0"

__all__ = [
    "get_session",
    "session_builder",
    "Catalog",
    "load_tables",
    "__version__",
]
