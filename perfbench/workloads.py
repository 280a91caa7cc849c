"""The benchmark's workloads: which ops each one runs, at which scale.

An op is ``fn(spark, sf_dir) -> DataFrame`` plus the DuckDB SQL that
answers it. Calling ``fn`` is the build layer (plan construction and
any work the builder fires eagerly, writes included); the noop-sink
write of the returned DataFrame is the exec layer. Most ops are the
engine's declared or folded queries, taken unchanged with their own
oracles. The store workload adds ops owned by this benchmark: a
multi-job ``.cmr`` script, the SummaryStore build/update/rewrite cycle
next to the direct aggregation it must equal, catalog store/load
roundtrips and a bucketed (BLOCKGEN) join. These call the engine's
public functions directly, and time those calls as spans.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubert_spark import catalog
from cubert_spark.catalog import load_table
from cubert_spark.operators.blockgen import BlockSpec, blockgen, load_block
from cubert_spark.plans.summary import SummarySpec, SummaryStore
from cubert_spark.queries import (
    all_oracles,
    all_queries,
    folded_oracles,
    folded_queries,
)
from cubert_spark.queries._util import dsum, dsum_sql
from cubert_spark.script import cmr

from perfbench.layers import span


@dataclass(frozen=True)
class Op:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    #: input tables the ops read; the catalog probe loads each one
    tables: tuple[str, ...]
    ops: tuple[str, ...]
    #: ops whose plans carry the generated code ``warm_codegen`` exists
    #: for (exact percentiles, DECIMAL aggregate folds); setup warms these
    warm: tuple[str, ...]
    #: ops only the traced run executes: their first run in a process
    #: costs more than an untraced run can carry
    traced_only: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_sf1",
            1.0,
            ("lineitem", "orders"),
            ("join_inner", "cube_median"),
            ("cube_median",),
            (),
        ),
        Workload(
            "etl_store_sf0.1",
            0.1,
            ("orders", "customer", "supplier"),
            ("script_etl", "summary_incremental", "summary_direct"),
            ("summary_direct",),
            # measured in traced runs only: the first avro write in a
            # process starts Python workers (~10 s), and the run budget
            # cannot carry every op in every run
            ("blockgen_cust_join", "store_avro"),
        ),
    )
}


def _fresh_dir(tag: str) -> str:
    """A new directory for one op's writes. run.py points TMPDIR at the
    run's work directory, measures what lands there and empties it
    between passes."""
    return tempfile.mkdtemp(prefix=f"perfbench_{tag}_")


# -- .cmr script: two independent jobs, run concurrently by the DAG ------
ETL_SCRIPT = """
PROGRAM "perfbench etl";

JOB "orders cube"
    REDUCERS 8;
    MAP {
        orders = LOAD "$SF/orders.parquet" USING PARQUET();
    }
    CUBE orders BY o_orderpriority, o_orderstatus
        AGGREGATES [COUNT(o_orderkey) AS n, COUNT_DISTINCT(o_custkey) AS uniq_customers];
    STORE orders INTO "$OUT/cube" USING PARQUET();
END

JOB "customer blocks"
    REDUCERS 8;
    MAP {
        customer = LOAD "$SF/customer.parquet" USING PARQUET();
    }
    BLOCKGEN customer BY ROW 1000 PARTITIONED ON c_nationkey SORTED ON c_custkey;
    STORE customer INTO "$OUT/blocks" USING PARQUET();
END
"""


def q_script_etl(spark: SparkSession, sf: str) -> DataFrame:
    """Compile and run the script, then read both STOREd outputs back:
    the cube, with the row count of the customer blocks attached."""
    out = _fresh_dir("script")
    params = {"SF": sf, "OUT": out}
    with span("script.compile"):
        cmr.compile_script(ETL_SCRIPT, params)
    with span("script.run"):
        cmr.run_script(spark, ETL_SCRIPT, params=params)
    cube = catalog.load(spark, os.path.join(out, "cube"))
    blocks = catalog.load(spark, os.path.join(out, "blocks"))
    return cube.crossJoin(
        blocks.agg(F.count(F.lit(1)).alias("n_customer_blocks"))
    )


SQL_SCRIPT_ETL = """
SELECT o_orderpriority, o_orderstatus, COUNT(o_orderkey) AS n,
       COUNT(DISTINCT o_custkey) AS uniq_customers,
       (SELECT COUNT(*) FROM customer) AS n_customer_blocks
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


# -- BLOCKGEN: co-bucketed tables join without a shuffle ---------------
def q_blockgen_cust_join(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    spec = BlockSpec(partition_keys=("custkey",), num_buckets=8)
    with span("blockgen.write"):
        blockgen(o, "perfbench_bg_orders", spec)
        blockgen(c, "perfbench_bg_customer", spec)
    a = load_block(spark, "perfbench_bg_orders")
    b = load_block(spark, "perfbench_bg_customer")
    return (
        a.join(b, "custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


SQL_BLOCKGEN_CUST_JOIN = f"""
SELECT c_mktsegment, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# -- plans.summary: incremental summary vs the direct aggregation -------
_SUMMARY_SPEC = SummarySpec(
    time_col="o_orderdate",
    dims=("o_orderpriority",),
    measures=(("SUM", "price_dec"), ("COUNT", "o_orderkey")),
    distinct_col="o_custkey",
)
_SUMMARY_FROM, _SUMMARY_TO = "1996-01-01", "2000-12-31"


def _orders_dec(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )


def q_summary_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Summarize days before 1998, fold 1998 in incrementally, then
    answer 1996-2000 from the summary plus the spliced fact days."""
    o = _orders_dec(spark, sf)
    day = F.to_date("o_orderdate")
    store = SummaryStore(_fresh_dir("summary"), _SUMMARY_SPEC)
    with span("plans.summary_build"):
        store.build(o.filter(day < F.lit("1998-01-01")))
    with span("plans.summary_update"):
        store.incremental_update(spark, o.filter(day < F.lit("1999-01-01")))
    with span("plans.summary_rewrite"):
        out = store.rewrite(spark, o, _SUMMARY_FROM, _SUMMARY_TO, ["o_orderpriority"])
    return out.select(
        "o_orderpriority",
        F.col("sum__price_dec").cast("string").cast("double").alias("sum_price"),
        F.col("count__o_orderkey").alias("n_orders"),
        F.col("count_distinct__o_custkey").alias("uniq_customers"),
    )


def q_summary_direct(spark: SparkSession, sf: str) -> DataFrame:
    """The same answer aggregated straight from the fact table."""
    o = _orders_dec(spark, sf)
    day = F.to_date("o_orderdate")
    return (
        o.filter(day.between(F.lit(_SUMMARY_FROM), F.lit(_SUMMARY_TO)))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("price_dec").cast("string").cast("double").alias("sum_price"),
            F.count("o_orderkey").alias("n_orders"),
            F.countDistinct("o_custkey").alias("uniq_customers"),
        )
    )


# -- catalog.store / catalog.load roundtrip through avroio --------------
def q_store_avro(spark: SparkSession, sf: str) -> DataFrame:
    """Through the engine's pure-Python avro codec (avroio)."""
    sup = load_table(spark, sf, "supplier")
    path = _fresh_dir("avro")
    with span("catalog.store"), span("avroio.store"):
        catalog.store(sup, path, fmt="avro")
    back = catalog.load(spark, path, fmt="avro")
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("s_acctbal").alias("min_bal"),
        F.max("s_acctbal").alias("max_bal"),
    )


_OWN_OPS = {
    "script_etl": (q_script_etl, SQL_SCRIPT_ETL),
    "blockgen_cust_join": (q_blockgen_cust_join, SQL_BLOCKGEN_CUST_JOIN),
    # one oracle for both: each must equal it, so they equal each other
    "summary_incremental": (q_summary_incremental, None),
    "summary_direct": (q_summary_direct, None),
    # same aggregate as the engine's avro_roundtrip, so the same oracle
    "store_avro": (q_store_avro, None),
}
_SHARED_ORACLE = {
    "summary_incremental": "summary_rewrite",
    "summary_direct": "summary_rewrite",
    "store_avro": "avro_roundtrip",
}


def ops_for(names: tuple[str, ...]) -> list[Op]:
    queries = {**all_queries(), **folded_queries()}
    oracles = {**all_oracles(), **folded_oracles()}
    out = []
    for name in names:
        if name in _OWN_OPS:
            fn, sql = _OWN_OPS[name]
            sql = sql or oracles[_SHARED_ORACLE[name]]
        else:
            fn, sql = queries[name], oracles[name]
        out.append(Op(name, fn, sql))
    return out
