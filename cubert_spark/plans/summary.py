"""Incremental summary rewrite — Cubert's one genuinely novel
optimizer feature (SURVEY.md §4: AggregateRewriter.java:54,
CountDistinctRewriter.java:55, SummaryRewriter.java:57, metadata store
CubertMD.java:62).

The reference rewrites a CUBE/GROUP-BY-with-COUNT-DISTINCT job over a
date-ranged fact to consume a materialized daily summary plus only the
new fact days, using presence bitmaps per member over the date window.

Spark-first translation:

- A **SummaryStore** materializes ONE parquet table at
  (day, dims[, member]) grain carrying the additive partials
  (SUM/COUNT/MIN/MAX: sum of sums, min of mins ...), sorted by day so
  row-group stats prune a date range. Keeping the member in the key is
  the partitioned-additive property Cubert encodes as presence
  bitmaps: an exact COUNT(DISTINCT member) over any day range is
  countDistinct over the summary rows of that range. (The bitmap is a
  storage optimization of exactly this relation; parquet
  dictionary+RLE gets most of that compression for free.) Without a
  ``distinct_col`` the grain is (day, dims).
- ``incremental_update`` appends only days missing from the store
  (the SummaryRewriter delta logic) in one write job, so a failed
  update leaves the store as it was.
- ``rewrite`` answers a (date-range, dims, aggs) query with one
  aggregation over the in-range summary rows unioned with the
  partials of fact days not yet summarized.

Exactness: SUM over DECIMAL or integral columns, COUNT, MIN, MAX and
COUNT(DISTINCT) re-aggregate to exactly the direct aggregation at any
grain. A SUM over a DOUBLE column is a sum of partial sums, so it
matches the direct SUM only up to floating-point summation order;
cast the measure to DECIMAL for an exact answer.

At 100 TB: the fact scan happens once per new day; every reporting
query over a trailing window reads only the summary rows of its days.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Additive measures: AGG -> (partial fn, merge fn). A COUNT over no
#: rows is 0, not the NULL a SUM of no partials gives.
_ADDITIVE = {
    "SUM": (F.sum, F.sum),
    "COUNT": (lambda c: F.count(F.lit(1)), lambda c: F.coalesce(F.sum(c), F.lit(0))),
    "MIN": (F.min, F.min),
    "MAX": (F.max, F.max),
}


@dataclass
class SummarySpec:
    time_col: str          # fact timestamp/date column
    dims: tuple[str, ...]  # dimension columns carried in the summary
    measures: tuple[tuple[str, str], ...]  # (AGG, column) additive measures
    distinct_col: str | None = None        # member column for exact count-distinct

    def to_json(self) -> str:
        return json.dumps(
            {
                "time_col": self.time_col,
                "dims": list(self.dims),
                "measures": [list(m) for m in self.measures],
                "distinct_col": self.distinct_col,
            }
        )

    @staticmethod
    def from_json(s: str) -> "SummarySpec":
        d = json.loads(s)
        return SummarySpec(
            d["time_col"],
            tuple(d["dims"]),
            tuple((a, c) for a, c in d["measures"]),
            d["distinct_col"],
        )


def _day(col: Column) -> Column:
    return F.to_date(col)


class SummaryStore:
    """Materialized daily summary at ``path`` (CubertMD-style metadata
    in meta.json next to the parquet table)."""

    def __init__(
        self,
        path: str,
        spec: SummarySpec | None = None,
        coalesce_files: int | None = 8,
    ):
        from cubert_spark.catalog import _is_uri_schemed

        # meta.json and the existence probes below use local-FS
        # semantics (open/os.path.exists); on hdfs://s3a:// those
        # silently report "no summary" and os.makedirs would create a
        # literal local "hdfs:" directory — the same wrong-results
        # class the streaming state probes guard against. Refuse
        # loudly instead of corrupting.
        if _is_uri_schemed(path):
            raise ValueError(
                f"SummaryStore path {path!r} is URI-schemed; the store's "
                "metadata/existence probes are local-FS-only. Point it at "
                "a local (or locally mounted) directory."
            )
        self.path = path
        meta = os.path.join(path, "meta.json")
        if spec is None:
            with open(meta) as f:
                spec = SummarySpec.from_json(f.read())
        else:
            os.makedirs(path, exist_ok=True)
            with open(meta, "w") as f:
                f.write(spec.to_json())
        self.spec = spec
        #: The summary table is compact by design (days x dims [x
        #: member]); writing it at full shuffle width scatters a small
        #: table over many tiny files, and every rewrite pays the
        #: per-file open cost back (30% of build+query measured at
        #: sf0.1). Set to None for a summary whose member grain is
        #: genuinely large.
        self.coalesce_files = coalesce_files

    def _shrink(self, df: DataFrame) -> DataFrame:
        return df.coalesce(self.coalesce_files) if self.coalesce_files else df

    @property
    def table_path(self) -> str:
        return os.path.join(self.path, "partials")

    def _partials(self, fact: DataFrame) -> DataFrame:
        """Additive partials of ``fact`` at (day, dims[, member]) grain."""
        s = self.spec
        keys = [_day(F.col(s.time_col)).alias("__day"), *s.dims]
        if s.distinct_col:
            keys.append(s.distinct_col)
        aggs = [
            _ADDITIVE[a][0](F.col(c)).alias(f"{a.lower()}__{c}") for a, c in s.measures
        ]
        return fact.groupBy(*keys).agg(*aggs)

    def _write(self, partials: DataFrame, mode: str) -> None:
        """``__day`` is kept as a sorted data column rather than a Hive
        partition dir: parquet row-group min/max stats give the same
        range pruning without one-tiny-file-per-day explosion (1000s
        of days x dims would otherwise dominate scan setup). One table
        means one write job: a failed task aborts the job, and none of
        the update's rows are committed."""
        self._shrink(partials).sortWithinPartitions("__day").write.mode(mode).parquet(
            self.table_path
        )

    def _read(self, spark: SparkSession) -> DataFrame | None:
        """The summary table, or None before the first write. Callers
        read it once and derive the day set from the same relation, so
        each call pays one schema inference."""
        if not os.path.exists(self.table_path):
            return None
        return spark.read.parquet(self.table_path)

    # -- build ------------------------------------------------------------
    def build(self, fact: DataFrame) -> None:
        """Full (re)build of the summary from the fact table."""
        self._write(self._partials(fact), "overwrite")

    def append_partials(self, fact: DataFrame) -> None:
        """Append partial summary rows for ``fact`` WITHOUT the new-day
        skip — the micro-batch ingestion path (a batch may carry a
        fraction of a day; ``rewrite`` merge-aggregates partial rows,
        so appends are additive). The caller owns exactly-once
        delivery (streaming checkpoint)."""
        self._write(self._partials(fact), "append")

    def summarized_days(self, spark: SparkSession) -> set:
        summary = self._read(spark)
        if summary is None:
            return set()
        return {r["__day"] for r in summary.select("__day").distinct().collect()}

    def incremental_update(self, spark: SparkSession, fact: DataFrame) -> int:
        """Append summary rows for fact days not yet summarized
        (SummaryRewriter's only-new-days consumption). Returns the
        number of new days. Day membership via broadcast anti-join —
        never a literal IN-list of dates (thousands of literals wreck
        both planning time and codegen; a broadcast join does not)."""
        s = self.spec
        summary = self._read(spark)
        if summary is not None:
            fact = fact.join(
                F.broadcast(summary.select("__day").distinct()),
                _day(F.col(s.time_col)) == F.col("__day"),
                "left_anti",
            )
        # the count and the write share one computation of the delta
        partials = self._partials(fact).persist()
        try:
            new_days = partials.select("__day").distinct().count()
            if new_days:
                self._write(partials, "append")
            return new_days
        finally:
            partials.unpersist()

    # -- rewrite ----------------------------------------------------------
    def rewrite(
        self,
        spark: SparkSession,
        fact: DataFrame,
        start,
        end,
        group_dims: Sequence[str] | None = None,
    ) -> DataFrame:
        """Answer GROUP BY ``group_dims`` over fact days in [start, end]
        from the summary, splicing un-summarized days from the fact
        table. Result is identical to the direct aggregation (DOUBLE
        SUMs up to summation order, see the module docstring).

        ``group_dims`` must be a subset of the spec dims (the summary
        re-aggregates upward, the Cubert summary-cube property).
        """
        s = self.spec
        group_dims = list(group_dims if group_dims is not None else s.dims)
        unknown = [d for d in group_dims if d not in s.dims]
        if unknown:
            raise ValueError(
                f"group_dims {unknown} are not stored dims {list(s.dims)}; "
                "the summary can only roll up stored dims"
            )
        start_d = F.lit(start).cast("date")
        end_d = F.lit(end).cast("date")

        day = _day(F.col(s.time_col))
        missing_fact = fact.filter(day.between(start_d, end_d))
        rows = self._read(spark)
        if rows is not None:
            rows = rows.filter(F.col("__day").between(start_d, end_d))
            # days NOT in the summary (range pruning on the scan still
            # applies to both sides)
            missing_fact = missing_fact.join(
                F.broadcast(rows.select("__day").distinct()), day == F.col("__day"), "left_anti"
            )
            rows = rows.unionByName(self._partials(missing_fact))
        else:
            rows = self._partials(missing_fact)

        aggs = [
            _ADDITIVE[a][1](F.col(f"{a.lower()}__{c}")).alias(f"{a.lower()}__{c}")
            for a, c in s.measures
        ]
        if s.distinct_col:
            aggs.append(
                F.countDistinct(s.distinct_col).alias(f"count_distinct__{s.distinct_col}")
            )
        return rows.groupBy(*group_dims).agg(*aggs)
