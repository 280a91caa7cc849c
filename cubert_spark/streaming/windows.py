"""Structured Streaming surface (SURVEY.md §2.10 — NEW capability; the
reference is batch-MR only).

Design rule: every streaming aggregation here is the *same expression
tree* as its batch counterpart in cubert_spark.queries.events — Spark
guarantees batch/stream semantic parity for supported operators, and
the tests assert it by replaying the events table through a file
stream and diffing against the batch result.

Scale notes: watermarks bound state (late rows beyond the watermark
are dropped); tumbling/sliding windows are hash-partitioned by
(window, keys) exactly like a batch groupBy; ``availableNow`` gives
batch-incremental backfills (the Cubert daily-increment pattern,
grammar date-range LOADs, without the manual date bookkeeping).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the standard
    bronze-layer pattern; schema must be declared for streams)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _with_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    """Apply a watermark on streams; NTZ event-time columns are cast to
    TIMESTAMP (watermarks require LTZ — an identity under the engine's
    UTC session timezone)."""
    if not (watermark and df.isStreaming):
        return df
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
    window_alias: str = "w",
) -> DataFrame:
    """Tumbling-window aggregation; works identically on batch and
    stream inputs (pass ``watermark`` for streams to bound state)."""
    df = _with_watermark(df, ts_col, watermark)
    return df.groupBy(F.window(ts_col, duration).alias(window_alias), *keys).agg(*aggs)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
    window_alias: str = "w",
) -> DataFrame:
    df = _with_watermark(df, ts_col, watermark)
    return df.groupBy(
        F.window(ts_col, duration, slide).alias(window_alias), *keys
    ).agg(*aggs)


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
    window_alias: str = "sess",
) -> DataFrame:
    """Gap-based session windows (``session_window``); the streaming
    form of queries.events.q_sessionize."""
    df = _with_watermark(df, ts_col, watermark)
    return df.groupBy(
        F.session_window(ts_col, gap).alias(window_alias), *keys
    ).agg(*aggs)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming query with availableNow into an in-memory
    table (test/debug sink); returns the result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dedup_stream(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication on ``keys``.

    With a watermark, uses ``dropDuplicatesWithinWatermark`` so state
    for a key is dropped once it ages past the horizon — the form that
    runs forever on an unbounded stream (unbounded-state dedup is a
    memory leak at scale). Batch inputs degrade to ``dropDuplicates``
    (same semantics, no state).
    """
    if df.isStreaming and watermark and ts_col:
        df = _with_watermark(df, ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    watermark: str,
    max_skew: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded event-time
    skew (``right_ts BETWEEN left_ts - max_skew AND left_ts +
    max_skew``). The interval condition is what lets Spark expire join
    state — an unconstrained stream-stream join buffers both sides
    forever. Works identically on batch inputs (condition only)."""
    lw = _with_watermark(left, left_ts, watermark)
    rw = _with_watermark(right, right_ts, watermark)
    cond = None
    for k in on:
        c = lw[k] == rw[k]
        cond = c if cond is None else (cond & c)
    interval = (
        (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {max_skew}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_skew}"))
    )
    joined = lw.join(rw, cond & interval, how)
    # drop the duplicated equi-key columns from the right side
    for k in on:
        joined = joined.drop(rw[k])
    return joined


def maintain_summary(stream_df: DataFrame, store) -> "object":
    """Incrementally maintain a :class:`cubert_spark.plans.summary.
    SummaryStore` from a stream: each micro-batch appends its partial
    summary rows at the store's (day, dims[, member]) grain to its one
    table, in one write (the streaming form of Cubert's
    SummaryRewriter consumption loop — AggregateRewriter.java:54).
    Partials, not whole days: a micro-batch can carry a fraction of a
    day, and ``SummaryStore.rewrite`` merge-aggregates partial rows.
    foreachBatch is at-least-once: a batch whose append landed before
    the checkpoint recorded it is replayed on restart. Each append
    records its batch id in the store's commit, and a replayed id is
    skipped, so every batch's partials are counted once.

    Returns the started StreamingQuery (availableNow trigger: one
    incremental catch-up pass, the scheduled-ingest pattern)."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        store.append_partials(batch_df, int(batch_id))

    return (
        stream_df.writeStream.foreachBatch(update)
        .trigger(availableNow=True)
        .option("checkpointLocation", store.path + "/_stream_checkpoint")
        .start()
    )
