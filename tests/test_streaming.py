"""Streaming surface tests: batch/stream equivalence (the design rule
in streaming.windows) + stateful op plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cubert_spark.catalog import load_table
from cubert_spark.streaming import (
    read_parquet_stream,
    run_to_memory,
    running_counts,
    session_agg,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Replay the events table as a 3-file parquet directory (3
    micro-batches under maxFilesPerTrigger=1)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(out)
    return out


def _batch_events(spark, path):
    return spark.read.parquet(path)


def test_tumbling_batch_stream_parity(spark, events_dir):
    batch = _batch_events(spark, events_dir)
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")]
    expected = {
        (r["w"]["start"], r["event_type"]): (r["n"], round(r["sv"], 6))
        for r in tumbling_agg(batch, "ts", "1 hour", ["event_type"], aggs).collect()
    }
    stream = read_parquet_stream(spark, events_dir, batch.schema, max_files_per_trigger=1)
    got_df = run_to_memory(
        tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs, watermark="2 hours"),
        "tumbling_test",
    )
    got = {
        (r["w"]["start"], r["event_type"]): (r["n"], round(r["sv"], 6))
        for r in got_df.collect()
    }
    assert got == expected


def test_session_window_stream(spark, events_dir):
    batch = _batch_events(spark, events_dir)
    aggs = [F.count(F.lit(1)).alias("n")]
    expected = session_agg(batch, "ts", "30 minutes", ["user_id"], aggs).count()
    stream = read_parquet_stream(spark, events_dir, batch.schema)
    got = run_to_memory(
        session_agg(stream, "ts", "30 minutes", ["user_id"], aggs, watermark="1 hour"),
        "session_test",
    )
    assert got.count() == expected


def test_running_counts_stateful(spark, events_dir):
    batch = _batch_events(spark, events_dir)
    expected = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stream = read_parquet_stream(spark, events_dir, batch.schema, max_files_per_trigger=1)
    out = run_to_memory(running_counts(stream), "stateful_test", output_mode="update")
    # update mode emits one row per key per micro-batch; the max total
    # per key is the final running count
    finals = {
        r["key"]: r["mx"]
        for r in out.groupBy("key").agg(F.max("total").alias("mx")).collect()
    }
    assert finals == expected


def test_dedup_stream_within_watermark(spark, events_dir):
    from cubert_spark.streaming import dedup_stream

    batch = _batch_events(spark, events_dir)
    expected = batch.dropDuplicates(["user_id", "event_type"]).count()
    stream = read_parquet_stream(spark, events_dir, batch.schema, max_files_per_trigger=1)
    got = run_to_memory(
        dedup_stream(stream, ["user_id", "event_type"], ts_col="ts", watermark="10 years"),
        "dedup_stream_test",
        output_mode="append",
    ).count()
    # watermark far wider than the data span -> exact streaming dedup
    assert got == expected
    # batch passthrough path
    assert dedup_stream(batch, ["user_id", "event_type"]).count() == expected


def test_stream_stream_join(spark, events_dir):
    from cubert_spark.streaming import stream_stream_join

    batch = _batch_events(spark, events_dir)
    clicks = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    views = batch.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    expected = (
        clicks.join(views, "user_id")
        .filter(
            (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("view_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes"))
        )
        .count()
    )
    s = read_parquet_stream(spark, events_dir, batch.schema)
    sc = s.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    sv = s.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    got = run_to_memory(
        stream_stream_join(
            sc, sv, ["user_id"], "click_ts", "view_ts",
            watermark="10 years", max_skew="30 minutes",
        ),
        "ssjoin_test",
        output_mode="append",
    ).count()
    assert got == expected


def test_maintain_summary_from_stream(spark, events_dir, tmp_path):
    """foreachBatch incremental maintenance: after one availableNow
    pass over the stream, the store's summary answers match a direct
    batch aggregation of the same fact data."""
    from cubert_spark import catalog
    from cubert_spark.plans.summary import SummarySpec, SummaryStore
    from cubert_spark.streaming import maintain_summary

    batch = _batch_events(spark, events_dir)
    spec = SummarySpec(
        time_col="ts",
        dims=("event_type",),
        measures=(("COUNT", "user_id"),),
        distinct_col=None,
    )
    store = SummaryStore(str(tmp_path / "ev_summary"), spec)
    stream = read_parquet_stream(spark, events_dir, batch.schema, max_files_per_trigger=1)
    q = maintain_summary(stream, store)
    q.awaitTermination()
    summarized = catalog.tx_read(spark, store.path)
    got = {
        (r["__day"], r["event_type"]): r["count__user_id"]
        for r in summarized.groupBy("__day", "event_type")
        .agg(F.sum("count__user_id").alias("count__user_id"))
        .collect()
    }
    expected = {
        (r["__day"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.to_date("ts").alias("__day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_per_key_ema_stateful(spark, events_dir):
    from cubert_spark.streaming.stateful import per_key_ema

    batch = _batch_events(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, batch.schema)
    out = run_to_memory(
        per_key_ema(stream, "event_type", "value", alpha=0.5),
        "ema_test", output_mode="update",
    ).collect()
    # per-key counts match the batch, ema bounded by the value range
    expected_n = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in batch.groupBy("event_type").agg(
            F.min("value").alias("lo"), F.max("value").alias("hi")).collect()
    }
    got_n = {}
    for r in out:
        got_n[r["key"]] = max(got_n.get(r["key"], 0), r["n"])
        lo, hi = bounds[r["key"]]
        assert lo - 1e-9 <= r["ema"] <= hi + 1e-9
    assert got_n == expected_n


def test_per_key_ema_ttl_path(spark, events_dir):
    """ProcessingTimeTimeout keeps an availableNow query alive to fire
    timeouts, so drive the TTL variant with a bounded await + stop
    instead of run_to_memory."""
    from cubert_spark.streaming.stateful import per_key_ema

    batch = _batch_events(spark, events_dir)
    stream = read_parquet_stream(spark, events_dir, batch.schema)
    q = (
        per_key_ema(stream, "event_type", "value", ttl_minutes=10)
        .writeStream.format("memory")
        .queryName("ema_ttl_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    import time

    try:
        # the query never self-terminates; stop as soon as output lands
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("ema_ttl_test").count() > 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert spark.table("ema_ttl_test").count() > 0


def test_ingest_dedup_stream(spark, tmp_path):
    """Incremental corpus ingest: content seen in ANY earlier
    micro-batch never re-enters the corpus; within-batch repeats keep
    the min id; the ledger persists across separate stream runs
    (restart safety)."""
    from cubert_spark.streaming import ingest_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")

    # file 1 then file 2 — maxFilesPerTrigger=1 forces two micro-batches
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(10, "beta"), (11, "gamma")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f2")

    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    ingest_dedup(stream, out, ledger).awaitTermination()

    got = {r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {"alpha", "beta", "gamma"}
    assert got["alpha"] == 1  # within-batch first-wins by min id

    # restart: a NEW stream over a third file with one dup, one novel
    spark.createDataFrame(
        [(20, "gamma"), (21, "delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f3")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    # fresh checkpoint-less run re-reads everything; the LEDGER still
    # rejects all previously ingested content
    ingest_dedup(stream2, out, ledger).awaitTermination()
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == ["alpha", "beta", "delta", "gamma"]


def test_stream_upsert_cdc(spark, tmp_path):
    """Streaming CDC apply: latest-wins across micro-batches with
    LATE data — an older record arriving in a later batch neither
    regresses a newer stored value nor resurrects a deleted key
    (tombstones are retained; the live view filters them). The final
    state is the same whichever batch order the source picks, which
    is exactly the property under test."""
    from cubert_spark.streaming.ingest import stream_upsert

    src = str(tmp_path / "cdc_src")
    snap = str(tmp_path / "cdc_snap")

    spark.createDataFrame(
        [(1, 10, 100, "upsert", 1.0), (2, 10, 101, "upsert", 2.0),
         (3, 50, 102, "delete", None)],
        "k long, ts long, uid long, op string, v double",
    ).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(
        # late old update for k1; delete for k2; late pre-delete k3
        [(1, 5, 200, "upsert", 9.0), (2, 20, 201, "delete", None),
         (3, 40, 202, "upsert", 7.0)],
        "k long, ts long, uid long, op string, v double",
    ).coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("k long, ts long, uid long, op string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    stream_upsert(
        stream, snap,
        key_cols=["k"], seq_cols=["ts", "uid"], op_col="op",
        delete_ops=["delete"], payload_cols=["v"],
    ).awaitTermination()

    state = {r.k: r for r in spark.read.parquet(snap).collect()}
    assert state[1].last_ts == 10 and state[1].last_v == 1.0  # no regression
    assert state[2].last_op == "delete" and state[2].last_ts == 20
    assert state[3].last_op == "delete" and state[3].last_ts == 50  # no resurrection
    assert all(state[k].n_changes == 2 for k in (1, 2, 3))

    from pyspark.sql import functions as F

    live = spark.read.parquet(snap).filter(~F.col("last_op").isin("delete"))
    assert [r.k for r in live.collect()] == [1]


def test_stream_upsert_bucketed_state_touches_only_batch_buckets(
    spark, tmp_path
):
    """n_buckets: the bucketed spelling produces the SAME final state
    as the unbucketed path, and a batch rewrites ONLY the bucket
    partitions its keys hash into — untouched buckets' data files are
    bit-identical on disk afterwards (the property that makes a
    100 TB snapshot maintainable per-batch)."""
    import os

    from pyspark.sql import functions as F

    from cubert_spark.streaming.ingest import stream_upsert

    schema = "k long, ts long, uid long, op string, v double"
    rows_b1 = [(k, 10, 100 + k, "upsert", float(k)) for k in range(8)]
    rows_b2 = [(0, 20, 200, "upsert", 99.0)]  # touches key 0 only

    def run(snap: str, src: str, n_buckets=None):
        # each run reads ONE batch dir — separate dirs per run so the
        # second run cannot replay the first batch (no checkpoint here)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        stream_upsert(
            stream, snap, key_cols=["k"], seq_cols=["ts", "uid"],
            op_col="op", delete_ops=["delete"], payload_cols=["v"],
            n_buckets=n_buckets,
        ).awaitTermination()

    # unbucketed reference: both batches through one stream
    src_a = str(tmp_path / "src_a")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(src_a + "/b1")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.parquet(src_a + "/b2")
    snap_a = str(tmp_path / "snap_a")
    run(snap_a, src_a)

    # bucketed: batch 1, snapshot the per-bucket file listing, batch 2
    src_b1 = str(tmp_path / "src_b1")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(src_b1 + "/b1")
    snap_b = str(tmp_path / "snap_b")
    run(snap_b, src_b1, n_buckets=4)

    def bucket_files(d: str) -> dict[str, set[tuple[str, float]]]:
        out = {}
        for name in os.listdir(d):
            if name.startswith("__bucket="):
                full = os.path.join(d, name)
                out[name] = {
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if not f.startswith((".", "_"))
                }
        return out

    before = bucket_files(snap_b)
    assert len(before) >= 2  # 8 keys over 4 buckets: several non-empty

    touched_bucket = "__bucket=%d" % (
        spark.createDataFrame([(0,)], "k long")
        .select(F.pmod(F.xxhash64("k"), F.lit(4)).cast("int").alias("b"))
        .collect()[0]["b"]
    )
    src_b2 = str(tmp_path / "src_b2")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.parquet(src_b2 + "/b2")
    run(snap_b, src_b2, n_buckets=4)
    after = bucket_files(snap_b)

    # only key 0's bucket was rewritten; every other bucket's files
    # (names AND mtimes) are untouched
    for bname, files in before.items():
        if bname == touched_bucket:
            assert after[bname] != files
        else:
            assert after[bname] == files, bname

    # and the final state matches the unbucketed reference exactly
    ref = {
        (r.k, r.last_ts, r.last_uid, r.last_op, r.last_v, r.n_changes)
        for r in spark.read.parquet(snap_a).collect()
    }
    got = {
        (r.k, r.last_ts, r.last_uid, r.last_op, r.last_v, r.n_changes)
        for r in spark.read.parquet(snap_b).drop("__bucket").collect()
    }
    assert got == ref


def test_ingest_embeddings_matches_batch_index(spark, tmp_path):
    """Streamed IVF ingestion == batch index build: list assignments
    of vectors ingested across two micro-batches match
    ivf_assign_exact bit-for-bit, and a single-list probe prunes to
    that list's partition directory."""
    from cubert_spark.datapipe.similarity import hyperplane_planes, ivf_assign_exact
    from cubert_spark.streaming.ingest import ingest_embeddings
    from cubert_spark.catalog import load_table

    cents = hyperplane_planes(64, 4, seed=3)
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "src")
    e.filter("vec_id % 2 = 0").coalesce(1).write.parquet(src + "/f1")
    e.filter("vec_id % 2 = 1").coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = str(tmp_path / "index")
    ingest_embeddings(
        stream, out, str(tmp_path / "ckpt"), cents
    ).awaitTermination()

    got = {r.vec_id: r.list_id for r in spark.read.parquet(out).collect()}
    want = {r.vec_id: r.list_id for r in ivf_assign_exact(e, cents).collect()}
    assert got == want and len(got) == e.count()

    probe = spark.read.parquet(out).filter("list_id = 1")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(list_id" in plan, plan

    # idempotency under replay: a fresh checkpoint re-delivers the
    # same files as the same batch ids; dynamic (list_id, batch_id)
    # partition overwrite must replace, not append — no duplicates
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    ingest_embeddings(
        stream2, out, str(tmp_path / "ckpt2"), cents
    ).awaitTermination()
    again = {r.vec_id: r.list_id for r in spark.read.parquet(out).collect()}
    assert again == want and spark.read.parquet(out).count() == e.count()


def test_monitor_expectations_stream_matches_batch(spark, tmp_path):
    """Streaming quality monitor: per-batch violation reports summed
    across batches equal the one-shot batch report on the full data
    (violation counters are additive), and each batch is stamped."""
    from pyspark.sql import functions as F

    from cubert_spark.datapipe import expectations as X
    from cubert_spark.streaming.ingest import monitor_expectations

    rows = [(1, "A"), (2, "Z"), (None, "A"), (3, "A"), (3, "A"), (4, None)]
    df = spark.createDataFrame(rows, "k int, flag string")
    src = str(tmp_path / "src")
    df.filter("k <= 2 OR k IS NULL").coalesce(1).write.parquet(src + "/f1")
    df.filter("k >= 3").coalesce(1).write.parquet(src + "/f2")

    rules = [
        X.not_null("k"),
        X.accepted_values("flag", ["A", "N", "R"]),
        X.unique("k", "flag"),
    ]
    stream = (
        spark.readStream.schema("k int, flag string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = str(tmp_path / "report")
    monitor_expectations(
        stream, rules, out, str(tmp_path / "ckpt")
    ).awaitTermination()

    rep = spark.read.parquet(out)
    assert rep.select("batch_id").distinct().count() == 2
    summed = {
        (r.rule, r.col_name): (r.v, r.c)
        for r in rep.groupBy("rule", "col_name")
        .agg(F.sum("n_violations").alias("v"), F.sum("n_checked").alias("c"))
        .collect()
    }
    # batch-split note: unique() is additive only for keys that never
    # straddle a batch boundary — true here by construction (k<=2 | k>=3)
    want = {
        (r.rule, r.col_name): (r.n_violations, r.n_checked)
        for r in X.run_expectations(df, rules).collect()
    }
    assert summed == want, (summed, want)


def test_windowed_topn_stream_matches_batch(spark, events_dir, tmp_path):
    """Streaming per-window top-k == batch per-window top-k over every
    CLOSED window (append mode only emits a window once the watermark
    passes its end, so the final windows inside the watermark horizon
    are legitimately still open when the availableNow replay ends)."""
    import datetime

    from pyspark.sql import Window as W

    from cubert_spark.streaming import read_parquet_stream
    from cubert_spark.streaming.ingest import windowed_topn

    batch = _batch_events(spark, events_dir)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=30)
    wnd = W.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    expected = {
        (r.win_start, r.rnk): (r.event_type, r.n)
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(horizon))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
        .withColumn("rnk", F.row_number().over(wnd))
        .filter("rnk <= 2")
        .collect()
    }
    # time-ordered micro-batches: the shared events_dir repartitions
    # randomly, so its first file would advance the watermark across
    # the whole month and later files' rows would be dropped as late —
    # the standard watermark contract, not a windowed_topn property
    src = str(tmp_path / "bytime")
    batch.filter("ts < TIMESTAMP '2024-01-11'").coalesce(1).write.parquet(
        src + "/f0"
    )
    batch.filter(
        "ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'"
    ).coalesce(1).write.parquet(src + "/f1")
    batch.filter("ts >= TIMESTAMP '2024-01-21'").coalesce(1).write.parquet(
        src + "/f2"
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = str(tmp_path / "top")
    windowed_topn(
        stream, "ts", "1 hour", ["event_type"], 2, out,
        str(tmp_path / "ckpt"), watermark="30 minutes",
    ).awaitTermination()
    got = {
        (r.win_start, r.rnk): (r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    }
    # every closed window matches the batch top-k exactly
    assert expected.items() <= got.items(), (
        len(expected), len(got),
        sorted(set(expected) - set(got))[:3],
    )
    assert len(got) > 10


def test_flush_open_windows_completes_backfill(spark, events_dir, tmp_path):
    """After a one-shot windowed_topn run, flush_open_windows over the
    landed source fills in exactly the windows append mode withheld:
    the sink then equals the full batch per-window top-k (the
    q_windowed_topn algebra), and a second flush writes nothing new
    (idempotence via the win_start anti-join)."""
    from cubert_spark.streaming.ingest import flush_open_windows, rank_windows

    batch = _batch_events(spark, events_dir)
    src = str(tmp_path / "bytime")
    batch.filter("ts < TIMESTAMP '2024-01-16'").coalesce(1).write.parquet(
        src + "/f0"
    )
    batch.filter("ts >= TIMESTAMP '2024-01-16'").coalesce(1).write.parquet(
        src + "/f1"
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = str(tmp_path / "top")
    from cubert_spark.streaming.ingest import windowed_topn

    windowed_topn(
        stream, "ts", "1 hour", ["event_type"], 2, out,
        str(tmp_path / "ckpt"), watermark="30 minutes",
    ).awaitTermination()
    n_stream_windows = (
        spark.read.parquet(out).select("win_start").distinct().count()
    )

    flush_open_windows(batch, "ts", "1 hour", ["event_type"], 2, out)
    counted = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    expected = {
        (r.win_start, r.rnk): (r.event_type, r.n)
        for r in rank_windows(counted, ["event_type"], 2).collect()
    }
    got = {
        (r.win_start, r.rnk): (r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected, (len(got), len(expected))
    # the stream really did withhold some open windows (else the flush
    # verified nothing) and the flush closed the gap
    assert n_stream_windows < len({w for w, _ in expected})

    # idempotence: flushing again rewrites nothing (file set unchanged)
    import glob

    before = sorted(glob.glob(out + "/**/*.parquet", recursive=True))
    flush_open_windows(batch, "ts", "1 hour", ["event_type"], 2, out)
    after = sorted(glob.glob(out + "/**/*.parquet", recursive=True))
    assert before == after


def test_ingest_neardup_stream(spark, tmp_path):
    """Streaming near-dup ingest: a doc near-identical (shared minhash
    band) to anything admitted in ANY earlier micro-batch is rejected;
    within a batch the smaller id wins; genuinely novel docs are
    admitted. Parity: the final admitted set equals applying the same
    band rule batch-by-batch in plain batch code (the shared
    shingle/minhash/band functions are the attested logic)."""
    from cubert_spark.datapipe.dedup import (
        lsh_bands,
        minhash_signature,
        shingle_table,
    )
    from cubert_spark.streaming.ingest import ingest_neardup

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail"              # shares most 3-shingles with base
    novel = "completely different words compose this other document body here"
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame(
        [(1, base), (2, near), (3, novel)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(10, base + " more"), (11, "fresh unrelated content appears in the second batch only")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    ingest_neardup(stream, out, ledger).awaitTermination()
    admitted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # batch replay of the same rule, batch by batch
    def bands_of(df):
        return lsh_bands(
            minhash_signature(shingle_table(df, "text", "doc_id", 3), "doc_id", 8),
            "doc_id", 8, 2,
        )

    expected, ledger_rows = [], None
    for batch in (
        spark.read.parquet(src + "/f1"),
        spark.read.parquet(src + "/f2"),
    ):
        b = bands_of(batch)
        smaller = b.select("band_idx", "band_key", F.col("doc_id").alias("o"))
        rej = (
            b.join(smaller, ["band_idx", "band_key"])
            .filter(F.col("o") < F.col("doc_id"))
            .select("doc_id")
        )
        if ledger_rows is not None:
            rej = rej.union(
                b.join(ledger_rows, ["band_idx", "band_key"]).select("doc_id")
            )
        adm = batch.join(rej.distinct(), "doc_id", "left_anti")
        expected += [r["doc_id"] for r in adm.select("doc_id").collect()]
        adm_b = b.join(rej.distinct(), "doc_id", "left_anti").select(
            "band_idx", "band_key"
        ).localCheckpoint(eager=True)
        ledger_rows = adm_b if ledger_rows is None else ledger_rows.union(adm_b)

    assert admitted == sorted(expected)
    # semantic spot checks: base admitted, its near-dups rejected,
    # novel docs admitted across batches
    assert 1 in admitted and 3 in admitted and 11 in admitted
    assert 2 not in admitted and 10 not in admitted


def test_tx_sink_exactly_once_commits(spark, tmp_path):
    """tx_sink: each micro-batch is one atomic tx commit; the final
    snapshot equals the full input; every intermediate version is a
    prefix of the stream; a manually replayed duplicate batch id is
    skipped (exactly-once under retry)."""
    from cubert_spark.catalog import (
        tx_commit,
        tx_committed_batches,
        tx_read,
        tx_versions,
    )
    from cubert_spark.catalog import tx_sink

    src = str(tmp_path / "src")
    spark.range(0, 10).coalesce(1).write.parquet(src + "/f1")
    spark.range(10, 25).coalesce(1).write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = str(tmp_path / "tx")
    tx_sink(stream, out, str(tmp_path / "ckpt")).awaitTermination()

    assert tx_versions(out) == [1, 2]
    assert tx_read(spark, out).count() == 25
    v1 = tx_read(spark, out, 1).count()
    assert v1 in (10, 15)  # one whole micro-batch, order per file listing
    assert tx_committed_batches(out) == {0, 1}
    # retry semantics: the sink's guard is "skip when the batch id is
    # already committed" — replay batch 0 through the same rule and
    # assert no new version lands
    before = tx_versions(out)
    if 0 not in tx_committed_batches(out):
        tx_commit(spark.range(10), out, meta={"batch_id": 0})
    assert tx_versions(out) == before


def test_stream_static_temporal_enrichment(spark, tmp_path):
    """temporal_join works as a stream-static join: a streaming fact
    source enriched against the SCD2 dim picks the version valid at
    each fact's time. The dim-update-visibility property is exercised
    for real: run 1 drains the first fact file against dim v1, the
    dim gains a NEW version row before run 2 (same checkpoint), and
    run 2's facts resolve against the UPDATED dim — the static side
    is re-read per run/plan, never frozen into the checkpoint (the
    slowly-changing-lookup behavior of Flink's temporal join)."""
    from cubert_spark.operators.asof import temporal_join

    dim_path = str(tmp_path / "dim")
    src = str(tmp_path / "facts")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("k long, ts long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        dim = spark.read.parquet(dim_path)
        (
            temporal_join(stream, dim, ["k"], "ts", "vf", "vt")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # dim v1: one open version from t=0
    spark.createDataFrame(
        [(1, 0, None, "old")], "k long, vf long, vt long, tag string"
    ).write.parquet(dim_path)
    spark.createDataFrame([(1, 50)], "k long, ts long").coalesce(1).write.parquet(
        src + "/f1"
    )
    run_once()

    # dim update: close "old" at t=100, open "new" — then new facts
    spark.createDataFrame(
        [(1, 0, 100, "old"), (1, 100, None, "new")],
        "k long, vf long, vt long, tag string",
    ).write.mode("overwrite").parquet(dim_path)
    spark.createDataFrame([(1, 150)], "k long, ts long").coalesce(1).write.parquet(
        src + "/f2"
    )
    run_once()

    got = {(r["k"], r["ts"]): r["tag"] for r in spark.read.parquet(out).collect()}
    # fact@50 was enriched by dim v1 in run 1; fact@150 sees the
    # updated dim's "new" version in run 2
    assert got == {(1, 50): "old", (1, 150): "new"}


def test_reject_by_bands_rule_properties(spark):
    """reject_by_bands invariants on a synthetic band table: (a) no
    two ADMITTED docs share a band (the whole point); (b) the minimum
    id of every band-collision component is admitted when no ledger
    hits it; (c) a ledger hit rejects regardless of id order."""
    from cubert_spark.datapipe.dedup import reject_by_bands

    bands = spark.createDataFrame(
        [
            (1, 0, "A"), (2, 0, "A"),          # 1-2 collide; 1 wins
            (2, 1, "B"), (3, 1, "B"),          # 2 also collides w/ 3
            (4, 0, "C"),                        # loner
            (5, 2, "L"),                        # hit only via ledger
        ],
        "doc_id long, band_idx int, band_key string",
    )
    ledger = spark.createDataFrame([(2, "L")], "band_idx int, band_key string")
    rejected = {r["doc_id"] for r in reject_by_bands(bands, "doc_id", ledger).collect()}
    admitted = {1, 2, 3, 4, 5} - rejected
    assert admitted == {1, 4}
    # (a): admitted docs share no band
    rows = [(r["doc_id"], r["band_idx"], r["band_key"]) for r in bands.collect()]
    keys = {}
    for d, bi, bk in rows:
        if d in admitted:
            assert (bi, bk) not in keys, (d, keys[(bi, bk)])
            keys[(bi, bk)] = d
    # (b): min of the 1-2-3 component admitted; (c): 5 rejected by ledger
    assert 1 in admitted and 5 in rejected
