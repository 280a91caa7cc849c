"""Incremental summary rewrite tests (plans.summary): the rewrite must
be result-identical to direct aggregation, across full/partial summary
coverage and incremental updates."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from cubert_spark import catalog
from cubert_spark.catalog import load_table, tx_files, tx_versions
from cubert_spark.plans.summary import SummarySpec, SummaryStore

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def fact(spark):
    o = load_table(spark, SF, "orders")
    return o.withColumn("price_dec", F.col("o_totalprice").cast("decimal(18,2)"))


SPEC = SummarySpec(
    time_col="o_orderdate",
    dims=("o_orderpriority", "o_orderstatus"),
    measures=(("SUM", "price_dec"), ("COUNT", "o_orderkey"), ("MIN", "o_totalprice")),
    distinct_col="o_custkey",
)


def _direct(fact, start, end, dims):
    rng = fact.filter(F.to_date("o_orderdate").between(F.lit(start), F.lit(end)))
    return (
        rng.groupBy(*dims)
        .agg(
            F.sum("price_dec").alias("sum__price_dec"),
            F.count("o_orderkey").alias("count__o_orderkey"),
            F.min("o_totalprice").alias("min__o_totalprice"),
            F.countDistinct("o_custkey").alias("count_distinct__o_custkey"),
        )
    )


def _as_dict(df, dims):
    rows = df.collect()
    out = {
        tuple(r[d] for d in dims): (
            r["sum__price_dec"],
            r["count__o_orderkey"],
            r["min__o_totalprice"],
            r["count_distinct__o_custkey"],
        )
        for r in rows
    }
    assert len(out) == len(rows), "a group came out as more than one row"
    return out


def _assert_rewrite_is_direct(spark, store, fact, start, end, dims):
    got = _as_dict(store.rewrite(spark, fact, start, end, dims), dims)
    assert got == _as_dict(_direct(fact, start, end, dims), dims)


def test_rewrite_matches_direct_full_coverage(spark, fact, tmp_path):
    store = SummaryStore(str(tmp_path / "s1"), SPEC)
    store.build(fact)
    start, end = "1995-01-01", "1997-12-31"
    dims = ["o_orderpriority"]
    got = _as_dict(store.rewrite(spark, fact, start, end, dims), dims)
    want = _as_dict(_direct(fact, start, end, dims), dims)
    assert got == want


def test_rewrite_splices_missing_days(spark, fact, tmp_path):
    # summarize only the early years; query a range extending beyond
    store = SummaryStore(str(tmp_path / "s2"), SPEC)
    early = fact.filter(F.to_date("o_orderdate") < F.lit("1998-01-01"))
    store.build(early)
    start, end = "1997-06-01", "1999-12-31"
    dims = ["o_orderpriority", "o_orderstatus"]
    got = _as_dict(store.rewrite(spark, fact, start, end, dims), dims)
    want = _as_dict(_direct(fact, start, end, dims), dims)
    assert got == want


def test_incremental_update_then_rewrite(spark, fact, tmp_path):
    store = SummaryStore(str(tmp_path / "s3"), SPEC)
    early = fact.filter(F.to_date("o_orderdate") < F.lit("1996-01-01"))
    store.build(early)
    n0 = len(store.summarized_days(spark))
    added = store.incremental_update(spark, fact)
    assert added > 0
    assert len(store.summarized_days(spark)) == n0 + added
    # second update is a no-op
    assert store.incremental_update(spark, fact) == 0
    start, end = "1995-01-01", "2001-12-31"
    dims = ["o_orderstatus"]
    got = _as_dict(store.rewrite(spark, fact, start, end, dims), dims)
    want = _as_dict(_direct(fact, start, end, dims), dims)
    assert got == want


def test_rollup_to_subset_dims(spark, fact, tmp_path):
    # summary stores (priority, status); query rolls up to () — the
    # summary-cube upward re-aggregation property
    store = SummaryStore(str(tmp_path / "s4"), SPEC)
    store.build(fact)
    got = store.rewrite(spark, fact, "1995-01-01", "2001-12-31", []).collect()[0]
    want = _direct(fact, "1995-01-01", "2001-12-31", []).collect()[0]
    assert float(got["sum__price_dec"]) == float(want["sum__price_dec"])
    assert got["count_distinct__o_custkey"] == want["count_distinct__o_custkey"]


def test_metadata_roundtrip(tmp_path):
    store = SummaryStore(str(tmp_path / "s5"), SPEC)
    reopened = SummaryStore(str(tmp_path / "s5"))
    assert reopened.spec == SPEC


def _day_before(d):
    return F.to_date("o_orderdate") < F.lit(d)


def _null_every(col, n):
    """Null ``col`` on every ``n``-th order key."""
    return lambda f: f.withColumn(
        col, F.when(F.col("o_orderkey") % n == 0, F.lit(None)).otherwise(F.col(col))
    )


@pytest.mark.parametrize(
    "prep, summarize, start, end, dims",
    [
        # empty fact: the store is built from zero rows
        (lambda f: f.limit(0), lambda f: f, "1992-01-01", "2001-12-31", ["o_orderpriority"]),
        # a store never built answers from the fact alone
        (lambda f: f, None, "1995-01-01", "1997-12-31", ["o_orderpriority"]),
        # null dims group together, summarized and spliced alike
        (
            lambda f: _null_every("o_orderstatus", 5)(_null_every("o_orderpriority", 3)(f)),
            lambda f: f.filter(_day_before("1996-01-01")),
            "1994-01-01",
            "1998-12-31",
            ["o_orderpriority", "o_orderstatus"],
        ),
        # null members count in SUM/COUNT, not in the count-distinct
        (
            _null_every("o_custkey", 4),
            lambda f: f.filter(_day_before("1996-01-01")),
            "1994-01-01",
            "1998-12-31",
            ["o_orderpriority"],
        ),
        # range fully summarized: nothing spliced
        (lambda f: f, lambda f: f, "1994-01-01", "1996-12-31", ["o_orderstatus"]),
        # range fully missing: everything spliced
        (
            lambda f: f,
            lambda f: f.filter(_day_before("1996-01-01")),
            "1997-01-01",
            "1998-12-31",
            ["o_orderstatus"],
        ),
        # grand total over a partly summarized range
        (lambda f: f, lambda f: f.filter(_day_before("1996-01-01")), "1995-01-01", "1997-12-31", []),
        # grand total over an empty range: one row of nulls and zeros
        (lambda f: f, lambda f: f, "2030-01-01", "2030-12-31", []),
        # COUNT(c) counts non-null c, summarized and spliced alike
        (
            _null_every("o_orderkey", 3),
            lambda f: f.filter(_day_before("1996-01-01")),
            "1994-01-01",
            "1998-12-31",
            ["o_orderpriority"],
        ),
    ],
    ids=[
        "empty_fact",
        "never_built",
        "null_dims",
        "null_members",
        "fully_summarized",
        "fully_missing",
        "no_group_dims",
        "no_group_dims_empty_range",
        "null_count_measure",
    ],
)
def test_rewrite_degenerate_inputs(spark, fact, tmp_path, prep, summarize, start, end, dims):
    fact = prep(fact)
    store = SummaryStore(str(tmp_path / "sd"), SPEC)
    if summarize is not None:
        store.build(summarize(fact))
    _assert_rewrite_is_direct(spark, store, fact, start, end, dims)


def test_failed_update_commits_nothing(spark, fact, tmp_path):
    """An update that fails part-way must leave the store as it was:
    a day half-summarized would be skipped by the retry, and the
    rewrite would then diverge from the direct aggregation."""
    store = SummaryStore(str(tmp_path / "sf"), SPEC)
    store.build(fact.filter(_day_before("1996-01-01")))
    before = store.summarized_days(spark)
    poisoned = fact.withColumn(
        "o_custkey",
        F.when(
            F.to_date("o_orderdate") >= F.lit("1996-06-01"),
            F.raise_error(F.lit("injected member failure")),
        ).otherwise(F.col("o_custkey")),
    )
    with pytest.raises(Exception, match="injected member failure"):
        store.incremental_update(spark, poisoned)
    assert store.summarized_days(spark) == before
    added = store.incremental_update(spark, fact)
    assert added > 0
    assert len(store.summarized_days(spark)) == len(before) + added
    _assert_rewrite_is_direct(
        spark, store, fact, "1995-01-01", "2001-12-31", ["o_orderpriority", "o_orderstatus"]
    )


def _data_dirs(store):
    return sorted(os.listdir(os.path.join(store.path, "data")))


def test_update_rejects_a_changed_schema(spark, fact, tmp_path):
    """The head's files are read under the schema its manifest holds,
    so a fact whose partials would be typed differently is refused
    before any write."""
    store = SummaryStore(str(tmp_path / "sm"), SPEC)
    store.build(fact.filter(_day_before("1996-01-01")))
    built = _data_dirs(store)
    wider = fact.withColumn("price_dec", F.col("o_totalprice").cast("decimal(20,2)"))
    with pytest.raises(ValueError, match="differs from the store's"):
        store.incremental_update(spark, wider)
    assert tx_versions(store.path) == [1]
    assert _data_dirs(store) == built


def test_rewrite_rejects_unstored_dims(spark, fact, tmp_path):
    store = SummaryStore(str(tmp_path / "sv"), SPEC)
    with pytest.raises(ValueError, match="o_clerk"):
        store.rewrite(spark, fact, "1995-01-01", "1995-12-31", ["o_orderstatus", "o_clerk"])


def _crash(src, dst):
    raise OSError("injected crash before publish")


def test_crash_between_write_and_commit(spark, fact, tmp_path, monkeypatch):
    """A crash after an update's data is written but before its
    manifest is published leaves the store as it was: the data dir is
    on disk but in no manifest and unread, and the retry commits its
    days exactly once."""
    store = SummaryStore(str(tmp_path / "sc"), SPEC)
    store.build(fact.filter(_day_before("1996-01-01")))
    before = store.summarized_days(spark)
    start, end, dims = "1995-01-01", "2001-12-31", ["o_orderpriority", "o_orderstatus"]
    want = _as_dict(_direct(fact, start, end, dims), dims)

    with monkeypatch.context() as m:
        m.setattr(catalog.os, "link", _crash)
        with pytest.raises(OSError, match="injected crash"):
            store.incremental_update(spark, fact)
    assert tx_versions(store.path) == [1]
    orphans = {os.path.join("data", d) for d in _data_dirs(store)} - {
        os.path.dirname(f) for f in tx_files(store.path)
    }
    assert len(orphans) == 1
    assert store.summarized_days(spark) == before
    assert _as_dict(store.rewrite(spark, fact, start, end, dims), dims) == want

    added = store.incremental_update(spark, fact)
    assert added > 0
    assert tx_versions(store.path) == [1, 2]
    assert len(store.summarized_days(spark)) == len(before) + added
    dirs = _data_dirs(store)
    assert store.incremental_update(spark, fact) == 0
    assert _data_dirs(store) == dirs  # the empty append left no data dir
    assert _as_dict(store.rewrite(spark, fact, start, end, dims), dims) == want


def test_crash_during_rebuild_keeps_the_old_summary(spark, fact, tmp_path, monkeypatch):
    """A rebuild publishes its file set in one atomic step, so a crash
    at the publish (the link or rename that would make it visible)
    leaves the old summary answering, and a rebuild that lands drops
    the old version and the crashed attempt's data."""
    store = SummaryStore(str(tmp_path / "sb"), SPEC)
    store.build(fact.filter(_day_before("1996-01-01")))
    before = store.summarized_days(spark)
    start, end, dims = "1995-01-01", "2001-12-31", ["o_orderpriority"]
    want = _as_dict(_direct(fact, start, end, dims), dims)

    with monkeypatch.context() as m:
        m.setattr(catalog.os, "link", _crash)
        m.setattr(catalog.os, "replace", _crash)
        with pytest.raises(OSError, match="injected crash"):
            store.build(fact)
    assert store.summarized_days(spark) == before
    assert _as_dict(store.rewrite(spark, fact, start, end, dims), dims) == want

    store.build(fact)
    assert tx_versions(store.path) == [2]
    assert len(_data_dirs(store)) == 1
    assert len(store.summarized_days(spark)) > len(before)
    assert _as_dict(store.rewrite(spark, fact, start, end, dims), dims) == want


def test_replayed_batch_is_appended_once(spark, fact, tmp_path):
    """A micro-batch replayed after its append landed (foreachBatch is
    at-least-once) is skipped by its recorded batch id, so its COUNT
    and SUM partials are not counted twice."""
    store = SummaryStore(str(tmp_path / "sr"), SPEC)
    early = fact.filter(_day_before("1996-01-01"))
    store.append_partials(early, batch_id=0)
    store.append_partials(fact.filter(~_day_before("1996-01-01")), batch_id=1)
    store.append_partials(early, batch_id=0)
    assert tx_versions(store.path) == [1, 2]
    _assert_rewrite_is_direct(
        spark, store, fact, "1994-01-01", "1998-12-31", ["o_orderpriority", "o_orderstatus"]
    )


@pytest.fixture()
def optimizer_log(spark):
    """Everything the JVM logs while the test runs, as a StringWriter."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    writer = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    appender = (
        core.appender.WriterAppender.newBuilder()
        .setName("summary-test-capture")
        .setTarget(writer)
        .setLayout(layout)
        .build()
    )
    appender.start()
    root = ctx.getConfiguration().getRootLogger()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        yield writer
    finally:
        root.removeAppender("summary-test-capture")
        ctx.updateLoggers()
        appender.stop()


LI_SPEC = SummarySpec(
    time_col="ship",
    dims=("l_returnflag", "l_linestatus"),
    measures=(("SUM", "qty_dec"), ("COUNT", "l_orderkey"), ("MAX", "l_quantity")),
    distinct_col="l_partkey",
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _li_direct(li, start, end):
    rng = li.filter(F.to_date("ship").between(F.lit(start), F.lit(end)))
    return rng.groupBy("l_returnflag").agg(
        F.sum("qty_dec"),
        F.count("l_orderkey"),
        F.max("l_quantity"),
        F.countDistinct("l_partkey"),
    )


@pytest.mark.parametrize(
    "time_type, raw_range",
    [("date", True), ("timestamp_ntz", True), ("string", False)],
)
def test_fragmented_days(spark, tmp_path, optimizer_log, time_type, raw_range):
    """A store holding every other day (1,146 disjoint days of sf0.001
    lineitem) answers like the direct aggregation before and after an
    update fills the gaps, and its day filters plan without exhausting
    the optimizer. DATE and TIMESTAMP time columns take the day hull as
    a range the scan pushes down; an ISO STRING column compares on its
    to_date. Rows with a null day are in no answer."""
    li = load_table(spark, SF, "lineitem")
    ship = {
        "date": F.to_date("l_shipdate"),
        "timestamp_ntz": F.col("l_shipdate").cast("timestamp_ntz"),
        "string": F.col("l_shipdate").cast("string"),
    }[time_type]
    staged = str(tmp_path / "fact")
    li.select(
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(None)).otherwise(ship).alias("ship"),
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty_dec"),
        "l_orderkey",
        "l_quantity",
        "l_partkey",
    ).write.parquet(staged)
    fact = spark.read.parquet(staged)
    even = F.datediff(F.to_date("ship"), F.lit("1992-01-01")) % 2 == 0

    store = SummaryStore(str(tmp_path / "sg"), LI_SPEC)
    store.build(fact.filter(even))
    assert len(store.summarized_days(spark)) > 1000
    start, end = "1996-03-01", "2001-06-30"

    def answer():
        got = store.rewrite(spark, fact, start, end, ["l_returnflag"])
        assert _rows(got) == _rows(_li_direct(fact, start, end))
        return got

    spliced = answer()
    pushed = spliced._jdf.queryExecution().executedPlan().toString()
    assert ("GreaterThanOrEqual(ship," in pushed) == raw_range, pushed
    analyzed = spliced._jdf.queryExecution().analyzed().toString()
    wrapped = re.search(r"to_date\(ship#\d+[^()]*(\(\w+\)[^()]*)*\) IN \(", analyzed)
    assert (wrapped is None) == (time_type == "date"), analyzed
    added = store.incremental_update(spark, fact)
    assert added > 1000
    assert store.incremental_update(spark, fact) == 0
    answer()
    assert "Max iterations" not in optimizer_log.toString()


def test_job_counts_per_call(spark, jobs_in, fact, tmp_path):
    """Upper bounds on the Spark jobs each call fires. The commit
    record holds the schema and the day set, so no call infers a
    schema or scans the store: build and update are one write each
    (its shuffle stage is a job of its own under AQE) and rewrite
    fires none. The one-table store that read its days by scanning
    itself fired 2/9/1; separate additive and member tables fired
    4/14/3."""
    store = SummaryStore(str(tmp_path / "sj"), SPEC)
    _, build = jobs_in("summary-build", lambda: store.build(fact.filter(_day_before("1998-01-01"))))
    added, update = jobs_in(
        "summary-update", lambda: store.incremental_update(spark, fact.filter(_day_before("1999-01-01")))
    )
    _, rewrite = jobs_in(
        "summary-rewrite",
        lambda: store.rewrite(spark, fact, "1996-01-01", "2000-12-31", ["o_orderpriority"]),
    )
    assert added > 0
    assert build <= 2 and update <= 2 and rewrite == 0, (build, update, rewrite)
