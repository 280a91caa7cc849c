"""Extension-surface tests: UDF/UDAF/UDTF helpers, multipass/pivot/
validate, sparse matmul, as-of join edge cases, source formats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cubert_spark.functions.udf import (
    cube_udaf,
    grouped_agg_udaf,
    scalar_udf,
    transform_batches,
    transform_groups,
)
from cubert_spark.operators.asof import asof_join
from cubert_spark.operators.matrix import sparse_matmul, vector_block_multiply
from cubert_spark.operators.pivot import multipass, pivot_apply, validate


def test_scalar_udf(spark):
    df = spark.createDataFrame([(1.0,), (2.5,)], "x double")
    doubled = scalar_udf(lambda s: s * 2, "double")
    out = sorted(r[0] for r in df.select(doubled("x")).collect())
    assert out == [2.0, 5.0]


def test_grouped_agg_udaf(spark):
    import numpy as np

    df = spark.createDataFrame([("a", 1.0), ("a", 4.0), ("b", 9.0)], "g string, x double")
    gmean = grouped_agg_udaf(lambda s: float(np.exp(np.log(s).mean())), "double")
    got = {r["g"]: r["gm"] for r in df.groupBy("g").agg(gmean("x").alias("gm")).collect()}
    assert got["a"] == pytest.approx(2.0)
    assert got["b"] == pytest.approx(9.0)


def test_grouped_agg_udaf_built_from_type_hints():
    """No deprecated PandasUDFType: the UDAF type comes from the hints,
    so building one raises no pyspark deprecation warning."""
    import warnings

    from pyspark.util import PythonEvalType

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        total = grouped_agg_udaf(lambda s: float(s.sum()), "double")
    assert total.evalType == PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF


def test_cube_udaf(spark):
    import numpy as np

    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 4.0), ("y", "p", 16.0)], "d1 string, d2 string, v double"
    )
    gmean = grouped_agg_udaf(lambda s: float(np.exp(np.log(s).mean())), "double")
    out = cube_udaf(df, ["d1", "d2"], [gmean("v").alias("gm")])
    got = {(r["d1"], r["d2"]): r["gm"] for r in out.collect()}
    assert got[(None, None)] == pytest.approx(4.0)  # grand total over all 3
    assert got[("x", None)] == pytest.approx(2.0)
    assert len(got) == 8  # 3 cells + 2 d1 rollups + 2 d2 rollups + grand total


def test_transform_batches_and_groups(spark):
    import pandas as pd

    df = spark.createDataFrame([(1, 2), (3, 4)], "a int, b int")

    def add_col(batches):
        for pdf in batches:
            pdf["c"] = pdf.a + pdf.b
            yield pdf

    out = transform_batches(df, add_col, "a int, b int, c int")
    assert {r["c"] for r in out.collect()} == {3, 7}

    df2 = spark.createDataFrame([("g1", 1), ("g1", 2), ("g2", 5)], "g string, v int")

    def summarize(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame({"g": [pdf.g.iloc[0]], "total": [int(pdf.v.sum())]})

    out2 = transform_groups(df2, ["g"], summarize, "g string, total long")
    assert {r["g"]: r["total"] for r in out2.collect()} == {"g1": 3, "g2": 5}


def test_multipass(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    s, c = multipass(
        df,
        lambda d: d.agg(F.sum("x").alias("v")),
        lambda d: d.agg(F.count(F.lit(1)).alias("v")),
    )
    assert s.collect()[0]["v"] == 45 and c.collect()[0]["v"] == 10
    df.unpersist()


def test_pivot_apply(spark):
    import pandas as pd

    df = spark.createDataFrame([("a", 2), ("a", 1), ("b", 7)], "g string, v int")

    def spread(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"g": [pdf.g.iloc[0]], "spread": [int(pdf.v.max() - pdf.v.min())]}
        )

    out = pivot_apply(df, ["g"], spread, "g string, spread long")
    assert {r["g"]: r["spread"] for r in out.collect()} == {"a": 1, "b": 0}


def test_validate_passes_and_fails(spark):
    df = spark.createDataFrame([(i % 4, i) for i in range(100)], "k int, v int")
    good = df.repartition(4, "k").sortWithinPartitions("k", "v")
    validate(good, partitioned_on=["k"], sorted_on=["k", "v"])  # no raise
    bad = df.repartition(4)  # round-robin: keys span partitions
    with pytest.raises(AssertionError, match="spans multiple partitions"):
        validate(bad, partitioned_on=["k"])
    unsorted = spark.createDataFrame([(0, 5), (0, 3)], "k int, v int").coalesce(1)
    with pytest.raises(Exception, match="not sorted"):
        validate(unsorted, sorted_on=["v"])


def test_sparse_matmul_identity(spark):
    # multiply by identity -> original
    a = spark.createDataFrame([(0, 0, 2.0), (0, 1, 3.0), (1, 1, 5.0)], "i int, j int, v double")
    ident = spark.createDataFrame([(0, 0, 1.0), (1, 1, 1.0)], "i int, j int, v double")
    got = {(r["i"], r["j"]): r["v"] for r in sparse_matmul(a, ident).collect()}
    assert got == {(0, 0): 2.0, (0, 1): 3.0, (1, 1): 5.0}


def test_vector_block_multiply(spark):
    a = spark.createDataFrame([(0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)], "i int, j int, v double")
    x = spark.createDataFrame([(0, 10.0), (1, 100.0)], "j int, v double")
    got = {r["i"]: r["v"] for r in vector_block_multiply(a, x).collect()}
    assert got == {0: 210.0, 1: 300.0}


def test_asof_tolerance_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 1000, "p2"), (2, 50, "p3")], "k int, t long, name string"
    )
    right = spark.createDataFrame([(1, 90, 9.0), (1, 200, 2.0)], "k int, t long, val double")
    out = asof_join(left, right, ["k"], "t", "t", right_cols=["val"])
    got = {r["name"]: r["val"] for r in out.collect()}
    assert got == {"p1": 9.0, "p2": 2.0, "p3": None}
    # with tolerance 50: p2's match (t=200, age 800) is nulled
    out2 = asof_join(left, right, ["k"], "t", "t", right_cols=["val"], tolerance=F.lit(50))
    got2 = {r["name"]: r["val"] for r in out2.collect()}
    assert got2 == {"p1": 9.0, "p2": None, "p3": None}


def test_csv_and_virtual_sources(spark, tmp_path):
    from cubert_spark.catalog import load, store

    df = spark.createDataFrame([("hello", 1), ("world", 2)], "word string, n int")
    store(df, str(tmp_path / "t.csv"), fmt="text", header="true")
    back = load(
        spark, str(tmp_path / "t.csv"), fmt="text", schema="STRING word, INT n", header="true"
    )
    assert {(r["word"], r["n"]) for r in back.collect()} == {("hello", 1), ("world", 2)}
    # VIRTUAL input (VirtualStorage.java:43) == spark.range
    assert spark.range(100).count() == 100


def test_python_datasources(spark, tmp_path):
    """Custom storage (Storage.java contract) via the Python DataSource
    API: VIRTUAL as a registered format + a line-dictionary reader."""
    from cubert_spark.sources import register_sources

    register_sources(spark)
    v = spark.read.format("virtual").option("rows", 1000).option("numPartitions", 4).load()
    assert v.count() == 1000
    assert v.agg({"id": "max"}).collect()[0][0] == 999
    assert v.rdd.getNumPartitions() == 4

    p = tmp_path / "dict.txt"
    p.write_text("red\nblue\ngreen\n")
    d = spark.read.format("textdict").option("path", str(p)).load()
    got = {r["value"]: r["code"] for r in d.collect()}
    assert got == {"red": 1, "blue": 2, "green": 3}

    from cubert_spark.operators.dictionary import encode
    df = spark.createDataFrame([("blue",), ("red",)], "color string")
    enc = encode(df, d, ["color"])
    assert sorted(r["color"] for r in enc.collect()) == [1, 2]


def test_active_session_pin_in_worker_thread(spark, tmp_path):
    """The private JVM call behind ``ensure_active_session`` (which
    swallows its failures for Spark Connect) must keep working: the
    ``.cmr`` runner's worker threads read Python DataSources through it.
    A Spark upgrade that moves the class fails here, not silently."""
    import threading

    from cubert_spark.catalog import load, store
    from cubert_spark.session import ensure_active_session

    out = str(tmp_path / "pinned")
    store(spark.range(3), out, fmt="avro")
    seen: dict = {}

    def worker() -> None:
        try:
            jvm_session = spark._jvm.org.apache.spark.sql.classic.SparkSession
            jvm_session.setActiveSession(spark._jsparkSession)
            seen["active"] = jvm_session.getActiveSession().get()
            ensure_active_session(spark)
            seen["ids"] = sorted(r.id for r in load(spark, out, fmt="avro").collect())
        except Exception as e:  # noqa: BLE001 - re-raised below
            seen["error"] = e

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    if "error" in seen:
        raise seen["error"]
    assert seen["active"].equals(spark._jsparkSession)
    assert seen["ids"] == [0, 1, 2]


def test_join_delta_algebra(spark):
    """plans.ivm: the delta rule reconstructs the full join exactly —
    including delta-delta matches and keys present only in one side's
    delta."""
    from cubert_spark.plans.ivm import maintain_join

    a_old = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, av string")
    d_a = spark.createDataFrame([(3, "a3"), (4, "a4")], "k long, av string")
    b_old = spark.createDataFrame([(1, "b1"), (3, "b3")], "k long, bv string")
    d_b = spark.createDataFrame([(2, "b2"), (3, "b3d"), (5, "b5")], "k long, bv string")

    j_old = a_old.join(b_old, ["k"])
    got = sorted(
        map(tuple, maintain_join(j_old, a_old, b_old, d_a, d_b, ["k"]).collect())
    )
    want = sorted(
        map(
            tuple,
            a_old.unionByName(d_a).join(b_old.unionByName(d_b), ["k"]).collect(),
        )
    )
    assert got == want


def test_vacuum_versions_retention(spark, tmp_path):
    """vacuum_versions keeps the newest N dated versions, #LATEST
    still resolves to the same head afterwards, dry_run deletes
    nothing, and keep_last=0 is rejected (the head is never deletable)."""
    import os

    import pytest

    from cubert_spark.catalog import resolve_latest, vacuum_versions

    base = tmp_path / "daily"
    for d in ("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"):
        (base / d).mkdir(parents=True)
        (base / d / "part.txt").write_text(d)
    pat = str(base / "#LATEST")
    head = resolve_latest(pat)

    kept, removed = vacuum_versions(pat, keep_last=2, dry_run=True)
    assert len(kept) == 2 and len(removed) == 2
    assert all(os.path.exists(p) for p in removed)  # dry run

    kept, removed = vacuum_versions(pat, keep_last=2)
    assert [os.path.basename(p) for p in kept] == ["2024-01-03", "2024-01-04"]
    assert not any(os.path.exists(p) for p in removed)
    assert resolve_latest(pat) == head  # the head survived

    # idempotent; and vacuuming below the population is a no-op
    assert vacuum_versions(pat, keep_last=5)[1] == []
    with pytest.raises(ValueError):
        vacuum_versions(pat, keep_last=0)

    # URI-schemed patterns must raise, not silently no-op: glob on
    # hdfs:// always matches nothing, which would make vacuum skip
    # retention forever and resolve_latest report "not found"
    for fn in (
        lambda: vacuum_versions("hdfs://nn:8020/daily/#LATEST"),
        lambda: resolve_latest("s3a://bucket/daily/#LATEST"),
    ):
        with pytest.raises(ValueError, match="local-filesystem glob"):
            fn()


def test_tx_log_time_travel_and_overwrite(spark, tmp_path):
    """tx_commit/tx_read: append accumulates, overwrite replaces,
    every prior version stays readable unchanged (immutable data
    files), and unknown versions raise."""
    import pytest

    from cubert_spark.catalog import tx_commit, tx_read, tx_versions

    p = str(tmp_path / "tx")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    df3 = spark.range(100, 103).withColumnRenamed("id", "k")
    assert tx_commit(df1, p, "append") == 1
    assert tx_commit(df2, p, "append") == 2
    assert tx_commit(df3, p, "overwrite") == 3
    assert tx_versions(p) == [1, 2, 3]
    assert tx_read(spark, p, 1).count() == 10
    assert tx_read(spark, p, 2).count() == 15
    assert tx_read(spark, p).count() == 3          # latest = overwrite
    assert sorted(r["k"] for r in tx_read(spark, p, 3).collect()) == [100, 101, 102]
    # v1 unchanged after later commits (snapshot isolation)
    assert sorted(r["k"] for r in tx_read(spark, p, 1).collect()) == list(range(10))
    with pytest.raises(ValueError):
        tx_read(spark, p, 99)
    with pytest.raises(FileNotFoundError):
        tx_read(spark, str(tmp_path / "nope"))


def test_temporal_join_left_keeps_unmatched_facts(spark):
    """temporal_join how='left': facts before any version null-extend
    instead of dropping; inner drops them; each fact matches at most
    one version."""
    from pyspark.sql import functions as F

    from cubert_spark.operators.asof import temporal_join

    dim = spark.createDataFrame(
        [(1, 100, 200, "v1"), (1, 200, None, "v2"), (2, 50, None, "w1")],
        "k long, vf long, vt long, tag string",
    )
    facts = spark.createDataFrame(
        [(1, 150), (1, 250), (1, 10), (2, 60)], "k long, ts long"
    )
    inner = temporal_join(facts, dim, ["k"], "ts", "vf", "vt").collect()
    got = {(r["k"], r["ts"]): r["tag"] for r in inner}
    assert got == {(1, 150): "v1", (1, 250): "v2", (2, 60): "w1"}
    left = temporal_join(facts, dim, ["k"], "ts", "vf", "vt", how="left")
    lgot = {(r["k"], r["ts"]): r["tag"] for r in left.collect()}
    assert lgot[(1, 10)] is None and len(lgot) == 4


def test_temporal_join_outer_from_common_lineage(spark):
    """The outer path must work when facts and dim both derive from
    the SAME DataFrame (the standard SCD2 shape — r7 ADVICE: the old
    parent-frame condition threw an ambiguous-self-join
    AnalysisException there), and shared non-key column names are
    rejected up front instead of yielding duplicate output columns."""
    import pytest
    from pyspark.sql import functions as F

    from cubert_spark.operators.asof import temporal_join

    base = spark.createDataFrame(
        [(1, 100, 200, "v1"), (1, 200, None, "v2"), (1, 150, None, "f")],
        "k long, a long, b long, s string",
    )
    dim = base.filter(F.col("s") != "f").select(
        "k", F.col("a").alias("vf"), F.col("b").alias("vt"),
        F.col("s").alias("tag"),
    )
    facts = base.filter(F.col("s") == "f").select(
        "k", F.col("a").alias("ts")
    )
    left = temporal_join(facts, dim, ["k"], "ts", "vf", "vt", how="left")
    rows = left.collect()
    assert len(rows) == 1 and rows[0]["tag"] == "v1"
    assert left.columns == ["k", "ts", "vf", "vt", "tag"]

    with pytest.raises(ValueError, match="non-key columns"):
        temporal_join(
            facts.withColumn("tag", F.lit("x")), dim,
            ["k"], "ts", "vf", "vt",
        )


def test_temporal_join_outer_with_dotted_column_names(spark):
    """Dotted column names (e.g. "price.usd") must survive the outer
    path's internal aliasing — the alias refs are backtick-quoted so
    the dot can't parse as a nested-field access (r9 ADVICE)."""
    from pyspark.sql import functions as F

    from cubert_spark.operators.asof import temporal_join

    dim = spark.createDataFrame(
        [(1, 100, 200, 1.5), (1, 200, None, 2.5)],
        "k long, vf long, vt long, price double",
    ).withColumnRenamed("price", "price.usd")
    facts = spark.createDataFrame(
        [(1, 150), (1, 10)], "k long, ts long"
    ).withColumnRenamed("ts", "event.ts")
    left = temporal_join(
        facts, dim, ["k"], "event.ts", "vf", "vt", how="left"
    )
    got = {r["event.ts"]: r["price.usd"] for r in left.collect()}
    assert got == {150: 1.5, 10: None}
    assert left.columns == ["k", "event.ts", "vf", "vt", "price.usd"]

    # the inner path quotes its interval predicate too (review r10:
    # the first fix covered only the outer path)
    inner = temporal_join(facts, dim, ["k"], "event.ts", "vf", "vt")
    igot = {r["event.ts"]: r["price.usd"] for r in inner.collect()}
    assert igot == {150: 1.5}


def test_tx_vacuum_retains_and_reclaims(spark, tmp_path):
    """tx_vacuum: retained versions stay bit-identical readable;
    dropped versions' manifests go first (never partially readable);
    data files referenced by NO retained manifest — including a
    planted crashed-commit orphan dir — are deleted."""
    import os

    import pytest

    from cubert_spark.catalog import (
        tx_commit,
        tx_read,
        tx_vacuum,
        tx_versions,
    )

    p = str(tmp_path / "tx")
    tx_commit(spark.range(0, 10).withColumnRenamed("id", "k"), p)
    tx_commit(spark.range(10, 15).withColumnRenamed("id", "k"), p)
    tx_commit(spark.range(100, 103).withColumnRenamed("id", "k"), p, "overwrite")
    # planted orphan: data written, manifest never landed
    orphan = os.path.join(p, "data", "c9-deadbeef")
    spark.range(5).write.parquet(orphan)
    assert os.path.isdir(orphan)

    res = tx_vacuum(p, keep_last=1)
    assert res["kept_versions"] == [3]
    assert res["deleted_manifests"] == 2
    assert res["deleted_files"] > 0
    assert tx_versions(p) == [3]
    assert sorted(r["k"] for r in tx_read(spark, p).collect()) == [100, 101, 102]
    assert not os.path.isdir(orphan)  # orphan collected
    with pytest.raises(ValueError):
        tx_read(spark, p, 1)
    # keeping every version is a no-file-op
    res2 = tx_vacuum(p, keep_last=5)
    assert res2["deleted_files"] == 0 and tx_versions(p) == [3]


def test_tx_read_merge_schema_across_commits(spark, tmp_path):
    """tx_read(merge_schema=True): a later append whose schema added a
    column reads as one null-padded relation; earlier versions read
    with their own (narrower) schema."""
    from cubert_spark.catalog import tx_commit, tx_read

    p = str(tmp_path / "tx")
    tx_commit(spark.sql("SELECT 1 AS k"), p)
    tx_commit(spark.sql("SELECT 2 AS k, 'x' AS extra"), p)
    latest = tx_read(spark, p, merge_schema=True)
    assert set(latest.columns) == {"k", "extra"}
    rows = {r["k"]: r["extra"] for r in latest.collect()}
    assert rows == {1: None, 2: "x"}
    assert tx_read(spark, p, 1).columns == ["k"]


def test_tx_history_reports_commits(spark, tmp_path):
    from cubert_spark.catalog import tx_commit, tx_history

    p = str(tmp_path / "tx")
    tx_commit(spark.range(3), p)
    tx_commit(spark.range(2), p, meta={"batch_id": 7})
    h = {r["version"]: (r["mode"], r["batch_id"]) for r in tx_history(spark, p).collect()}
    assert h == {1: ("append", None), 2: ("append", 7)}


def test_tx_commit_writer_conflict_detected(spark, tmp_path, monkeypatch):
    """Two writers racing to the same version number get ONE winner
    and one TxConflictError — never two silent 'successes' (the old
    os.rename publish replaced the winner's manifest, orphaning its
    data with no error). The loser's data dir is an inert orphan that
    tx_vacuum reclaims; a plain retry lands on the next version."""
    import os

    import pytest

    from cubert_spark import catalog
    from cubert_spark.catalog import (
        TxConflictError,
        tx_commit,
        tx_read,
        tx_vacuum,
        tx_versions,
    )

    p = str(tmp_path / "tx")
    tx_commit(spark.range(0, 10).withColumnRenamed("id", "k"), p)
    # writer A wins version 2
    tx_commit(spark.range(10, 15).withColumnRenamed("id", "k"), p)
    # writer B read the log BEFORE A's commit landed (parent=1), so it
    # also targets version 2 — replay that stale view
    monkeypatch.setattr(catalog, "tx_versions", lambda _: [1])
    with pytest.raises(TxConflictError):
        tx_commit(spark.range(100, 105).withColumnRenamed("id", "k"), p)
    monkeypatch.undo()

    # the winner's v2 snapshot is untouched by the losing attempt
    assert tx_versions(p) == [1, 2]
    assert sorted(r["k"] for r in tx_read(spark, p, 2).collect()) == list(range(15))
    # the loser left exactly one orphan data dir; vacuum reclaims it
    data_dirs = os.listdir(os.path.join(p, "data"))
    assert len(data_dirs) == 3  # c1-*, c2-* (winner), c2-* (orphan)
    tx_vacuum(p, keep_last=2)
    assert len(os.listdir(os.path.join(p, "data"))) == 2
    assert sorted(r["k"] for r in tx_read(spark, p, 2).collect()) == list(range(15))
    # retry after re-reading the log: lands as version 3, chain linear
    assert tx_commit(spark.range(100, 105).withColumnRenamed("id", "k"), p) == 3
    assert tx_versions(p) == [1, 2, 3]
    # no leftover manifest temp files from the conflict path
    assert not [
        f for f in os.listdir(os.path.join(p, "_txlog")) if f.endswith(".tmp")
    ]


def test_tx_commit_append_retry_rebases_both_writers_land(
    spark, tmp_path, monkeypatch
):
    """Two-writer append interleave with retries=1: the loser rebases
    at manifest level (no parquet rewrite) and lands at the next
    version — a linear chain carrying BOTH payloads. Overwrite
    conflicts surface even with retries (semantic conflict, not an
    ordering problem)."""
    import os

    import pytest

    from cubert_spark import catalog
    from cubert_spark.catalog import (
        TxConflictError,
        tx_commit,
        tx_read,
        tx_versions,
    )

    p = str(tmp_path / "tx")
    tx_commit(spark.range(0, 10).withColumnRenamed("id", "k"), p)
    # writer A lands version 2
    tx_commit(spark.range(10, 15).withColumnRenamed("id", "k"), p)
    # writer B read the log BEFORE A's commit (parent=1, targets 2);
    # the stale view holds for B's FIRST publish attempt only — the
    # retry re-reads the real log (the rebase under test)
    real = catalog.tx_versions
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        return [1] if calls["n"] == 1 else real(path)

    monkeypatch.setattr(catalog, "tx_versions", stale_once)
    v = tx_commit(
        spark.range(100, 105).withColumnRenamed("id", "k"), p, retries=1
    )
    monkeypatch.undo()
    assert v == 3
    assert tx_versions(p) == [1, 2, 3]
    # v3 = head(v2) files + B's files: both writers' rows, no loss
    assert sorted(r["k"] for r in tx_read(spark, p, 3).collect()) == (
        list(range(15)) + list(range(100, 105))
    )
    # v2 (A's snapshot) untouched by the rebase
    assert sorted(r["k"] for r in tx_read(spark, p, 2).collect()) == list(range(15))
    # rebase reuses the already-written data dir: exactly 3 (no orphan)
    assert len(os.listdir(os.path.join(p, "data"))) == 3
    assert not [
        f for f in os.listdir(os.path.join(p, "_txlog")) if f.endswith(".tmp")
    ]

    # overwrite racing overwrite: retries must NOT auto-resolve
    calls["n"] = 0
    monkeypatch.setattr(catalog, "tx_versions", stale_once)
    with pytest.raises(TxConflictError):
        tx_commit(
            spark.range(7).withColumnRenamed("id", "k"), p,
            mode="overwrite", retries=5,
        )
    monkeypatch.undo()
    assert tx_versions(p) == [1, 2, 3]


def test_tx_commit_abort_if_keeps_exactly_once_under_rebase(
    spark, tmp_path, monkeypatch
):
    """The zombie-vs-replay race: two attempts of the SAME batch both
    pass the tx_committed_batches pre-check; the replay lands first.
    With plain retries the zombie would rebase and append the batch a
    second time; abort_if (re-checked after every head read) makes it
    abandon with return 0 and no new version — exactly-once holds."""
    from cubert_spark import catalog
    from cubert_spark.catalog import tx_commit, tx_committed_batches, tx_versions

    p = str(tmp_path / "tx")
    tx_commit(spark.range(0, 5).withColumnRenamed("id", "k"), p)
    # the REPLAY's commit of batch 7 lands as v2
    tx_commit(
        spark.range(5, 9).withColumnRenamed("id", "k"), p,
        meta={"batch_id": 7},
    )

    # the ZOMBIE read the log before v2 landed (stale head for its
    # first attempt) and its first abort check also predates v2
    real = catalog.tx_versions
    vcalls = {"n": 0}

    def stale_once(path):
        vcalls["n"] += 1
        return [1] if vcalls["n"] == 1 else real(path)

    checks = []

    def abort_if():
        # first check simulates "not committed yet at check time";
        # later checks consult the real log
        if not checks:
            checks.append("stale")
            return False
        checks.append("real")
        return 7 in tx_committed_batches(p)

    monkeypatch.setattr(catalog, "tx_versions", stale_once)
    v = tx_commit(
        spark.range(5, 9).withColumnRenamed("id", "k"), p,
        meta={"batch_id": 7}, retries=3, abort_if=abort_if,
    )
    monkeypatch.undo()
    assert v == 0  # abandoned, not rebased in as a duplicate
    assert tx_versions(p) == [1, 2]  # no third version
    assert checks == ["stale", "real"]  # conflicted once, then aborted


def test_tx_table_rejects_uri_schemed_paths(spark, tmp_path):
    """The tx log's CAS is os.link — POSIX-local by construction. A
    URI-schemed path must raise up front: os.makedirs on
    'hdfs://...' would otherwise silently create a LOCAL dir named
    'hdfs:/...' while Spark wrote data to the remote FS (split-brain
    table, the same failure class as the streaming isdir probes)."""
    import pytest

    from cubert_spark.catalog import tx_commit, tx_versions

    for bad in ("hdfs://nn:8020/t", "s3a://bucket/t", "file:///tmp/t"):
        with pytest.raises(ValueError, match="local filesystem path"):
            tx_versions(bad)
        with pytest.raises(ValueError, match="local filesystem path"):
            tx_commit(spark.range(1), bad)
    # windows-style drive letters are not schemes; plain paths work
    assert tx_versions(str(tmp_path / "t")) == []


def test_summary_store_and_avro_source_reject_uri_paths(spark):
    """Same local-FS contract as the tx log, one layer out: the
    SummaryStore's meta.json/existence probes and the pure-Python avro
    DataSource's glob/open/os.makedirs are local-only — a URI-schemed
    path must raise up front instead of silently reporting
    'no summary' / creating a literal local 'hdfs:' directory."""
    import pytest

    from cubert_spark.plans.summary import SummarySpec, SummaryStore
    from cubert_spark.sources import register_sources

    register_sources(spark)
    spec = SummarySpec("ts", ("d",), (("SUM", "m"),))
    for bad in ("hdfs://nn:8020/s", "s3a://bucket/s"):
        with pytest.raises(ValueError, match="URI-schemed"):
            SummaryStore(bad, spec)
        with pytest.raises(Exception, match="URI-schemed|Failed to create"):
            spark.range(3).selectExpr("id AS a").write.format(
                "cubert_avro"
            ).option("path", bad).mode("overwrite").save()


def test_tx_delta_reads_only_appended_files(spark, tmp_path):
    """plans.ivm.tx_delta: the delta between two tx versions is read
    from the MANIFEST file-set difference — exactly the appended rows,
    an empty (schema-correct) frame for v==v, and a hard error when
    the chain is not append-only (overwrite) between the versions."""
    import pytest

    from cubert_spark.catalog import tx_commit
    from cubert_spark.plans.ivm import tx_delta

    p = str(tmp_path / "t")
    tx_commit(spark.createDataFrame([(1, "a")], "k long, v string"), p)
    tx_commit(spark.createDataFrame([(2, "b")], "k long, v string"), p)
    tx_commit(spark.createDataFrame([(3, "c")], "k long, v string"), p)

    d12 = tx_delta(spark, p, 1, 2)
    assert sorted(map(tuple, d12.collect())) == [(2, "b")]
    d13 = tx_delta(spark, p, 1)  # to head
    assert sorted(map(tuple, d13.collect())) == [(2, "b"), (3, "c")]
    d33 = tx_delta(spark, p, 3, 3)
    assert d33.count() == 0 and d33.columns == ["k", "v"]

    tx_commit(
        spark.createDataFrame([(9, "z")], "k long, v string"), p, mode="overwrite"
    )
    with pytest.raises(ValueError, match="not append-only"):
        tx_delta(spark, p, 1, 4)


def test_maintain_join_tx_equals_recompute(spark, tmp_path):
    """maintain_join_tx from two tx logs == direct recompute of the
    join at the heads (the IVM contract), with j_old taken at v1/v1."""
    from cubert_spark.catalog import tx_commit, tx_read
    from cubert_spark.plans.ivm import maintain_join_tx

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    tx_commit(spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, av string"), pa)
    tx_commit(spark.createDataFrame([(3, "a3")], "k long, av string"), pa)
    tx_commit(spark.createDataFrame([(1, "b1"), (3, "b3")], "k long, bv string"), pb)
    tx_commit(spark.createDataFrame([(2, "b2"), (3, "b3d")], "k long, bv string"), pb)

    j_old = tx_read(spark, pa, version=1).join(tx_read(spark, pb, version=1), ["k"])
    got = sorted(
        map(tuple, maintain_join_tx(spark, j_old, pa, pb, ["k"], 1, 1).collect())
    )
    want = sorted(
        map(tuple, tx_read(spark, pa).join(tx_read(spark, pb), ["k"]).collect())
    )
    assert got == want and len(got) == 4


def test_maintain_join_tx_handles_overwrite_commit(spark, tmp_path):
    """r14 VERDICT task 7: a version range containing an OVERWRITE
    commit routes through the retract+insert rule (maintain_join_rw)
    and still equals the direct recompute at the heads — including
    duplicate rows (multiset semantics: exceptAll, not except)."""
    from cubert_spark.catalog import tx_commit, tx_read
    from cubert_spark.plans.ivm import maintain_join_tx, tx_delta_rw

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    # a: v1 append (with a planted duplicate row), v2 OVERWRITE that
    # drops one of the dupes and rewrites the rest
    tx_commit(
        spark.createDataFrame(
            [(1, "a1"), (1, "a1"), (2, "a2")], "k long, av string"
        ),
        pa,
    )
    tx_commit(
        spark.createDataFrame(
            [(1, "a1"), (2, "a2x"), (3, "a3")], "k long, av string"
        ),
        pa,
        mode="overwrite",
    )
    # b: plain append chain
    tx_commit(spark.createDataFrame([(1, "b1"), (3, "b3")], "k long, bv string"), pb)
    tx_commit(spark.createDataFrame([(2, "b2")], "k long, bv string"), pb)

    ins, ret = tx_delta_rw(spark, pa, 1, 2)
    assert sorted(map(tuple, ins.collect())) == [(1, "a1"), (2, "a2x"), (3, "a3")]
    assert sorted(map(tuple, ret.collect())) == [(1, "a1"), (1, "a1"), (2, "a2")]

    j_old = tx_read(spark, pa, version=1).join(tx_read(spark, pb, version=1), ["k"])
    got = sorted(
        map(tuple, maintain_join_tx(spark, j_old, pa, pb, ["k"], 1, 1).collect())
    )
    want = sorted(
        map(tuple, tx_read(spark, pa).join(tx_read(spark, pb), ["k"]).collect())
    )
    assert got == want and len(got) == 3


def test_tx_delta_merge_schema_handles_evolved_append_chain(spark, tmp_path):
    """r14 ADVICE: an append chain whose later commit ADDED a column
    (the case tx_read's merge_schema exists for) must be deltable —
    merge_schema=True null-pads the delta to the evolved schema; the
    default stays strict (documented schema-stability)."""
    from cubert_spark.catalog import tx_commit
    from cubert_spark.plans.ivm import tx_delta

    p = str(tmp_path / "t")
    tx_commit(spark.createDataFrame([(1, "a")], "k long, v string"), p)
    tx_commit(
        spark.createDataFrame([(2, "b", 7)], "k long, v string, extra long"), p
    )
    d = tx_delta(spark, p, 1, 2, merge_schema=True)
    assert sorted(d.columns) == ["extra", "k", "v"]
    assert sorted(map(tuple, d.select("k", "v", "extra").collect())) == [(2, "b", 7)]
