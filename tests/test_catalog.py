"""``catalog.load_table``'s schema memo (one inference job per file
version and schema-relevant session settings, none after that), and
the format routing every STORE shares with LOAD."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cubert_spark.catalog import load, load_table, store_clustered, store_zorder


def test_repeated_load_fires_no_job(spark, jobs_in, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n_first = jobs_in("memo-first", lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = jobs_in("memo-again", lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first == 1 and n_again == 0
    assert again.schema == first.schema
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    time.sleep(0.01)  # a distinct mtime even on coarse-clock filesystems
    pq.write_table(pa.table({"k": ["x"], "extra": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert df.schema["k"].dataType.simpleString() == "string"
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_memo_keyed_on_schema_settings(spark, tmp_path):
    """binaryAsString changes the inferred type of a binary column, so
    a load under the other setting must not reuse the memoized schema."""
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType.simpleString() == "binary"
        spark.conf.set(key, "true")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("fmt", ["text", "avro"])
@pytest.mark.parametrize("writer", ["store_clustered", "store_zorder"])
def test_layout_stores_roundtrip_through_load(spark, tmp_path, writer, fmt):
    """The layout-aware STOREs route formats like ``store``: TEXT is
    tab-separated, so ``load(..., "text")`` reads every field back, and
    AVRO goes to the built-in avro source rather than a missing jar."""
    rows = [(i, f"v{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "k INT, v STRING")
    out = str(tmp_path / "out")
    if writer == "store_clustered":
        store_clustered(df, out, cluster_by=["k"], fmt=fmt)
    else:
        store_zorder(df, out, zorder_by=["k"], fmt=fmt)
    back = load(spark, out, fmt, schema="INT k, STRING v")
    assert sorted(tuple(r) for r in back.collect()) == rows


def test_partitioned_avro_store_is_refused(spark, tmp_path):
    """The AVRO source writes no partition directories, so a
    partitioned AVRO STORE fails before it writes anything, naming the
    limit, rather than inside Spark."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(4)], "k INT, v STRING")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="AVRO store takes no partition_by"):
        store_clustered(df, str(out), partition_by=["k"], fmt="avro")
    assert not out.exists()
