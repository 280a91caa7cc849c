"""Avro source/sink: pure-Python object-container-file codec
(cubert_spark.avroio) + the cubert_avro Python DataSource.

Reference parity: AvroStorage.java:32 (LOAD/STORE ... USING AVRO) and
the null-padding schema-evolution behavior (reference CHANGELOG:6).
Interop is proven against the official Java avro library bundled with
pyspark (avro-1.12.1.jar) via py4j.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from cubert_spark import avroio, catalog


def test_spark_roundtrip_nation(spark, tmp_path):
    n = catalog.load_table(spark, "/root/testdata/sf0.001", "nation")
    out = str(tmp_path / "nation_avro")
    catalog.store(n, out, fmt="avro")
    back = catalog.load(spark, out, fmt="avro")
    assert back.schema.simpleString() == n.schema.simpleString()
    a = sorted(map(tuple, n.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_spark_roundtrip_dates_and_doubles(spark, tmp_path):
    o = catalog.load_table(spark, "/root/testdata/sf0.001", "orders").limit(200)
    out = str(tmp_path / "orders_avro")
    catalog.store(o, out, fmt="avro", mode="overwrite")
    back = catalog.load(spark, out, fmt="avro")
    assert sorted(map(tuple, o.collect())) == sorted(map(tuple, back.collect()))


def test_schema_evolution_null_padding(spark, tmp_path):
    """Files written under an OLD schema read under the NEW wider
    schema with null-padded missing columns (CHANGELOG:6)."""
    out = tmp_path / "evolving"
    out.mkdir()
    old = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
    ]}
    new = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": ["null", "double"]},
    ]}
    avroio.write_file(str(out / "old.avro"), old, [(1, "a"), (2, "b")])
    avroio.write_file(str(out / "new.avro"), new, [(3, "c", 1.5)])
    from cubert_spark.sources import register_sources

    register_sources(spark)
    df = (
        spark.read.format("cubert_avro")
        .schema("id long, name string, score double")
        .load(str(out))
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a", None), (2, "b", None), (3, "c", 1.5)]


def test_reader_drops_and_reorders_columns(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double"},
    ]}
    p = str(tmp_path / "f.avro")
    avroio.write_file(p, schema, [(1, "x", 2.5), (2, "y", 3.5)])
    reader = {"type": "record", "name": "r", "fields": [
        {"name": "c", "type": "double"},
        {"name": "a", "type": "long"},
    ]}
    assert list(avroio.read_file(p, reader_schema=reader)) == [
        (2.5, 1), (3.5, 2)
    ]


def test_missing_non_nullable_reader_field_raises(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}]}
    p = str(tmp_path / "f.avro")
    avroio.write_file(p, schema, [(1,)])
    reader = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "long"}]}
    with pytest.raises(avroio.AvroError, match="not nullable"):
        list(avroio.read_file(p, reader_schema=reader))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_java_avro_reads_our_files(spark, tmp_path, codec):
    """The official Java avro library (bundled avro-1.12.1.jar) must
    accept files this codec writes — spec compliance, not self-interop."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "price", "type": "double"},
        {"name": "day", "type": [
            "null", {"type": "int", "logicalType": "date"}]},
    ]}
    p = str(tmp_path / f"j_{codec}.avro")
    rows = [
        (1, "a", 1.25, dt.date(2024, 1, 1)),
        (2, None, -2.5, None),
        (3, "c", 0.0, dt.date(1969, 12, 31)),
    ]
    avroio.write_file(p, schema, rows, codec=codec)
    jvm = spark._jvm
    dr = jvm.org.apache.avro.generic.GenericDatumReader()
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), dr
    )
    got = []
    while reader.hasNext():
        got.append(str(reader.next()))
    reader.close()
    assert len(got) == 3
    assert '"id": 1' in got[0] and '"name": "a"' in got[0]
    assert '"name": null' in got[1]
    # logicalType date stored as days-since-epoch int
    assert '"day": 19723' in got[0]  # 2024-01-01
    assert '"day": -1' in got[2]     # 1969-12-31


def test_java_avro_written_file_reads_back(spark, tmp_path):
    """Files written by the official Java library read back through the
    pure-Python codec (both directions of interop)."""
    jvm = spark._jvm
    schema_json = (
        '{"type":"record","name":"r","fields":['
        '{"name":"id","type":"long"},'
        '{"name":"name","type":["null","string"]}]}'
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "java.avro")
    writer.create(schema, jvm.java.io.File(p))
    rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
    rec.put("id", 42)
    rec.put("name", "from-java")
    writer.append(rec)
    rec2 = jvm.org.apache.avro.generic.GenericData.Record(schema)
    rec2.put("id", 43)
    rec2.put("name", None)
    writer.append(rec2)
    writer.close()
    assert list(avroio.read_file(p)) == [(42, "from-java"), (43, None)]


def test_cmr_script_avro_load_store(spark, tmp_path):
    """LOAD/STORE ... USING AVRO through the .cmr frontend
    (AvroStorage.java:32 parity)."""
    from cubert_spark.script import run_script

    out = str(tmp_path / "avro_out")
    script = """
PROGRAM "avro io";

JOB "write"
    MAP {
        n = LOAD "/root/testdata/sf0.001/nation.parquet" USING PARQUET();
        keep = FROM n GENERATE n_nationkey, n_name, n_regionkey;
    }
    STORE keep INTO "%s" USING AVRO();
END

JOB "read back"
    MAP {
        back = LOAD "%s" USING AVRO();
        agg = GROUP back BY n_regionkey AGGREGATES COUNT(n_nationkey) AS n;
    }
END
""" % (out, out)
    env = run_script(spark, script)
    rows = {r["n_regionkey"]: r["n"] for r in env["agg"].collect()}
    assert sum(rows.values()) == 25 and len(rows) == 5


def test_union_null_second_branch(tmp_path):
    """[T, "null"] unions (null branch LAST) must encode/decode with
    the declared branch order — not an assumed null-first layout."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": ["string", "null"]},
        {"name": "v", "type": "long"},
    ]}
    p = str(tmp_path / "u.avro")
    avroio.write_file(p, schema, [("abc", 1), (None, 2), ("xyz", 3)])
    assert list(avroio.read_file(p)) == [("abc", 1), (None, 2), ("xyz", 3)]


def test_java_reads_null_second_union(spark, tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": ["string", "null"]},
        {"name": "v", "type": "long"},
    ]}
    p = str(tmp_path / "u2.avro")
    avroio.write_file(p, schema, [("abc", 1), (None, 2)])
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    got = []
    while reader.hasNext():
        got.append(str(reader.next()))
    reader.close()
    assert '"s": "abc"' in got[0] and '"v": 1' in got[0]
    assert '"s": null' in got[1]


def test_reader_default_value_applied(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}]}
    p = str(tmp_path / "d.avro")
    avroio.write_file(p, schema, [(1,), (2,)])
    reader = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "score", "type": "double", "default": 0.5},
    ]}
    assert list(avroio.read_file(p, reader_schema=reader)) == [
        (1, 0.5), (2, 0.5)
    ]


def test_array_with_null_elements_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["a", None, "b"]), (2, None), (3, [])],
        "id long, tags array<string>",
    )
    out = str(tmp_path / "arr")
    catalog.store(df, out, fmt="avro")
    back = catalog.load(spark, out, fmt="avro")
    assert sorted(map(tuple, back.collect())) == [
        (1, ["a", None, "b"]), (2, None), (3, [])
    ]


def test_split_ranges_tile_exactly(tmp_path):
    """Any tiling of the file into byte ranges yields every row exactly
    once (sync-marker split protocol) — including boundaries that land
    inside blocks, on sync markers, and inside the header."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "payload", "type": "string"},
    ]}
    p = str(tmp_path / "big.avro")
    rows = [(i, f"row-{i}-" + "x" * (i % 37)) for i in range(2000)]
    avroio.write_file(p, schema, rows, codec="null", sync_interval=50)
    size = os.path.getsize(p)
    import itertools

    for n_splits in (1, 2, 3, 7, 13):
        bounds = [round(size * i / n_splits) for i in range(n_splits + 1)]
        got = list(itertools.chain.from_iterable(
            avroio.read_file(p, start=a, end=b)
            for a, b in zip(bounds, bounds[1:])
        ))
        assert got == rows, f"tiling broke at n_splits={n_splits}"


def test_split_ranges_tile_deflate(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}]}
    p = str(tmp_path / "z.avro")
    rows = [(i,) for i in range(5000)]
    avroio.write_file(p, schema, rows, codec="deflate", sync_interval=100)
    size = os.path.getsize(p)
    mid = size // 2
    got = list(avroio.read_file(p, start=0, end=mid)) + list(
        avroio.read_file(p, start=mid, end=size)
    )
    assert got == rows


def test_spark_reads_split_partitions(spark, tmp_path):
    """splitSize smaller than the file -> multiple input partitions,
    same rows."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": "string"},
    ]}
    p_dir = tmp_path / "split_ds"
    p_dir.mkdir()
    rows = [(i, f"v{i}") for i in range(3000)]
    avroio.write_file(str(p_dir / "one.avro"), schema, rows, sync_interval=64)
    from cubert_spark.sources import register_sources

    register_sources(spark)
    df = (
        spark.read.format("cubert_avro")
        .option("splitSize", "2000")
        .load(str(p_dir))
    )
    assert df.rdd.getNumPartitions() > 4
    assert sorted(map(tuple, df.collect())) == rows


def test_reused_dataframe_applies_each_filter(spark, tmp_path):
    """The Avro reader pushes no filter into its scan: Spark keeps its
    own Filter node, so one DataFrame reused across differently-filtered
    queries answers each of them (the JVM caches the planned scan per
    DataFrame instance, which would bake a pushed filter in)."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
    ]}
    d = tmp_path / "pf"
    d.mkdir()
    avroio.write_file(str(d / "f.avro"), schema, [(i,) for i in range(400)])
    from cubert_spark.sources import register_sources

    register_sources(spark)
    df = spark.read.format("cubert_avro").load(str(d))
    filtered = df.filter("id >= 395")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert " Filter " in plan, plan
    assert filtered.count() == 5
    assert df.count() == 400
