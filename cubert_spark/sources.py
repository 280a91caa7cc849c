"""Custom storage surface (SURVEY.md §2.9: ``implement Storage``,
src/io/Storage.java:27 / StorageFactory.java:41-50) — realized with
Spark's Python DataSource API (pyspark.sql.datasource, Spark ≥4.0).

Two sources ship:

- ``virtual``  — the reference's VIRTUAL input (VirtualStorage.java:43)
  as a first-class registered format: ``spark.read.format("virtual")
  .option("rows", n)`` synthesizes n rows with no backing file,
  partitioned across executors.
- ``textdict`` — a line-oriented dictionary-file reader (one value per
  line -> (value, code) rows, codes 1-based in file order), the custom
  line-format example in the Storage contract.

Registration is per-session: ``register_sources(spark)`` (done by
``cubert_spark.get_session``... no — kept explicit: custom formats are
opt-in, exactly like Cubert's ``USING com.example.Storage``).

Partitioning note: ``virtual`` splits its row range into
``numPartitions`` even slices — generation is executor-side and
embarrassingly parallel; there is no driver materialization, so a
trillion-row virtual input is as cheap as a small one.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _assert_local(path: str, who: str) -> None:
    """The pure-Python codecs here read/write with open()/glob —
    local-FS semantics. On hdfs://s3a:// a glob silently matches
    nothing and os.makedirs creates a literal local "hdfs:" dir, so a
    URI-schemed path must fail loudly (same contract as the streaming
    state probes and the tx log)."""
    from cubert_spark.catalog import _is_uri_schemed

    if _is_uri_schemed(path):
        raise ValueError(
            f"{who} path {path!r} is URI-schemed; this Python DataSource "
            "is local-FS-only. Use a local (or locally mounted) path."
        )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class VirtualDataSource(DataSource):
    """``LOAD ... USING VIRTUAL`` — n synthetic rows (id LONG)."""

    @classmethod
    def name(cls) -> str:
        return "virtual"

    def schema(self) -> str:
        return "id long"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _VirtualReader(self.options)


class _VirtualReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 100))
        self.parts = int(options.get("numPartitions", 8))

    def partitions(self):
        step = max(1, self.rows // self.parts)
        out = []
        start = 0
        while start < self.rows:
            out.append(_RangePartition(start, min(start + step, self.rows)))
            start += step
        return out or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i,)


class TextDictDataSource(DataSource):
    """Line-oriented dictionary file -> (value STRING, code INT),
    codes 1-based in file order (GenerateDictionary semantics for a
    hand-authored dictionary file)."""

    @classmethod
    def name(cls) -> str:
        return "textdict"

    def schema(self) -> str:
        return "value string, code int"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _TextDictReader(self.options)


class _TextDictReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("textdict requires a path")

    def read(self, partition):
        # a dictionary file is small by contract (it broadcasts
        # downstream); single-partition read keeps codes stable
        with open(self.path) as f:
            code = 0
            for line in f:
                line = line.rstrip("\n")
                if line:
                    code += 1
                    yield (line, code)


class AvroDataSource(DataSource):
    """Avro object-container files via the pure-Python codec in
    :mod:`cubert_spark.avroio` (no spark-avro jar in this environment;
    reference parity: AvroStorage.java:32, null-padding evolution per
    reference CHANGELOG:6).

    Read: one partition per ``.avro`` file; each file is resolved
    against the session read schema BY NAME, so a directory of files
    written under evolving schemas reads as one null-padded relation.
    Write: one file per partition, deflate-compressed by default.
    Registered as ``cubert_avro`` (Spark reserves the name ``avro``
    for its external module); ``catalog.load/store`` route
    ``fmt="avro"`` here.
    """

    @classmethod
    def name(cls) -> str:
        return "cubert_avro"

    def _paths(self):
        # Spark hands one load path over as ``path`` and several (a
        # date-range LOAD) as ``paths``, a JSON array
        if self.options.get("paths"):
            roots = json.loads(self.options["paths"])
        elif self.options.get("path"):
            roots = [self.options["path"]]
        else:
            raise ValueError("cubert_avro requires a path")
        files = []
        for path in roots:
            _assert_local(path, "cubert_avro")
            if os.path.isdir(path):
                files += sorted(glob.glob(os.path.join(path, "*.avro")))
            else:
                files += sorted(glob.glob(path)) or [path]
        return files

    def schema(self) -> str:
        from cubert_spark import avroio

        if self.options.get("avroSchema"):
            return avroio.avro_to_spark_ddl(self.options["avroSchema"])
        paths = self._paths()
        if not paths:
            raise avroio.AvroError(
                f"no .avro files found at {self.options.get('paths') or self.options.get('path')!r}"
            )
        with open(paths[0], "rb") as f:
            file_schema, _, _ = avroio.read_header(f)
        return avroio.avro_to_spark_ddl(file_schema)

    def reader(self, schema: StructType) -> DataSourceReader:
        # default split is 16MB, not Hadoop's 128MB: the bottleneck is
        # the pure-Python decode (~10MB/s/task), not IO, so smaller
        # splits keep every core fed (measured 8x on a single 11MB
        # file on local[16])
        split_size = int(self.options.get("splitSize", 16 << 20))
        return _AvroReader(self._paths(), schema, split_size)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("cubert_avro requires a path")
        _assert_local(path, "cubert_avro")
        if overwrite and os.path.isdir(path):
            for old in glob.glob(os.path.join(path, "*.avro")):
                os.remove(old)
        os.makedirs(path, exist_ok=True)
        return _AvroWriter(path, schema, self.options.get("codec", "deflate"))


class _AvroFilePartition(InputPartition):
    def __init__(self, path: str, start: int = 0, end: int | None = None):
        self.path = path
        self.start = start
        self.end = end


class _AvroReader(DataSourceReader):
    #: rows per yielded Arrow batch (bounded decode buffer per task)
    BATCH_ROWS = 4096

    def __init__(self, paths, schema: StructType, split_size: int = 16 << 20):
        from pyspark.sql.types import TimestampType

        from cubert_spark import avroio

        self.paths = paths
        self.split_size = max(split_size, 1)
        # resolve every file against ONE reader schema (the session
        # read schema) so heterogeneous files null-pad consistently
        self.reader_schema = avroio.spark_to_avro_schema(schema)
        # Arrow-batched hand-off: ~10x cheaper than per-row pickling.
        # tz-aware TimestampType falls back to row yields (the codec
        # emits process-local naive datetimes, which Arrow would
        # misread as UTC wall-clock); timestamp_ntz stays batched.
        self.arrow_schema = None

        def _has_tz_ts(dt):
            from pyspark.sql.types import ArrayType

            if isinstance(dt, TimestampType):
                return True
            return isinstance(dt, ArrayType) and _has_tz_ts(dt.elementType)

        if not any(_has_tz_ts(f.dataType) for f in schema.fields):
            try:
                from pyspark.sql.pandas.types import to_arrow_schema

                self.arrow_schema = to_arrow_schema(schema)
            except Exception:  # noqa: BLE001 - optional fast path
                self.arrow_schema = None

    def partitions(self):
        # files larger than splitSize scan as multiple byte-range
        # partitions (sync-marker split protocol, avroio.read_file) —
        # one huge container file still parallelizes across executors
        out = []
        for p in self.paths:
            size = os.path.getsize(p)
            if size <= self.split_size:
                out.append(_AvroFilePartition(p))
                continue
            start = 0
            while start < size:
                out.append(
                    _AvroFilePartition(
                        p, start, min(start + self.split_size, size)
                    )
                )
                start += self.split_size
        return out

    def read(self, partition: _AvroFilePartition):
        from cubert_spark import avroio

        rows = avroio.read_file(
            partition.path,
            reader_schema=self.reader_schema,
            start=partition.start,
            end=partition.end,
        )
        if self.arrow_schema is None:
            yield from rows
            return
        import pyarrow as pa

        sch = self.arrow_schema
        buf = []
        for row in rows:
            buf.append(row)
            if len(buf) >= self.BATCH_ROWS:
                yield _rows_to_batch(buf, sch, pa)
                buf = []
        if buf:
            yield _rows_to_batch(buf, sch, pa)


def _rows_to_batch(rows, sch, pa):
    cols = list(zip(*rows))
    arrays = [
        pa.array(list(c), type=f.type) for c, f in zip(cols, sch)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=sch)


@dataclass
class _AvroCommit(WriterCommitMessage):
    tmp: str = ""
    final: str = ""


class _AvroWriter(DataSourceWriter):
    """Tasks write to ``*.avro.tmp`` staging names; ``commit`` renames
    the successful tasks' files to ``*.avro`` on the driver. A failed
    or retried task's partial staging file is never renamed and the
    read path globs only ``*.avro``, so partial output cannot poison
    later reads."""

    def __init__(self, path: str, schema: StructType, codec: str):
        from cubert_spark import avroio

        self.path = path
        self.codec = codec
        self.avro_schema = avroio.spark_to_avro_schema(schema)
        self.names = [f.name for f in schema.fields]

    def write(self, iterator) -> _AvroCommit:
        from cubert_spark import avroio

        final = os.path.join(self.path, f"part-{uuid.uuid4().hex}.avro")
        tmp = final + ".tmp"
        avroio.write_file(
            tmp,
            self.avro_schema,
            (tuple(row) for row in iterator),
            codec=self.codec,
        )
        return _AvroCommit(tmp=tmp, final=final)

    def commit(self, messages) -> None:
        for m in messages:
            if m and m.tmp and os.path.exists(m.tmp):
                os.replace(m.tmp, m.final)
        self._clean_staging()

    def abort(self, messages) -> None:
        for m in messages:
            if m and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)
        self._clean_staging()

    def _clean_staging(self) -> None:
        for leftover in glob.glob(os.path.join(self.path, "*.avro.tmp")):
            os.remove(leftover)


def register_sources(spark) -> None:
    """Register the custom formats on a session (idempotent)."""
    spark.dataSource.register(VirtualDataSource)
    spark.dataSource.register(TextDictDataSource)
    spark.dataSource.register(AvroDataSource)
