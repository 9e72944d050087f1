"""Pure-Python Avro Object Container File codec + ``pyavro`` DataSource.

Avro is an EXTERNAL Spark module: the ``spark-avro`` datasource jar is
not bundled with pyspark. Rather than leaving the format to depend on
the deployment's classpath, this module implements the Avro 1.x Object
Container File spec (public: avro.apache.org/docs/current/specification)
directly — zigzag-varint primitives, file header with schema metadata,
sync-marked data blocks, null/deflate codecs — and plugs it into Spark
through the PySpark 4 Python DataSource API as ``format("pyavro")``.

Files written here are REAL Avro: any stock reader (avro-tools,
fastavro, the spark-avro jar) can read them, and vice versa for flat
record schemas. ``format("pyavro")`` is the engine's one Avro path, so
the format works everywhere the engine does.

Scale notes: reads parallelize one task per container file (the writer
produces one file per input partition, so layout parallelism is
preserved round-trip); decode is per-row Python — fine for the
interchange-format role Avro plays (row-oriented landing feeds), wrong
for analytics storage, which stays parquet/ORC. Supported types cover
the engine's landing contracts: boolean/int/long/float/double/string/
bytes, nullable unions, and timestamp-micros logical types.
"""

from __future__ import annotations

import glob
import io
import json
import os
import struct
import zlib
from collections.abc import Iterator
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

MAGIC = b"Obj\x01"
#: deterministic sync marker (spec requires 16 bytes; randomness is not
#: required, only uniqueness within a stream's block boundaries)
SYNC = b"spark-graft-sync"  # exactly 16 bytes


# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec §Binary Encoding)
# ---------------------------------------------------------------------------

def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def read_long(buf: io.BufferedIOBase) -> int:
    shift, acc = 0, 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7


def write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def read_bytes(buf: io.BufferedIOBase) -> bytes:
    n = read_long(buf)
    b = buf.read(n)
    if len(b) != n:
        raise EOFError("truncated bytes")
    return b


# ---------------------------------------------------------------------------
# schema-driven value codec (flat records, nullable unions, logical ts)
# ---------------------------------------------------------------------------

def _is_nullable_union(t: Any) -> bool:
    return isinstance(t, list) and len(t) == 2 and "null" in t


def _branch(t: list) -> Any:
    return t[0] if t[1] == "null" else t[1]


def _base_name(t: Any) -> str:
    """'long' for both plain primitives and logical-typed dict forms."""
    if isinstance(t, dict):
        return t["type"]
    return t


def write_value(buf: io.BytesIO, t: Any, v: Any) -> None:
    if _is_nullable_union(t):
        null_idx = t.index("null")
        if v is None:
            write_long(buf, null_idx)
            return
        write_long(buf, 1 - null_idx)
        t = _branch(t)
    name = _base_name(t)
    if name in ("long", "int"):
        if isinstance(t, dict) and t.get("logicalType", "").startswith(
            "timestamp"
        ):
            v = _ts_to_micros(v)
        write_long(buf, int(v))
    elif name == "double":
        buf.write(struct.pack("<d", float(v)))
    elif name == "float":
        buf.write(struct.pack("<f", float(v)))
    elif name == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif name == "string":
        write_bytes(buf, str(v).encode("utf-8"))
    elif name == "bytes":
        write_bytes(buf, bytes(v))
    else:
        raise NotImplementedError(f"avro type {t!r}")


def read_value(buf: io.BufferedIOBase, t: Any) -> Any:
    if _is_nullable_union(t):
        idx = read_long(buf)
        if t[idx] == "null":
            return None
        t = t[idx]
    name = _base_name(t)
    if name in ("long", "int"):
        n = read_long(buf)
        if isinstance(t, dict) and t.get("logicalType", "").startswith(
            "timestamp"
        ):
            return _micros_to_ts(n)
        return n
    if name == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if name == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if name == "boolean":
        return buf.read(1) == b"\x01"
    if name == "string":
        return read_bytes(buf).decode("utf-8")
    if name == "bytes":
        return read_bytes(buf)
    raise NotImplementedError(f"avro type {t!r}")


def _ts_to_micros(v: Any) -> int:
    import datetime

    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            epoch = datetime.datetime(1970, 1, 1)
        else:
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return int((v - epoch).total_seconds() * 1_000_000)
    raise NotImplementedError(f"timestamp value {type(v)}")


def _micros_to_ts(n: int):
    import datetime

    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=n)


# ---------------------------------------------------------------------------
# container file read/write
# ---------------------------------------------------------------------------

def write_avro_file(
    path: str,
    records: Iterator[tuple],
    schema: dict,
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Write an Avro Object Container File; returns rows written.

    ``records`` yields tuples in schema-field order. Rows are buffered
    into sync-marked blocks (``block_rows`` per block) so a reader can
    split/skip at block granularity, and deflate-compressed by default
    (the spec's required-everywhere codec pair is null+deflate).
    """
    fields = schema["fields"]
    n_rows = 0
    with open(path, "wb") as f:
        f.write(MAGIC)
        meta = io.BytesIO()
        write_long(meta, 2)  # metadata map: one block of 2 entries
        write_bytes(meta, b"avro.schema")
        write_bytes(meta, json.dumps(schema).encode("utf-8"))
        write_bytes(meta, b"avro.codec")
        write_bytes(meta, codec.encode())
        write_long(meta, 0)  # end of map
        f.write(meta.getvalue())
        f.write(SYNC)

        block = io.BytesIO()
        count = 0

        def flush() -> None:
            nonlocal count
            if not count:
                return
            payload = block.getvalue()
            if codec == "deflate":
                # spec: raw deflate, no zlib header/checksum
                payload = zlib.compress(payload)[2:-4]
            head = io.BytesIO()
            write_long(head, count)
            write_long(head, len(payload))
            f.write(head.getvalue())
            f.write(payload)
            f.write(SYNC)
            block.seek(0)
            block.truncate()
            count = 0

        for rec in records:
            for fld, v in zip(fields, rec):
                write_value(block, fld["type"], v)
            count += 1
            n_rows += 1
            if count >= block_rows:
                flush()
        flush()
    return n_rows


def read_avro_header(path: str) -> dict:
    """Parse just the header; returns the avro.schema dict (driver-side
    schema discovery reads one header, never data blocks)."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _read_meta_map(f)
    return json.loads(meta[b"avro.schema"].decode("utf-8"))


def _read_meta_map(f: io.BufferedIOBase) -> dict[bytes, bytes]:
    meta: dict[bytes, bytes] = {}
    while True:
        n = read_long(f)
        if n == 0:
            break
        if n < 0:  # negative count block carries a byte size first
            n = -n
            read_long(f)
        for _ in range(n):
            k = read_bytes(f)
            meta[k] = read_bytes(f)
    f.read(16)  # sync marker
    return meta


def read_avro_file(path: str) -> tuple[dict, list[tuple]]:
    """Read a whole container file; returns (schema, rows-as-tuples)."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an Avro container file")
        meta = _read_meta_map(f)
        schema = json.loads(meta[b"avro.schema"].decode("utf-8"))
        codec = meta.get(b"avro.codec", b"null").decode()
        fields = schema["fields"]
        rows: list[tuple] = []
        while True:
            probe = f.read(1)
            if not probe:
                break
            f.seek(-1, os.SEEK_CUR)
            count = read_long(f)
            size = read_long(f)
            payload = f.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            elif codec != "null":
                raise NotImplementedError(f"avro codec {codec!r}")
            block = io.BytesIO(payload)
            for _ in range(count):
                rows.append(
                    tuple(read_value(block, fld["type"]) for fld in fields)
                )
            sync = f.read(16)  # writer-chosen marker; skip, length-checked
            if len(sync) != 16:
                raise EOFError(f"{path}: truncated sync marker")
    return schema, rows


# ---------------------------------------------------------------------------
# Spark <-> Avro schema mapping
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO: list[tuple[type, Any]] = [
    (LongType, "long"),
    (IntegerType, "int"),
    (DoubleType, "double"),
    (FloatType, "float"),
    (BooleanType, "boolean"),
    (StringType, "string"),
    (BinaryType, "bytes"),
    (TimestampNTZType, {"type": "long", "logicalType": "timestamp-micros"}),
    (TimestampType, {"type": "long", "logicalType": "timestamp-micros"}),
]

_AVRO_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "bytes": "binary",
}


def spark_schema_to_avro(schema: StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        avro_t: Any = None
        for spark_cls, a in _SPARK_TO_AVRO:
            if isinstance(f.dataType, spark_cls):
                avro_t = a
                break
        if avro_t is None:
            raise NotImplementedError(
                f"pyavro: unsupported Spark type {f.dataType} ({f.name})"
            )
        fields.append(
            {"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t}
        )
    return {"type": "record", "name": name, "fields": fields}


def avro_schema_to_ddl(schema: dict) -> str:
    cols = []
    for f in schema["fields"]:
        t = f["type"]
        if _is_nullable_union(t):
            t = _branch(t)
        if isinstance(t, dict):
            if t.get("logicalType", "").startswith("timestamp"):
                ddl = "timestamp_ntz"
            else:
                ddl = _AVRO_TO_DDL[t["type"]]
        else:
            ddl = _AVRO_TO_DDL[t]
        cols.append(f"{f['name']} {ddl}")
    return ", ".join(cols)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------

class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class _FileCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class PyAvroDataSource(DataSource):
    """``format("pyavro")`` — pure-Python Avro container files.

    Read: ``spark.read.format("pyavro").load(dir_or_file)`` (schema from
    the first file's header; one task per file). Write:
    ``df.write.format("pyavro").mode(...).save(dir)`` (one file per
    input partition, deflate blocks).
    """

    @classmethod
    def name(cls) -> str:
        return "pyavro"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("pyavro: path option is required")
        if os.path.isdir(path):
            return sorted(glob.glob(os.path.join(path, "*.avro")))
        return [path]

    def schema(self) -> str:
        paths = self._paths()
        if not paths:
            raise ValueError("pyavro: no .avro files under path")
        return avro_schema_to_ddl(read_avro_header(paths[0]))

    def reader(self, schema) -> "PyAvroReader":
        return PyAvroReader(self._paths())

    def writer(self, schema: StructType, overwrite: bool) -> "PyAvroWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("pyavro: path option is required")
        return PyAvroWriter(path, schema, overwrite)


class PyAvroReader(DataSourceReader):
    def __init__(self, paths: list[str]) -> None:
        self.paths = paths

    def partitions(self):
        return [_FilePartition(p) for p in self.paths]

    def read(self, partition: _FilePartition):
        _, rows = read_avro_file(partition.path)
        yield from rows


class PyAvroWriter(DataSourceWriter):
    def __init__(self, path: str, schema: StructType, overwrite: bool) -> None:
        self.path = path
        self.schema = schema
        self.avro_schema = spark_schema_to_avro(schema)
        self.overwrite = overwrite
        # driver-side setup: the write tasks only append files
        if os.path.isdir(path):
            if not overwrite:
                raise ValueError(f"pyavro: {path} exists (mode=overwrite to replace)")
            for old in glob.glob(os.path.join(path, "*.avro")):
                os.remove(old)
        os.makedirs(path, exist_ok=True)

    def write(self, iterator) -> _FileCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else os.getpid()
        out = os.path.join(self.path, f"part-{pid:05d}.avro")
        names = self.schema.fieldNames()
        n = write_avro_file(
            out, (tuple(row[c] for c in names) for row in iterator),
            self.avro_schema,
        )
        return _FileCommit(out, n)

    def commit(self, messages) -> None:
        # all-or-nothing bookkeeping: a real object-store sink would move
        # task temp files into place here; local-FS files are final
        return None

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
