"""Avro source/sink: a self-contained Object Container File codec
(Apache Avro 1.12 specification, avro.apache.org — binary encoding +
container framing) with distributed Spark plumbing.

Why hand-rolled: the pip PySpark distribution ships the ``avro`` core
jars but NOT the ``spark-avro`` datasource, and no Python avro package
is available in this environment — yet Avro remains the row-oriented
interchange format Kafka/schema-registry shops hand around (the
reference's "alternative format flag" sink pattern,
``mhm-data-pipelines/mdp/collect_data_metadata.py:107-110``, is exactly
this shape: same table, different container). The binary format is
small and fully specified: zigzag-varint longs, IEEE little-endian
floats, length-prefixed bytes/strings, records as field concatenation,
unions as a branch index, and a container of deflate-able blocks
delimited by a 16-byte sync marker.

Scale shape: the WRITE is one ``mapInPandas`` pass — each task encodes
its Arrow batches and streams them into one container file per
partition (one block per Arrow batch, so memory is batch-bounded), and
only a one-row-per-file manifest returns to the driver. The READ is
``binaryFile`` (one task per container) + ``mapInPandas`` decode, so
both directions scale with partition count, never through the driver.
Avro is a ROW format: the decode necessarily touches every field of
every row in Python — that is the format's cost, not the plan's; for
analytics-at-rest convert to parquet once and scan that
(:func:`mhm_data_pipelines_spark.sources.io.write_table`).

Cross-implementation parity is tested against the JVM Avro reader
(``org.apache.avro.file.DataFileReader``) that ships on Spark's own
classpath — files written here are read back by the reference Java
implementation and vice versa (tests/test_avro.py).

Supported Spark types: long, int, double, float, boolean, string,
binary, date (logical date/int), timestamp (logical
timestamp-micros/long), and arrays of the non-logical primitives;
every field may be nullable (union ["null", T]).
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"
#: Rows per Avro block when a container is encoded.
_ROWS_PER_BLOCK = 4096

# ---------------------------------------------------------------- codec

_PRIMITIVE = {  # Spark simpleString -> avro primitive
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "binary": "bytes",
}
_SPARK_OF_AVRO = {  # avro primitive -> Spark type (no session needed)
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}
_LOGICAL = {
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
}


def _avro_type(dt: T.DataType):
    s = dt.simpleString()
    if s in _PRIMITIVE:
        return _PRIMITIVE[s]
    if s in _LOGICAL:
        return dict(_LOGICAL[s])
    if isinstance(dt, T.ArrayType):
        item = dt.elementType.simpleString()
        if item in _PRIMITIVE and not dt.containsNull:
            return {"type": "array", "items": _PRIMITIVE[item]}
        raise ValueError(
            f"unsupported avro array item type: {item} "
            f"(containsNull={dt.containsNull})"
        )
    raise ValueError(f"unsupported avro field type: {s}")


def spark_to_avro_schema(schema: T.StructType, name: str = "row") -> dict:
    """Spark StructType → Avro record schema (dict form of the JSON).
    Nullable fields become the union ``["null", T]`` with null first
    (the spec's convention for default-null fields)."""
    fields = []
    for f in schema.fields:
        at = _avro_type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", at] if f.nullable else at}
        )
    return {"type": "record", "name": name, "fields": fields}


def avro_to_spark_schema(avro_schema: dict) -> T.StructType:
    """Avro record schema → Spark StructType (inverse of
    :func:`spark_to_avro_schema` over the supported subset)."""
    def one(at):
        if isinstance(at, list):  # union ["null", T]
            branches = [b for b in at if b != "null"]
            if len(branches) != 1:
                raise ValueError(f"unsupported union: {at}")
            dt, _ = one(branches[0])
            return dt, True
        if isinstance(at, dict):
            lt = at.get("logicalType")
            if lt == "date":
                return T.DateType(), False
            if lt == "timestamp-micros":
                return T.TimestampType(), False
            if at.get("type") == "array":
                idt, _ = one(at["items"])
                return T.ArrayType(idt, containsNull=False), False
            return one(at["type"])
        if at in _SPARK_OF_AVRO:
            return _SPARK_OF_AVRO[at], False
        raise ValueError(f"unsupported avro type: {at}")

    fields = []
    for f in avro_schema["fields"]:
        dt, nullable = one(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _write_long(out: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _field_writer(dt: T.DataType):
    """Value encoder for one supported Spark type (non-null path)."""
    s = dt.simpleString()
    if s in ("long", "int", "bigint"):
        # int() strips numpy scalar types — np.int64 << 1 would
        # overflow in the zigzag where Python ints are unbounded.
        return lambda out, v: _write_long(out, int(v))
    if s == "double":
        return lambda out, v: out.write(struct.pack("<d", float(v)))
    if s == "float":
        return lambda out, v: out.write(struct.pack("<f", float(v)))
    if s == "boolean":
        return lambda out, v: out.write(b"\x01" if v else b"\x00")
    if s == "string":
        return lambda out, v: _write_bytes(out, str(v).encode("utf-8"))
    if s == "binary":
        return lambda out, v: _write_bytes(out, bytes(v))
    if s == "date":
        import datetime

        epoch = datetime.date(1970, 1, 1)
        return lambda out, v: _write_long(out, (v - epoch).days)
    if s == "timestamp":
        import datetime

        # Naive datetimes (the Arrow-batch representation) encode
        # relative to the naive epoch — symmetric with _field_reader,
        # and equal to timestamp-micros when the session runs UTC.
        epoch = datetime.datetime(1970, 1, 1)

        def w(out, v):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            delta = v - epoch
            micros = (
                delta.days * 86_400_000_000
                + delta.seconds * 1_000_000
                + delta.microseconds
            )
            _write_long(out, micros)

        return w
    if isinstance(dt, T.ArrayType):
        item = _field_writer(dt.elementType)

        def w(out, v):
            vals = list(v)
            if vals:
                _write_long(out, len(vals))
                for x in vals:
                    item(out, x)
            _write_long(out, 0)

        return w
    raise ValueError(f"unsupported avro field type: {s}")


def _row_encoder(schema: T.StructType):
    writers = [
        (f.name, f.nullable, _field_writer(f.dataType))
        for f in schema.fields
    ]

    def encode(out: io.BytesIO, row: dict) -> None:
        for name, nullable, w in writers:
            v = row[name]
            if nullable:
                if v is None:
                    _write_long(out, 0)  # union branch: null
                    continue
                _write_long(out, 1)  # union branch: the value
            w(out, v)

    return encode


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        z, shift = 0, 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (z >> 1) ^ -(z & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _field_reader(dt: T.DataType):
    s = dt.simpleString()
    if s in ("long", "int", "bigint"):
        return _Reader.read_long
    if s == "double":
        return lambda r: struct.unpack("<d", r.read_fixed(8))[0]
    if s == "float":
        return lambda r: struct.unpack("<f", r.read_fixed(4))[0]
    if s == "boolean":
        return lambda r: r.read_fixed(1) == b"\x01"
    if s == "string":
        return lambda r: r.read_bytes().decode("utf-8")
    if s == "binary":
        return lambda r: bytes(r.read_bytes())
    if s == "date":
        import datetime

        epoch = datetime.date(1970, 1, 1)
        return lambda r: epoch + datetime.timedelta(days=r.read_long())
    if s == "timestamp":
        import datetime

        epoch = datetime.datetime(1970, 1, 1)

        def rd(r):
            return epoch + datetime.timedelta(microseconds=r.read_long())

        return rd
    if isinstance(dt, T.ArrayType):
        item = _field_reader(dt.elementType)

        def rd(r):
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix
                    n = -n
                    r.read_long()
                for _ in range(n):
                    out.append(item(r))

        return rd
    raise ValueError(f"unsupported avro field type: {s}")


def _row_decoder(schema: T.StructType):
    readers = [
        (f.name, f.nullable, _field_reader(f.dataType))
        for f in schema.fields
    ]

    def decode(r: _Reader) -> dict:
        row = {}
        for name, nullable, rd in readers:
            if nullable and r.read_long() == 0:
                row[name] = None
            else:
                row[name] = rd(r)
        return row

    return decode


def _container_header(avro_schema: dict, codec: str, sync: bytes) -> bytes:
    out = io.BytesIO()
    out.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)  # end of metadata map
    out.write(sync)
    return out.getvalue()


def _parse_header(r: _Reader) -> tuple[dict, str, bytes]:
    if r.read_fixed(4) != _MAGIC:
        raise ValueError("not an avro container file")
    meta = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode()
            meta[k] = r.read_bytes()
    sync = r.read_fixed(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync


def encode_container(
    rows, schema: T.StructType, codec: str = "deflate",
    rows_per_block: int = _ROWS_PER_BLOCK,
) -> bytes:
    """Encode an iterable of dict rows into one complete Avro container
    (header + blocks + sync framing). Memory is block-bounded."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec: {codec}")
    avro_schema = spark_to_avro_schema(schema)
    sync = uuid.uuid4().bytes
    enc = _row_encoder(schema)
    out = io.BytesIO()
    out.write(_container_header(avro_schema, codec, sync))
    block, count = io.BytesIO(), 0
    for row in rows:
        enc(block, row)
        count += 1
        if count >= rows_per_block:
            _flush_block(out, block.getvalue(), count, codec, sync)
            block, count = io.BytesIO(), 0
    if count:
        _flush_block(out, block.getvalue(), count, codec, sync)
    return out.getvalue()


def _flush_block(
    out: io.BytesIO, data: bytes, count: int, codec: str, sync: bytes
) -> None:
    if codec == "deflate":  # raw RFC-1951 stream per the spec
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        data = co.compress(data) + co.flush()
    _write_long(out, count)
    _write_long(out, len(data))
    out.write(data)
    out.write(sync)


def decode_container(buf: bytes) -> tuple[T.StructType, list[dict]]:
    """Decode one complete Avro container into (spark schema, rows)."""
    r = _Reader(buf)
    avro_schema, codec, sync = _parse_header(r)
    schema = avro_to_spark_schema(avro_schema)
    dec = _row_decoder(schema)
    rows = []
    while r.pos < len(r.buf):
        count = r.read_long()
        size = r.read_long()
        data = r.read_fixed(size)
        if codec == "deflate":
            data = zlib.decompress(data, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec: {codec}")
        br = _Reader(data)
        for _ in range(count):
            rows.append(dec(br))
        if r.read_fixed(16) != sync:
            raise ValueError("avro block sync mismatch (corrupt file)")
    return schema, rows


# ------------------------------------------------------------ spark io


def write_avro(
    df: DataFrame, path: str, codec: str = "deflate"
) -> list[dict]:
    """Distributed Avro container sink: one file per input partition,
    encoded task-side from Arrow batches (one Avro block per batch
    chunk — memory stays batch-bounded), named
    ``part-<pid>-<uuid>.avro``. Only the one-row-per-file manifest
    ``[{path, rows}]`` returns to the driver (bounded collect).

    ``path`` must be a directory reachable from executors (POSIX/NFS/
    fuse mount — the Python worker has no Hadoop FS client; on a
    JVM-datasource cluster prefer spark-avro for object stores)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec: {codec}")
    schema = df.schema
    for f in schema.fields:
        _avro_type(f.dataType)  # fail fast on unsupported types
    os.makedirs(path, exist_ok=True)

    def encode(it):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows_total = 0
        fname = None
        out = None
        enc = _row_encoder(schema)
        sync = uuid.uuid4().bytes
        avro_schema = spark_to_avro_schema(schema)
        for pdf in it:
            if out is None:
                fname = os.path.join(
                    path, f"part-{pid:05d}-{uuid.uuid4().hex}.avro"
                )
                out = open(fname, "wb")
                out.write(_container_header(avro_schema, codec, sync))
            recs = pdf.to_dict("records")
            for i in range(0, len(recs), _ROWS_PER_BLOCK):
                chunk = recs[i : i + _ROWS_PER_BLOCK]
                block = io.BytesIO()
                for row in chunk:
                    enc(block, _clean(row))
                _flush_block(out, block.getvalue(), len(chunk), codec, sync)
            rows_total += len(recs)
        if out is not None:
            out.close()
            yield pd.DataFrame({"path": [fname], "rows": [rows_total]})

    manifest = df.mapInPandas(encode, schema="path string, rows long")
    return [r.asDict() for r in manifest.collect()]


def _clean(row: dict) -> dict:
    """pandas NaN/NaT → None so the null union branch is taken.
    Sized values (strings/bytes/arrays) are never NaN scalars and
    pd.isna would return elementwise arrays for them — skip those."""
    import pandas as pd

    out = {}
    for k, v in row.items():
        if v is None or (not hasattr(v, "__len__") and pd.isna(v)):
            out[k] = None
        else:
            out[k] = v
    return out


def read_avro(spark, path: str) -> DataFrame:
    """Distributed Avro container source: ``binaryFile`` gives one task
    per container file; each task decodes its file's blocks into Arrow
    batches. The schema comes from the FIRST file's embedded writer
    schema (read driver-side — one small header, not a data scan).
    Size part files like parquet row groups (~128 MB) so one file is
    one sensible task."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "*.avro")))
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    with open(files[0], "rb") as f:
        head = f.read(1 << 20)
    avro_schema, _, _ = _parse_header(_Reader(head))
    schema = avro_to_spark_schema(avro_schema)

    def decode(it):
        import pandas as pd

        for pdf in it:
            for content in pdf["content"]:
                _, rows = decode_container(bytes(content))
                yield pd.DataFrame.from_records(
                    rows, columns=[f.name for f in schema.fields]
                )

    binf = spark.read.format("binaryFile").load(
        os.path.join(path, "*.avro")
    )
    return binf.select("content").mapInPandas(decode, schema=schema)
