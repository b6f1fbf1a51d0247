"""Avro Object Container File writer and reader.

The sandbox ships Spark without the ``spark-avro`` DataSource, but the
reference's public export contract is Avro on the wire
(/root/reference/dags/stellar_etl_airflow/build_bq_generate_avro_job_task.py:13-57).
The Avro format itself is a small public spec (container file: magic,
metadata map, sync-marked blocks; binary encoding: zigzag varints,
length-prefixed bytes/strings — https://avro.apache.org/docs/1.11.1/specification/),
so rather than falling back to parquet we encode real Avro here and run it
distributed from ``exports.write_avro_distributed`` (one container file
per partition via mapInArrow). The writer encodes each block column-wise
from the partition's Arrow record batches with numpy; the reader decodes
row by row and serves ``exports.read_export``.

Schema mapping mirrors spark-avro's public conversion: nullable fields
become ``["null", T]`` unions, timestamps are ``long`` with logicalType
``timestamp-micros``, dates ``int``/``date``, decimals ``bytes`` with the
unscaled big-endian two's-complement encoding, maps need string keys.

Correctness is cross-checked in tests against the OFFICIAL Java Avro
library (``org.apache.avro`` ships in pyspark's jars) reading our files
through py4j — an independent implementation of the spec.
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib
from decimal import Decimal
from typing import Any, Iterable

import numpy as np
import pyarrow as pa

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- encoding

def write_long(out: io.BytesIO, n: int) -> None:
    n = int(n)
    z = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def write_bytes(out: io.BytesIO, b: bytes) -> None:
    write_long(out, len(b))
    out.write(b)


def write_string(out: io.BytesIO, s: str) -> None:
    write_bytes(out, s.encode("utf-8"))


# ---------------------------------------------------------- schema mapping

def spark_schema_to_avro(schema, name: str = "topLevelRecord", _path: str = "") -> dict:
    """Spark StructType -> Avro record schema (spark-avro's public mapping)."""
    from pyspark.sql import types as T

    def convert(dt, nullable: bool, fname: str):
        if isinstance(dt, T.StringType):
            a: Any = "string"
        elif isinstance(dt, T.LongType):
            a = "long"
        elif isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            a = "int"
        elif isinstance(dt, T.DoubleType):
            a = "double"
        elif isinstance(dt, T.FloatType):
            a = "float"
        elif isinstance(dt, T.BooleanType):
            a = "boolean"
        elif isinstance(dt, T.BinaryType):
            a = "bytes"
        elif isinstance(dt, T.TimestampType):
            a = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.DateType):
            a = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, T.DecimalType):
            a = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        elif isinstance(dt, T.ArrayType):
            a = {"type": "array", "items": convert(dt.elementType, dt.containsNull, fname)}
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise TypeError(f"Avro map keys are strings, not {dt.keyType}")
            a = {"type": "map", "values": convert(dt.valueType, dt.valueContainsNull, fname)}
        elif isinstance(dt, T.StructType):
            a = spark_schema_to_avro(dt, name=f"{name}_{fname}")
        else:
            raise TypeError(f"no Avro mapping for Spark type {dt}")
        return ["null", a] if nullable else a

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": convert(f.dataType, f.nullable, f.name)}
            for f in schema.fields
        ],
    }


# ------------------------------------------------------------ datum writer
#
# Column-wise: every Arrow array becomes one Avro datum per element, held
# as a ``(buf, offs)`` pair — uint8 bytes and int64 offsets[n + 1], rows
# contiguous and in order, the shape of an Arrow binary column. Records
# interleave their fields' pairs row by row; no Python runs per value
# except for decimals.

def _offsets(lens: np.ndarray) -> np.ndarray:
    offs = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    return offs


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _varints(z: np.ndarray, skip: np.ndarray | None = None):
    """Avro varints of zigzagged ``z``; rows where ``skip`` is set get no
    bytes."""
    nbytes = np.ones(len(z), np.int64)
    rest = z >> np.uint64(7)
    while rest.any():
        nbytes += rest != 0
        rest >>= np.uint64(7)
    if skip is not None:
        nbytes[skip] = 0
    cols = np.arange(int(nbytes.max()) if len(z) else 0)
    mat = ((z[:, None] >> (7 * cols).astype(np.uint64)) & np.uint64(0x7F)).astype(np.uint8)
    mat[cols < (nbytes - 1)[:, None]] |= 0x80
    return mat[cols < nbytes[:, None]], _offsets(nbytes)


def _interleave(parts: list, n: int):
    """Row i of the result is row i of every part, in order."""
    lens = [np.diff(o) for _, o in parts]
    offs = _offsets(sum(lens) if lens else np.zeros(n, np.int64))
    out = np.empty(int(offs[-1]), np.uint8)
    start = offs[:-1].copy()
    for (buf, o), ln in zip(parts, lens):
        src = buf[o[0]:o[-1]]
        out[np.repeat(start - (o[:-1] - o[0]), ln) + np.arange(len(src))] = src
        start += ln
    return out, offs


def _const(byte: int, n: int):
    return np.full(n, byte, np.uint8), np.arange(n + 1, dtype=np.int64)


def _ints(arr: pa.Array) -> np.ndarray:
    """int/long/date/timestamp-micros values (Spark's Arrow dates are
    date32 days, its timestamps microseconds)."""
    if pa.types.is_timestamp(arr.type):
        arr = arr.view(pa.int64())
    elif pa.types.is_date32(arr.type):
        arr = arr.view(pa.int32())
    return np.asarray(arr)


def _length_prefixed(data: np.ndarray, offs: np.ndarray):
    """string/bytes: a length varint, then the bytes."""
    return _interleave([_varints(_zigzag(np.diff(offs))), (data, offs)], len(offs) - 1)


def _binary(arr: pa.Array):
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    _, off_buf, data_buf = arr.buffers()
    width = 8 if large else 4
    offs = np.frombuffer(off_buf, np.int64 if large else np.int32, len(arr) + 1, arr.offset * width)
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    return _length_prefixed(data, offs.astype(np.int64))


def _decimal(arr: pa.Array):
    """Unscaled big-endian two's complement of minimal length (the one
    per-value loop: Python ints carry the 128-bit arithmetic)."""
    w = arr.type.byte_width
    raw = arr.buffers()[1].to_pybytes()[arr.offset * w:(arr.offset + len(arr)) * w]
    out = []
    for i in range(0, len(raw), w):
        unscaled = int.from_bytes(raw[i:i + w], "little", signed=True)
        out.append(unscaled.to_bytes(max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True))
    return _length_prefixed(np.frombuffer(b"".join(out), np.uint8), _offsets([len(b) for b in out]))


def _blocks(schema: dict, arr: pa.Array):
    """array/map: a count varint (none when empty), the items, then the 0
    terminator."""
    offs = np.asarray(arr.offsets).astype(np.int64)
    counts = np.diff(offs)
    items = arr.values.slice(offs[0], offs[-1] - offs[0])
    if schema["type"] == "array":
        ibuf, ioffs = _datums(schema["items"], items)
    else:
        keys, values = items.flatten()
        ibuf, ioffs = _interleave([_binary(keys), _datums(schema["values"], values)], len(items))
    n = len(arr)
    return _interleave(
        [_varints(_zigzag(counts), skip=counts == 0), (ibuf, ioffs[offs - offs[0]]), _const(0, n)], n
    )


def _record(schema: dict, arr):
    """``arr``: a RecordBatch or a StructArray."""
    names = arr.schema.names if isinstance(arr, pa.RecordBatch) else [f.name for f in arr.type]
    cols = dict(zip(names, arr.columns if isinstance(arr, pa.RecordBatch) else arr.flatten()))
    return _interleave([_datums(f["type"], cols[f["name"]]) for f in schema["fields"]], len(arr))


def _union(schema: list, arr: pa.Array):
    """``["null", T]`` (either order): one index byte, then T's datum for
    a non-null value; a null has no value bytes."""
    if len(schema) != 2 or "null" not in schema:
        raise TypeError(f"unsupported Avro union {schema!r}")
    null_idx = schema.index("null")
    inner = schema[1 - null_idx]
    n = len(arr)
    if not arr.null_count:
        return _interleave([_const(2 * (1 - null_idx), n), _datums(inner, arr)], n)
    valid = arr.is_valid()
    vbuf, voffs = _datums(inner, arr.filter(valid))
    valid = valid.to_numpy(zero_copy_only=False)
    lens = np.zeros(n, np.int64)
    lens[valid] = np.diff(voffs)
    tags = np.where(valid, 2 * (1 - null_idx), 2 * null_idx).astype(np.uint8)
    return _interleave([(tags, np.arange(n + 1, dtype=np.int64)), (vbuf, voffs[0] + _offsets(lens))], n)


def _datums(schema: Any, arr):
    if isinstance(schema, list):
        return _union(schema, arr)
    if arr.null_count:
        raise ValueError(f"null value for non-nullable Avro type {schema!r}")
    stype = schema["type"] if isinstance(schema, dict) else schema
    n = len(arr)
    if stype in ("int", "long"):
        return _varints(_zigzag(_ints(arr)))
    if stype in ("float", "double"):
        width = 4 if stype == "float" else 8
        buf = np.ascontiguousarray(np.asarray(arr), "<f4" if width == 4 else "<f8").view(np.uint8)
        return buf, np.arange(n + 1, dtype=np.int64) * width
    if stype == "boolean":
        return np.asarray(arr.to_numpy(zero_copy_only=False), np.uint8), np.arange(n + 1, dtype=np.int64)
    if stype in ("string", "bytes"):
        if isinstance(schema, dict) and schema.get("logicalType") == "decimal":
            return _decimal(arr)
        return _binary(arr)
    if stype == "record":
        return _record(schema, arr)
    if stype in ("array", "map"):
        return _blocks(schema, arr)
    raise TypeError(f"unsupported Avro type {schema!r}")


def encode_block(avro_schema: dict, batch: pa.RecordBatch) -> bytes:
    """The Avro binary encoding of every row of ``batch``, concatenated:
    the payload of one container block."""
    buf, _ = _record(avro_schema, batch)
    return buf.tobytes()


# ----------------------------------------------------------- container file

BLOCK_ROWS = 4096


def write_container(
    path: str, avro_schema: dict, batches: Iterable[pa.RecordBatch], codec: str = "null"
) -> int:
    """Write one Avro Object Container File from Arrow record batches;
    returns the record count. Blocks of up to 4096 records between sync
    markers, cut across batch boundaries.

    ``codec``: ``"null"`` (raw) or ``"deflate"`` — per the Avro spec the
    deflate codec is RFC 1951 RAW deflate (no zlib wrapper), i.e.
    ``zlib.compressobj(wbits=-15)``; the block's byte-size field counts
    the COMPRESSED bytes."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = os.urandom(16)
    n = 0
    with open(path, "wb") as fh:
        fh.write(MAGIC)
        meta = io.BytesIO()
        write_long(meta, 2)
        write_string(meta, "avro.schema")
        write_bytes(meta, json.dumps(avro_schema).encode())
        write_string(meta, "avro.codec")
        write_bytes(meta, codec.encode())
        write_long(meta, 0)  # end of metadata map
        fh.write(meta.getvalue())
        fh.write(sync)

        pending: list[bytes] = []
        count = 0

        def flush():
            nonlocal count
            if not count:
                return
            data = b"".join(pending)
            if codec == "deflate":
                co = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
                data = co.compress(data) + co.flush()
            head = io.BytesIO()
            write_long(head, count)
            write_long(head, len(data))
            fh.write(head.getvalue())
            fh.write(data)
            fh.write(sync)
            pending.clear()
            count = 0

        for batch in batches:
            buf, offs = _record(avro_schema, batch)
            start = 0
            while start < batch.num_rows:
                take = min(BLOCK_ROWS - count, batch.num_rows - start)
                pending.append(buf[offs[start]:offs[start + take]].tobytes())
                count += take
                start += take
                if count == BLOCK_ROWS:
                    flush()
            n += batch.num_rows
        flush()
    return n


# ----------------------------------------------------------------- reader

def _read_long(fh) -> int:
    shift, acc = 0, 0
    while True:
        b = fh.read(1)[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_bytes(fh) -> bytes:
    return fh.read(_read_long(fh))


def _decode(fh, schema: Any):
    if isinstance(schema, list):
        return _decode(fh, schema[_read_long(fh)])
    stype = schema["type"] if isinstance(schema, dict) else schema
    if stype == "null":
        return None
    if stype == "boolean":
        return fh.read(1) == b"\x01"
    if stype in ("int", "long"):
        return _read_long(fh)
    if stype == "float":
        return struct.unpack("<f", fh.read(4))[0]
    if stype == "double":
        return struct.unpack("<d", fh.read(8))[0]
    if stype == "string":
        return _read_bytes(fh).decode("utf-8")
    if stype == "bytes":
        return _read_bytes(fh)
    if stype == "record":
        return {f["name"]: _decode(fh, f["type"]) for f in schema["fields"]}
    if stype == "array":
        out = []
        while True:
            n = _read_long(fh)
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                _read_long(fh)
                n = -n
            out.extend(_decode(fh, schema["items"]) for _ in range(n))
    if stype == "map":
        out = {}
        while True:
            n = _read_long(fh)
            if n == 0:
                return out
            if n < 0:
                _read_long(fh)
                n = -n
            for _ in range(n):
                # NB: key must be read BEFORE the value — in `d[k]=v` Python
                # evaluates v first, which would desync the byte stream
                k = _read_bytes(fh).decode()
                out[k] = _decode(fh, schema["values"])
    raise TypeError(f"unsupported Avro type {schema!r}")


def read_container(path: str, meta_only: bool = False) -> tuple[dict, list]:
    """Parse an Avro container file back into (schema, rows);
    ``meta_only=True`` stops after the header (schema discovery without
    decoding blocks)."""
    with open(path, "rb") as fh:
        assert fh.read(4) == MAGIC, "not an Avro container file"
        meta = {}
        while True:
            n = _read_long(fh)
            if n == 0:
                break
            if n < 0:
                _read_long(fh)
                n = -n
            for _ in range(n):
                k = _read_bytes(fh).decode()
                meta[k] = _read_bytes(fh)
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        assert codec in ("null", "deflate"), f"unsupported codec {codec}"
        if meta_only:
            return schema, []
        sync = fh.read(16)
        rows = []
        while True:
            first = fh.read(1)
            if not first:
                break
            fh.seek(-1, 1)
            count = _read_long(fh)
            size = _read_long(fh)  # byte size of the (possibly compressed) block
            data = fh.read(size)
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            buf = io.BytesIO(data)
            rows.extend(_decode(buf, schema) for _ in range(count))
            assert fh.read(16) == sync, "sync marker mismatch"
        return schema, rows


def new_part_name() -> str:
    return f"part-{uuid.uuid4().hex}.avro"


# ----------------------------------------------- Avro -> Spark (read path)

def avro_schema_to_spark(avsc: dict):
    """Avro record schema -> Spark StructType (inverse of
    spark_schema_to_avro, same public mapping)."""
    from pyspark.sql import types as T

    def convert(s) -> tuple:
        if isinstance(s, list):  # [null, T] union
            inner = next(x for x in s if x != "null")
            dt, _ = convert(inner)
            return dt, True
        stype = s["type"] if isinstance(s, dict) else s
        logical = s.get("logicalType") if isinstance(s, dict) else None
        if logical == "timestamp-micros":
            return T.TimestampType(), False
        if logical == "date":
            return T.DateType(), False
        if logical == "decimal":
            return T.DecimalType(s["precision"], s["scale"]), False
        simple = {
            "string": T.StringType(), "long": T.LongType(), "int": T.IntegerType(),
            "double": T.DoubleType(), "float": T.FloatType(),
            "boolean": T.BooleanType(), "bytes": T.BinaryType(),
        }
        if stype in simple:
            return simple[stype], False
        if stype == "array":
            dt, null = convert(s["items"])
            return T.ArrayType(dt, null), False
        if stype == "map":
            dt, null = convert(s["values"])
            return T.MapType(T.StringType(), dt, null), False
        if stype == "record":
            fields = []
            for f in s["fields"]:
                fdt, fnull = convert(f["type"])
                fields.append(T.StructField(f["name"], fdt, fnull))
            return T.StructType(fields), False
        raise TypeError(f"unsupported Avro type {s!r}")

    dt, _ = convert(avsc)
    return dt


def decode_logicals(avsc: dict, row: dict) -> dict:
    """Convert a read_container row's raw values (micros/days/unscaled
    bytes) into Python datetime/date/Decimal per the schema's logical
    types, recursively."""
    import datetime as _dt

    def conv(s, v):
        if v is None:
            return None
        if isinstance(s, list):
            return conv(next(x for x in s if x != "null"), v)
        stype = s["type"] if isinstance(s, dict) else s
        logical = s.get("logicalType") if isinstance(s, dict) else None
        if logical == "timestamp-micros":
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        if logical == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        if logical == "decimal":
            unscaled = int.from_bytes(v, "big", signed=True)
            return Decimal(unscaled).scaleb(-s["scale"])
        if stype == "record":
            return {f["name"]: conv(f["type"], v.get(f["name"])) for f in s["fields"]}
        if stype == "array":
            return [conv(s["items"], x) for x in v]
        if stype == "map":
            return {k: conv(s["values"], x) for k, x in v.items()}
        return v

    return {f["name"]: conv(f["type"], row.get(f["name"])) for f in avsc["fields"]}
