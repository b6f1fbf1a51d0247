"""Avro container writer (sinks/avro_writer.py) and the distributed export
path (exports.write_avro_distributed).

Two independent checks on the column-wise encoder:

- a row-wise oracle (``_encode`` below: the schema walked once per value,
  the encoder this package used before it went column-wise) must produce
  the same bytes for every block, on randomized batches;
- files written by OUR encoder are read back by the OFFICIAL Java Avro
  library (org.apache.avro, already in pyspark's jars) through py4j — an
  independent implementation of the spec. If the bytes were not real
  Avro, DataFileReader would reject them."""

from __future__ import annotations

import datetime as dt
import importlib.util
import inspect
import io
import json
import math
import os
import random
import struct
from decimal import Decimal, localcontext
from typing import Any

import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from stellar_etl_airflow_spark.sinks import avro_writer as AW
from stellar_etl_airflow_spark.sinks import exports

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("amount", T.DecimalType(20, 6), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), True), True),
    ]
)

ROWS = [
    {
        "id": 1,
        "name": "alpha",
        "score": 1.5,
        "flag": True,
        "ts": dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
        "day": dt.date(2024, 1, 2),
        "amount": Decimal("12345.678900"),
        "tags": ["x", "y"],
        "attrs": {"a": 1, "b": 2},
    },
    {
        "id": 2,
        "name": None,
        "score": None,
        "flag": None,
        "ts": None,
        "day": None,
        "amount": Decimal("-0.000001"),
        "tags": [],
        "attrs": {},
    },
]


def _batch(rows: list[dict], schema: T.StructType) -> pa.RecordBatch:
    """The Arrow batch Spark's mapInArrow hands a partition for ``rows``."""
    return pa.RecordBatch.from_pylist(rows, schema=to_arrow_schema(schema))


# ------------------------------------------------------------ row oracle


def _write_long(out: io.BytesIO, n: int) -> None:
    z = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _write_bytes(out: io.BytesIO, b: bytes) -> None:
    _write_long(out, len(b))
    out.write(b)


def _to_micros(value) -> int:
    # exact integer arithmetic via timedelta floor-division: float
    # .timestamp() + int() truncates toward zero, which shifts pre-epoch
    # timestamps with sub-second parts one second late
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc if value.tzinfo else None)
    return (value - epoch) // dt.timedelta(microseconds=1)


def _encode(out: io.BytesIO, schema: Any, value: Any) -> None:
    """One Avro datum, by walking the schema once per value."""
    if isinstance(schema, list):  # union — spark mapping is always [null, T]
        if value is None:
            _write_long(out, schema.index("null"))
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        _write_long(out, idx)
        _encode(out, schema[idx], value)
        return
    stype = schema["type"] if isinstance(schema, dict) else schema
    logical = isinstance(schema, dict) and schema.get("logicalType")
    if stype == "boolean":
        out.write(b"\x01" if value else b"\x00")
    elif stype in ("int", "long"):
        if logical == "timestamp-micros":
            value = _to_micros(value)
        elif logical == "date":
            value = (value - dt.date(1970, 1, 1)).days
        _write_long(out, int(value))
    elif stype == "float":
        out.write(struct.pack("<f", float(value)))
    elif stype == "double":
        out.write(struct.pack("<d", float(value)))
    elif stype == "string":
        _write_bytes(out, str(value).encode("utf-8"))
    elif stype == "bytes":
        if logical == "decimal":
            # exact: the default 28-digit context would round DECIMAL(38, s)
            with localcontext() as ctx:
                ctx.prec = 80
                unscaled = int(Decimal(value).scaleb(schema["scale"]).to_integral_value())
            _write_bytes(out, unscaled.to_bytes(max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True))
        else:
            _write_bytes(out, bytes(value))
    elif stype == "record":
        for f in schema["fields"]:
            _encode(out, f["type"], value[f["name"]])
    elif stype == "array":
        items = list(value)
        if items:
            _write_long(out, len(items))
            for it in items:
                _encode(out, schema["items"], it)
        _write_long(out, 0)
    elif stype == "map":
        entries = dict(value)
        if entries:
            _write_long(out, len(entries))
            for k, v in entries.items():
                _write_bytes(out, str(k).encode("utf-8"))
                _encode(out, schema["values"], v)
        _write_long(out, 0)
    else:
        raise TypeError(f"unsupported Avro type {schema!r}")


def _oracle(avsc: dict, batch: pa.RecordBatch) -> bytes:
    out = io.BytesIO()
    for row in batch.to_pylist():
        _encode(out, avsc, row)
    return out.getvalue()


# ------------------------------------------------------ randomized batches

DETAILS = T.StructType(
    [
        T.StructField("a", T.LongType(), True),
        T.StructField("b", T.StringType(), False),
        T.StructField("inner", T.StructType([T.StructField("c", T.DoubleType(), True)]), True),
        T.StructField("ids", T.ArrayType(T.LongType(), False), False),
    ]
)

WIDE = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("small", T.ShortType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("ratio", T.FloatType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("amount", T.DecimalType(20, 6), True),
        T.StructField("huge", T.DecimalType(38, 0), False),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("tags", T.ArrayType(T.StringType(), True), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), True), True),
        T.StructField("details", DETAILS, True),
        T.StructField("nothing", T.StringType(), True),
    ]
)

LONGS = [0, 1, -1, 63, -64, 64, -65, 2**31 - 1, -(2**31), 2**53 + 1, 2**63 - 1, -(2**63)]
TEXT = ["", "a", "naïve", "日本語", "🚀 emoji", "x" * 200]


def _rand_rows(seed: int, n: int, null_rate: float) -> list[dict]:
    rnd = random.Random(seed)

    def maybe(v):
        return None if rnd.random() < null_rate else v

    def long():
        return rnd.choice(LONGS) if rnd.random() < 0.3 else rnd.randint(-(2**40), 2**40)

    rows = []
    for _ in range(n):
        micros = rnd.randint(-(2**41), 2**42)  # ~1900 to ~2109, sub-second parts
        rows.append(
            {
                "id": long(),
                "i": maybe(rnd.choice([0, -1, 2**31 - 1, -(2**31), rnd.randint(-1000, 1000)])),
                "small": maybe(rnd.randint(-(2**15), 2**15 - 1)),
                "name": maybe(rnd.choice(TEXT)),
                "score": maybe(rnd.choice([0.0, -0.0, math.inf, -math.inf, rnd.uniform(-1e300, 1e300)])),
                "ratio": maybe(struct.unpack("<f", struct.pack("<f", rnd.uniform(-1e30, 1e30)))[0]),
                "flag": maybe(rnd.random() < 0.5),
                "ts": maybe(dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)),
                "day": maybe(dt.date(1970, 1, 1) + dt.timedelta(days=rnd.randint(-30000, 30000))),
                "amount": maybe(Decimal(rnd.choice([0, -1, 1, rnd.randint(-(10**20) + 1, 10**20 - 1)])).scaleb(-6)),
                "huge": Decimal(rnd.choice([0, 10**38 - 1, -(10**38) + 1, -128, 127, 128, -129, rnd.randint(-(10**38) + 1, 10**38 - 1)])),
                "blob": maybe(bytes(rnd.randrange(256) for _ in range(rnd.randint(0, 5)))),
                "tags": maybe([maybe(rnd.choice(TEXT)) for _ in range(rnd.randint(0, 4))]),
                "attrs": maybe({f"k{j}": maybe(long()) for j in range(rnd.randint(0, 3))}),
                "details": maybe(
                    {
                        "a": maybe(long()),
                        "b": rnd.choice(TEXT),
                        "inner": maybe({"c": maybe(rnd.uniform(-5, 5))}),
                        "ids": [long() for _ in range(rnd.randint(0, 3))],
                    }
                ),
                "nothing": None,
            }
        )
    return rows


@pytest.mark.parametrize("seed,null_rate", [(1, 0.0), (2, 0.05), (3, 0.5), (4, 0.95), (5, 1.0)])
def test_encode_block_matches_row_oracle(seed, null_rate):
    rows = _rand_rows(seed, 300, null_rate)
    if null_rate == 1.0:
        for r in rows:
            r["huge"] = Decimal(0)
            r["id"] = 0
    avsc = AW.spark_schema_to_avro(WIDE)
    batch = _batch(rows, WIDE)
    assert AW.encode_block(avsc, batch) == _oracle(avsc, batch)
    # a slice carries a non-zero offset into every buffer
    part = batch.slice(37, 150)
    assert AW.encode_block(avsc, part) == _oracle(avsc, part)


def _blocks_of(path: str) -> list[tuple[int, bytes]]:
    """(record count, raw payload) of every block of a null-codec file."""
    with open(path, "rb") as fh:
        data = fh.read()
    buf = io.BytesIO(data)
    assert buf.read(4) == AW.MAGIC
    for _ in range(AW._read_long(buf)):  # the writer's one metadata block
        AW._read_bytes(buf), AW._read_bytes(buf)
    assert AW._read_long(buf) == 0
    sync = buf.read(16)
    out = []
    while buf.tell() < len(data):
        count, size = AW._read_long(buf), AW._read_long(buf)
        out.append((count, buf.read(size)))
        assert buf.read(16) == sync
    return out


def test_container_blocks_match_oracle_across_batches(tmp_path):
    """More than 4096 rows in uneven batches: blocks hold 4096 rows each,
    cut across batch boundaries, and every block's bytes are the
    oracle's."""
    avsc = AW.spark_schema_to_avro(WIDE)
    batch = _batch(_rand_rows(7, 9000, 0.1), WIDE)
    cuts = [0, 5000, 5010, 9000]
    path = str(tmp_path / "multi.avro")
    parts = [batch.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    assert AW.write_container(path, avsc, parts) == 9000
    blocks = _blocks_of(path)
    assert [c for c, _ in blocks] == [4096, 4096, 808]
    start = 0
    for count, payload in blocks:
        assert payload == _oracle(avsc, batch.slice(start, count))
        start += count
    _, raw = AW.read_container(path)
    assert len(raw) == 9000


MUTATIONS = {
    "union index": ("_const(2 * (1 - null_idx), n)", "_const(2 * null_idx, n)"),
    "array terminator": ("_const(0, n)], n", "_const(2, n)], n"),
}


@pytest.mark.parametrize("name", sorted(MUTATIONS))
def test_oracle_catches_mutations(name):
    """A copy of the encoder with the union index or the array/map
    terminator byte changed must fail the oracle comparison."""
    old, new = MUTATIONS[name]
    src = inspect.getsource(AW)
    assert src.count(old) == 1, f"mutation site {old!r} moved"
    spec = importlib.util.spec_from_loader("avro_writer_mutant", loader=None)
    mutant = importlib.util.module_from_spec(spec)
    exec(compile(src.replace(old, new), "avro_writer_mutant", "exec"), mutant.__dict__)
    avsc = AW.spark_schema_to_avro(WIDE)
    batch = _batch(_rand_rows(11, 50, 0.0), WIDE)
    assert AW.encode_block(avsc, batch) == _oracle(avsc, batch)
    assert mutant.encode_block(avsc, batch) != _oracle(avsc, batch)


def test_non_string_map_keys_raise_on_the_driver():
    """spark-avro refuses non-string map keys; raising TypeError in the
    schema mapping keeps the parquet fallback's trigger before any job."""
    with pytest.raises(TypeError):
        AW.spark_schema_to_avro(T.StructType([T.StructField("m", T.MapType(T.IntegerType(), T.LongType()))]))


# ------------------------------------------------------------ file level


def test_python_roundtrip(tmp_path):
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "t.avro")
    assert AW.write_container(path, avsc, [_batch(ROWS, SCHEMA)]) == 2
    back_schema, raw = AW.read_container(path)
    assert back_schema == avsc
    rows = [AW.decode_logicals(avsc, r) for r in raw]
    assert rows[0]["ts"] == ROWS[0]["ts"]
    assert rows[0]["day"] == ROWS[0]["day"]
    assert rows[0]["amount"] == ROWS[0]["amount"]
    assert rows[1]["amount"] == ROWS[1]["amount"]
    assert rows[0]["tags"] == ["x", "y"] and rows[0]["attrs"] == {"a": 1, "b": 2}
    assert rows[1]["name"] is None and rows[1]["ts"] is None
    # schema inverse mapping
    assert AW.avro_schema_to_spark(avsc) == SCHEMA


def test_java_avro_reads_our_files(spark, tmp_path):
    """Cross-engine proof: the official Java Avro DataFileReader parses a
    file produced by the Python encoder and sees the same records."""
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "j.avro")
    AW.write_container(path, avsc, [_batch(ROWS, SCHEMA)])

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        java_schema = json.loads(reader.getSchema().toString())
        assert java_schema["name"] == avsc["name"]
        assert [f["name"] for f in java_schema["fields"]] == [f["name"] for f in avsc["fields"]]
        recs = []
        while reader.hasNext():
            recs.append(reader.next())
        assert len(recs) == 2
        r0 = json.loads(recs[0].toString())
        assert r0["id"] == 1 and r0["name"] == "alpha" and r0["flag"] is True
        assert r0["ts"] == 1704164645678901  # micros since epoch, UTC
        assert r0["tags"] == ["x", "y"] and r0["attrs"] == {"a": 1, "b": 2}
        r1 = json.loads(recs[1].toString())
        assert r1["name"] is None and r1["score"] is None
    finally:
        reader.close()


def test_java_avro_reads_randomized_nested_blocks(spark, tmp_path):
    """The Java reader walks every block of a multi-block deflate file of
    the randomized nested batch and sees every record."""
    avsc = AW.spark_schema_to_avro(WIDE)
    rows = _rand_rows(13, 5000, 0.2)
    path = str(tmp_path / "w.avro")
    AW.write_container(path, avsc, [_batch(rows, WIDE)], codec="deflate")
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        n = 0
        while reader.hasNext():
            rec = reader.next()
            if n == 4999:
                assert rec.get("id") == rows[n]["id"]
            n += 1
        assert n == 5000
    finally:
        reader.close()


def test_distributed_avro_write_and_read(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4).selectExpr(
        "id",
        "cast(id % 7 as string) as name",
        "cast(id as double) / 3 as score",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts",
    )
    dest = str(tmp_path / "out")
    n = exports.write_avro_distributed(df, dest)
    assert n == 1000
    files = [f for f in os.listdir(dest) if f.endswith(".avro")]
    assert len(files) == 4  # one container file per non-empty partition
    back = exports.read_export(spark, "avro", dest)
    assert back.schema == df.schema
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))
    got = {r["id"]: r for r in back.collect()}
    want = {r["id"]: r for r in df.collect()}
    assert got[123]["ts"] == want[123]["ts"]
    assert got[999]["score"] == want[999]["score"]


def test_export_slice_now_writes_real_avro(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)) for i in range(48)],
        "id long, closed_at timestamp",
    )
    dest = str(tmp_path / "slice")
    fmt = exports.export_slice(
        df, ["id", "closed_at"], "closed_at", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), dest
    )
    assert fmt == "avro"
    assert any(f.endswith(".avro") for f in os.listdir(dest))
    back = exports.read_export(spark, fmt, dest)
    assert back.count() == 24


def test_empty_export_reads_back_as_empty_frame(spark, tmp_path):
    """A zero-row export must produce a schema-bearing empty container file
    (parity with the DataSource/parquet behavior), not an unreadable dir."""
    df = spark.createDataFrame([], "id long, name string")
    dest = str(tmp_path / "empty")
    assert exports.write_avro_distributed(df, dest) == 0
    back = exports.read_export(spark, "avro", dest)
    assert back.count() == 0
    assert back.schema == df.schema


def test_pre_epoch_timestamp_micros_exact(tmp_path):
    """Pre-epoch timestamps with sub-second parts must floor, not shift one
    second late (int(float_ts) truncates toward zero): the four values go
    through a written and read file."""
    tz = dt.timezone.utc
    values = [
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000, tzinfo=tz),
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),
        dt.datetime(1960, 1, 1, 0, 0, 0, 250000, tzinfo=tz),
        dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
    ]
    schema = T.StructType([T.StructField("ts", T.TimestampType(), False)])
    avsc = AW.spark_schema_to_avro(schema)
    path = str(tmp_path / "pre.avro")
    AW.write_container(path, avsc, [_batch([{"ts": v} for v in values], schema)])
    _, raw = AW.read_container(path)
    assert [r["ts"] for r in raw] == [-500_000, -500_000, -315_619_199_750_000, 1704164645678901]
    back = [AW.decode_logicals(avsc, r)["ts"] for r in raw]
    assert back == [v.replace(tzinfo=None) for v in values]


def test_deflate_codec_roundtrip_and_java_read(spark, tmp_path):
    """Deflate blocks (RFC-1951 raw, per the Avro spec) round-trip through
    our reader AND through the official Java DataFileReader — proof the
    compression framing is spec-correct, not just self-consistent."""
    avsc = AW.spark_schema_to_avro(SCHEMA)
    path = str(tmp_path / "d.avro")
    AW.write_container(path, avsc, [_batch(ROWS, SCHEMA)], codec="deflate")
    schema, raw = AW.read_container(path)
    assert schema == avsc and len(raw) == 2
    rows = [AW.decode_logicals(avsc, r) for r in raw]
    assert rows[0]["amount"] == ROWS[0]["amount"] and rows[0]["ts"] == ROWS[0]["ts"]

    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        assert reader.getMetaString("avro.codec") == "deflate"
        recs = []
        while reader.hasNext():
            recs.append(reader.next())
        assert len(recs) == 2
        assert json.loads(recs[0].toString())["name"] == "alpha"
    finally:
        reader.close()


def test_deflate_compresses_repetitive_data(tmp_path):
    schema = T.StructType([T.StructField("s", T.StringType(), False)])
    avsc = AW.spark_schema_to_avro(schema)
    batch = _batch([{"s": "the same string over and over"} for _ in range(2000)], schema)
    raw_p, dfl_p = str(tmp_path / "r.avro"), str(tmp_path / "d.avro")
    AW.write_container(raw_p, avsc, [batch], codec="null")
    AW.write_container(dfl_p, avsc, [batch], codec="deflate")
    assert os.path.getsize(dfl_p) < os.path.getsize(raw_p) / 10
