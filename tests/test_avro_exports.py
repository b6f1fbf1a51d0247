"""Value-level parity for the 16 per-table Avro export projections
(sinks/avro_defs.py, semantic port of
/root/reference/dags/queries/generate_avro/*.sql).

For every export: build the source table from the reference's pinned load
schema (/root/reference/schemas/<table>_schema.json, plus the documented
SCHEMA_EVOLUTION_EXTRAS; synthesized from the export's own expressions for
the four dbt-model sources that have no pinned schema, and for every source
when the reference checkout is absent), fill it with deterministic rows — nested details
structs, arrays, NULLs, and timestamps straddling the batch window — write
it to parquet, and compare the Spark export frame against a DuckDB
transcription of the same projection over the same parquet file. This
exercises exact column lists (121-subfield details flatten for
history_operations), aliases, try_cast/replace/arithmetic expressions, and
the half-open window filters."""

from __future__ import annotations

import json
import math
import os
import zlib
from datetime import date, datetime, timedelta
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import types as T

from stellar_etl_airflow_spark.schemas.loader import bq_schema_to_struct
from stellar_etl_airflow_spark.sinks.avro_defs import (
    EXPORT_DEFS,
    SCHEMA_EVOLUTION_EXTRAS,
    build_export_df,
    export_table,
)

SCHEMA_DIR = "/root/reference/schemas"
T0 = datetime(2024, 1, 1)
T1 = datetime(2024, 1, 2)
N_ROWS = 32


# ---------------------------------------------------------------- schemas


#: the one ``details`` subfield of each pinned load schema that the export
#: projection leaves out (history_operations.sql names 121 of 122): the
#: synthesized struct carries it so nested-schema pruning has work to do
_UNEXPORTED_DETAILS = {"history_operations": "claimants", "history_effects": "predicate"}


def _synth_field_type(name: str) -> str:
    """Fixture types for sources synthesized without a pinned schema."""
    if name == "day":
        return "DATE"
    if name.endswith("closed_at") or name in ("batch_run_date", "batch_insert_ts"):
        return "TIMESTAMP"
    if name == "is_soroban":
        return "BOOLEAN"
    if name.startswith("total_accounts") or name in (
        "ledger_sequence",
        "transaction_id",
        "operation_id",
        "to_muxed_id",
    ):
        return "INTEGER"
    if name.endswith("_volume") or "balance" in name:
        return "FLOAT"
    return "STRING"


def source_schema(export_name: str) -> T.StructType:
    d = EXPORT_DEFS[export_name]
    path = os.path.join(SCHEMA_DIR, f"{d.source}_schema.json")
    if os.path.exists(path):
        with open(path) as fh:
            spec = json.load(fh)
        for dotted, bq_type in SCHEMA_EVOLUTION_EXTRAS.get(export_name, {}).items():
            parts = dotted.split(".")
            if len(parts) == 2:
                parent = next(f for f in spec if f["name"] == parts[0])
                parent.setdefault("fields", []).append({"name": parts[1], "type": bq_type})
            else:
                spec.append({"name": parts[0], "type": bq_type})
        return bq_schema_to_struct(spec)
    # no pinned schema: derive one from the identifiers the export uses,
    # with ``details.<sub>`` references collected into a details struct
    import re

    cols: list[str] = []
    subs: list[str] = []
    for expr, _alias in d.columns:
        expr = expr.replace("`", "")
        for sub in re.findall(r"\bdetails\.(\w+)", expr):
            if sub not in subs:
                subs.append(sub)
        expr = re.sub(r"\bdetails\.\w+", "details", expr)
        for ident in re.findall(r"[A-Za-z_]\w*", expr):
            if ident not in cols and ident not in ("try_cast", "replace", "as", "integer"):
                cols.append(ident)
    # filters, plus the batch columns every ingested table is stamped with
    # (operators/ingest.py) — the pinned schemas carry more than the
    # export reads, so top-level pruning has work to do too
    for c in (*d.filters, "batch_id", "batch_run_date", "batch_insert_ts"):
        if c not in cols:
            cols.append(c)
    if export_name in _UNEXPORTED_DETAILS:
        subs.append(_UNEXPORTED_DETAILS[export_name])
    return bq_schema_to_struct([
        {"name": c, "type": "RECORD",
         "fields": [{"name": f, "type": _synth_field_type(f)} for f in subs]}
        if c == "details" else {"name": c, "type": _synth_field_type(c)}
        for c in cols
    ])


# ------------------------------------------------------- deterministic rows


def _h(name: str, i: int) -> int:
    return zlib.crc32(f"{name}:{i}".encode()) % 997


def _scalar(name: str, dt: T.DataType, i: int):
    h = _h(name, i)
    if isinstance(dt, T.StringType):
        # numeric strings sometimes, so try_cast succeeds on a subset
        return str(h) if h % 3 == 0 else f"{name[:6]}_{h}"
    if isinstance(dt, T.LongType):
        return h
    if isinstance(dt, T.DoubleType):
        return h / 8.0  # exact binary fraction: identical in both engines
    if isinstance(dt, T.BooleanType):
        return h % 2 == 0
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # spread ~33h around the [T0, T1) window so the filter bites
        return T0 + timedelta(minutes=(h * 2) % 2000 - 100)
    if isinstance(dt, T.DateType):
        return T0.date() + timedelta(days=h % 3 - 1)
    if isinstance(dt, T.BinaryType):
        return name.encode()[:8]
    if isinstance(dt, T.DecimalType):
        return Decimal(h)
    raise AssertionError(f"no generator for {dt}")


def _value(name: str, dt: T.DataType, i: int, depth: int = 0):
    h = _h(name, i)
    if h % 7 == 0 and depth > 0:  # sprinkle NULLs inside structs/arrays
        return None
    if isinstance(dt, T.ArrayType):
        return [_value(f"{name}[{k}]", dt.elementType, i, depth + 1) for k in range(h % 3)]
    if isinstance(dt, T.StructType):
        return {f.name: _value(f"{name}.{f.name}", f.dataType, i, depth + 1) for f in dt.fields}
    return _scalar(name, dt, i)


def synth_rows(schema: T.StructType, n: int) -> list[dict]:
    return [{f.name: _value(f.name, f.dataType, i) for f in schema.fields} for i in range(n)]


# ------------------------------------------------------------- comparison


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (a tuple subclass — check first)
        return _norm(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return str(v)


def _canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [json.dumps([_norm(r[i]) for i in order], sort_keys=True) for r in rows]
    out.sort()
    return sorted(columns), out


def _duck_sql(name: str, parquet_path: str) -> str:
    d = EXPORT_DEFS[name]
    sel = ", ".join(f'{expr.replace(chr(96), chr(34))} AS "{alias}"' for expr, alias in d.columns)
    conds = ["true"]
    for c in d.filters:
        if c == "day":
            conds.append(f"{c} >= DATE '{T0.date()}' AND {c} < DATE '{T1.date()}'")
        else:
            conds.append(f"{c} >= TIMESTAMP '{T0}' AND {c} < TIMESTAMP '{T1}'")
    return f"SELECT {sel} FROM read_parquet('{parquet_path}/*.parquet') WHERE {' AND '.join(conds)}"


# ------------------------------------------------------------------- tests


@pytest.mark.parametrize("name", sorted(EXPORT_DEFS))
def test_export_parity(spark, tmp_path, name):
    schema = source_schema(name)
    src_path = str(tmp_path / "src")
    df = spark.createDataFrame(synth_rows(schema, N_ROWS), schema)
    df.write.mode("overwrite").parquet(src_path)

    src = spark.read.parquet(src_path)
    out = build_export_df(src, name, T0, T1)
    d = EXPORT_DEFS[name]
    assert out.columns == d.aliases(), f"{name}: column list drifted from reference"

    scols, srows = _canon(out.columns, [tuple(r) for r in out.collect()])
    con = duckdb.connect()
    try:
        res = con.execute(_duck_sql(name, src_path))
        dcols = [c[0] for c in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    ocols, orows = _canon(dcols, drows)

    assert scols == ocols
    assert len(srows) == len(orows) > 0, f"{name}: empty result — window filter degenerate"
    assert srows == orows, f"{name}: value mismatch"


def test_export_table_write_and_order(spark, tmp_path):
    """export_table writes the slice with per-file ordering on the order
    column and reports which format it used (avro, or parquet when the
    connector jar is absent)."""
    name = "ttl"
    schema = source_schema(name)
    src = spark.createDataFrame(synth_rows(schema, N_ROWS), schema)
    dest = str(tmp_path / "out")
    fmt = export_table(src, name, T0, T1, dest)
    assert fmt == "avro"  # real Avro bytes even without the spark-avro jar
    from stellar_etl_airflow_spark.sinks.exports import read_export

    back = read_export(spark, fmt, dest)
    assert back.columns == EXPORT_DEFS[name].aliases()
    expected = build_export_df(src, name, T0, T1).count()
    assert back.count() == expected > 0
    # per-file ordering: each written file is internally sorted by order_by
    files = [f for f in os.listdir(dest) if f.endswith((".parquet", ".avro"))]
    assert files
    for f in files:
        vals = [
            r[0]
            for r in read_export(spark, fmt, os.path.join(dest, f))
            .select(EXPORT_DEFS[name].order_by)
            .collect()
        ]
        assert vals == sorted(vals)
