"""Public export surface: Avro slices, NDJSON extract, copy/clone.

- Avro export: the reference renders EXPORT DATA OPTIONS(uri, format=avro,
  overwrite=true) AS SELECT <explicit cols> WHERE closed_at in [t0,t1)
  ORDER BY closed_at, into gs://.../avro/{table}/{YYYY}/{M}/{D}/{H:mm:ss}/*
  (build_bq_generate_avro_job_task.py:13-57, dags/queries/generate_avro/).
  Spark twin: filter -> select -> sortWithinPartitions -> write. A global
  ORDER BY is only a per-file ordering guarantee in a parallel writer, so
  we sort within partitions after range-partitioning on the sort key,
  matching the practical contract of the BigQuery export (SURVEY §7.2
  hard part b). This container lacks the spark-avro connector jar, so the
  writer produces REAL Avro binary through the column-wise container
  encoder (avro_writer.py), one file per partition via mapInArrow; with
  the jar present the DataSource path is used instead. Either way the
  bytes on the wire are Avro Object Container Files.
- NDJSON extract: dumps one table slice to a single JSON file
  (dbt_stellar_marts_dag.py:162-178, the DefiLlama tvl feed).
- copy / clone: WRITE_TRUNCATE table copy (build_copy_table_task.py:9-65)
  and the staging-refresh clone (dag_stellar_dbt_staging_refresh.py:83-88;
  time travel needs Delta/Iceberg — documented stub here).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import local_df


def avro_export_dir(root: str, table: str, run_ts: datetime) -> str:
    """The reference's directory scheme: {root}/{table}/{YYYY}/{M}/{D}/{H:mm:ss}."""
    return os.path.join(
        root, table, str(run_ts.year), str(run_ts.month), str(run_ts.day), run_ts.strftime("%H:%M:%S")
    )


def export_slice(
    df: DataFrame,
    columns: list[str],
    ts_col: str,
    t0,
    t1,
    dest: str,
    order_by: str | None = None,
) -> str:
    """Half-open time slice, explicit projection, ordered export. Returns
    the format actually written ('avro' or 'parquet' fallback)."""
    order_col = order_by or ts_col
    out = df.filter(
        (F.col(ts_col) >= F.lit(t0).cast("timestamp")) & (F.col(ts_col) < F.lit(t1).cast("timestamp"))
    ).select(*columns)
    return write_ordered(out, order_col, dest)


def write_ordered(out: DataFrame, order_col: str, dest: str) -> str:
    """The reference's ORDER BY as a per-file guarantee: range-partition
    on the sort key, sort within partitions, then
    :func:`write_avro_or_parquet`. Returns the format written."""
    return write_avro_or_parquet(
        out.repartitionByRange(F.col(order_col)).sortWithinPartitions(order_col), dest
    )


def write_avro_or_parquet(out: DataFrame, dest: str) -> str:
    """Write avro via the spark-avro DataSource when present; when the
    connector jar is absent, write REAL Avro binary anyway through the
    Python container writer (avro_writer.py) running distributed —
    one Avro Object Container File per partition via mapInArrow. Returns
    the format actually written ('avro' either way; 'parquet' remains only
    as a last-resort marker if the Python writer cannot express a type:
    ``spark_schema_to_avro`` raises that TypeError on the driver, before
    any job, since one raised in a Python worker would arrive here as a
    PythonException).
    Read results back with :func:`read_export` (DataSource if present,
    else the Python reader). Any real write failure (permissions, disk,
    task errors) propagates."""
    try:
        out.write.mode("overwrite").format("avro").save(dest)
        return "avro"
    except Exception as exc:
        if not _missing_avro_datasource(exc):
            raise
    try:
        write_avro_distributed(out, dest)
        return "avro"
    except TypeError:
        # a Spark type with no Avro mapping in the Python writer
        out.write.mode("overwrite").parquet(dest)
        return "parquet"


def _missing_avro_datasource(exc: Exception) -> bool:
    """True iff the failure is the spark-avro DataSource being absent
    (vs a real write/read error, which must propagate)."""
    msg = str(exc).lower()
    return "failed to find" in msg or "data_source_not_found" in msg or "classnotfound" in msg


def write_avro_distributed(out: DataFrame, dest: str, codec: str = "deflate") -> int:
    """Distributed Avro export without the spark-avro jar: each partition
    writes one Avro Object Container File via mapInArrow, its blocks
    encoded column-wise straight from the partition's Arrow batches
    (avro_writer.py) — Arrow keeps null/timestamp/decimal fidelity exactly.
    The per-partition write preserves sortWithinPartitions ordering,
    matching the reference export's per-file ordering contract. Blocks are
    deflate-compressed by default (the spec's RFC-1951 codec, stdlib zlib)
    — the right trade for export bandwidth at scale. Returns total rows
    written."""
    import itertools
    import shutil

    import pyarrow as pa

    from . import avro_writer as AW

    avsc = AW.spark_schema_to_avro(out.schema)
    if os.path.isdir(dest):
        shutil.rmtree(dest)  # overwrite disposition, like the DataSource path
    os.makedirs(dest, exist_ok=True)

    def write_part(batches):
        batches = (b for b in batches if b.num_rows)
        first = next(batches, None)
        if first is None:
            return  # empty partition -> no file
        path = os.path.join(dest, AW.new_part_name())
        n = AW.write_container(path, avsc, itertools.chain([first], batches), codec=codec)
        yield pa.RecordBatch.from_pydict({"file": [path], "n_rows": [n]})

    manifest = out.mapInArrow(write_part, "file string, n_rows long").collect()
    total = sum(r["n_rows"] for r in manifest)
    if not manifest:
        # zero-row export: write one empty schema-bearing container file so
        # the directory reads back as an empty DataFrame (parity with the
        # DataSource/parquet behavior), not a FileNotFoundError
        AW.write_container(os.path.join(dest, AW.new_part_name()), avsc, [])
    return total


def read_export(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Read an export directory or file written by write_avro_or_parquet:
    parquet via the native reader; avro via the DataSource when present,
    else the pure-Python container reader running DISTRIBUTED (one
    mapInArrow task per container file — executors decode in parallel;
    only the first file's header is opened on the driver, for the schema)."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        if not _missing_avro_datasource(exc):
            raise
    from . import avro_writer as AW

    files = (
        [path]
        if os.path.isfile(path)
        else [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".avro")]
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    head_avsc, _ = AW.read_container(files[0], meta_only=True)
    schema = AW.avro_schema_to_spark(head_avsc)

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def read_part(batches):
        for b in batches:
            for rec in b.to_pylist():
                avsc, raw = AW.read_container(rec["path"])
                rows = [AW.decode_logicals(avsc, r) for r in raw]
                yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    fdf = local_df(spark, [(f,) for f in files], "path string").repartition(len(files))
    return fdf.mapInArrow(read_part, schema)


def ndjson_extract(df: DataFrame, dest: str) -> None:
    """Single-file JSON dump (coalesce(1): the feed is one small mart)."""
    df.coalesce(1).write.mode("overwrite").json(dest)


def copy_table(spark: SparkSession, src_path: str, dest_path: str) -> None:
    """BQ copy job, WRITE_TRUNCATE disposition."""
    spark.read.parquet(src_path).write.mode("overwrite").parquet(dest_path)


def create_or_replace_view(spark: SparkSession, name: str, df: DataFrame) -> None:
    """CREATE OR REPLACE VIEW (dags/queries/create_view.sql:1-3)."""
    df.createOrReplaceTempView(name)
