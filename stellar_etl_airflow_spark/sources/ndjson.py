"""Schema-enforced NDJSON reader with a zero-bad-record gate.

The reference loads exporter output (newline-delimited JSON on GCS) with a
pinned schema, autodetect off, and ``max_bad_records=0`` — any malformed
row fails the load (build_del_ins_from_gcs_to_bq_task.py:143-203, gate at
:160; the Custom operator additionally fails when the exporter reported
failed_transforms > 0, :30-52).

Spark equivalent: PERMISSIVE read with a ``_corrupt_record`` rescue column;
a row is corrupt when that column is non-null (``_is_corrupt``, the one
definition both gates use). Two ways to enforce the budget:

- ``read_ndjson`` counts first: one column-pruned aggregate over the rescue
  column, then the clean projection. It serves direct readers and any
  budget above 0.
- ``read_ndjson_gated`` enforces the zero budget inside the caller's own
  action: the plan holds a filter that raises on the first corrupt row,
  so the task fails and a write's commit never runs. The load then costs
  one scan, not validate-then-load's two.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class BadRecordsError(ValueError):
    pass


class FailedTransformsError(ValueError):
    pass


CORRUPT_COL = "_corrupt_record"
# prefix of the error the in-plan gate raises (followed by the path)
_GATE_TAG = "corrupt NDJSON row in "


def _is_corrupt() -> Column:
    return F.col(CORRUPT_COL).isNotNull()


def _read_permissive(
    spark: SparkSession, path: str, schema: T.StructType, failed_transforms: int, max_failed_transforms: int
) -> DataFrame:
    """The pinned-schema read with the rescue column (no job runs); fails
    first if the upstream exporter reported failed transforms (the
    Sentry-fatal gate at build_del_ins_from_gcs_to_bq_task.py:38-52)."""
    if failed_transforms > max_failed_transforms:
        raise FailedTransformsError(
            f"exporter reported {failed_transforms} failed transforms (max {max_failed_transforms})"
        )
    with_rescue = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    return spark.read.schema(with_rescue).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    ).json(path)


def _count_corrupt(df: DataFrame) -> int:
    # Spark refuses plans whose referenced columns are ONLY the corrupt
    # column, and column pruning strips a merely-selected sibling — so the
    # probe AGGREGATES over a real field alongside the corrupt indicator.
    aggs = [F.sum(_is_corrupt().cast("int")).alias("bad")]
    first = next((f.name for f in df.schema.fields if f.name != CORRUPT_COL), None)
    if first is not None:
        aggs.append(F.count(F.col(first)).alias("_touch"))
    return df.agg(*aggs).collect()[0]["bad"] or 0


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_bad_records: int = 0,
    failed_transforms: int = 0,
    max_failed_transforms: int = 0,
) -> DataFrame:
    """Read NDJSON with the pinned schema; fail if corrupt rows exceed the
    budget (default 0) or the upstream exporter reported failed transforms.
    The budget is checked eagerly, by a count before the frame returns."""
    df = _read_permissive(spark, path, schema, failed_transforms, max_failed_transforms)
    bad = _count_corrupt(df)
    if bad > max_bad_records:
        raise BadRecordsError(f"{bad} corrupt NDJSON rows in {path} (max {max_bad_records})")
    # within-budget corrupt rows are SKIPPED (BigQuery max_bad_records
    # semantics), never returned as all-null rows
    clean = df.filter(~_is_corrupt()) if bad else df
    return clean.drop(CORRUPT_COL)


@contextmanager
def read_ndjson_gated(spark: SparkSession, path: str, schema: T.StructType, failed_transforms: int = 0):
    """Zero-budget read that runs no job of its own. Yields ``(gated,
    plain)``: ``gated`` raises inside whatever action scans it, on its
    first corrupt row; ``plain`` is the same rows unchecked, for reuse
    once the gated action has succeeded (Spark refuses a count over
    ``gated``, whose only file column it then reads is the corrupt one).
    A failure of the ``with`` body caused by the gate leaves it as
    ``BadRecordsError``, carrying the count ``read_ndjson`` would report;
    any other failure propagates unchanged."""
    df = _read_permissive(spark, path, schema, failed_transforms, 0)
    tag = f"{_GATE_TAG}{path}"
    # CaseWhen(corrupt, raise, true) in a filter simplifies to
    # Or(Not(corrupt), raise): the raise is evaluated only on a corrupt row
    gate = F.when(_is_corrupt(), F.raise_error(F.lit(tag))).otherwise(F.lit(True))
    try:
        yield df.filter(gate).drop(CORRUPT_COL), df.drop(CORRUPT_COL)
    except Exception as exc:  # noqa: BLE001 - re-raised unless it is the gate's
        if tag not in str(exc):
            raise
        raise BadRecordsError(f"{_count_corrupt(df)} corrupt NDJSON rows in {path} (max 0)") from exc


def stamp_batch_columns(df: DataFrame, batch_id: str, batch_run_date, batch_insert_ts=None) -> DataFrame:
    """Attach the idempotency/lineage triplet stamped on every exported row
    (build_export_task.py:143-147)."""
    ts = F.lit(batch_insert_ts).cast("timestamp") if batch_insert_ts is not None else F.current_timestamp()
    return (
        df.withColumn("batch_id", F.lit(batch_id))
        .withColumn("batch_run_date", F.lit(batch_run_date).cast("timestamp_ntz"))
        .withColumn("batch_insert_ts", ts)
    )
