"""Idempotent batch ingest: the engine's core del/ins primitive.

Reproduces the reference's composite operator (delete batch, then load
NDJSON append — build_del_ins_from_gcs_to_bq_task.py:55-203, task wrapper
build_del_ins_operator.py:9-118) as one Spark job:

  read NDJSON (pinned schema)
    -> stamp batch columns
    -> dynamic-partition-overwrite the (month, batch_id) slice, its scan
       failing on the first corrupt line (zero-bad-record gate)
    -> append a reconciliation row to the _meta batch-runs table
       (build_batch_stats.py:9-43).

Re-running the same batch replaces its own partitions and leaves every
other batch untouched — the FIXTURES.md replay property.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks import writer
from ..sources.ndjson import read_ndjson_gated, stamp_batch_columns
from .batch import BatchWindow

BATCH_RUNS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("batch_run_date", T.TimestampNTZType()),
        T.StructField("start_ledger", T.LongType()),
        T.StructField("end_ledger", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("batch_start", T.TimestampType()),
    ]
)


@dataclass
class Warehouse:
    """Filesystem-rooted table namespace (object-store prefix at scale)."""

    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def meta_path(self) -> str:
        return os.path.join(self.root, "_meta", "batch_runs")

    def counters_path(self) -> str:
        return os.path.join(self.root, "_meta", "ingest_counters")

    def recover(self) -> list[str]:
        """Restore directories left mid-swap by an interrupted
        :func:`..operators.merge.safe_overwrite` (a ``.bak-<name>`` dir with
        no ``<name>``). Walks the WHOLE tree, not just top-level tables —
        compaction swaps leaf partition dirs, so a crash can leave a backup
        nested arbitrarily deep. Call once at startup. Returns the
        root-relative paths recovered."""
        from .merge import BACKUP_PREFIX, recover_overwrite

        recovered = []
        if os.path.isdir(self.root):
            for dirpath, dirnames, _files in os.walk(self.root):
                for d in sorted(dirnames):
                    if d.startswith(BACKUP_PREFIX):
                        target = os.path.join(dirpath, d[len(BACKUP_PREFIX):])
                        if recover_overwrite(target):
                            recovered.append(os.path.relpath(target, self.root))
        return recovered


def record_batch_stats(
    spark: SparkSession, wh: Warehouse, window: BatchWindow, table: str, batch_start: datetime
) -> None:
    """Append one lineage row to ``_meta/batch_runs``, written on the
    driver with pyarrow (as :func:`record_ingest_counters` does): a Spark
    write of one row costs ~0.3 s of job scheduling. The file is written
    under a ``.``-prefixed name, which Spark's listing skips, then renamed
    into place, so a failed write leaves nothing a reader lists. It
    carries Spark's row metadata, so the directory reads back with
    exactly ``BATCH_RUNS_SCHEMA`` (NTZ vs LTZ timestamps included) next to
    Spark-written files, whatever ``inferTimestampNTZ`` says."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    row = BATCH_RUNS_SCHEMA.toInternal(
        (window.batch_id, window.batch_run_date, window.start_ledger, window.end_ledger, table, batch_start)
    )
    schema = to_arrow_schema(BATCH_RUNS_SCHEMA).with_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": BATCH_RUNS_SCHEMA.json()}
    )
    data = pa.table([pa.array([v], f.type) for v, f in zip(row, schema)], schema=schema)
    meta = wh.meta_path()
    os.makedirs(meta, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(meta, f".{name}")
    try:
        pq.write_table(data, hidden)
        os.replace(hidden, os.path.join(meta, name))
    except BaseException:
        if os.path.exists(hidden):
            os.remove(hidden)
        raise


def record_ingest_counters(
    spark: SparkSession, wh: Warehouse, window: BatchWindow, table: str, n_rows: int
) -> int:
    """Per-table ingest counters on the contention-free additive-MoR
    shape (VERDICT r10 ask #5): one delta row per batch run into
    ``_meta/ingest_counters``, keys=(table_name,), summing
    (n_batches, n_rows). Unlike the lineage append of
    :func:`record_batch_stats` (which deliberately records EVERY run,
    reruns included — build_batch_stats.py:9-43 parity), counters must
    not double-count a replayed batch: the del/ins write REPLACES its
    own partitions on rerun, so the counter delta rides the txn ledger
    (txn_id = batch:table) and a redelivery is a no-op. Writers never
    read and never conflict — N concurrent table ingests land without
    retries; :func:`fold_ingest_counters` bounds read cost on the
    maintenance cadence."""
    from .additive_mor import write_delta_rows

    # driver-staged delta (append_versioned_rows): one pyarrow file +
    # manifest publish, ~10 ms — a Spark job for one counter row costs
    # ~0.5 s of pure scheduling (measured r11; the first cut used
    # createDataFrame().coalesce(1), which was worse still at ~3.7 s —
    # one task walking 32 empty pickled slices through a Python worker)
    return write_delta_rows(
        spark,
        [(table, 1, int(n_rows))],
        "table_name string, n_batches long, n_rows long",
        wh.counters_path(),
        ("table_name",),
        ("n_batches", "n_rows"),
        txn_id=f"{window.batch_id}:{table}",
    )


def read_ingest_counters(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """Folded view of the ingest counters: one row per table."""
    from .additive_mor import read_additive

    return read_additive(spark, wh.counters_path())


def fold_ingest_counters(spark: SparkSession, wh: Warehouse) -> tuple[int, int]:
    """Maintenance fold (run on the same cadence as compaction/vacuum):
    rewrites the counter delta pile to one row per table so reads stop
    paying O(batches-since-fold)."""
    from .additive_mor import fold_additive

    return fold_additive(spark, wh.counters_path())


def ingest_batch(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    src_path: str,
    schema: T.StructType,
    window: BatchWindow,
    partition_field: str = "batch_run_date",
    granularity: str = "month",
    cluster_fields: tuple[str, ...] = (),
    failed_transforms: int = 0,
    staging: bool = False,
) -> DataFrame:
    """The del/ins composite. Returns the stamped DataFrame that was
    written (for chaining into views/marts).

    The zero-bad-record gate runs inside the write: a corrupt line fails
    the write's task, so the dynamic-overwrite commit never runs and no
    lineage or counter row is recorded, and the caller gets
    ``BadRecordsError``. A clean batch costs the one write job."""
    # aware UTC: TimestampType reads a naive datetime as host-local time.
    # It is also the one literal insert time: current_timestamp() would
    # re-evaluate on every action over the returned frame and drift from
    # the table
    batch_start = datetime.now(timezone.utc)
    # observe the row count DURING the write action (no second pass over
    # the NDJSON) — it feeds the additive-MoR ingest counters below
    obs = Observation(f"ingest-{table}-{window.batch_id}")
    dest_table = f"{table}_staging" if staging else table
    with read_ndjson_gated(spark, src_path, schema, failed_transforms=failed_transforms) as (gated, plain):
        written = stamp_batch_columns(gated, window.batch_id, window.batch_run_date, batch_start)
        written = written.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        writer.replace_batch(written, wh.path(dest_table), partition_field, granularity, cluster_fields)
    record_batch_stats(spark, wh, window, table, batch_start)
    # counters key on the DESTINATION (ADVICE r11): a stage-then-promote
    # flow runs ingest_batch twice for one batch_id, and with a shared
    # txn_id the real ingest's delta would ledger-no-op against the
    # staging run's — replay idempotence is per destination table
    record_ingest_counters(spark, wh, window, dest_table, int(obs.get["n_rows"]))
    return stamp_batch_columns(plain, window.batch_id, window.batch_run_date, batch_start)


def read_table(spark: SparkSession, wh: Warehouse, table: str) -> DataFrame:
    return spark.read.parquet(wh.path(table)).drop(writer.PART_COL)
