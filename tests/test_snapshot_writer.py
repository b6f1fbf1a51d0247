"""df.write.format("snapshot") — the Python Data Source WRITE path
(sources/snapshot_source.py::_SnapshotWriter): task-write/driver-commit
onto the manifest log, append/overwrite modes, and executor-side
stats/bloom metadata feeding the same pruning the library publish path
(overwrite_versioned) feeds.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.sources import snapshot_source


@pytest.fixture(autouse=True)
def _register(spark):
    snapshot_source.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def _write(df, path, mode, **opts):
    w = df.write.format(snapshot_source.FORMAT_NAME).option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def test_writer_roundtrip_and_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    _write(df1, path, "overwrite")
    assert S.latest_version(path) == 1

    back = spark.read.format("snapshot").option("path", path).load()
    assert back.count() == 100
    assert {r["id"] for r in back.collect()} == set(range(100))

    # append adds rows and carries v1's files forward
    df2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    _write(df2, path, "append")
    assert S.latest_version(path) == 2
    assert spark.read.format("snapshot").option("path", path).load().count() == 150
    m1, m2 = S.read_manifest(path, 1), S.read_manifest(path, 2)
    assert set(m1["files"]) < set(m2["files"])

    # overwrite publishes a version listing ONLY the new files; v1/v2
    # stay readable (time travel)
    _write(df1.limit(10), path, "overwrite")
    assert spark.read.format("snapshot").option("path", path).load().count() == 10
    assert (
        spark.read.format("snapshot").option("path", path).option("version", "2")
        .load().count() == 150
    )


def test_writer_stats_and_bloom_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    ).repartitionByRange(8, "id")
    _write(df, path, "overwrite", stats_cols="id", bloom_cols="h")

    m = S.read_manifest(path)
    assert m["stats_cols"] == ["id"] and m["bloom_cols"] == ["h"]
    assert len(m["files"]) == 8
    assert all(f in m["stats"] and "id" in m["stats"][f] for f in m["files"])
    assert all(f in m["blooms"] and "h" in m["blooms"][f] for f in m["files"])

    # [min,max] pruning: a range slice plans fewer input partitions
    sel = (
        spark.read.format("snapshot").option("path", path).load()
        .where((F.col("id") >= 100) & (F.col("id") < 600))
    )
    assert sel.rdd.getNumPartitions() < 8
    assert sel.count() == 500

    # bloom pruning on the hash column: an equality probe plans ~1 file
    import hashlib

    probe = hashlib.md5(b"1234").hexdigest()
    q = (
        spark.read.format("snapshot").option("path", path).load()
        .where(F.col("h") == probe)
    )
    assert q.rdd.getNumPartitions() < 8
    assert q.count() == 1

    # writer-computed blooms agree with the library's contains check
    hit = [f for f in m["files"] if S.bloom_contains(m["blooms"][f]["h"], probe)]
    assert len(hit) >= 1


def test_writer_append_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark.range(0, 5).select("id"), path, "overwrite")
    _write(
        spark.range(5, 8).select(F.col("id"), F.lit("x").alias("tag")), path, "append"
    )
    m = S.read_manifest(path)
    assert m["mixed_schema"] is True
    back = spark.read.format("snapshot").option("path", path).load()
    assert set(back.columns) == {"id", "tag"}
    rows = {r["id"]: r["tag"] for r in back.collect()}
    assert rows[0] is None and rows[7] == "x"

    # same-schema append must NOT flip mixed_schema
    path2 = str(tmp_path / "t2")
    _write(spark.range(0, 5).select("id"), path2, "overwrite")
    _write(spark.range(5, 9).select("id"), path2, "append")
    assert S.read_manifest(path2)["mixed_schema"] is False


def test_writer_empty_partitions_write_no_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 3).repartition(16)  # most partitions empty
    _write(df, path, "overwrite")
    m = S.read_manifest(path)
    assert 0 < len(m["files"]) <= 3
    assert spark.read.format("snapshot").option("path", path).load().count() == 3
    # no stray zero-row parquet files on disk beyond the manifest's
    data = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(data) == len(m["files"])


def test_writer_interops_with_library_publishes(spark, tmp_path):
    """A writer append onto an overwrite_versioned table carries the
    library-published stats forward (one metadata lineage)."""
    path = str(tmp_path / "t")
    S.overwrite_versioned(
        spark,
        spark.range(0, 100).select("id").repartitionByRange(4, "id"),
        path,
        stats_cols=("id",),
    )
    _write(spark.range(100, 200).select("id").repartitionByRange(2, "id"),
           path, "append", stats_cols="id")
    m = S.read_manifest(path)
    assert len(m["files"]) == 6
    assert all(f in m["stats"] for f in m["files"])
    sel = (
        spark.read.format("snapshot").option("path", path).load()
        .where(F.col("id") >= 150)
    )
    assert sel.rdd.getNumPartitions() < 6 and sel.count() == 50


def test_writer_garbage_swept_by_vacuum(spark, tmp_path):
    """A crashed/aborted attempt's unlisted file is invisible to readers
    and reclaimed by vacuum — the no-staging-dir invariant. Since r8 a
    YOUNG never-referenced file is protected for the orphan-retention
    window (it may be a concurrent writer's adopted-but-unpublished
    output); garbage is swept once aged."""
    import time

    path = str(tmp_path / "t")
    _write(spark.range(0, 10).select("id"), path, "overwrite")
    orphan = os.path.join(path, "part-deadbeef-orphan.parquet")
    spark.range(99, 100).toPandas().to_parquet(orphan)
    assert spark.read.format("snapshot").option("path", path).load().count() == 10
    # inside the retention window: kept (could be an in-flight publish)
    assert orphan not in S.vacuum(path, keep_versions=5)
    t = time.time() - 7200
    os.utime(orphan, (t, t))
    deleted = S.vacuum(path, keep_versions=5)
    assert orphan in deleted and not os.path.exists(orphan)
    assert spark.read.format("snapshot").option("path", path).load().count() == 10


def test_writer_empty_overwrite_truncates_and_reads_empty(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark.range(0, 5).select("id"), path, "overwrite")
    # truncate: overwrite with an empty frame publishes a zero-file version,
    # which reads as an empty frame of the schema its manifest carries
    _write(spark.range(0, 0).select("id"), path, "overwrite")
    assert S.latest_version(path) == 2
    got = spark.read.format("snapshot").option("path", path).load()
    assert got.schema.simpleString() == "struct<id:bigint>" and got.count() == 0
    # time travel to v1 still works
    assert (
        spark.read.format("snapshot").option("path", path).option("version", "1")
        .load().count() == 5
    )


def test_register_snapshot_table_sql_surface(spark, tmp_path):
    """spark.sql over a versioned table through the connector: bare-name
    resolution, pruning still applies, time travel via version."""
    from stellar_etl_airflow_spark.catalog import register_snapshot_table

    path = str(tmp_path / "t")
    _write(
        spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("g"))
        .repartitionByRange(4, "id"),
        path, "overwrite", stats_cols="id",
    )
    _write(
        spark.range(100, 120).select(F.col("id"), (F.col("id") % 5).alias("g")),
        path, "append",
    )
    register_snapshot_table(spark, "snap_t", path)
    got = spark.sql("SELECT g, count(*) AS n FROM snap_t GROUP BY g ORDER BY g")
    assert [(r["g"], r["n"]) for r in got.collect()] == [(i, 24) for i in range(5)]

    register_snapshot_table(spark, "snap_t_v1", path, version=1)
    assert spark.sql("SELECT count(*) AS n FROM snap_t_v1").collect()[0]["n"] == 100


def test_empty_version_readable_with_explicit_schema(spark, tmp_path):
    """Review fix: the advertised escape hatch works — a zero-file
    (truncated) version reads as an EMPTY frame when the caller supplies
    .schema(...) explicitly."""
    path = str(tmp_path / "t")
    _write(spark.range(0, 5).select("id"), path, "overwrite")
    _write(spark.range(0, 0).select("id"), path, "overwrite")
    got = (
        spark.read.format("snapshot").schema("id long")
        .option("path", path).load()
    )
    assert got.count() == 0 and got.columns == ["id"]


def test_append_to_bucketed_merge_table_rejected(spark, tmp_path):
    """Review fix: appending flat files onto a bucketed merge table would
    publish a mixed-depth manifest that basePath reads reject — the
    writer refuses up front and drops its staged files."""
    from stellar_etl_airflow_spark.operators.merge import apply_changes

    path = str(tmp_path / "t")
    apply_changes(
        spark,
        spark.createDataFrame([(1, 1.0, 1, False)],
                              "account_id long, balance double, seq long, deleted boolean"),
        path, keys=("account_id",), n_buckets=2, order_cols=("seq",),
    )
    v = S.latest_version(path)
    n_files = len(S.read_manifest(path)["files"])
    with pytest.raises(Exception, match="bucketed merge table"):
        _write(spark.range(3).select(F.col("id").alias("account_id")), path, "append")
    assert S.latest_version(path) == v
    # the rejected attempt's files are not on disk
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 0
    assert len(S.read_manifest(path)["files"]) == n_files


def test_overwrite_versioned_carries_txn_ledger(spark, tmp_path):
    """Review fix: the ledger-survives-overwrite invariant holds through
    the LIBRARY publish path too, not just the Data Source writer."""
    from stellar_etl_airflow_spark.sources.snapshot_source import _SnapshotStreamWriter

    import pyarrow as pa

    path = str(tmp_path / "t")
    w = _SnapshotStreamWriter({"path": path}, overwrite=False)
    tbl = pa.table({"id": pa.array([1, 2], type=pa.int64())})
    w.commit([w.write(iter(tbl.to_batches()))], batchId=0)
    v_after_stream = S.latest_version(path)

    S.overwrite_versioned(spark, spark.range(9, 12).select("id"), path)
    # redelivery of batch 0 after the overwrite must still be a no-op
    replay = w.write(iter(tbl.to_batches()))
    w.commit([replay], batchId=0)
    assert S.latest_version(path) == v_after_stream + 1  # only the overwrite
    assert not os.path.exists(replay.file)
    got = sorted(r["id"] for r in
                 spark.read.format("snapshot").option("path", path).load().collect())
    assert got == [9, 10, 11]


def test_writer_max_records_per_file_rolls(spark, tmp_path):
    """File sizing decoupled from task count: a task holding more rows
    than maxRecordsPerFile rolls to a new file, each rolled file carrying
    its OWN stats/blooms."""
    path = str(tmp_path / "t")
    (
        spark.range(0, 1000)
        .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
        .coalesce(1)  # one task...
        .write.format("snapshot").option("path", path)
        .option("maxRecordsPerFile", "300")
        .option("stats_cols", "id").option("bloom_cols", "h")
        .mode("overwrite").save()
    )
    m = S.read_manifest(path)
    assert len(m["files"]) == 4  # ...rolled into ceil(1000/300) files
    assert all(f in m["stats"] and f in m["blooms"] for f in m["files"])
    # per-file stats are DISJOINT slices, not copies of the task range
    ranges = sorted(tuple(m["stats"][f]["id"]) for f in m["files"])
    assert ranges[0][1] < ranges[1][0] or ranges[0] != ranges[1]
    back = spark.read.format("snapshot").option("path", path).load()
    assert back.count() == 1000
    import hashlib

    probe = hashlib.md5(b"123").hexdigest()
    hit = [f for f in m["files"] if S.bloom_contains(m["blooms"][f]["h"], probe)]
    assert 1 <= len(hit) < 4  # blooms are per rolled file, not per task
