"""Three facts about a snapshot version are derived in one place each
(sinks/snapshots.py): which rows of a file subset are visible
(``_read_physical`` applies the deletion vectors), what changed between
two versions (``changed_files``) and which ``k=v`` directories a file
sits under (``_partition_dirs``). These cases pin the rows the earlier
per-caller copies lost or hid, plus the guards and metadata reads that
now share those helpers."""

from __future__ import annotations

import hashlib
import os
import uuid

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.cdf import read_changes
from stellar_etl_airflow_spark.operators.merge import apply_changes
from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.sources import snapshot_source
from stellar_etl_airflow_spark.streaming import cdf_source


def _tree(path: str) -> dict:
    """{relative path: sha1 of the bytes} of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def test_library_append_refuses_adopted_hive_table(spark, tmp_path):
    """A flat append onto an adopted ``partitionBy("d")`` table would
    list root files beside ``d=`` dirs: every reader then loses the
    appended rows. The append refuses before staging anything."""
    tbl = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "x long, d string").write.partitionBy(
        "d"
    ).parquet(tbl)
    S.snapshot(tbl)
    before = _tree(tbl)
    with pytest.raises(NotImplementedError, match="hive partition"):
        S.append_versioned(spark, spark.createDataFrame([(3,)], "x long"), tbl)
    assert _tree(tbl) == before
    assert S.read_snapshot(spark, tbl).count() == 2


def _restore_plus_dv(spark, tbl: str) -> None:
    """v1: 4 rows in 1 file; v2 masks x=1, v3 restores v1, v4 masks x=2.
    v2 and v4 record the same per-file vector count on the same file."""
    S.overwrite_versioned(spark, spark.range(4).selectExpr("id AS x").coalesce(1), tbl)
    S.delete_where_dv(spark, tbl, [("x", "=", 1)])
    S.restore(tbl, 1)
    S.delete_where_dv(spark, tbl, [("x", "=", 2)])
    m2, m4 = S.read_manifest(tbl, 2), S.read_manifest(tbl, 4)
    assert m2["dv"]["counts"] == m4["dv"]["counts"]


def test_restore_plus_dv_range_is_seen_by_every_reader(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _restore_plus_dv(spark, tbl)
    assert S.changed_files(S.read_manifest(tbl, 2), S.read_manifest(tbl, 4))[2] == list(
        S.read_manifest(tbl, 4)["files"]
    )
    got = {(r["x"], r["_change_type"]) for r in read_changes(spark, tbl, 2, 4, keys=("x",)).collect()}
    assert got == {(1, "insert"), (2, "delete")}

    snapshot_source.register(spark)
    q = (
        spark.readStream.format("snapshot").option("path", tbl)
        .option("startingVersion", "2").load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="not append-only"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()

    cdf_source.register(spark)
    q = (
        spark.readStream.format(cdf_source.FORMAT_NAME).option("path", tbl)
        .option("keys", "x").option("startingVersion", "2").load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink2"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="deletion vectors"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()


def test_datasource_append_refuses_untracked_directory(spark, tmp_path):
    """The Data Source append bootstraps under the same guard as
    ``append_versioned``: a v1 listing only its own files would hide the
    plain-writer file and hand it to vacuum as an orphan."""
    tbl = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "x long").write.parquet(tbl)
    legacy = S._list_data_files(tbl)
    snapshot_source.register(spark)
    with pytest.raises(Exception, match="untracked plain-writer"):
        spark.createDataFrame([(2,)], "x long").write.format("snapshot").mode(
            "append"
        ).option("path", tbl).save()
    assert S.latest_version(tbl) is None
    assert S._list_data_files(tbl) == legacy


@pytest.mark.parametrize("first", [True, False], ids=["rewritten_first", "rewritten_last"])
def test_drop_column_dml_read_schema_is_stable(spark, tmp_path, monkeypatch, first):
    """A DML rewrite after ``drop_column`` writes files without the
    dropped column beside carried files that hold it. The version mixes
    schemas, so it reads their union whichever file name sorts first."""
    tbl = str(tmp_path / "t")
    df = spark.range(40).selectExpr("id AS k", "id % 3 AS v", "id AS extra")
    S.overwrite_versioned(spark, df.repartitionByRange(4, "k"), tbl, stats_cols=["k"])
    S.drop_column(tbl, "extra")
    counter = iter(range(1, 1 << 20))
    prefix = 0 if first else (1 << 128) - (1 << 64)
    monkeypatch.setattr(S.uuid, "uuid4", lambda: uuid.UUID(int=prefix + next(counter)))
    S.delete_where(spark, tbl, [("k", "=", 5)])
    monkeypatch.undo()
    m = S.read_manifest(tbl)
    rewritten = [f for f in m["files"] if f not in S.read_manifest(tbl, 2)["files"]]
    assert rewritten and (min(m["files"]) in rewritten) == first
    assert S._read_physical(spark, m).schema.names == ["k", "v", "extra"]
    assert S.read_snapshot(spark, tbl).columns == ["k", "v"]
    assert S.read_snapshot(spark, tbl).count() == 39


def test_cdf_stream_schema_reads_the_record(spark, tmp_path, monkeypatch):
    """The stream schema comes from the manifest's record: the same
    schema the footers give, with at most one footer opened."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = str(tmp_path / "t")
    batch = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2.5).alias("v"), F.current_timestamp().alias("ts"),
        F.lit(False).alias("deleted"), F.lit(1).cast("long").alias("last_modified_ledger"),
        F.lit(0).cast("long").alias("ledger_entry_change"),
    )
    apply_changes(spark, batch, path, keys=("k",), n_buckets=32)
    m = S.read_manifest(path)
    assert len(m["files"]) >= 32
    footers = from_arrow_schema(snapshot_source._unified_arrow_schema(m["files"]))
    opened = []
    for name in ("ParquetFile", "read_schema", "read_table", "read_metadata"):
        real = getattr(pq, name)
        monkeypatch.setattr(pq, name, lambda *a, _real=real, **k: opened.append(a) or _real(*a, **k))
    got = cdf_source.SnapshotCDFSource({"path": path}).schema()
    monkeypatch.undo()
    assert len(opened) <= 1
    assert got.fields[:-2] == footers.fields
    assert got.names[-2:] == ["_change_type", "_commit_version"]


def test_empty_pruned_scan_keeps_the_union_schema(spark, tmp_path):
    """A scan whose predicates prune every file reads as an empty frame
    of the version's full read schema: for an evolved (``mixed_schema``)
    version that is the union of its files, not the last file's."""
    path = str(tmp_path / "t")
    cols = "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change long"
    apply_changes(
        spark, spark.createDataFrame([(k, k, False, 1, 0) for k in range(8)], cols),
        path, keys=("k",), n_buckets=4, stats_cols=("k",),
    )
    apply_changes(
        spark, spark.createDataFrame([(1, 1, False, 2, 0, "w")], cols + ", w string"),
        path, keys=("k",), n_buckets=4, stats_cols=("k",), allow_schema_evolution=True,
    )
    assert S.read_manifest(path)["mixed_schema"]
    empty = S.scan_snapshot(spark, path, [("k", ">", 10_000)])
    assert empty.schema == S.read_snapshot(spark, path).schema
    assert "w" in empty.columns and empty.count() == 0
