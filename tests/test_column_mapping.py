"""Column mapping: RENAME/DROP COLUMN without rewriting data files
(Delta columnMapping / Iceberg field-rename parity) across every surface
of the versioned-table connector — library reads, pruned scans, DML,
clone/restore/compact, and the Spark Data Source (batch + stream)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.sinks import snapshots as S


def _mk(spark, path, stats=False):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    S.overwrite_versioned(
        spark, df.repartition(3, "id"), path, stats_cols=["id"] if stats else None
    )
    return path


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    files_before = sorted(S.read_manifest(tbl)["files"])
    v = S.rename_column(tbl, "amount", "balance")
    assert v == 2
    assert sorted(S.read_manifest(tbl)["files"]) == files_before  # zero rewrite
    cur = S.read_snapshot(spark, tbl)
    assert "balance" in cur.columns and "amount" not in cur.columns
    assert sorted(r["balance"] for r in cur.collect()) == [10.0, 20.0, 30.0]
    old = S.read_snapshot(spark, tbl, 1)  # each version under its own names
    assert "amount" in old.columns and "balance" not in old.columns


def test_rename_validation(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no column"):
        S.rename_column(tbl, "nope", "x")
    with pytest.raises(ValueError, match="already in use"):
        S.rename_column(tbl, "amount", "name")
    S.rename_column(tbl, "amount", "balance")
    # the retired physical name stays reserved (live in the files)
    with pytest.raises(ValueError, match="already in use"):
        S.rename_column(tbl, "name", "amount")
    # rename back to the physical name clears the mapping entry
    S.rename_column(tbl, "balance", "amount")
    assert S.read_manifest(tbl)["renames"] == {}


def test_drop_column_and_time_travel(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.drop_column(tbl, "name")
    cur = S.read_snapshot(spark, tbl)
    assert set(cur.columns) == {"id", "amount"}
    assert "name" in S.read_snapshot(spark, tbl, 1).columns
    with pytest.raises(ValueError, match="dropped"):
        S.scan_snapshot(spark, tbl, [("name", "=", "a")]).collect()


def test_scan_prunes_on_renamed_stats_column(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), stats=True)
    S.rename_column(tbl, "id", "entity_id")
    m = S.read_manifest(tbl)
    # stats stay keyed by the PHYSICAL name and still prune
    assert S.prune_files(m, S.translate_where(m, [("entity_id", "=", 2)]))
    assert len(S.prune_files(m, S.translate_where(m, [("entity_id", "=", 2)]))) < len(m["files"])
    got = S.scan_snapshot(spark, tbl, [("entity_id", "=", 2)]).collect()
    assert [r["entity_id"] for r in got] == [2]


def test_dml_under_logical_names_and_drop_reclaim(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), stats=True)
    S.rename_column(tbl, "amount", "balance")
    S.drop_column(tbl, "name")
    v, rewritten = S.update_where(spark, tbl, [("id", "=", 2)], {"balance": "balance * 2"})
    assert rewritten >= 1
    rows = {r["id"]: r["balance"] for r in S.read_snapshot(spark, tbl).collect()}
    assert rows == {1: 10.0, 2: 40.0, 3: 30.0}
    # the rewritten file carries PHYSICAL names and reclaims the dropped col
    m = S.read_manifest(tbl)
    new_files = [f for f in m["files"] if f not in set(S.read_manifest(tbl, v - 1)["files"])]
    assert new_files
    names = set(pq.read_schema(new_files[0]).names)
    assert "amount" in names and "balance" not in names and "name" not in names
    # delete under the logical predicate
    S.delete_where(spark, tbl, [("balance", ">", 35.0)])
    assert sorted(r["id"] for r in S.read_snapshot(spark, tbl).collect()) == [1, 3]


def test_clone_restore_compact_mapping_semantics(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), stats=True)
    S.rename_column(tbl, "amount", "balance")
    # clone sees the same logical schema
    cl = str(tmp_path / "clone")
    S.clone(tbl, cl)
    assert "balance" in S.read_snapshot(spark, cl).columns
    # restore to v1 rolls the rename back
    S.restore(tbl, 1)
    assert "amount" in S.read_snapshot(spark, tbl).columns
    S.restore(tbl, 2)
    assert "balance" in S.read_snapshot(spark, tbl).columns
    # compaction materializes: physical file names become logical, mapping resets
    S.compact_snapshot(spark, tbl, target_files=1)
    m = S.read_manifest(tbl)
    assert m["renames"] == {} and m["dropped_cols"] == []
    assert "balance" in pq.read_schema(m["files"][0]).names
    assert m["stats_cols"] == ["id"]  # stat pin survives (id unrenamed)
    assert "balance" in S.read_snapshot(spark, tbl).columns


def test_overwrite_resets_mapping(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.rename_column(tbl, "amount", "balance")
    S.overwrite_versioned(
        spark, spark.createDataFrame([(9, 1.0)], "id long, balance double"), tbl
    )
    m = S.read_manifest(tbl)
    assert m["renames"] == {} and m["dropped_cols"] == []
    assert set(S.read_snapshot(spark, tbl).columns) == {"id", "balance"}


def test_mapping_guard_on_bucketed_merge_tables(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.merge import apply_changes

    tbl = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(1, "x", 5, False)], "id long, v string, seq long, deleted boolean"
    )
    apply_changes(spark, df, tbl, keys=("id",), n_buckets=4, order_cols=("seq",))
    with pytest.raises(NotImplementedError, match="bucketed merge"):
        S.rename_column(tbl, "v", "w")


def test_datasource_read_and_filter_after_rename(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = _mk(spark, str(tmp_path / "t"), stats=True)
    S.rename_column(tbl, "id", "entity_id")
    df = spark.read.format("snapshot").option("path", tbl).load()
    assert "entity_id" in df.columns and "id" not in df.columns
    got = df.filter(F.col("entity_id") == 2).collect()
    assert len(got) == 1 and got[0]["entity_id"] == 2
    # time travel reads v1 under its original names
    old = spark.read.format("snapshot").option("path", tbl).option("version", "1").load()
    assert "id" in old.columns


def test_datasource_append_writes_physical_names(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = _mk(spark, str(tmp_path / "t"))
    S.rename_column(tbl, "amount", "balance")
    before = set(S.read_manifest(tbl)["files"])
    (
        spark.createDataFrame([(4, "d", 40.0)], "id long, name string, balance double")
        .coalesce(1)
        .write.format("snapshot")
        .option("path", tbl)
        .mode("append")
        .save()
    )
    m = S.read_manifest(tbl)
    new_files = [f for f in m["files"] if f not in before]
    assert new_files
    # appended file carries the PHYSICAL name — one uniform file schema
    assert "amount" in pq.read_schema(new_files[0]).names
    assert m["renames"]  # mapping survives the append
    out = S.read_snapshot(spark, tbl)
    assert sorted(r["balance"] for r in out.collect()) == [10.0, 20.0, 30.0, 40.0]
    # and the Data Source read agrees
    via_ds = spark.read.format("snapshot").option("path", tbl).load()
    assert sorted(r["balance"] for r in via_ds.collect()) == [10.0, 20.0, 30.0, 40.0]


def test_stream_read_after_rename_yields_logical_names(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = _mk(spark, str(tmp_path / "t"))
    S.rename_column(tbl, "amount", "balance")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("snapshot")
        .option("path", tbl)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert "balance" in got.columns and "amount" not in got.columns
    assert sorted(r["balance"] for r in got.collect()) == [10.0, 20.0, 30.0]


def test_cdf_emits_under_new_logical_schema(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.cdf import read_changes

    tbl = _mk(spark, str(tmp_path / "t"))
    S.rename_column(tbl, "amount", "balance")          # v2 (metadata-only)
    S.update_where(spark, tbl, [("id", "=", 2)], {"balance": "99.0"})  # v3
    ch = read_changes(spark, tbl, from_version=1, keys=("id",))
    assert "balance" in ch.columns and "amount" not in ch.columns
    post = {r["id"]: r["balance"] for r in ch.collect() if r["_change_type"] == "update_postimage"}
    assert post == {2: 99.0}
