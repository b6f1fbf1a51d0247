"""Deletion vectors: merge-on-read DELETE (Delta DV parity) — the
metadata-only delete whose cost is the deleted rows, not the affected
files; materialized by any later rewrite."""

from __future__ import annotations

import os

import pytest

from stellar_etl_airflow_spark.sinks import snapshots as S


def _mk(spark, path, n=100, files=4):
    df = spark.range(0, n).selectExpr("id AS k", "id % 7 AS v")
    S.overwrite_versioned(
        spark, df.repartitionByRange(files, "k"), path, stats_cols=["k"]
    )
    return path


def _ks(spark, tbl, version=None):
    return sorted(r["k"] for r in S.read_snapshot(spark, tbl, version).collect())


def test_dv_delete_is_rewrite_free_and_exact(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    files_v1 = sorted(S.read_manifest(tbl)["files"])
    v, n = S.delete_where_dv(spark, tbl, [("k", "<", 10)])
    assert (v, n) == (2, 10)
    m = S.read_manifest(tbl)
    assert sorted(m["files"]) == files_v1  # zero data files touched
    assert sum(m["dv"]["counts"].values()) == 10
    assert _ks(spark, tbl) == list(range(10, 100))
    # time travel still sees the deleted rows
    assert _ks(spark, tbl, 1) == list(range(0, 100))
    # second DV delete merges with the first (and skips already-masked rows)
    v, n = S.delete_where_dv(spark, tbl, [("k", "<", 15)])
    assert n == 5
    assert _ks(spark, tbl) == list(range(15, 100))


def test_dv_pruned_scan_and_noop(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "=", 30)])
    got = sorted(r["k"] for r in S.scan_snapshot(spark, tbl, [("k", "<", 35)]).collect())
    assert got == [k for k in range(35) if k != 30]
    v_before = S.latest_version(tbl)
    v, n = S.delete_where_dv(spark, tbl, [("k", ">", 10_000)])
    assert (v, n) == (v_before, 0)  # prune-level metadata no-op


def test_rewrite_materializes_dv(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "<", 10)])
    # copy-on-write UPDATE of a DV-bearing file must not resurrect rows
    S.update_where(spark, tbl, [("k", "=", 12)], {"v": "99"})
    assert _ks(spark, tbl) == list(range(10, 100))
    assert {r["k"]: r["v"] for r in S.read_snapshot(spark, tbl).collect()}[12] == 99
    # compaction drops all vectors, contents unchanged
    S.compact_snapshot(spark, tbl, target_files=2)
    m = S.read_manifest(tbl)
    assert m["dv"] == {}
    assert _ks(spark, tbl) == list(range(10, 100))


def test_dv_clone_restore_vacuum(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "<", 10)])  # v2
    cl = str(tmp_path / "c")
    S.clone(tbl, cl)
    assert _ks(spark, cl) == list(range(10, 100))
    # the clone's sidecar is its own (vacuuming the source can't break it)
    assert S.read_manifest(cl)["dv"]["path"].startswith(
        os.path.abspath(S._snap_dir(cl))
    )
    S.restore(tbl, 1)  # rows back
    assert _ks(spark, tbl) == list(range(0, 100))
    S.restore(tbl, 2)  # and gone again
    assert _ks(spark, tbl) == list(range(10, 100))
    S.vacuum(tbl, keep_versions=1)
    side = [n for n in os.listdir(S._snap_dir(tbl)) if n.startswith("dv-v")]
    assert len(side) == 1  # only the retained version's sidecar remains
    assert _ks(spark, tbl) == list(range(10, 100))


def test_dv_composes_with_column_mapping_and_appends(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.rename_column(tbl, "k", "key")
    S.delete_where_dv(spark, tbl, [("key", "<", 5)])  # logical predicate
    assert sorted(r["key"] for r in S.read_snapshot(spark, tbl).collect()) == list(range(5, 100))
    # a Data Source append carries the vectors forward
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    (
        spark.createDataFrame([(500, 0)], "key long, v long")
        .coalesce(1)
        .write.format("snapshot")
        .option("path", tbl)
        .mode("append")
        .save()
    )
    assert sorted(r["key"] for r in S.read_snapshot(spark, tbl).collect()) == list(
        range(5, 100)
    ) + [500]


def test_dv_guards(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.merge import apply_changes

    tbl = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(1, "x", 5, False)], "id long, v string, seq long, deleted boolean"
    )
    apply_changes(spark, df, tbl, keys=("id",), n_buckets=4, order_cols=("seq",))
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        S.delete_where_dv(spark, tbl, [("id", "=", 1)])
    # max_rows cap routes bulk deletes to copy-on-write
    t2 = _mk(spark, str(tmp_path / "t2"))
    with pytest.raises(ValueError, match="copy-on-write"):
        S.delete_where_dv(spark, t2, [("k", ">=", 0)], max_rows=10)


def test_datasource_read_applies_dv(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "<", 10)])
    df = spark.read.format("snapshot").option("path", tbl).load()
    assert sorted(r["k"] for r in df.collect()) == list(range(10, 100))
    # filtered read over a DV-bearing file stays exact
    got = sorted(r["k"] for r in df.filter("k < 20").collect())
    assert got == list(range(10, 20))
    # time travel to v1 sees the pre-delete rows
    old = spark.read.format("snapshot").option("path", tbl).option("version", "1").load()
    assert old.count() == 100


def test_stream_raises_on_dv_change_without_ignorechanges(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "<", 10)])  # v2: DV-only change
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("snapshot")
        .option("path", tbl)
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="deletion vectors|not append-only"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()


def test_cdf_emits_dv_deletes(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.cdf import read_changes

    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "=", 30)])
    ch = read_changes(spark, tbl, from_version=1, keys=("k",)).collect()
    kinds = {(r["k"], r["_change_type"]) for r in ch}
    assert kinds == {(30, "delete")}


def test_describe_history_surfaces_metadata_ops(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    S.delete_where_dv(spark, tbl, [("k", "<", 3)])
    S.rename_column(tbl, "v", "val")
    S.add_constraint(spark, tbl, "k_pos", "k >= 0")
    hist = {r["version"]: r for r in S.describe_history(spark, tbl).collect()}
    assert hist[1]["n_deleted_rows"] == 0 and hist[2]["n_deleted_rows"] == 3
    assert hist[3]["n_renamed_cols"] == 1 and hist[3]["n_constraints"] == 0
    assert hist[4]["n_constraints"] == 1 and hist[4]["n_deleted_rows"] == 3


def test_compact_small_files_binpacks_and_carries(spark, tmp_path):
    tbl = str(tmp_path / "t")
    # one big file + many tiny appends
    S.overwrite_versioned(
        spark,
        spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v").coalesce(1),
        tbl,
        stats_cols=["k"],
    )
    big = S.read_manifest(tbl)["files"][0]
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    for i in range(3):
        (
            spark.createDataFrame([(2000 + i, 0)], "k long, v long")
            .coalesce(1)
            .write.format("snapshot")
            .option("path", tbl)
            .mode("append")
            .save()
        )
    S.delete_where_dv(spark, tbl, [("k", "=", 2001)])
    assert len(S.read_manifest(tbl)["files"]) == 4
    import os as _os

    min_bytes = _os.path.getsize(big)  # strict <: the big file stays
    v, n = S.compact_small_files(spark, tbl, min_bytes=min_bytes)
    assert n == 3  # the big file stayed put
    m = S.read_manifest(tbl)
    assert big in m["files"] and len(m["files"]) == 2
    assert m["dv"] == {}  # the small files' vector was materialized
    ks = sorted(r["k"] for r in S.read_snapshot(spark, tbl).collect())
    assert ks == list(range(0, 1000)) + [2000, 2002]
    # stats carried for the big file, computed for the packed file
    assert set(m["stats"]) == set(m["files"])
    # no-op below the two-small-files bar
    v2, n2 = S.compact_small_files(spark, tbl, min_bytes=min_bytes)
    assert (v2, n2) == (v, 0)


def test_post_drain_autocompact_repairs_stream_small_files(spark, tmp_path):
    """The autoCompact cadence for the streaming sink: drain, then
    `compact_small_files` — in-sink compaction is impossible for a
    Python Data Source (its commit runs in the isolated
    plan-data-source worker, no SparkSession), so the bin-packing runs
    post-drain where a session exists; the txn ledger must survive so
    the stream's exactly-once window stays closed."""
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    tbl = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, v long"
    ).repartition(6).write.parquet(src)
    q = (
        spark.readStream.schema("k long, v long")
        .parquet(src)
        .writeStream.format("snapshot")
        .option("path", tbl)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    n_before = len(S.read_manifest(tbl)["files"])
    assert n_before >= 2
    v, n = S.compact_small_files(spark, tbl, min_bytes=1 << 20)
    assert n == n_before
    m = S.read_manifest(tbl)
    assert len(m["files"]) == 1
    assert m["txns"], "stream txn ledger must survive the bin-packing"
    assert sorted(r["k"] for r in S.read_snapshot(spark, tbl).collect()) == list(range(30))


def test_dv_on_relative_table_path(spark, tmp_path):
    """A table opened via a RELATIVE path must mask identically across
    every surface — DV keys normalize to the manifest's file strings
    and reads compare by abspath (review finding r7). The path is
    relative to the PROCESS cwd (JVM and Python must agree on it, so no
    chdir games; cleaned up after)."""
    import shutil as _sh
    import uuid as _uuid

    tbl = os.path.relpath(
        os.path.join(os.getcwd(), "spark-warehouse", f"relpath-{_uuid.uuid4().hex[:8]}")
    )
    df = spark.range(0, 40).selectExpr("id AS k", "id % 7 AS v")
    S.overwrite_versioned(spark, df.repartitionByRange(2, "k"), tbl, stats_cols=["k"])
    S.delete_where_dv(spark, tbl, [("k", "<", 5)])
    assert _ks(spark, tbl) == list(range(5, 40))
    assert sorted(
        r["k"] for r in S.scan_snapshot(spark, tbl, [("k", "<", 10)]).collect()
    ) == [5, 6, 7, 8, 9]
    # append keeps the vector (the `f in live` inheritance check)
    from stellar_etl_airflow_spark.sources.snapshot_source import register

    register(spark)
    (
        spark.createDataFrame([(100, 0)], "k long, v long")
        .coalesce(1)
        .write.format("snapshot")
        .option("path", tbl)
        .mode("append")
        .save()
    )
    try:
        assert _ks(spark, tbl) == list(range(5, 40)) + [100]
    finally:
        _sh.rmtree(tbl, ignore_errors=True)
