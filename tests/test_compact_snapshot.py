"""compact_snapshot (sinks/snapshots.py): OPTIMIZE for versioned tables
— small-file repair as a new version, preserving time travel, the txn
ledger's exactly-once windows, and the bucketed merge layout.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.merge import (
    BUCKET_COL,
    apply_changes,
    merge_additive_versioned,
)
from stellar_etl_airflow_spark.sinks import snapshots as S

SCHEMA = "account_id long, balance double, seq long, deleted boolean"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _content(spark, path, version=None):
    df = S.read_snapshot(spark, path, version)
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return sorted(tuple(r) for r in df.collect())


def test_compact_bucketed_merge_table(spark, tmp_path):
    path = str(tmp_path / "t")
    for s in range(1, 4):  # 3 merges
        apply_changes(
            spark,
            _batch(spark, [(i, float(i * s), s, False) for i in range(0, 32)]),
            path, keys=("account_id",), n_buckets=4, order_cols=("seq",),
        )
    # additive schema evolution: untouched buckets keep old-schema files,
    # so every read now pays the mergeSchema footer pass -- the bucketed
    # table's reason to compact
    evolved = spark.createDataFrame(
        [(5, 5.0 * 4, 4, False, "x")],
        "account_id long, balance double, seq long, deleted boolean, tag string",
    )
    apply_changes(spark, evolved, path, ("account_id",),
                  order_cols=("seq",), allow_schema_evolution=True)
    assert S.read_manifest(path)["mixed_schema"] is True
    before = _content(spark, path)
    v_before = S.latest_version(path)

    v = S.compact_snapshot(spark, path)
    assert v == v_before + 1
    m = S.read_manifest(path)
    # one file per bucket, still under the hive layout; the full rewrite
    # unified the schema -- no more mergeSchema tax
    assert len(m["files"]) == 4
    assert all(f"{BUCKET_COL}=" in f for f in m["files"])
    assert m["mixed_schema"] is False
    assert _content(spark, path) == before
    # time travel to the pre-compaction version is intact
    assert _content(spark, path, v_before) == before

    # scoped merges keep working and stay scoped: touching one key
    # rewrites ONE bucket's file (the batch lacks the evolved column, so
    # it rides the UPDATE SET * path)
    apply_changes(
        spark, _batch(spark, [(7, 777.0, 9, False)]), path, ("account_id",),
        order_cols=("seq",), allow_schema_evolution=True,
    )
    m2 = S.read_manifest(path)
    new = set(m2["files"]) - set(m["files"])
    gone = set(m["files"]) - set(m2["files"])
    # all churn confined to ONE bucket directory
    buckets_touched = {os.path.dirname(f) for f in new | gone}
    assert len(buckets_touched) == 1, buckets_touched
    got = {r[0]: r[1] for r in _content(spark, path)}
    assert got[7] == 777.0 and got[8] == 8.0 * 3

    # vacuum now reclaims the pre-compaction churn
    deleted = S.vacuum(path, keep_versions=2)
    assert deleted and S.latest_version(path) == v + 1
    assert {r[0] for r in _content(spark, path)} == set(range(0, 32))


def test_compact_preserves_txn_ledger(spark, tmp_path):
    path = str(tmp_path / "t")
    b = _batch(spark, [(1, 10.0, 1, False)]).select("account_id", "balance")
    v1, _ = merge_additive_versioned(
        spark, b, path, ("account_id",), n_buckets=2,
        sum_cols=("balance",), txn_id="batch-1",
    )
    S.compact_snapshot(spark, path)
    # replaying batch-1 AFTER compaction must still be a no-op
    v_replay, touched = merge_additive_versioned(
        spark, b, path, ("account_id",), n_buckets=2,
        sum_cols=("balance",), txn_id="batch-1",
    )
    assert v_replay == v1 and touched == []
    got = {r["account_id"]: r["balance"] for r in
           S.read_snapshot(spark, path).collect()}
    assert got[1] == 10.0  # not double-counted


def test_compact_plain_table_with_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.range(0, 1000).repartitionByRange(8, "id"), path,
        stats_cols=("id",),
    )
    # append churn through the data source writer
    from stellar_etl_airflow_spark.sources import snapshot_source

    snapshot_source.register(spark)
    (spark.range(1000, 1200).repartition(4).write.format("snapshot")
     .option("path", path).option("stats_cols", "id").mode("append").save())
    assert len(S.read_manifest(path)["files"]) > 8

    S.compact_snapshot(spark, path, target_files=4)
    m = S.read_manifest(path)
    assert len(m["files"]) <= 4
    # stats survive the rewrite: pruning still plans a subset
    got = S.scan_snapshot(spark, path, where=[("id", "<", 100)])
    assert got.count() == 100
    assert all(f in m["stats"] for f in m["files"])


def test_compact_zorder_improves_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY parity: after a z-ordered compaction, a
    two-column predicate prunes files from manifest stats alone — the
    pre-compaction random layout cannot."""
    path = str(tmp_path / "t")
    # adversarial layout: files carry interleaved slices of both columns,
    # so every file spans the full [min, max] on x and y
    df = spark.range(0, 4000).select(
        (F.col("id") % 64).alias("x"), ((F.col("id") * 7) % 64).alias("y")
    )
    S.overwrite_versioned(
        spark, df.repartition(8), path, stats_cols=("x", "y")
    )
    probe = [("x", "<", 8), ("y", "<", 8)]
    m0 = S.read_manifest(path)
    before = len(S.prune_files(m0, probe))
    assert before == len(m0["files"])  # nothing prunable

    S.compact_snapshot(spark, path, target_files=8, zorder=("x", "y"))
    m1 = S.read_manifest(path)
    after = len(S.prune_files(m1, probe))
    assert after < len(m1["files"]), (after, len(m1["files"]))
    # contents identical through the rewrite
    got = S.read_snapshot(spark, path)
    assert got.count() == 4000
    assert got.filter((F.col("x") < 8) & (F.col("y") < 8)).count() == (
        df.filter((F.col("x") < 8) & (F.col("y") < 8)).count()
    )


def test_restore_rolls_back_without_losing_history(spark, tmp_path):
    """RESTORE parity: version N's contents come back as a NEW version;
    the rolled-back versions stay readable; the ledger carries forward
    so replays of post-restore-target batches still no-op."""
    from stellar_etl_airflow_spark.operators.merge import merge_additive_versioned

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame([(1, 10.0)], "account_id long, balance double")
    v1, _ = merge_additive_versioned(
        spark, b1, path, ("account_id",), n_buckets=2,
        sum_cols=("balance",), txn_id="b1",
    )
    b2 = spark.createDataFrame([(1, 5.0)], "account_id long, balance double")
    v2, _ = merge_additive_versioned(
        spark, b2, path, ("account_id",), n_buckets=2,
        sum_cols=("balance",), txn_id="b2",
    )
    assert {r["balance"] for r in S.read_snapshot(spark, path).collect()} == {15.0}

    v3 = S.restore(path, v1)
    assert v3 == v2 + 1
    assert {r["balance"] for r in S.read_snapshot(spark, path).collect()} == {10.0}
    # the undone version is still time-travelable
    assert {r["balance"] for r in S.read_snapshot(spark, path, v2).collect()} == {15.0}
    # ledger carried FORWARD: replaying b2 after the restore is a no-op
    # (its effect was deliberately rolled back; exactly-once means a
    # redelivery must not re-apply it)
    v_replay, touched = merge_additive_versioned(
        spark, b2, path, ("account_id",), n_buckets=2,
        sum_cols=("balance",), txn_id="b2",
    )
    assert touched == []
    assert {r["balance"] for r in S.read_snapshot(spark, path).collect()} == {10.0}


def test_delete_where_rewrites_only_candidate_files(spark, tmp_path):
    """DELETE WHERE parity: stats-pruned candidates are rewritten minus
    their matches; every other file carries over byte-identical."""
    path = str(tmp_path / "t")
    S.overwrite_versioned(
        spark,
        spark.range(0, 1000).select("id", (F.col("id") % 7).alias("g"))
        .repartitionByRange(8, "id"),
        path, stats_cols=("id",),
    )
    m0 = S.read_manifest(path)
    v, rewritten = S.delete_where(spark, path, [("id", ">=", 100), ("id", "<", 200)])
    assert v == 2
    assert 0 < rewritten < len(m0["files"])  # pruning bounded the rewrite
    m1 = S.read_manifest(path)
    carried = set(m0["files"]) & set(m1["files"])
    assert len(carried) == len(m0["files"]) - rewritten
    got = S.read_snapshot(spark, path)
    assert got.count() == 900
    assert got.filter((F.col("id") >= 100) & (F.col("id") < 200)).count() == 0
    # stats carried/recomputed: the deleted range no longer plans files
    assert S.scan_snapshot(spark, path, where=[("id", "=", 150)]).count() == 0
    # time travel to v1 still shows the deleted rows
    assert S.read_snapshot(spark, path, 1).count() == 1000

    # a predicate outside every file's range is a metadata-only no-op
    v2, n = S.delete_where(spark, path, [("id", ">=", 5000)])
    assert v2 == v and n == 0


def test_update_where_shares_pruned_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    S.overwrite_versioned(
        spark,
        spark.range(0, 1000).select("id", (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(8, "id"),
        path, stats_cols=("id",),
    )
    n_total = len(S.read_manifest(path)["files"])
    v, rewritten = S.update_where(
        spark, path, [("id", ">=", 100), ("id", "<", 150)], {"v": "v * 2 + 1"}
    )
    assert v == 2 and 0 < rewritten < n_total
    got = {r["id"]: r["v"] for r in S.read_snapshot(spark, path).collect()}
    assert len(got) == 1000
    assert got[120] == 120.0 * 2 + 1 and got[99] == 99.0 and got[150] == 150.0
    # time travel unaffected
    old = {r["id"]: r["v"] for r in S.read_snapshot(spark, path, 1).collect()}
    assert old[120] == 120.0


def test_zorder_compact_materializes_dvs_and_mapping(spark, tmp_path):
    """VERDICT r9 named this interplay an ADVICE suspect: OPTIMIZE
    ZORDER on a table carrying BOTH deletion vectors and a column
    mapping must materialize both — DV-masked rows stay gone in the
    rewrite (never resurrected), renamed columns become the physical
    names, and the stats pins follow the rename so pruning keeps
    working on the clustered output."""
    path = str(tmp_path / "t")
    df = spark.range(400).selectExpr("id as x", "(id * 7) % 400 as y", "id as payload")
    S.overwrite_versioned(spark, df, path, stats_cols=("x", "y"))
    S.delete_where_dv(spark, path, [("x", "<", 50)])  # DV, not rewrite
    S.rename_column(path, "y", "yy")  # mapping, not rewrite
    m = S.read_manifest(path, resolve=False)
    assert m.get("dv", {}).get("counts") or S.read_dv(m)  # DV really present
    assert m.get("renames")
    v = S.compact_snapshot(spark, path, target_files=8, zorder=("x", "yy"))
    m2 = S.read_manifest(path, resolve=False)
    # mapping materialized, DVs gone (applied), stats follow the rename
    assert not m2.get("renames") and not m2.get("dropped_cols")
    assert not m2.get("dv")
    assert set(m2["stats_cols"]) == {"x", "yy"}
    out = S.read_snapshot(spark, path)
    assert out.columns == ["x", "yy", "payload"]
    assert out.count() == 350 and out.agg({"x": "min"}).first()[0] == 50
    # the masked rows are NOT resurrected in any file of the new version
    raw = spark.read.parquet(*m2["files"])
    assert raw.where("x < 50").count() == 0
    # clustered stats actually prune a 2-column box
    survivors = S.prune_files(m2, [("x", "<", 120), ("yy", "<", 120)])
    assert len(survivors) < len(m2["files"])
    # time travel to the pre-compact version still sees the mapping+DV view
    pre = S.read_snapshot(spark, path, version=v - 1)
    assert pre.columns == ["x", "yy", "payload"] and pre.count() == 350
