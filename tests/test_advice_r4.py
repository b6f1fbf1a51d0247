"""Regression tests for the round-4 ADVICE findings: t27 n_words dtype,
source-side vacuum vs zero-copy clones (back-references), as_of after
vacuum raising LookupError, mixed flat/bucketed bootstrap MERGE, and
clone_dataset(zero_copy=True) never writing into the source directory."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from stellar_etl_airflow_spark.operators.merge import (
    BUCKET_COL,
    apply_changes,
    key_bucket,
)
from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.training.text import repetition_stats


def _write(spark, path, ids):
    return S.overwrite_versioned(
        spark, spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, v string"), path
    )


def _ids(spark, path, version=None):
    return sorted(r[0] for r in S.read_snapshot(spark, path, version).select("id").collect())


def test_repetition_stats_n_words_is_long(spark):
    """The oracle casts n_words to BIGINT and the driver canonicalizer is
    dtype-sensitive: the Spark side must emit int64, not raw F.size int32."""
    df = spark.createDataFrame([("d1", "a a b c")], "doc_id string, text string")
    out = repetition_stats(df)
    assert isinstance(out.schema["n_words"].dataType, LongType)
    assert out.collect()[0]["n_words"] == 4


def test_vacuum_of_clone_source_keeps_clone_referenced_files(spark, tmp_path):
    """Vacuuming a clone SOURCE must not delete files a zero-copy clone's
    manifests still reference (Delta shallow-clone hazard)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write(spark, src, [1, 2])  # v1 — the version the clone pins
    S.clone(src, dst)
    _write(spark, src, [3])  # v2
    _write(spark, src, [4])  # v3
    deleted = S.vacuum(src, keep_versions=1)
    # v1 files survive (clone pins them); v2's are collectable
    assert _ids(spark, dst) == [1, 2]
    assert _ids(spark, src) == [4]
    v1_files = set(S.read_manifest(dst)["files"])
    assert not v1_files & set(deleted)


def test_vacuum_collects_after_clone_dropped(spark, tmp_path):
    """Once the clone directory is gone its back-reference marker is
    garbage-collected and the pinned files become collectable. The
    marker must first AGE past the pending-clone retention window
    (r8: clone registers markers before publishing, so a fresh marker
    without clone manifests is treated as an in-flight clone)."""
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write(spark, src, [1, 2])
    S.clone(src, dst)
    pinned = set(S.read_manifest(dst)["files"])
    _write(spark, src, [3])
    shutil.rmtree(dst)
    # a fresh marker is protected (could be an in-flight clone publish)
    assert not set(S.vacuum(src, keep_versions=1)) & pinned
    # age the marker AND the now-unreferenced data files past both
    # retention windows — marker-pending is its OWN, much longer knob
    # since r9 (default 24h), so age past that one
    aged = [m for m, _d in S._registered_clones(src)] + sorted(pinned)
    for f in aged:
        t = os.path.getmtime(f) - 90_000
        os.utime(f, (t, t))
    deleted = set(S.vacuum(src, keep_versions=1))
    assert pinned <= deleted  # no live clone -> v1 files collected
    assert _ids(spark, src) == [3]


def test_as_of_after_vacuum_raises_lookup_error(spark, tmp_path):
    """A manifest removed by vacuum is end-of-history: as_of for a ts that
    predates retained history raises the documented LookupError, never
    FileNotFoundError."""
    tbl = str(tmp_path / "t")
    _write(spark, tbl, [1])
    ts_v1 = S.read_manifest(tbl, 1)["ts"]
    _write(spark, tbl, [2])
    _write(spark, tbl, [3])
    S.vacuum(tbl, keep_versions=1)
    with pytest.raises(LookupError):
        S.as_of(tbl, ts_v1)


def test_clone_untracked_does_not_touch_source(spark, tmp_path):
    """Cloning a source with no snapshot log publishes the bootstrap
    manifest under the DESTINATION only — the source directory is
    byte-for-byte untouched (it may be read-only)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.createDataFrame([(7, "x"), (8, "y")], "id long, v string").write.parquet(src)
    before = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs
    )
    S.clone_untracked(src, dst)
    after = sorted(os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs)
    assert before == after  # no _snapshots bootstrap written into src
    assert S.latest_version(src) is None
    assert _ids(spark, dst) == [7, 8]


def test_clone_untracked_past_as_of_raises(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.createDataFrame([(1, "x")], "id long, v string").write.parquet(src)
    with pytest.raises(LookupError):
        S.clone_untracked(src, dst, as_of_ts=1.0)


def test_clone_dataset_zero_copy_untracked_source_untouched(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.jobs import Warehouse, clone_dataset

    src_wh = Warehouse(str(tmp_path / "src_wh"))
    dst_wh = Warehouse(str(tmp_path / "dst_wh"))
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(src_wh.path("accounts"))
    res = clone_dataset(spark, src_wh, dst_wh, zero_copy=True)
    assert res == {"accounts": "ok"}
    assert S.latest_version(src_wh.path("accounts")) is None  # source not mutated
    assert _ids(spark, dst_wh.path("accounts")) == [1]


def test_merge_versioned_mixed_flat_and_bucketed_bootstrap(spark, tmp_path):
    """A bootstrap snapshot mixing flat root files and `_p=` partition dirs
    must merge correctly: the two layouts are read separately (one mixed
    basePath read would fail or null out the partition column)."""
    tbl = str(tmp_path / "t")
    keys = ("account_id",)
    cols = "account_id string, balance long, deleted boolean, last_modified_ledger long, ledger_entry_change long"
    # bucketed portion: written under _p= partition dirs
    bucketed = spark.createDataFrame(
        [("a1", 10, False, 1, 1), ("a2", 20, False, 1, 1)], cols
    ).withColumn(BUCKET_COL, key_bucket(keys, 8))
    bucketed.write.partitionBy(BUCKET_COL).parquet(tbl)
    # flat portion: plain files at the table root (pre-bucketing era)
    flat = spark.createDataFrame([("a3", 30, False, 1, 1)], cols)
    flat.write.mode("append").parquet(str(tmp_path / "flat_stage"))
    import shutil

    for f in os.listdir(str(tmp_path / "flat_stage")):
        if f.endswith(".parquet"):
            shutil.move(
                os.path.join(str(tmp_path / "flat_stage"), f),
                os.path.join(tbl, f"flat-{f}"),
            )
    assert S.latest_version(tbl) is None  # genuine bootstrap

    changes = spark.createDataFrame(
        [("a1", 11, False, 2, 1), ("a4", 40, False, 2, 1)], cols
    )
    version, touched = apply_changes(spark, changes, tbl, keys, n_buckets=8)
    got = {
        r["account_id"]: r["balance"]
        for r in S.read_snapshot(spark, tbl, version).collect()
    }
    assert got == {"a1": 11, "a2": 20, "a3": 30, "a4": 40}


def test_merge_versioned_bootstrap_preserves_foreign_partition_column(spark, tmp_path):
    """A bootstrap table partitioned by a NON-bucket column (e.g.
    batch_run_date=...) must keep that column through the merge: each
    layout group is read with basePath so Hive partition columns
    materialize; reading such files without basePath would drop them."""
    tbl = str(tmp_path / "t")
    cols = (
        "account_id string, balance long, batch_run_date string, deleted boolean, "
        "last_modified_ledger long, ledger_entry_change long"
    )
    seed = spark.createDataFrame(
        [("a1", 10, "2024-01-01", False, 1, 1), ("a2", 20, "2024-01-02", False, 1, 1)], cols
    )
    seed.write.partitionBy("batch_run_date").parquet(tbl)
    assert S.latest_version(tbl) is None

    changes = spark.createDataFrame([("a1", 11, "2024-01-03", False, 2, 1)], cols)
    version, _ = apply_changes(spark, changes, tbl, ("account_id",), n_buckets=8)
    got = {
        r["account_id"]: (r["balance"], str(r["batch_run_date"]))
        for r in S.read_snapshot(spark, tbl, version).collect()
    }
    # (partition-dir values come back date-typed via Hive partition
    # inference; the point is they come back at all, with right values)
    assert got == {"a1": (11, "2024-01-03"), "a2": (20, "2024-01-02")}
