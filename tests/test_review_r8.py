"""Regression tests for the round-8 targeted review of the snapshot
storage plane: DV path normalization (URL-encoded file_path), vacuum's
orphan retention window, bloom keying for relative paths, bloom probe
type guard, the snapshot() re-bootstrap guard, rewritten-file blooms,
and the bucketed-table delete_where roundtrip."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.merge import apply_changes
from stellar_etl_airflow_spark.sinks import snapshots as S


def test_dv_masks_on_path_with_space(spark, tmp_path):
    """_metadata.file_path renders URL-encoded ('has%20space'); without
    url_decode the DV anti-join matched nothing and deleted rows were
    resurrected silently."""
    tbl = str(tmp_path / "has space" / "t")
    df = spark.range(50).selectExpr("id", "id * 2 AS v").repartitionByRange(2, "id")
    S.overwrite_versioned(spark, df, tbl, stats_cols=["id"])
    version, deleted = S.delete_where_dv(spark, tbl, [("id", "=", 7)])
    assert deleted == 1
    got = sorted(r["id"] for r in S.read_snapshot(spark, tbl).collect())
    assert 7 not in got and len(got) == 49
    # scan path applies the vector too
    got2 = S.scan_snapshot(spark, tbl, [("id", "<", 10)]).count()
    assert got2 == 9


def test_compute_blooms_keys_match_caller_strings(spark, tmp_path):
    """Bloom results must be keyed by the CALLER'S file strings —
    abspath keys were silently dropped by the commit's membership filter
    for relative-path manifests."""
    p = str(tmp_path / "pq")
    spark.createDataFrame([(i,) for i in range(50)], "id long").write.parquet(p)
    rel_files = [
        os.path.relpath(os.path.join(p, f), os.getcwd())
        for f in os.listdir(p)
        if f.endswith(".parquet")
    ]
    blooms = S.compute_blooms(spark, rel_files, ["id"])
    assert set(blooms) == set(rel_files), "keys must equal the input strings"


def test_bloom_probe_type_mismatch_never_prunes():
    """A float probe against an int bloom column hashes '5.0' vs the
    recorded '5' — a fake definitive miss that wrongly pruned files.
    Non-str/int/bool probes now skip the bloom."""
    bits = bytearray(64)
    for pos in S._bloom_positions(5, 512, 3):
        bits[pos >> 3] |= 1 << (pos & 7)
    import base64

    bl = {"c": {"m": 512, "k": 3, "b64": base64.b64encode(bytes(bits)).decode()}}
    assert S._may_match({}, bl, "c", "=", 5) is True        # recorded value
    assert S._may_match({}, bl, "c", "=", 6) is False       # int probe prunes
    assert S._may_match({}, bl, "c", "=", 5.0) is True      # float: no verdict
    assert S._may_match({}, bl, "c", "=", 6.0) is True


def test_snapshot_refuses_tracked_table(spark, tmp_path):
    """Re-bootstrapping a version-tracked table would publish superseded
    files alongside current ones and double every row."""
    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.range(5).selectExpr("id"), tbl)
    S.overwrite_versioned(spark, spark.range(5, 9).selectExpr("id"), tbl)
    with pytest.raises(ValueError, match="already snapshot-tracked"):
        S.snapshot(tbl)
    assert S.read_snapshot(spark, tbl).count() == 4  # no duplication


def test_vacuum_spares_young_orphans(spark, tmp_path):
    """A file referenced by NO manifest may be a concurrent writer's
    adopted-but-unpublished output: vacuum keeps it inside the orphan
    retention window and collects it once aged."""
    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.range(5).selectExpr("id"), tbl)
    orphan = os.path.join(tbl, "part-inflight.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not yet published")
    assert orphan not in S.vacuum(tbl, keep_versions=1)
    assert os.path.exists(orphan)
    t = time.time() - 7200
    os.utime(orphan, (t, t))
    assert orphan in S.vacuum(tbl, keep_versions=1)
    assert not os.path.exists(orphan)
    # expired VERSIONS' files are manifest-referenced -> still collected
    # immediately regardless of age (the normal retention path)
    S.overwrite_versioned(spark, spark.range(9).selectExpr("id"), tbl)
    deleted = S.vacuum(tbl, keep_versions=1)
    assert deleted, "expired-version files must not need aging"


def test_delete_where_rewrites_keep_blooms(spark, tmp_path):
    """DELETE/UPDATE WHERE used to publish rewritten files with no
    bloom filters while bloom_cols stayed pinned — equality pruning
    silently died for every touched file."""
    tbl = str(tmp_path / "t")
    df = spark.range(200).selectExpr("id", "id % 7 AS v").repartitionByRange(4, "id")
    S.overwrite_versioned(spark, df, tbl, stats_cols=["id"], bloom_cols=["id"])
    S.delete_where(spark, tbl, [("id", "=", 10)])
    m = S.read_manifest(tbl)
    missing = [f for f in m["files"] if "id" not in (m.get("blooms") or {}).get(f, {})]
    assert not missing, f"rewritten files lost their blooms: {missing}"


def test_bucketed_delete_where_then_merge_roundtrip(spark, tmp_path):
    """The DV guard tells bucketed-table users to use copy-on-write
    delete_where; pin that the rewrite (which carries the bucket column
    physically) stays readable and merge-compatible."""
    p = str(tmp_path / "bt")
    b = spark.createDataFrame(
        [(i, i, False, 1, 0) for i in range(10)],
        "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    apply_changes(spark, b, p, keys=("k",), n_buckets=4, txn_id="b1")
    S.delete_where(spark, p, [("k", "=", 3)])
    b2 = spark.createDataFrame(
        [(2, 99, False, 2, 1), (11, 110, False, 2, 1)],
        "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    apply_changes(spark, b2, p, keys=("k",), n_buckets=4, txn_id="b2")
    got = {r["k"]: r["v"] for r in S.read_snapshot(spark, p).collect()}
    exp = {i: i for i in range(10) if i != 3} | {2: 99, 11: 110}
    assert got == exp


def test_batch_connector_refuses_hive_partition_layout(spark, tmp_path):
    """The snapshot Data Source reads leaf files; a hive col=val layout
    (e.g. an adopted writer.py table) would silently drop the partition
    column — refuse loudly, directing to the DataFrame path."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    (spark.range(20).selectExpr("id", "id % 3 AS part")
     .write.partitionBy("part").parquet(tbl))
    S.snapshot(tbl)
    snapshot_source.register(spark)
    with pytest.raises(Exception, match="hive partition"):
        (spark.read.format(snapshot_source.FORMAT_NAME)
         .option("path", tbl).load().count())
    # the DataFrame path recovers the partition column fine
    df = S.read_snapshot(spark, tbl)
    assert "part" in df.columns and df.count() == 20


def _ds_write(df, path, mode, **opts):
    from stellar_etl_airflow_spark.sources import snapshot_source

    w = df.write.format(snapshot_source.FORMAT_NAME).option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def test_stream_source_refuses_hive_layout(spark, tmp_path):
    """The streaming snapshot source reads leaf files like the batch
    reader — a hive col=val layout must refuse, not silently drop or
    null-fill the partition column."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    (spark.range(12).selectExpr("id", "id % 3 AS part")
     .write.partitionBy("part").parquet(tbl))
    S.snapshot(tbl)
    snapshot_source.register(spark)
    with pytest.raises(Exception, match="hive partition"):
        q = (
            spark.readStream.format(snapshot_source.FORMAT_NAME)
            .schema("id long, part long").option("path", tbl).load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_stream_source_pre_history_timestamp(spark, tmp_path):
    """startingTimestamp before the first retained version streams from
    the initial snapshot (Delta semantics) instead of crashing."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.range(7).selectExpr("id"), tbl)
    snapshot_source.register(spark)
    q = (
        spark.readStream.format(snapshot_source.FORMAT_NAME)
        .option("path", tbl).option("startingTimestamp", "2000-01-01")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 7


def test_batch_reader_honors_user_schema(spark, tmp_path):
    """A user .schema(...) used to be silently ignored whenever the
    version had files (batches then bound positionally against the
    divergent plan schema). It now projects/reorders, and unknown names
    reject at plan time."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.range(9).selectExpr("id", "id * 2 AS v", "id % 3 AS g"), tbl
    )
    snapshot_source.register(spark)
    out = (spark.read.format(snapshot_source.FORMAT_NAME)
           .schema("v long, id long").option("path", tbl).load())
    assert out.columns == ["v", "id"]
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {i: i * 2 for i in range(9)}
    with pytest.raises(Exception, match="not in this version's columns"):
        (spark.read.format(snapshot_source.FORMAT_NAME)
         .schema("nope long").option("path", tbl).load().collect())


def test_type_widening_across_evolved_appends(spark, tmp_path):
    """int32 table + int64 append: the unified schema must take the
    PROMOTED type so casts always widen — first-seen-wins crashed on
    values over 2^31 depending on file order."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    snapshot_source.register(spark)
    _ds_write(spark.range(3).selectExpr("CAST(id AS int) AS id"), tbl, "overwrite")
    big = (1 << 40)
    _ds_write(spark.createDataFrame([(big,)], "id long"), tbl, "append")
    out = (spark.read.format(snapshot_source.FORMAT_NAME)
           .option("path", tbl).load())
    vals = sorted(r["id"] for r in out.collect())
    assert vals == [0, 1, 2, big]
    assert dict(out.dtypes)["id"] == "bigint"


def test_ds_writer_refuses_constrained_table(spark, tmp_path):
    """The Data Source commit worker has no session and cannot enforce
    CHECK constraints; it used to silently DROP them on overwrite. Now
    it refuses up front."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.range(5).selectExpr("id"), tbl)
    S.add_constraint(spark, tbl, "id_pos", "id >= 0")
    snapshot_source.register(spark)
    with pytest.raises(Exception, match="CHECK constraints"):
        _ds_write(spark.range(5).selectExpr("id"), tbl, "overwrite")
    assert S.read_manifest(tbl).get("constraints"), "constraints must survive"


def test_ds_append_inherits_stats_and_bloom_pins(spark, tmp_path):
    """An unadorned Data Source append to a stats/bloom-pinned table
    keeps computing per-file metadata in flight — pruning must not
    silently degrade as appends accumulate."""
    from stellar_etl_airflow_spark.sources import snapshot_source

    tbl = str(tmp_path / "t")
    snapshot_source.register(spark)
    _ds_write(spark.range(100).selectExpr("id"), tbl, "overwrite",
              stats_cols="id", bloom_cols="id")
    _ds_write(spark.range(100, 200).selectExpr("id"), tbl, "append")  # no options
    m = S.read_manifest(tbl)
    no_stats = [f for f in m["files"] if f not in (m.get("stats") or {})]
    no_bloom = [f for f in m["files"] if "id" not in (m.get("blooms") or {}).get(f, {})]
    assert not no_stats, f"files without stats after plain append: {no_stats}"
    assert not no_bloom, f"files without blooms after plain append: {no_bloom}"


def test_merge_materializes_deletion_vectors(spark, tmp_path):
    """Merging into a FLAT table carrying merge-on-read deletion vectors
    used to read rewrite files raw — resurrecting every masked row while
    the commit silently dropped the vectors."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i, False, 1, 0) for i in range(20)],
        "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    S.overwrite_versioned(spark, df, tbl)
    S.delete_where_dv(spark, tbl, [("k", "=", 5)])
    assert S.read_snapshot(spark, tbl).count() == 19
    batch = spark.createDataFrame(
        [(2, 99, False, 2, 1)],
        "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    apply_changes(spark, batch, tbl, keys=("k",), n_buckets=4)
    got = {r["k"]: r["v"] for r in S.read_snapshot(spark, tbl).collect()}
    assert 5 not in got, "merge resurrected a DV-deleted row"
    assert got[2] == 99 and len(got) == 19


def test_merge_refuses_column_mapped_table(spark, tmp_path):
    """Merging into a renamed (column-mapped) flat table would fork the
    physical schema and duplicate the logical column on read."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, False, 1, 0)],
        "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    S.overwrite_versioned(spark, df, tbl)
    S.rename_column(tbl, "v", "val")
    batch = spark.createDataFrame(
        [(2, 20, False, 2, 1)],
        "k long, val long, deleted boolean, last_modified_ledger long, ledger_entry_change int",
    )
    with pytest.raises(NotImplementedError, match="column mapping"):
        apply_changes(spark, batch, tbl, keys=("k",), n_buckets=4)


def test_insert_unique_dedups_within_batch(spark):
    """A retried upload repeats keys inside one batch; the anti-join
    alone appended every copy."""
    from stellar_etl_airflow_spark.operators.merge import insert_unique

    tgt = spark.createDataFrame([(1, "a")], "k long, v string")
    batch = spark.createDataFrame(
        [(2, "x"), (2, "y"), (3, "z"), (1, "dup")], "k long, v string"
    )
    out = {r["k"]: r["v"] for r in insert_unique(tgt, batch, ("k",)).collect()}
    assert out == {2: "x", 3: "z"}  # one row per key, deterministic min
