"""Streaming CDF via the Spark 4 Python Data Source API
(streaming/cdf_source.py): readStream.format("snapshot_cdf") tails the
manifest log and emits per-version row deltas, planned driver-side from
manifests and classified executor-side per churned bucket.

Each micro-batch NETS the version range it covers (offsets are
versions; a drain that spans v0..v2 emits the v0->v2 delta, not two
per-commit batches) — so the update/delete assertions below apply a
batch BETWEEN two checkpointed drains."""

from __future__ import annotations

import pytest

from stellar_etl_airflow_spark.operators.cdf import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
)
from stellar_etl_airflow_spark.operators.merge import apply_changes
from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.streaming import cdf_source

SCHEMA = (
    "account_id long, balance double, last_modified_ledger long, "
    "ledger_entry_change long, deleted boolean"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _drain(spark, path, ckpt, sink, starting=0):
    """availableNow drain to a parquet sink (memory sinks cannot resume
    from a checkpoint); returns all rows accumulated in the sink."""
    cdf_source.register(spark)
    q = (
        spark.readStream.format(cdf_source.FORMAT_NAME)
        .option("path", path)
        .option("startingVersion", starting)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(sink)


def test_stream_cdf_emits_changes_and_resumes(spark, tmp_path):
    path = str(tmp_path / "t")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    apply_changes(
        spark,
        _batch(spark, [(i, float(i * 10), 1, 0, False) for i in range(1, 9)]),
        path, keys=("account_id",), n_buckets=4,
    )

    v1 = S.latest_version(path)
    out1 = _drain(spark, path, ckpt, sink).collect()
    assert {r[CHANGE_TYPE_COL] for r in out1} == {"insert"}
    assert sorted(r["account_id"] for r in out1) == list(range(1, 9))
    assert all(r[COMMIT_VERSION_COL] == v1 for r in out1)

    # new version lands between drains: the resumed stream emits ONLY
    # its deltas, correctly classified
    apply_changes(
        spark,
        _batch(
            spark,
            [
                (2, 999.0, 2, 0, False),  # update
                (9, 90.0, 2, 0, False),   # insert
                (5, None, 2, 0, True),    # delete
            ],
        ),
        path, keys=("account_id",),
    )
    v2 = S.latest_version(path)
    assert v2 > v1
    out2 = _drain(spark, path, ckpt, sink)
    delta = {
        (r[CHANGE_TYPE_COL], r["account_id"]): r
        for r in out2.where(f"{COMMIT_VERSION_COL} = {v2}").collect()
    }
    assert set(delta) == {
        ("insert", 9), ("delete", 5),
        ("update_preimage", 2), ("update_postimage", 2),
    }
    assert delta[("update_preimage", 2)]["balance"] == 20.0
    assert delta[("update_postimage", 2)]["balance"] == 999.0
    assert delta[("delete", 5)]["balance"] == 50.0
    assert out2.count() == len(out1) + 4

    # third drain with no new versions: nothing new in the sink
    assert _drain(spark, path, ckpt, sink).count() == out2.count()


def test_stream_cdf_nets_version_ranges(spark, tmp_path):
    """A drain spanning several versions emits the NET delta: an
    insert+delete inside the range cancels; updates collapse."""
    path = str(tmp_path / "t")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    apply_changes(
        spark, _batch(spark, [(1, 1.0, 1, 0, False)]), path,
        keys=("account_id",), n_buckets=2,
    )
    apply_changes(
        spark, _batch(spark, [(7, 7.0, 2, 0, False), (1, 2.0, 2, 0, False)]),
        path, keys=("account_id",),
    )
    apply_changes(
        spark, _batch(spark, [(7, None, 3, 0, True), (1, 3.0, 3, 0, False)]),
        path, keys=("account_id",),
    )
    out = _drain(spark, path, ckpt, sink).collect()
    got = {(r[CHANGE_TYPE_COL], r["account_id"], r["balance"]) for r in out}
    assert got == {("insert", 1, 3.0)}  # key 7 nets out; key 1 nets to final


def test_stream_cdf_requires_keys(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.range(3).select(F.col("id")), path
    )
    cdf_source.register(spark)
    with pytest.raises(Exception, match="no merge keys"):
        (
            spark.readStream.format(cdf_source.FORMAT_NAME)
            .option("path", path)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_stream_cdf_starting_timestamp(spark, tmp_path):
    """Delta's startingTimestamp: the feed's base is the table state AS
    OF the timestamp, so changes published after it are emitted."""
    import time as _time

    path = str(tmp_path / "t")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    apply_changes(
        spark, _batch(spark, [(1, 1.0, 1, 0, False)]), path,
        keys=("account_id",), n_buckets=2,
    )
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    apply_changes(
        spark, _batch(spark, [(2, 2.0, 2, 0, False)]), path, keys=("account_id",)
    )
    q = (
        spark.readStream.format(cdf_source.FORMAT_NAME)
        .option("path", path)
        .option("startingTimestamp", str(t_after_v1))
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    assert sorted(r["account_id"] for r in rows) == [2]  # only the post-ts insert


def test_stream_cdf_array_and_bigint_precision(spark, tmp_path):
    """Review r8: array cells used to crash classification (ndarray
    truthiness) and int64 values rode a float64 upcast through the
    outer merge (silent corruption above 2^53). Both paths exact now."""
    path = str(tmp_path / "t")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    big = (1 << 60) + 1  # not representable in float64
    sch = "k long, big long, tags array<string>, deleted boolean, last_modified_ledger long, ledger_entry_change long"
    apply_changes(
        spark,
        spark.createDataFrame([(1, big, ["a", "b"], False, 1, 0),
                               (2, big + 2, ["c"], False, 1, 0)], sch),
        path, keys=("k",), n_buckets=2,
    )
    out1 = _drain(spark, path, ckpt, sink).collect()
    assert sorted(r["big"] for r in out1) == [big, big + 2]
    assert sorted(tuple(r["tags"]) for r in out1) == [("a", "b"), ("c",)]
    # an update one ULP-of-double away must still be detected
    apply_changes(
        spark,
        spark.createDataFrame([(1, big + 1, ["a", "b"], False, 2, 0)], sch),
        path, keys=("k",), n_buckets=2,
    )
    out2 = _drain(spark, path, ckpt, sink)
    ups = {r[CHANGE_TYPE_COL]: r["big"] for r in out2.collect()
           if r[CHANGE_TYPE_COL].startswith("update")}
    assert ups == {"update_preimage": big, "update_postimage": big + 1}


def test_stream_cdf_refuses_old_side_mapping(spark, tmp_path):
    """Review r8: a batch whose OLD endpoint carries column mapping
    (e.g. spanning a mapping-materializing compact) must refuse, not
    outer-merge mismatched physical names."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    S.overwrite_versioned(spark, df, path)
    S.rename_column(path, "v", "val")          # v2: mapped
    v2 = S.latest_version(path)
    S.compact_snapshot(spark, path)            # v3: mapping materialized, reset
    cdf_source.register(spark)
    reader = cdf_source._CDFStreamReader(
        spark.createDataFrame([], "k long, val long").schema,
        {"path": path, "keys": "k"},
    )
    with pytest.raises(ValueError, match="column mapping"):
        reader.partitions({"version": v2}, {"version": v2 + 1})


def test_stream_cdf_refuses_post_start_column_add(spark, tmp_path):
    """Review r8: a RUNNING stream's schema is frozen at start; a
    column added by an evolving merge must fail the batch loudly (Delta
    fails the stream on schema change too) instead of silently netting
    the new column's changes out. A RESTARTED query re-resolves the
    union schema — the documented remedy."""
    path = str(tmp_path / "t")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    sch = "k long, v long, deleted boolean, last_modified_ledger long, ledger_entry_change long"
    apply_changes(spark, spark.createDataFrame([(1, 10, False, 1, 0)], sch),
                  path, keys=("k",), n_buckets=2)
    _drain(spark, path, ckpt, sink)
    frozen = (spark.readStream.format(cdf_source.FORMAT_NAME)
              .option("path", path).load().schema)
    apply_changes(
        spark,
        spark.createDataFrame(
            [(1, 11, 7, False, 2, 0)],
            "k long, v long, extra long, deleted boolean, last_modified_ledger long, ledger_entry_change long",
        ),
        path, keys=("k",), n_buckets=2, allow_schema_evolution=True,
    )
    # simulate the long-running query: its schema was resolved BEFORE
    # the evolving merge
    with pytest.raises(Exception, match="added after stream start"):
        q = (
            spark.readStream.format(cdf_source.FORMAT_NAME)
            .schema(frozen)
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    # restarted with a fresh schema resolution: the batch goes through
    out = _drain(spark, path, str(tmp_path / "ckpt2"), str(tmp_path / "sink2"))
    assert "extra" in out.columns


def test_stream_cdf_schema_handles_spark_written_timestamps(spark, tmp_path):
    """Review r8: Spark-written timestamp columns read back as
    timestamp[ns]; the stream schema must coerce like the batch
    connector or .load() raises."""
    path = str(tmp_path / "t")
    sch = "k long, ts timestamp, deleted boolean, last_modified_ledger long, ledger_entry_change long"
    from datetime import datetime

    apply_changes(
        spark,
        spark.createDataFrame([(1, datetime(2024, 1, 1), False, 1, 0)], sch),
        path, keys=("k",), n_buckets=2,
    )
    cdf_source.register(spark)
    df = (spark.readStream.format(cdf_source.FORMAT_NAME)
          .option("path", path).load())
    assert "ts" in df.columns  # schema resolution didn't throw
