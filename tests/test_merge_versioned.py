"""MVCC scoped MERGE (operators/merge.py::apply_changes): targeted
bucket rewrite + manifest publication = BigQuery-MERGE cost profile with
Delta-style time travel, on a bucket layout pinned once per table.
Reference semantics: build_apply_gcs_changes_to_bq_task.py:116-149."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.operators.merge import (
    BUCKET_COL,
    apply_changes,
    key_bucket,
    load_table_props,
    merge_additive_versioned,
)
from stellar_etl_airflow_spark.sinks import snapshots as S

KEYS = ("account_id",)
ORDER = ("last_modified_ledger", "ledger_entry_change")


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "account_id long, balance double, last_modified_ledger long, ledger_entry_change int, deleted boolean"
    )


def _state(spark, path, version=None):
    return {
        r["account_id"]: r["balance"]
        for r in S.read_snapshot(spark, path, version).collect()
    }


def test_versioned_merge_applies_and_time_travels(spark, tmp_path):
    tbl = str(tmp_path / "accounts")
    v1, _ = apply_changes(
        spark, _changes(spark, [(1, 10.0, 100, 1, False), (2, 20.0, 100, 1, False)]), tbl, KEYS, n_buckets=8
    )
    v2, _ = apply_changes(
        spark,
        _changes(spark, [(1, 11.0, 101, 1, False), (3, 30.0, 101, 1, False), (2, 0.0, 101, 1, True)]),
        tbl,
        KEYS,
        n_buckets=8,
    )
    assert (v1, v2) == (2, 3)  # v1 bootstrap publishes an empty snapshot first
    assert _state(spark, tbl) == {1: 11.0, 3: 30.0}  # update + insert + delete
    assert _state(spark, tbl, v1) == {1: 10.0, 2: 20.0}  # old version intact


def test_empty_change_batch_is_a_noop(spark, tmp_path):
    """A MERGE with no source rows changes nothing: no write job, no
    new version, no new manifest (both merge entry points)."""
    tbl, agg = str(tmp_path / "accounts"), str(tmp_path / "counts")
    v1, _ = apply_changes(spark, _changes(spark, [(1, 10.0, 100, 1, False)]), tbl, KEYS, n_buckets=8)
    a1, _ = merge_additive_versioned(
        spark, spark.createDataFrame([(1, 5)], "k long, n long"), agg, ("k",), ("n",), n_buckets=4
    )
    metas = {p: sorted(os.listdir(os.path.join(p, "_snapshots"))) for p in (tbl, agg)}
    assert apply_changes(spark, _changes(spark, []), tbl, KEYS, n_buckets=8) == (v1, [])
    assert merge_additive_versioned(
        spark, spark.createDataFrame([], "k long, n long"), agg, ("k",), ("n",), n_buckets=4
    ) == (a1, [])
    assert (S.latest_version(tbl), S.latest_version(agg)) == (v1, a1)
    assert {p: sorted(os.listdir(os.path.join(p, "_snapshots"))) for p in (tbl, agg)} == metas
    assert _state(spark, tbl) == {1: 10.0}


def test_versioned_merge_touches_only_matching_buckets(spark, tmp_path):
    tbl = str(tmp_path / "t")
    seed = [(i, float(i), 100, 1, False) for i in range(1, 33)]
    apply_changes(spark, _changes(spark, seed), tbl, KEYS, n_buckets=8)
    before = S.read_manifest(tbl)
    _, touched = apply_changes(
        spark, _changes(spark, [(1, 99.0, 101, 1, False)]), tbl, KEYS, n_buckets=8
    )
    after = S.read_manifest(tbl)
    assert len(touched) == 1
    untouched_before = {f for f in before["files"] if f"{BUCKET_COL}={touched[0]}" not in f}
    # every untouched bucket's files are carried over byte-identically
    assert untouched_before <= set(after["files"])
    # and the old files still exist on disk (no destructive rename)
    assert all(os.path.exists(f) for f in before["files"])
    assert _state(spark, tbl)[1] == 99.0


def test_versioned_merge_replay_idempotent(spark, tmp_path):
    tbl = str(tmp_path / "t")
    batch = _changes(spark, [(1, 10.0, 100, 1, False), (2, 20.0, 100, 2, False)])
    apply_changes(spark, batch, tbl, KEYS, n_buckets=4)
    state1 = _state(spark, tbl)
    apply_changes(spark, batch, tbl, KEYS, n_buckets=4)  # crash-replay
    assert _state(spark, tbl) == state1


def test_versioned_merge_into_clone_localizes_and_preserves_source(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    apply_changes(
        spark, _changes(spark, [(1, 10.0, 100, 1, False), (2, 20.0, 100, 1, False)]), src, KEYS, n_buckets=4
    )
    S.clone(src, dst)
    apply_changes(spark, _changes(spark, [(1, 50.0, 200, 1, False)]), dst, KEYS, n_buckets=4)
    assert _state(spark, dst) == {1: 50.0, 2: 20.0}
    assert _state(spark, src) == {1: 10.0, 2: 20.0}  # source untouched
    # clone localized: its current files live under its own root
    assert all(f.startswith(os.path.abspath(dst)) for f in S.read_manifest(dst)["files"])


def test_versioned_merge_vacuum_bounds_history(spark, tmp_path):
    tbl = str(tmp_path / "t")
    for i in range(4):
        apply_changes(
            spark, _changes(spark, [(1, float(i), 100 + i, 1, False)]), tbl, KEYS, n_buckets=4
        )
    newest = S.latest_version(tbl)
    deleted = S.vacuum(tbl, keep_versions=1)
    assert deleted
    assert _state(spark, tbl, newest) == {1: 3.0}


def test_apply_changes_pins_layout_and_rejects_key_mismatch(spark, tmp_path):
    """apply_changes (THE default state-table path) pins (keys, n_buckets)
    in the table props on first use: later batches use the pinned bucket
    count regardless of the argument, and mismatched keys are an error."""
    tbl = str(tmp_path / "accounts_state")
    apply_changes(spark, _changes(spark, [(1, 10.0, 100, 1, False)]), tbl, KEYS, n_buckets=4)
    assert load_table_props(tbl) == {
        "n_buckets": 4, "keys": ["account_id"], "deleted_col": "deleted",
        "order_cols": ["last_modified_ledger", "ledger_entry_change"],
        "stats_cols": [],
        "bloom_cols": [],
    }
    # second batch with a different n_buckets arg: pinned value wins, state correct
    v2, _ = apply_changes(
        spark, _changes(spark, [(1, 11.0, 101, 1, False), (2, 20.0, 101, 1, False)]), tbl, KEYS, n_buckets=64
    )
    assert load_table_props(tbl)["n_buckets"] == 4
    assert _state(spark, tbl, v2) == {1: 11.0, 2: 20.0}
    with pytest.raises(ValueError):
        apply_changes(spark, _changes(spark, [(1, 12.0, 102, 1, False)]), tbl, ("balance",))
    with pytest.raises(ValueError):  # deleted_col is pinned too
        apply_changes(
            spark, _changes(spark, [(1, 12.0, 102, 1, False)]), tbl, KEYS, deleted_col="gone"
        )
    with pytest.raises(ValueError):  # and order_cols
        apply_changes(
            spark, _changes(spark, [(1, 12.0, 102, 1, False)]), tbl, KEYS,
            order_cols=("ledger_entry_change",),
        )


def test_compact_snapshot_compacts_adopted_buckets_without_breaking_history(spark, tmp_path):
    """After several writes a bucket holds several small files;
    compact_snapshot rewrites each bucket to ONE file in a NEW manifest
    version — current state identical, pre-compaction versions still
    exactly readable (old files untouched), vacuum reclaims them."""
    tbl = str(tmp_path / "t")
    # two append writes -> each bucket dir holds 2 files (the multi-file
    # accumulation a parallel merge write or bootstrap adoption produces)
    for rows in ([(1, 1.0, 100, 1, False), (2, 2.0, 100, 1, False)],
                 [(3, 3.0, 100, 1, False), (4, 4.0, 100, 1, False)]):
        _changes(spark, rows).withColumn("_p", key_bucket(KEYS, 2)).coalesce(1).write.mode(
            "append"
        ).partitionBy("_p").parquet(tbl)
    S.snapshot(tbl)
    pre_version = S.latest_version(tbl)
    pre_state = _state(spark, tbl)
    assert pre_state == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}
    S.compact_snapshot(spark, tbl)
    dirs = [os.path.dirname(f) for f in S.read_manifest(tbl)["files"]]
    assert len(dirs) == len(set(dirs)) == 2  # one file per bucket
    assert S.latest_version(tbl) == pre_version + 1
    assert _state(spark, tbl) == pre_state  # current rows unchanged
    assert _state(spark, tbl, pre_version) == pre_state  # history intact
    # compacted manifest actually references fewer files
    assert len(S.read_manifest(tbl)["files"]) < len(S.read_manifest(tbl, pre_version)["files"])
    # a later merge composes with the compacted layout
    apply_changes(spark, _changes(spark, [(2, 9.0, 200, 1, False)]), tbl, KEYS, n_buckets=2)
    st = _state(spark, tbl)
    assert st[2] == 9.0 and st[1] == 1.0 and st[3] == 3.0
    deleted = S.vacuum(tbl, keep_versions=1)
    assert deleted  # expired pre-compaction files reclaimed
    assert _state(spark, tbl) == {1: 1.0, 2: 9.0, 3: 3.0, 4: 4.0}


def test_merge_versioned_schema_evolution(spark, tmp_path):
    """Additive evolution: a later batch carries a NEW column; rewritten
    buckets get it, untouched buckets surface it as NULL through the
    mergeSchema read. Without the flag the mismatch raises."""
    from stellar_etl_airflow_spark.sinks.snapshots import read_snapshot

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("A", 1.0, 100, 0, False), ("B", 2.0, 100, 0, False), ("C", 3.0, 100, 0, False)],
        "k string, balance double, last_modified_ledger long, ledger_entry_change long, deleted boolean",
    )
    apply_changes(spark, base, path, keys=("k",), n_buckets=4)

    evolved = spark.createDataFrame(
        [("A", 10.0, 101, 0, False, "memo-A"), ("D", 4.0, 101, 0, False, "memo-D")],
        "k string, balance double, last_modified_ledger long, ledger_entry_change long, deleted boolean, memo string",
    )
    with pytest.raises(Exception):
        apply_changes(spark, evolved, path, keys=("k",), n_buckets=4)
    apply_changes(
        spark, evolved, path, keys=("k",), n_buckets=4, allow_schema_evolution=True
    )
    out = {r["k"]: r for r in read_snapshot(spark, path).collect()}
    assert set(out) == {"A", "B", "C", "D"}
    assert out["A"]["balance"] == 10.0 and out["A"]["memo"] == "memo-A"
    assert out["D"]["memo"] == "memo-D"
    # untouched-bucket rows surface the new column as NULL
    assert out["B"]["memo"] is None and out["C"]["memo"] is None
    assert out["B"]["balance"] == 2.0

    # the reverse direction: a later batch MISSING a column carries NULL
    # for its inserts but must not clobber existing columns' values
    shrunk = spark.createDataFrame(
        [("E", 102, 0, False)],
        "k string, last_modified_ledger long, ledger_entry_change long, deleted boolean",
    )
    apply_changes(
        spark, shrunk, path, keys=("k",), n_buckets=4, allow_schema_evolution=True
    )
    out2 = {r["k"]: r for r in read_snapshot(spark, path).collect()}
    assert set(out2) == {"A", "B", "C", "D", "E"}
    assert out2["E"]["balance"] is None and out2["E"]["memo"] is None
    # A is not in the shrunk batch: the anti-join keeps its full row
    assert out2["A"]["memo"] == "memo-A" and out2["A"]["balance"] == 10.0

    # the Delta UPDATE SET * contract: a batch UPDATING a matched key but
    # MISSING a column must keep that key's current value, not NULL it
    update_a = spark.createDataFrame(
        [("A", 99.0, 103, 0, False)],
        "k string, balance double, last_modified_ledger long, ledger_entry_change long, deleted boolean",
    )
    apply_changes(
        spark, update_a, path, keys=("k",), n_buckets=4, allow_schema_evolution=True
    )
    out3 = {r["k"]: r for r in read_snapshot(spark, path).collect()}
    assert out3["A"]["balance"] == 99.0  # updated by the batch
    assert out3["A"]["memo"] == "memo-A"  # absent column carried, not clobbered
    assert out3["D"]["memo"] == "memo-D"


def test_versioned_merge_empties_then_refills_bucket(spark, tmp_path):
    """Deleting every key in a bucket leaves it with no files; a later
    insert into the same bucket must land and reads must stay clean."""
    tbl = str(tmp_path / "state")
    df = _changes(spark, [(i, 1.0, 100, 1, False) for i in range(20)])
    apply_changes(spark, df, tbl, KEYS, n_buckets=4)
    bucket0_ids = [
        r["account_id"]
        for r in df.withColumn("_b", key_bucket(KEYS, 4)).collect()
        if r["_b"] == 0
    ]
    assert bucket0_ids
    wipe = _changes(spark, [(i, 0.0, 101, 1, True) for i in bucket0_ids])
    _, touched = apply_changes(spark, wipe, tbl, KEYS, n_buckets=4)
    assert touched == [0]
    leaf = f"{os.sep}{BUCKET_COL}=0{os.sep}"
    assert not any(leaf in f for f in S.read_manifest(tbl)["files"])
    st = _state(spark, tbl)
    assert not set(bucket0_ids) & set(st) and len(st) == 20 - len(bucket0_ids)

    refill = _changes(spark, [(bucket0_ids[0], 9.0, 102, 1, False)])
    apply_changes(spark, refill, tbl, KEYS, n_buckets=4)
    st = _state(spark, tbl)
    assert st[bucket0_ids[0]] == 9.0 and len(st) == 21 - len(bucket0_ids)


def _race_pin(monkeypatch, rival):
    """Run ``rival()`` after this merge found no layout pin but before it
    links its own — a first writer whose props read went stale."""
    real = S._atomic_write_exclusive

    def hook(target, payload):
        if target.endswith(S._PROPS_FILE):
            monkeypatch.undo()
            rival()
        return real(target, payload)

    monkeypatch.setattr(S, "_atomic_write_exclusive", hook)


def test_apply_changes_pin_race_adopts_winner_layout(spark, tmp_path, monkeypatch):
    """Two racing first writers with different bucket counts: exactly one
    pin lands and the loser adopts its ``n_buckets``. Re-pinning would
    hash the loser's keys into other buckets than the winner's rows and
    read those keys back twice."""
    tbl = str(tmp_path / "t")
    seed = _changes(spark, [(i, float(i), 100, 1, False) for i in range(32)])
    _race_pin(monkeypatch, lambda: apply_changes(spark, seed, tbl, KEYS, n_buckets=8))
    batch = _changes(spark, [(i, i + 100.0, 101, 1, False) for i in range(32)])
    apply_changes(spark, batch, tbl, KEYS, n_buckets=4)
    assert load_table_props(tbl)["n_buckets"] == 8
    rows = S.read_snapshot(spark, tbl)
    assert sorted(r["account_id"] for r in rows.collect()) == list(range(32))
    assert _state(spark, tbl) == {i: i + 100.0 for i in range(32)}
    assert rows.filter(F.col(BUCKET_COL) != key_bucket(KEYS, 8)).count() == 0


def test_apply_changes_pin_race_rejects_rival_keys(spark, tmp_path, monkeypatch):
    """A rival first writer pinned other merge keys: the loser must raise
    like any later mismatched writer, and leave the winner's pin."""
    import json

    tbl = str(tmp_path / "t")
    rival = {"n_buckets": 8, "keys": ["balance"], "deleted_col": "deleted",
             "order_cols": list(ORDER)}
    _race_pin(monkeypatch, lambda: S._atomic_write_exclusive(
        S._props_path(tbl), json.dumps(rival)))
    with pytest.raises(ValueError, match="was created with keys"):
        apply_changes(spark, _changes(spark, [(1, 1.0, 100, 1, False)]), tbl, KEYS, n_buckets=4)
    assert load_table_props(tbl) == rival
    assert S.latest_version(tbl) is None  # nothing was written
