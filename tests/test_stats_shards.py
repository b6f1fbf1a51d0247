"""Manifest-stats sharding (the Iceberg manifest-list seam): above a
file-count threshold, per-file stats/blooms move to sidecar shards with
per-shard [min,max] summaries; planning walks summaries first and opens
only shards that may match."""

from __future__ import annotations

import json
import os

import pytest

from stellar_etl_airflow_spark.sinks import snapshots as S


@pytest.fixture()
def small_shards(monkeypatch):
    monkeypatch.setattr(S, "_SHARD_AFTER_FILES", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 3)


def _mk(spark, path, n_files=8):
    df = spark.range(0, n_files * 10).select(
        (S.F.col("id")).alias("k"), (S.F.col("id") % 7).alias("v")
    )
    S.overwrite_versioned(
        spark, df.repartitionByRange(n_files, "k"), path, stats_cols=["k"]
    )
    return path


def test_sharded_publish_and_resolved_read(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    raw = S.read_manifest(tbl, resolve=False)
    assert raw["stats"] == {} and raw["stats_shards"], raw.get("stats_shards")
    assert all(os.path.exists(sh["path"]) for sh in raw["stats_shards"])
    # every shard summarizes k (all its files carry k stats)
    assert all("k" in sh["cols"] for sh in raw["stats_shards"])
    resolved = S.read_manifest(tbl)
    assert len(resolved["stats"]) == len(raw["files"])
    assert resolved["stats_shards"] == []
    # end-to-end read unchanged
    assert S.read_snapshot(spark, tbl).count() == 80


def test_two_level_prune_matches_inline(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    raw = S.read_manifest(tbl, resolve=False)
    resolved = S.read_manifest(tbl)
    for where in ([("k", "=", 5)], [("k", ">=", 60)], [("k", "<", 0)], [("k", "in", [5, 75])]):
        assert S.prune_files(raw, where) == S.prune_files(resolved, where), where
    # and the pruning actually prunes
    assert len(S.prune_files(raw, [("k", "=", 5)])) < len(raw["files"])
    got = sorted(r["k"] for r in S.scan_snapshot(spark, tbl, [("k", "<", 3)]).collect())
    assert got == [0, 1, 2]


def test_summary_skip_never_opens_excluded_shards(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    raw = S.read_manifest(tbl, resolve=False)
    # delete every shard sidecar: a predicate outside the table's range
    # must prune everything from SUMMARIES ALONE (no shard opened, or
    # this raises FileNotFoundError)
    for sh in raw["stats_shards"]:
        os.remove(sh["path"])
    assert S.prune_files(raw, [("k", "<", -1)]) == []
    assert S.prune_files(raw, [("k", ">", 10_000)]) == []


def test_vacuum_reaps_shards_with_their_manifests(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    _mk(spark, tbl)  # v2 overwrites
    snapdir = S._snap_dir(tbl)
    v1_shards = [n for n in os.listdir(snapdir) if n.startswith("stats-v00000001")]
    assert v1_shards
    S.vacuum(tbl, keep_versions=1)
    left = [n for n in os.listdir(snapdir) if n.startswith("stats-v")]
    assert all(n.startswith("stats-v00000002") for n in left) and left
    # retained version still fully readable + prunable
    m = S.read_manifest(tbl, resolve=False)
    assert S.prune_files(m, [("k", "=", 5)])
    assert S.read_snapshot(spark, tbl).count() == 80


def test_clone_resharding_is_self_contained(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    cl = str(tmp_path / "c")
    S.clone(tbl, cl)
    raw = S.read_manifest(cl, resolve=False)
    assert raw["stats_shards"]
    # the clone's shards live under ITS OWN snapshot dir (no cross-table
    # sidecar references for vacuum to break)
    assert all(sh["path"].startswith(os.path.abspath(S._snap_dir(cl))) for sh in raw["stats_shards"])
    assert len(S.prune_files(raw, [("k", "=", 5)])) < len(raw["files"])


def test_dml_on_sharded_table(spark, tmp_path, small_shards):
    tbl = _mk(spark, str(tmp_path / "t"))
    v, rewritten = S.delete_where(spark, tbl, [("k", "<", 10)])
    assert rewritten >= 1
    assert S.read_snapshot(spark, tbl).count() == 70
    # stats carried/recomputed and re-sharded in the new version
    raw = S.read_manifest(tbl, resolve=False)
    assert raw["stats_shards"]
    assert S.prune_files(raw, [("k", "=", 75)])


def test_concurrent_publish_never_clobbers(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: the version slot is claimed with an
    exclusive link — a racing writer that computed the same next
    version gets ConcurrentWriteError, never a silent overwrite."""
    import json

    import pytest as _pt

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.createDataFrame([(1,)], "id long"), tbl
    )
    # the slot primitive: second exclusive write of one target raises
    target = S._manifest_path(tbl, 2)
    S._atomic_write_exclusive(target, json.dumps({"version": 2, "files": [], "ts": 0}))
    with _pt.raises(S.ConcurrentWriteError):
        S._atomic_write_exclusive(target, json.dumps({"version": 2, "files": ["x"]}))
    assert S.read_manifest(tbl, 2, resolve=False)["files"] == []

    # the racing-writer path end to end: both compute version 3 (the
    # loser's stale read is simulated by pinning latest_version once)
    real_latest = S.latest_version
    state = {"stale": True}

    def stale_latest(path):
        v = real_latest(path)
        if state["stale"]:
            state["stale"] = False
            # winner claims v3 between the loser's read and its link
            S._atomic_write_exclusive(
                S._manifest_path(tbl, 3), json.dumps({"version": 3, "files": [], "ts": 0})
            )
            return 2
        return v

    monkeypatch.setattr(S, "latest_version", stale_latest)
    t = S.Txn(tbl)  # begins at the stale v2
    with _pt.raises(S.ConcurrentWriteError):
        t.commit("overwrite")
    monkeypatch.undo()
    assert S.read_manifest(tbl, 3, resolve=False)["files"] == []  # winner intact


def test_latest_pointer_heals_from_disk(spark, tmp_path):
    """A crash between the exclusive manifest link and the _latest
    pointer write must not brick the table: latest_version heals from
    the newest manifest on disk and the next publish claims the NEXT
    slot (found by review of the optimistic-concurrency change)."""
    import json

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.createDataFrame([(1,)], "id long"), tbl)
    # simulate the crash window: v2 linked, pointer still at 1
    S._atomic_write_exclusive(
        S._manifest_path(tbl, 2),
        json.dumps({"version": 2, "files": S.read_manifest(tbl)["files"], "ts": 0}),
    )
    assert S.latest_version(tbl) == 2  # healed
    v = S.overwrite_versioned(spark, spark.createDataFrame([(2,)], "id long"), tbl)
    assert v == 3
    assert sorted(r["id"] for r in S.read_snapshot(spark, tbl).collect()) == [2]


def test_datasource_append_rebases_on_conflict(spark, tmp_path, monkeypatch):
    """A writer commit that loses the version race (ConcurrentWriteError
    from the exclusive manifest link) reloads the interleaved state and
    re-commits: both writers' files land in the final manifest. Driven
    at the writer-object level — the real Data Source commit runs in
    Spark's isolated worker where this interleaving can't be injected,
    but the retry loop under test is the same plain-Python method."""
    import shutil as _sh

    from stellar_etl_airflow_spark.sources.snapshot_source import (
        _FileCommit,
        _SnapshotWriter,
    )

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.createDataFrame([(1,)], "id long").repartition(1), tbl
    )
    base_file = max(S.read_manifest(tbl)["files"], key=os.path.getsize)

    # the file "our" writer's task produced
    mine = os.path.join(tbl, "part-mine.parquet")
    _sh.copyfile(base_file, mine)

    # interleave a competing append INSIDE the read->publish window:
    # the writer's first manifest link is preempted by an external
    # commit that claims the version slot first
    real_link = S._atomic_write_exclusive
    state = {"fired": False}

    def racy_link(target, payload):
        if not state["fired"]:
            state["fired"] = True
            ext = os.path.join(tbl, "part-ext.parquet")
            _sh.copyfile(base_file, ext)
            peer = S.Txn(tbl)
            peer.add([ext])
            peer.commit("write")
            # now the writer's own attempt links the SAME version
            # number and must hit ConcurrentWriteError -> rebase
        return real_link(target, payload)

    monkeypatch.setattr(S, "_atomic_write_exclusive", racy_link)
    w = _SnapshotWriter({"path": tbl}, overwrite=False)
    w.commit([_FileCommit(file=mine, rows=1)])
    monkeypatch.undo()
    m = S.read_manifest(tbl)
    names = {os.path.basename(f) for f in m["files"]}
    assert "part-ext.parquet" in names and "part-mine.parquet" in names
    ids = sorted(r["id"] for r in S.read_snapshot(spark, tbl).collect())
    assert ids == [1, 1, 1]  # base + rebased ext + mine


def test_kitchen_sink_composition(spark, tmp_path, small_shards):
    """All the r7 table features on ONE table: sharded stats + rename +
    CHECK constraint + DV delete + partial compaction + vacuum, with
    reads correct at every step."""
    tbl = _mk(spark, str(tmp_path / "t"))  # 8 files > shard threshold
    S.rename_column(tbl, "k", "key")
    S.add_constraint(spark, tbl, "key_nonneg", "key >= 0")
    S.delete_where_dv(spark, tbl, [("key", "<", 5)])
    got = sorted(r["key"] for r in S.scan_snapshot(spark, tbl, [("key", "<", 10)]).collect())
    assert got == [5, 6, 7, 8, 9]
    raw = S.read_manifest(tbl, resolve=False)
    assert raw["stats_shards"] and raw["dv"]["counts"] and raw["renames"]
    # partial compaction materializes DVs + keeps mapping/constraints
    v, n = S.compact_small_files(spark, tbl, min_bytes=1 << 30)  # all small
    m = S.read_manifest(tbl, resolve=False)
    assert m["dv"] == {} and m["renames"] and m["constraints"]
    assert sorted(r["key"] for r in S.read_snapshot(spark, tbl).collect()) == list(range(5, 80))
    # constraint still enforced through the mapping after everything
    with pytest.raises(S.ConstraintViolation):
        S.update_where(spark, tbl, [("key", "=", 7)], {"key": "-1"})
    S.vacuum(tbl, keep_versions=1)
    assert sorted(r["key"] for r in S.read_snapshot(spark, tbl).collect()) == list(range(5, 80))


def test_threaded_appends_all_land(spark, tmp_path):
    """Eight writer threads race one table: the exclusive-link + CAS +
    rebase protocol must land ALL files with no lost update and a dense
    version chain — the actual concurrency the single-writer assumption
    used to hand-wave."""
    import shutil as _sh
    from concurrent.futures import ThreadPoolExecutor

    from stellar_etl_airflow_spark.sources.snapshot_source import (
        _FileCommit,
        _SnapshotWriter,
    )

    tbl = str(tmp_path / "t")
    S.overwrite_versioned(
        spark, spark.createDataFrame([(0,)], "id long").repartition(1), tbl
    )
    base_file = max(S.read_manifest(tbl)["files"], key=os.path.getsize)

    def append_one(i: int) -> None:
        mine = os.path.join(tbl, f"part-thread{i}.parquet")
        _sh.copyfile(base_file, mine)
        w = _SnapshotWriter({"path": tbl}, overwrite=False)
        w.commit([_FileCommit(file=mine, rows=1)])

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(append_one, range(8)))

    m = S.read_manifest(tbl)
    names = {os.path.basename(f) for f in m["files"]}
    assert {f"part-thread{i}.parquet" for i in range(8)} <= names, names
    assert m["version"] == 9  # dense chain: 1 seed + 8 appends
    assert S.read_snapshot(spark, tbl).count() == 9


def test_public_scan_is_lazy_on_shards(spark, tmp_path, small_shards):
    """scan_snapshot itself must prune from shard summaries without
    opening excluded sidecars (review r7: the lazy path was dead code
    behind a resolving read_manifest)."""
    tbl = _mk(spark, str(tmp_path / "t"))
    raw = S.read_manifest(tbl, resolve=False)
    for sh in raw["stats_shards"]:
        os.remove(sh["path"])  # any sidecar open now raises
    got = S.scan_snapshot(spark, tbl, [("k", ">", 10_000)]).collect()
    assert got == []


def test_vacuum_dry_run_touches_nothing(spark, tmp_path):
    tbl = str(tmp_path / "t")
    S.overwrite_versioned(spark, spark.createDataFrame([(1,)], "id long"), tbl)
    S.overwrite_versioned(spark, spark.createDataFrame([(2,)], "id long"), tbl)
    would = S.vacuum(tbl, keep_versions=1, dry_run=True)
    assert would  # v1's files are reclaimable
    # nothing actually happened: v1 still reads, files still on disk
    assert sorted(r["id"] for r in S.read_snapshot(spark, tbl, 1).collect()) == [1]
    assert all(os.path.exists(f) for f in would)
    gone = S.vacuum(tbl, keep_versions=1)
    assert sorted(gone) == sorted(would)  # the dry run predicted exactly
    assert not any(os.path.exists(f) for f in gone)
