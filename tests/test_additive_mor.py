"""Aggregate merge-on-read (operators/additive_mor.py): contention-free
additive state — writes are pure delta appends (commutative, txn-ledger
exactly-once), reads fold on the fly, maintenance folds to one row per
key without reopening replay holes."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F  # noqa: F401

from stellar_etl_airflow_spark.operators import additive_mor as AM
from stellar_etl_airflow_spark.sinks import snapshots as S


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, n long").repartition(1)


def _view(spark, tbl, version=None):
    return {
        r["k"]: r["n"] for r in AM.read_additive(spark, tbl, version=version).collect()
    }


def test_write_read_fold_lifecycle(spark, tmp_path):
    tbl = str(tmp_path / "t")
    AM.write_delta(spark, _mk(spark, [(1, 5), (2, 1)]), tbl, ("k",), ("n",), txn_id="b0")
    AM.write_delta(spark, _mk(spark, [(1, 3), (3, 7)]), tbl, ("k",), ("n",), txn_id="b1")
    assert _view(spark, tbl) == {1: 8, 2: 1, 3: 7}
    pre_fold = S.latest_version(tbl)
    v, n = AM.fold_additive(spark, tbl)
    assert n == 3 and v == pre_fold + 1
    assert _view(spark, tbl) == {1: 8, 2: 1, 3: 7}
    # deltas keep summing on top of the folded base
    AM.write_delta(spark, _mk(spark, [(3, -2), (4, 4)]), tbl, ("k",), ("n",), txn_id="b2")
    assert _view(spark, tbl) == {1: 8, 2: 1, 3: 5, 4: 4}
    # time travel folds the OLD pile
    assert _view(spark, tbl, version=pre_fold) == {1: 8, 2: 1, 3: 7}


def test_replay_is_exactly_once_across_fold(spark, tmp_path):
    tbl = str(tmp_path / "t")
    AM.write_delta(spark, _mk(spark, [(1, 5)]), tbl, ("k",), ("n",), txn_id="b0")
    AM.write_delta(spark, _mk(spark, [(1, 5)]), tbl, ("k",), ("n",), txn_id="b0")
    assert _view(spark, tbl) == {1: 5}
    AM.fold_additive(spark, tbl)
    v = S.latest_version(tbl)
    AM.write_delta(spark, _mk(spark, [(1, 5)]), tbl, ("k",), ("n",), txn_id="b0")
    assert S.latest_version(tbl) == v  # the fold carried the ledger
    assert _view(spark, tbl) == {1: 5}


def test_same_key_writers_never_conflict(spark, tmp_path):
    """The contention story: 8 writers adding +1 to the SAME key land
    exactly once each with zero merge recomputes (there are no merges)
    and no retry-budget exhaustion."""
    from stellar_etl_airflow_spark.operators import merge as M

    tbl = str(tmp_path / "t")
    stats0 = dict(M.MERGE_STATS)
    errs = []

    def w(i):
        try:
            AM.write_delta(
                spark, _mk(spark, [(7, 1)]), tbl, ("k",), ("n",), txn_id=f"w{i}"
            )
        except Exception as e:  # pragma: no cover
            errs.append((i, e))

    ts = [threading.Thread(target=w, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert _view(spark, tbl) == {7: 8}
    assert dict(M.MERGE_STATS) == stats0


def test_fold_races_delta_correctly(spark, tmp_path, monkeypatch):
    """A delta landing mid-fold loses the fold's first CAS, and the
    fold REBASES over it (r11 liveness: intervening pure appends are
    disjoint additive files, so folded(files@v) + new deltas is exact —
    no re-fold, no recompute). Non-append commits (compaction) DO
    invalidate the fold; that path re-folds, bounded by max_refolds,
    and raises with the pile intact once the budget is spent. An append
    landing WHILE a fold publishes rebases over the fold and still
    sums."""
    tbl = str(tmp_path / "t")
    AM.write_delta(spark, _mk(spark, [(1, 1)]), tbl, ("k",), ("n",), txn_id="b0")
    real_adopt = S.adopt_staged

    def adopt_then_delta(stage, path):
        out = real_adopt(stage, path)
        monkeypatch.undo()
        AM.write_delta(spark, _mk(spark, [(1, 10)]), tbl, ("k",), ("n",), txn_id="mid")
        return out

    monkeypatch.setattr(S, "adopt_staged", adopt_then_delta)
    v, n = AM.fold_additive(spark, tbl)  # loses CAS to "mid", rebases it in
    assert n == 2 and v == S.latest_version(tbl)  # 1 folded row + 1 delta row
    assert _view(spark, tbl) == {1: 11}
    # the rebased-in delta's txn id survived: replay is still a no-op
    AM.write_delta(spark, _mk(spark, [(1, 10)]), tbl, ("k",), ("n",), txn_id="mid")
    assert S.latest_version(tbl) == v and _view(spark, tbl) == {1: 11}

    # refold budget exhaustion: EVERY attempt races a NON-append commit
    # (metadata DDL here) -> bounded raise, no orphaned staged files,
    # pile intact
    seq = iter(range(1000))

    def adopt_always_ddl(stage, path):
        out = real_adopt(stage, path)
        if "_stage-fold-" in stage:
            S.add_constraint(spark, tbl, f"c{next(seq)}", "n > -999")
        return out

    monkeypatch.setattr(S, "adopt_staged", adopt_always_ddl)
    with pytest.raises(S.ConcurrentWriteError, match="non-append"):
        AM.fold_additive(spark, tbl, max_refolds=2)
    monkeypatch.undo()
    assert _view(spark, tbl) == {1: 11}
    live = set(S.read_manifest(tbl, resolve=False)["files"])
    import os as _os

    on_disk = {
        f
        for f in S._list_data_files(tbl)
        if _os.path.basename(f).startswith("part-")
    }
    # lost fold attempts removed their staged output (no orphans beyond
    # files still referenced by RETAINED versions for time travel)
    all_versions = set()
    for ver in range(1, S.latest_version(tbl) + 1):
        all_versions |= set(S.read_manifest(tbl, version=ver, resolve=False)["files"])
    assert on_disk <= all_versions
    assert live <= on_disk
    AM.fold_additive(spark, tbl)  # clean rerun folds everything
    assert _view(spark, tbl) == {1: 11}

    # other direction: append staged, fold lands first, append rebases
    def adopt_then_fold(stage, path):
        out = real_adopt(stage, path)
        monkeypatch.undo()
        AM.fold_additive(spark, tbl)
        return out

    monkeypatch.setattr(S, "adopt_staged", adopt_then_fold)
    AM.write_delta(spark, _mk(spark, [(1, 100)]), tbl, ("k",), ("n",), txn_id="b2")
    assert _view(spark, tbl) == {1: 111}


def test_write_delta_guards(spark, tmp_path):
    tbl = str(tmp_path / "t")
    with pytest.raises(ValueError, match="exactly keys"):
        AM.write_delta(
            spark,
            spark.createDataFrame([(1, 1, 1)], "k long, n long, x long"),
            tbl,
            ("k",),
            ("n",),
        )
    with pytest.raises(ValueError, match="order-dependent"):
        AM.write_delta(
            spark,
            spark.createDataFrame([(1, 1.0)], "k long, n double"),
            tbl,
            ("k",),
            ("n",),
        )
    AM.write_delta(spark, _mk(spark, [(1, 1)]), tbl, ("k",), ("n",))
    with pytest.raises(ValueError, match="additive-MoR table with keys"):
        AM.write_delta(
            spark,
            spark.createDataFrame([(1, 1)], "j long, n long"),
            tbl,
            ("j",),
            ("n",),
        )
    with pytest.raises(ValueError, match="not an additive-MoR table"):
        AM.read_additive(spark, str(tmp_path / "nope"))


def test_fold_zero_row_table(spark, tmp_path):
    """ADVICE r11: a fold of a zero-row table can stage NO part files;
    the post-publish row count must guard the empty file list instead
    of raising after the manifest already landed (a successful fold
    that looks failed)."""
    tbl = str(tmp_path / "t")
    empty = spark.createDataFrame([], "k long, n long").repartition(1)
    AM.write_delta(spark, empty, tbl, ("k",), ("n",), txn_id="b0")
    v, n = AM.fold_additive(spark, tbl)
    assert n == 0 and v == S.latest_version(tbl)
    assert _view(spark, tbl) == {}
    # the folded empty table keeps working
    AM.write_delta(spark, _mk(spark, [(1, 2)]), tbl, ("k",), ("n",), txn_id="b1")
    assert _view(spark, tbl) == {1: 2}


def test_fold_refolds_on_concurrent_stats_repin(spark, tmp_path, monkeypatch):
    """ADVICE r11: a stats/bloom re-pin between the fold's base read and
    its publish is a METADATA change — the appends-only rebase proof
    must not treat it as rebaseable, or the publish silently reverts
    the new pins (and new_files' blooms were computed for the OLD
    columns). The fold must refold and the re-pinned columns survive."""
    tbl = str(tmp_path / "t")
    AM.write_delta(spark, _mk(spark, [(1, 1), (2, 3)]), tbl, ("k",), ("n",), txn_id="b0")
    real_adopt = S.adopt_staged
    fired = {"n": 0}

    def adopt_then_repin(stage, path):
        out = real_adopt(stage, path)
        if "_stage-fold-" in stage and fired["n"] == 0:
            fired["n"] = 1
            # a metadata-only DDL re-pin: same file list, new pins
            t = S.Txn(tbl)
            t.set(stats_cols=["n"], bloom_cols=["k"])
            t.add(t.m["files"], spark=spark)  # listed files: new blooms
            t.commit("repin")
        return out

    monkeypatch.setattr(S, "adopt_staged", adopt_then_repin)
    v, n = AM.fold_additive(spark, tbl)
    monkeypatch.undo()
    assert n == 2 and fired["n"] == 1
    m = S.read_manifest(tbl, resolve=False)
    assert m.get("stats_cols") == ["n"] and m.get("bloom_cols") == ["k"]
    # the refolded files carry blooms for the RE-PINNED column set
    _, blooms = S.resolved_stats_blooms(m)
    assert set(blooms) == set(m["files"]) and all("k" in b for b in blooms.values())
    assert _view(spark, tbl) == {1: 1, 2: 3}
