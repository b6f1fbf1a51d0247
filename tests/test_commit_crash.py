"""Crash matrix for the snapshot commit path (sinks/snapshots.py::Txn).

Every write step a commit takes — data adopted, DV sidecar, stats
shard, manifest link, ``_latest`` pointer — fails once, right after the
write lands, for every op kind that takes that step. Afterwards:

- ``read_snapshot`` returns exactly the old or exactly the new version's
  rows (old when the crash beat the manifest link, new after it);
- every file (data, DV sidecar, stats shard) a surviving manifest lists
  still exists;
- ``fsck_repair(dry_run=True)`` reports nothing missing;
- the next write succeeds.

Tables are tiny and mostly driver-written so the whole matrix stays
well under a minute.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pytest

from stellar_etl_airflow_spark.operators import additive_mor as AM
from stellar_etl_airflow_spark.operators import merge as M
from stellar_etl_airflow_spark.sinks import snapshots as S
from stellar_etl_airflow_spark.sources.snapshot_source import _SnapshotWriter

KV = "k long, v long"
STATE = "k long, v long, last_modified_ledger long, ledger_entry_change long, deleted boolean"


class Crash(Exception):
    """The injected failure: the process dies right after a write."""


def _rows(spark, path):
    df = S.read_snapshot(spark, path).drop(M.BUCKET_COL)
    return sorted(tuple(r) for r in df.collect())


# -- base tables ------------------------------------------------------------


def _plain(spark, path, dv=True):
    """Five versions: a 200-row file A (so it is never "small"), two
    1-row files, a deletion vector masking A's first row (a plain
    commit without one when ``dv`` is off), one more 1-row file. Stats
    pinned on k; the test forces stats shards."""
    S.append_versioned_rows(spark, [(i, i) for i in range(200)], KV, path, stats_cols=("k",))
    S.append_versioned_rows(spark, [(300, 3)], KV, path)
    S.append_versioned_rows(spark, [(400, 4)], KV, path)
    t = S.Txn(path)
    if dv:
        t.set(dv={t.m["files"][0]: [0]})
    t.commit("delete")
    S.append_versioned_rows(spark, [(500, 5)], KV, path)


def _plain_no_dv(spark, path):
    _plain(spark, path, dv=False)


def _append_next(spark, path):
    return S.append_versioned_rows(spark, [(900, 9)], KV, path)


def _same(rows):
    return rows


def _merge_base(spark, path):
    """A bucketed table adopted from a plain partitioned write; the op's
    first apply_changes pins the layout and stats on k."""
    spark.createDataFrame([(1, 10, 1, 0, False), (2, 20, 1, 0, False)], STATE).withColumn(
        M.BUCKET_COL, M.key_bucket(("k",), 2)
    ).write.partitionBy(M.BUCKET_COL).parquet(path)
    S.snapshot(path)


def _merge_next(spark, path):
    return S.compact_snapshot(spark, path)  # rewrites every bucket


def _fold_base(spark, path):
    AM.write_delta_rows(spark, [(1, 1), (2, 5)], KV, path, ("k",), ("v",), txn_id="a")
    t = S.Txn(path)
    t.set(stats_cols=["k"])
    t.commit("repin")
    AM.write_delta_rows(spark, [(1, 2)], KV, path, ("k",), ("v",), txn_id="b")


def _fold_next(spark, path):
    return AM.write_delta_rows(spark, [(1, 4)], KV, path, ("k",), ("v",), txn_id="c")


# -- the op kinds -----------------------------------------------------------


def _ds_append(spark, path):
    w = _SnapshotWriter({"path": path}, overwrite=False)
    tbl = pa.table({"k": pa.array([600], pa.int64()), "v": pa.array([6], pa.int64())})
    w.commit([w.write(iter(tbl.to_batches()))])


def _compact_small(spark, path):
    big = S.read_manifest(path)["files"][0]
    S.compact_small_files(spark, path, min_bytes=os.path.getsize(big))


def _without(*keys):
    return lambda old: [r for r in old if r[0] not in keys]


# name: (base, op, expected rows from the old rows, next write, steps taken)
OPS = {
    # the Spark-staged append shares the driver-staged one's commit and
    # adds only the adopt step
    "append": (
        _plain, lambda spark, p: S.append_versioned_rows(spark, [(600, 6)], KV, p),
        lambda old: sorted(old + [(600, 6)]), _append_next,
        ("dv", "shard", "link", "latest"),
    ),
    "append_staged": (
        _plain,
        lambda spark, p: S.append_versioned(spark, spark.createDataFrame([(600, 6)], KV), p),
        lambda old: sorted(old + [(600, 6)]), _append_next, ("adopt",),
    ),
    "append_ds": (
        _plain, _ds_append, lambda old: sorted(old + [(600, 6)]), _append_next,
        ("dv", "shard", "link", "latest"),
    ),
    "overwrite": (
        _plain_no_dv,
        lambda spark, p: S.overwrite_versioned(
            spark, spark.createDataFrame([(8, 8)], KV), p, stats_cols=("k",)
        ),
        lambda old: [(8, 8)],
        _append_next,
        ("adopt", "shard", "link", "latest"),
    ),
    "merge": (
        _merge_base,
        lambda spark, p: M.apply_changes(
            spark, spark.createDataFrame([(1, 11, 2, 0, False), (3, 30, 2, 0, False)], STATE),
            p, keys=("k",), n_buckets=2, stats_cols=("k",),
        ),
        lambda old: sorted([r for r in old if r[0] != 1] + [(1, 11, 2, 0, False), (3, 30, 2, 0, False)]),
        _merge_next,
        ("adopt", "shard", "link", "latest"),
    ),
    "compact_snapshot": (
        _plain_no_dv, lambda spark, p: S.compact_snapshot(spark, p, target_files=1), _same,
        _append_next, ("adopt", "shard", "link", "latest"),
    ),
    "compact_small_files": (
        _plain, _compact_small, _same, _append_next,
        ("adopt", "dv", "shard", "link", "latest"),
    ),
    "delete_where": (
        _plain, lambda spark, p: S.delete_where(spark, p, [("k", "=", 300)]), _without(300),
        _append_next, ("adopt", "dv", "shard", "link", "latest"),
    ),
    "delete_where_dv": (
        _plain, lambda spark, p: S.delete_where_dv(spark, p, [("k", "=", 5)]), _without(5),
        _append_next, ("dv", "shard", "link", "latest"),
    ),
    "drop_constraint": (
        lambda spark, p: (_plain(spark, p), _constrain(p)),
        lambda spark, p: S.drop_constraint(p, "k_nonneg"), _same, _append_next,
        ("dv", "shard", "link", "latest"),
    ),
    "restore": (
        _plain, lambda spark, p: S.restore(p, 4), _without(500), _append_next,
        ("dv", "shard", "link", "latest"),
    ),
    "fold": (
        _fold_base, lambda spark, p: AM.fold_additive(spark, p), lambda old: [(1, 3), (2, 5)],
        _fold_next, ("adopt", "shard", "link", "latest"),
    ),
}


def _constrain(path):
    t = S.Txn(path)
    t.set(constraints={"k_nonneg": "k >= 0"})
    t.commit("add_constraint")


CASES = [(op, step) for op, spec in OPS.items() for step in spec[4]]


@pytest.fixture(scope="module")
def old_rows():
    """Each base table is rebuilt per case from the same rows: read them
    once per op kind."""
    return {}


def _inject(monkeypatch, step):
    """Arm one crash right after the first write of ``step`` lands."""
    armed = {"on": True}

    def fire():
        if armed["on"]:
            armed["on"] = False
            raise Crash(step)

    if step == "adopt":
        real_adopt = S.adopt_staged

        def adopt(stage, path):
            out = real_adopt(stage, path)
            fire()
            return out

        monkeypatch.setattr(S, "adopt_staged", adopt)
    elif step == "link":
        real_link = S._atomic_write_exclusive

        def link(target, payload):
            real_link(target, payload)
            if re.fullmatch(r"v\d{8}\.json", os.path.basename(target)):
                fire()

        monkeypatch.setattr(S, "_atomic_write_exclusive", link)
    else:
        prefix = {"dv": "dv-v", "shard": "stats-v", "latest": "_latest"}[step]
        real_write = S._atomic_write

        def write(target, payload):
            real_write(target, payload)
            if os.path.basename(target).startswith(prefix):
                fire()

        monkeypatch.setattr(S, "_atomic_write", write)


def _referenced_exist(path):
    for v in S._versions_on_disk(path):
        m = S.read_manifest(path, v, resolve=False)
        listed = list(m["files"]) + [sh["path"] for sh in m.get("stats_shards") or []]
        if m.get("dv"):
            listed.append(m["dv"]["path"])
        missing = [f for f in listed if not os.path.exists(f)]
        assert not missing, (v, missing)


@pytest.mark.parametrize("op,step", CASES, ids=[f"{o}-{s}" for o, s in CASES])
def test_commit_survives_crash(spark, tmp_path, monkeypatch, old_rows, op, step):
    base, run, expect, next_write, _steps = OPS[op]
    monkeypatch.setattr(S, "_SHARD_AFTER_FILES", 0)  # tiny tables shard too
    path = str(tmp_path / "t")
    base(spark, path)
    before = S.latest_version(path)
    if op not in old_rows:
        old_rows[op] = _rows(spark, path)
    old = old_rows[op]
    with monkeypatch.context() as mp:
        _inject(mp, step)
        with pytest.raises(Crash):
            run(spark, path)
    after = S.latest_version(path)
    # the link is the commit point: crashes before it leave the old
    # version, crashes at or after it leave the new one
    assert after == (before + 1 if step in ("link", "latest") else before)
    assert _rows(spark, path) == (expect(old) if after > before else old)
    _referenced_exist(path)
    assert S.fsck_repair(path, dry_run=True) == []
    assert next_write(spark, path) == after + 1
