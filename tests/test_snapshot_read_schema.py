"""Snapshot reads plan from the manifest's recorded schema
(sinks/snapshots.py::_read_schema): for every table shape the schema a
read returns equals the one Spark infers from the files' footers and
partition directories, and building a frame over a recorded table runs
no Spark job."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stellar_etl_airflow_spark.operators import additive_mor as AM
from stellar_etl_airflow_spark.operators.merge import BUCKET_COL, apply_changes
from stellar_etl_airflow_spark.sinks import snapshots as S

from .spark_jobs import jobs_of

KEYS = ("account_id",)
COLS = "account_id long, balance double, last_modified_ledger long, ledger_entry_change int, deleted boolean"


def _changes(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _inferred(spark, m, files=None):
    """What a snapshot read returned before the manifest recorded a
    layout: Spark's own inference over the files."""
    files = m["files"] if files is None else files
    return (
        spark.read.option("mergeSchema", "true" if m.get("mixed_schema") else "false")
        .option("basePath", m["base"])
        .parquet(*files)
        .schema
    )


def _assert_reads_as_inferred(spark, m, planned=True):
    """The full read and every one-file read of ``m`` return Spark's
    inferred schema; ``planned``: the full read without inferring it."""
    assert (S._read_schema(spark, m, m["files"]) is not None) == planned
    for files in [m["files"]] + [[f] for f in m["files"]]:
        assert S._read_physical(spark, m, files).schema == _inferred(spark, m, files)


def _bucketed(spark, tmp_path, name="accounts"):
    tbl = str(tmp_path / name)
    apply_changes(
        spark, _changes(spark, [(i, float(i), 1, 1, False) for i in range(40)]), tbl, KEYS, n_buckets=4
    )
    apply_changes(spark, _changes(spark, [(3, 3.5, 2, 1, False)]), tbl, KEYS, n_buckets=4)
    return tbl


def _flat(spark, tmp_path, name="flat"):
    tbl = str(tmp_path / name)
    for lo in (0, 10):
        S.append_versioned(
            spark, _changes(spark, [(i, float(i), 1, 1, False) for i in range(lo, lo + 10)]).repartition(2),
            tbl, stats_cols=["account_id"],
        )
    return tbl


def test_bucketed_table_reads_as_inferred(spark, tmp_path):
    m = S.read_manifest(_bucketed(spark, tmp_path))
    assert m["layout"] == [BUCKET_COL]
    _assert_reads_as_inferred(spark, m)
    # files outside the recorded layout infer: `_p=` files, flat record
    assert S._read_schema(spark, dict(m, layout=[]), m["files"]) is None


def test_flat_append_table_reads_as_inferred(spark, tmp_path):
    m = S.read_manifest(_flat(spark, tmp_path))
    assert m["layout"] == [] and len(m["files"]) > 2
    _assert_reads_as_inferred(spark, m)


def test_clone_reads_as_inferred(spark, tmp_path):
    src = _bucketed(spark, tmp_path, "src")
    dst = str(tmp_path / "clone")
    S.clone(src, dst)
    m = S.read_manifest(dst)
    assert os.path.abspath(m["base"]) != os.path.abspath(dst)
    _assert_reads_as_inferred(spark, m)


def test_renamed_column_table_reads_as_inferred(spark, tmp_path):
    tbl = _flat(spark, tmp_path)
    S.rename_column(tbl, "balance", "amount")
    m = S.read_manifest(tbl)
    _assert_reads_as_inferred(spark, m)
    assert S.read_snapshot(spark, tbl).columns == [
        "account_id", "amount", "last_modified_ledger", "ledger_entry_change", "deleted"
    ]


def test_dv_table_reads_as_inferred(spark, tmp_path):
    tbl = _flat(spark, tmp_path)
    S.delete_where_dv(spark, tbl, [("account_id", "=", 4)])
    m = S.read_manifest(tbl)
    assert S.read_dv(m)
    _assert_reads_as_inferred(spark, m)
    assert sorted(r["account_id"] for r in S.read_snapshot(spark, tbl).collect()) == [
        i for i in range(20) if i != 4
    ]


def test_evolved_table_infers_with_merged_footers(spark, tmp_path):
    tbl = _bucketed(spark, tmp_path)
    wide = _changes(spark, [(5, 5.5, 3, 1, False)]).withColumn("memo", F.lit("x"))
    apply_changes(spark, wide, tbl, KEYS, n_buckets=4, allow_schema_evolution=True)
    m = S.read_manifest(tbl)
    assert m["mixed_schema"]
    _assert_reads_as_inferred(spark, m, planned=False)
    assert "memo" in S.read_snapshot(spark, tbl).columns


ADOPTED = [
    # i: int, l: long, d: date-like, ts: timestamp-like, f: float-like,
    # s: string, n: int with a null partition, mix: int and string values
    ("1", "3000000000", "2024-01-01", "2024-01-01 10:00:00", "1.5", "abc", None, "1"),
    ("2", "1", "2024-01-02", "2024-01-02 11:30:00", "-0.25", "x y", "7", "z"),
]
ADOPTED_TYPES = {
    "i": T.IntegerType(), "l": T.LongType(), "d": T.DateType(), "ts": T.TimestampType(),
    "f": T.DoubleType(), "s": T.StringType(), "n": T.IntegerType(), "mix": T.StringType(),
}


def _adopted(spark, tmp_path):
    tbl = str(tmp_path / "adopted")
    parts = list(ADOPTED_TYPES)
    df = spark.createDataFrame(
        [(k,) + row for k, row in enumerate(ADOPTED)], "v long, " + ", ".join(f"{c} string" for c in parts)
    )
    df.write.partitionBy(*parts).parquet(tbl)
    S.snapshot(tbl)
    return tbl


def test_adopted_partition_values_type_as_spark_infers(spark, tmp_path):
    """Partition directories typed date, timestamp, double, long and
    string, and a null partition, read with Spark's types — not as the
    strings a naive record would give them."""
    m = S.read_manifest(_adopted(spark, tmp_path))
    assert m["layout"] == list(ADOPTED_TYPES)
    _assert_reads_as_inferred(spark, m)
    got = S.read_snapshot(spark, m["base"]).schema
    assert {f.name: f.dataType for f in got if f.name != "v"} == ADOPTED_TYPES


def test_manifest_without_layout_keeps_inferred_types(spark, tmp_path):
    """A manifest written before layouts were recorded carries
    string-typed partition columns in its schema and no ``layout``: its
    reads still infer, so the types they return do not change."""
    m = S.read_manifest(_adopted(spark, tmp_path))
    old = dict(m, schema=json.dumps({**json.loads(m["schema"]), "fields": [
        {**f, "type": "string"} if f["name"] in ADOPTED_TYPES else f
        for f in json.loads(m["schema"])["fields"]
    ]}))
    del old["layout"]
    _assert_reads_as_inferred(spark, old, planned=False)


def test_partition_value_types_match_spark(spark, tmp_path):
    """Every raw directory value the mirror types, Spark types the same;
    the rest it leaves to Spark."""
    values = [
        "1", "007", "+5", "-3", "2147483648", "99999999999999999999", "1e5", "1.5", "1.", ".5",
        "-0.25", "NaN", "2024-01-01", "2024-1-1", "2024-13-01", "2024-01-01 10%3A00%3A00",
        "2024-01-01 10%3A00%3A00.5", "2024-01-01 10%3A00%3A00.123456", "2024-02-30", "abc",
        "a%20b", "true", "1d", "0x10", "12abc", "x1", "-",
    ]
    typed = 0
    for n, v in enumerate(values):
        f = tmp_path / f"t{n}" / f"k={v}" / "part.parquet"
        os.makedirs(f.parent)
        pq.write_table(pa.table({"a": [1]}), str(f))
        mine = S._partition_type(v)
        if mine is not None:
            typed += 1
            assert spark.read.option("basePath", str(tmp_path / f"t{n}")).parquet(str(f)).schema["k"].dataType == mine, v
    assert typed >= 15


def test_connector_reads_an_emptied_table_as_empty(spark, tmp_path):
    """A table whose only key was deleted lists no files; the snapshot
    connector reads it as an empty frame of its columns, as read_snapshot
    does, instead of raising."""
    from stellar_etl_airflow_spark.sources import snapshot_source as SRC

    tbl = str(tmp_path / "accounts")
    apply_changes(spark, _changes(spark, [(1, 10.0, 100, 1, False)]), tbl, KEYS, n_buckets=4)
    apply_changes(spark, _changes(spark, [(1, 0.0, 101, 1, True)]), tbl, KEYS, n_buckets=4)
    assert S.read_manifest(tbl)["files"] == []
    SRC.register(spark)
    got = spark.read.format(SRC.FORMAT_NAME).option("path", tbl).load()
    assert got.collect() == []
    want = S.read_snapshot(spark, tbl).drop(BUCKET_COL)
    assert want.collect() == []
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]


def test_fold_counts_rows_from_footers(spark, tmp_path):
    """fold_additive's row count is the committed files' footer row
    count — what counting them with Spark gave — with no Spark job."""
    tbl = str(tmp_path / "t")
    rows = spark.createDataFrame([(1, 5), (2, 1), (1, 3), (3, 7)], "k long, n long").repartition(2)
    AM.write_delta(spark, rows, tbl, ("k",), ("n",), txn_id="b0")
    v, n = AM.fold_additive(spark, tbl)
    files = S.read_manifest(tbl, v)["files"]
    assert n == spark.read.parquet(*files).count() == 3
    empty = str(tmp_path / "e")
    AM.write_delta(spark, spark.createDataFrame([], "k long, n long").repartition(1), empty, ("k",), ("n",))
    assert AM.fold_additive(spark, empty)[1] == 0


# --- job-count pins ---------------------------------------------------


def _dv_table(spark, tmp_path):
    tbl = _flat(spark, tmp_path, "dv")
    S.delete_where_dv(spark, tbl, [("account_id", "=", 4)])
    return tbl


def _clone(spark, tmp_path):
    dst = str(tmp_path / "clone")
    S.clone(_bucketed(spark, tmp_path, "src"), dst)
    return dst


@pytest.mark.parametrize("make", [_bucketed, _dv_table, _clone])
def test_building_snapshot_frames_runs_no_job(spark, tmp_path, make):
    tbl = make(spark, tmp_path)
    assert jobs_of(spark, lambda: S.read_snapshot(spark, tbl)) == []
    assert jobs_of(spark, lambda: S.scan_snapshot(spark, tbl, [("account_id", "=", 4)])) == []


def test_pruned_lookup_runs_one_job(spark, tmp_path):
    tbl = str(tmp_path / "accounts")
    apply_changes(
        spark, _changes(spark, [(i, float(i), 1, 1, False) for i in range(40)]), tbl, KEYS,
        n_buckets=4, stats_cols=("account_id",), bloom_cols=("account_id",),
    )
    m = S.read_manifest(tbl)
    assert len(S.prune_files(m, [("account_id", "=", 7)])) == 1 < len(m["files"])
    got = []
    jobs = jobs_of(spark, lambda: got.extend(S.scan_snapshot(spark, tbl, [("account_id", "=", 7)]).collect()))
    assert [r["balance"] for r in got] == [7.0]
    assert len(jobs) == 1, jobs


def test_merge_into_bucketed_table_runs_no_footer_job(spark, tmp_path):
    """From the touched-bucket probe's first shuffle stage on, every job
    of a merge into an existing bucketed table moves shuffle bytes (the
    probe, the bucket write): the rewrite read plans from the manifest,
    so no footer-inference job (one stage, no shuffle) runs between."""
    tbl = _bucketed(spark, tmp_path)
    batch = _changes(spark, [(i, float(i) + 0.5, 3, 1, False) for i in range(0, 40, 3)])
    jobs = sorted(
        jobs_of(spark, lambda: apply_changes(spark, batch, tbl, KEYS, n_buckets=4)),
        key=lambda j: j["job"],
    )
    first = next(i for i, j in enumerate(jobs) if j["shuffle_bytes"])
    assert all(j["shuffle_bytes"] > 0 for j in jobs[first:]), jobs
    assert {r["account_id"]: r["balance"] for r in S.read_snapshot(spark, tbl).collect()}[3] == 3.5
