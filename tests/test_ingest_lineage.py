"""Ingest lineage: the ``_meta/batch_runs`` row and the stamped columns.

``record_batch_stats`` writes its one row on the driver with pyarrow. The
directory may also hold rows an earlier Spark writer appended, so every
reader (``cleanup_meta``, catalog registration, ``check_recency``) must
see one schema, exactly ``BATCH_RUNS_SCHEMA``, over both kinds of file.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import pytest

from stellar_etl_airflow_spark.operators import batch as B
from stellar_etl_airflow_spark.operators.ingest import (
    BATCH_RUNS_SCHEMA,
    Warehouse,
    ingest_batch,
    read_table,
    record_batch_stats,
)
from stellar_etl_airflow_spark.session import local_df

from . import fixtures as FX
from .spark_jobs import jobs_of

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _window(run_id: str, start: datetime) -> B.BatchWindow:
    return B.plan_batch(run_id, start, start + timedelta(minutes=10))


def _listed(path: str) -> list[str]:
    """Data files Spark's listing picks up (it skips ``.``/``_`` names)."""
    return sorted(f for f in os.listdir(path) if not f.startswith((".", "_")))


@pytest.fixture()
def mixed_meta(spark, tmp_path):
    """A batch_runs dir with one Spark-written row (the earlier writer's
    shape) and two driver-staged rows. Returns (warehouse, expected rows)."""
    wh = Warehouse(str(tmp_path / "wh"))
    w0 = _window("spark_run", datetime(2024, 1, 1, 10, 0))
    spark_row = (w0.batch_id, w0.batch_run_date, w0.start_ledger, w0.end_ledger,
                 "accounts", datetime(2024, 1, 1, 10, 11, 12, 345678))
    local_df(spark, [spark_row], BATCH_RUNS_SCHEMA).write.mode("append").parquet(wh.meta_path())
    expected = [spark_row]
    for i, start in enumerate((datetime(2024, 3, 1, 8, 0), datetime(2024, 3, 2, 9, 30))):
        w = _window(f"run_{i}", start)
        batch_start = start + timedelta(minutes=11, microseconds=7 + i)
        record_batch_stats(spark, wh, w, "trades", batch_start)
        expected.append((w.batch_id, w.batch_run_date, w.start_ledger, w.end_ledger,
                         "trades", batch_start))
    return wh, sorted(expected)


def test_mixed_dir_reads_back_with_exact_schema(spark, mixed_meta):
    wh, expected = mixed_meta
    meta = wh.meta_path()
    prior = spark.conf.get(NTZ_CONF)
    try:
        for infer in ("true", "false"):
            spark.conf.set(NTZ_CONF, infer)
            df = spark.read.parquet(meta)
            assert df.schema == BATCH_RUNS_SCHEMA, (infer, df.schema)
            assert sorted(tuple(r) for r in df.collect()) == expected, infer
            # whichever file Spark infers the schema from, it is the same
            for f in _listed(meta):
                one = spark.read.parquet(os.path.join(meta, f))
                assert one.schema == BATCH_RUNS_SCHEMA, (infer, f, one.schema)
    finally:
        spark.conf.set(NTZ_CONF, prior)


def test_record_batch_stats_runs_no_spark_job(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    w = _window("r1", datetime(2024, 1, 1, 10, 0))
    jobs = jobs_of(spark, lambda: record_batch_stats(spark, wh, w, "accounts", datetime(2024, 1, 1)))
    assert jobs == []
    assert len(_listed(wh.meta_path())) == 1


def test_failed_write_leaves_nothing_listed(spark, mixed_meta, monkeypatch):
    import pyarrow.parquet as pq

    wh, expected = mixed_meta
    meta = wh.meta_path()
    before = sorted(os.listdir(meta))
    real = pq.write_table

    def torn(table, where, *a, **kw):
        real(table, where, *a, **kw)
        with open(where, "r+b") as fh:
            fh.truncate(10)  # a half-written file, then the crash
        raise OSError("injected write failure")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="injected"):
        record_batch_stats(spark, wh, _window("r9", datetime(2024, 5, 1)), "x", datetime(2024, 5, 1))
    monkeypatch.undo()
    assert sorted(os.listdir(meta)) == before  # hidden staging file removed too
    assert spark.read.parquet(meta).count() == len(expected)


def test_meta_readers_read_the_mixed_dir(spark, mixed_meta):
    from stellar_etl_airflow_spark.catalog import load_warehouse
    from stellar_etl_airflow_spark.operators.jobs import cleanup_meta
    from stellar_etl_airflow_spark.operators.quality import check_recency

    wh, expected = mixed_meta
    newest = max(r[5] for r in expected)
    df = spark.read.parquet(wh.meta_path())
    assert check_recency(df, "batch_start", timedelta(hours=1), newest + timedelta(minutes=5)).passed
    assert not check_recency(df, "batch_start", timedelta(hours=1), newest + timedelta(hours=2)).passed
    assert "batch_runs" in load_warehouse(spark, wh, include_meta=True)
    assert spark.sql("SELECT count(*) c FROM batch_runs").collect()[0]["c"] == len(expected)
    # keep the two March rows, prune the January (Spark-written) one
    kept = cleanup_meta(spark, wh, older_than_days=30, now=datetime(2024, 3, 20))
    assert kept == 2
    back = spark.read.parquet(wh.meta_path())
    assert back.schema == BATCH_RUNS_SCHEMA
    assert sorted(tuple(r) for r in back.collect()) == [r for r in expected if r[4] == "trades"]


def test_returned_frame_insert_ts_matches_the_table(spark, tmp_path):
    """``ingest_batch`` returns the stamped frame that was written: its
    ``batch_insert_ts`` is one literal, so a later action over it reads
    the value the table holds, not a fresh clock."""
    wh = Warehouse(str(tmp_path / "wh"))
    src = FX.write_ndjson(str(tmp_path / "in" / "accounts.txt"), FX.account_change_rows())
    w = _window("run_ts", datetime(2024, 1, 1, 10, 0))
    out = ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, w)
    time.sleep(1.5)
    got = {r[0] for r in out.select("batch_insert_ts").collect()}
    table = read_table(spark, wh, "accounts").where(f"batch_id = '{w.batch_id}'")
    assert len(got) == 1
    assert got == {r[0] for r in table.select("batch_insert_ts").collect()}


def _tree(root: str) -> dict[str, bytes]:
    """Every file under ``root`` (hidden ones too), by relative path."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_clean_ingest_runs_only_its_write_job(spark, tmp_path):
    """The zero-bad-record gate rides inside the write: a clean batch runs
    one Spark job, the table write (Spark names a job submitted through
    ``DataFrameWriter.parquet`` "parquet at ...")."""
    wh = Warehouse(str(tmp_path / "wh"))
    src = FX.write_ndjson(str(tmp_path / "in" / "accounts.txt"), FX.account_change_rows())
    w = _window("run_1job", datetime(2024, 1, 1, 10, 0))
    jobs = jobs_of(spark, lambda: ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, w))
    assert len(jobs) == 1, jobs
    assert jobs[0]["name"].startswith("parquet at "), jobs
    assert read_table(spark, wh, "accounts").count() == 6


def test_corrupt_line_fails_ingest_and_changes_nothing(spark, tmp_path):
    """A corrupt line in a replayed batch raises ``BadRecordsError`` naming
    the file, and leaves the table (whose partition the replay would
    overwrite), the lineage rows and the counters byte-identical."""
    from stellar_etl_airflow_spark.sources.ndjson import BadRecordsError

    wh = Warehouse(str(tmp_path / "wh"))
    w = _window("run_bad", datetime(2024, 1, 1, 10, 0))
    clean = FX.write_ndjson(str(tmp_path / "in" / "clean.txt"), FX.account_change_rows())
    ingest_batch(spark, wh, "accounts", clean, FX.ACCOUNTS_SCHEMA, w)
    dirs = (wh.path("accounts"), wh.meta_path(), wh.counters_path())
    before = [_tree(d) for d in dirs]
    assert all(before)

    bad = FX.write_ndjson(str(tmp_path / "in" / "bad.txt"), FX.account_change_rows(), corrupt_line=True)
    with pytest.raises(BadRecordsError, match="1 corrupt NDJSON rows in .*bad.txt"):
        ingest_batch(spark, wh, "accounts", bad, FX.ACCOUNTS_SCHEMA, w)
    assert [_tree(d) for d in dirs] == before


def test_batch_start_is_utc_under_a_non_utc_host_zone(spark, tmp_path):
    """``batch_start`` records the UTC instant of the load whatever the
    host's local zone is (a naive stamp was read as local time)."""
    import pyarrow.parquet as pq

    wh = Warehouse(str(tmp_path / "wh"))
    src = FX.write_ndjson(str(tmp_path / "in" / "accounts.txt"), FX.account_change_rows())
    w = _window("run_tz", datetime(2024, 1, 1, 10, 0))
    prior = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        t0 = datetime.now(timezone.utc)
        ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, w)
        t1 = datetime.now(timezone.utc)
    finally:
        if prior is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prior
        time.tzset()
    [stamp] = pq.read_table(wh.meta_path()).column("batch_start").to_pylist()
    assert t0 <= stamp <= t1, (t0, stamp, t1)
