"""Engine-core unit tests: schema loader, batch planner, NDJSON gates,
idempotent ingest, MERGE semantics, SCD-2, current-state views, model
runner, quality checks, sources/sinks."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stellar_etl_airflow_spark.models.runner import Model, ModelRegistry
from stellar_etl_airflow_spark.operators import batch as B
from stellar_etl_airflow_spark.operators import merge as MG
from stellar_etl_airflow_spark.operators import quality as Q
from stellar_etl_airflow_spark.operators import scd2 as S2
from stellar_etl_airflow_spark.operators.ingest import Warehouse, ingest_batch, read_table
from stellar_etl_airflow_spark.schemas.loader import bq_schema_to_struct, merge_additive
from stellar_etl_airflow_spark.sinks import exports, writer
from stellar_etl_airflow_spark.sinks import snapshots as SN
from stellar_etl_airflow_spark.sources import csvsrc, ndjson
from stellar_etl_airflow_spark.views import currentstate as CS
from stellar_etl_airflow_spark.views import marts

from . import fixtures as FX


# --------------------------------------------------------------------- schemas
def test_bq_schema_mapping():
    spec = [
        {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
        {"name": "amount", "type": "FLOAT"},
        {"name": "when", "type": "TIMESTAMP"},
        {"name": "batch_run_date", "type": "DATETIME"},
        {"name": "payload", "type": "BYTES"},
        {"name": "details_json", "type": "JSON"},
        {"name": "tags", "type": "STRING", "mode": "REPEATED"},
        {
            "name": "details",
            "type": "RECORD",
            "fields": [
                {"name": "claimants", "type": "RECORD", "mode": "REPEATED", "fields": [{"name": "destination", "type": "STRING"}]},
                {"name": "amount", "type": "FLOAT"},
            ],
        },
    ]
    st = bq_schema_to_struct(spec)
    assert st["id"].dataType == T.LongType() and not st["id"].nullable
    assert st["amount"].dataType == T.DoubleType()
    assert st["when"].dataType == T.TimestampType()
    assert st["batch_run_date"].dataType == T.TimestampNTZType()
    assert st["payload"].dataType == T.BinaryType()
    assert st["details_json"].dataType == T.StringType()
    assert st["tags"].dataType == T.ArrayType(T.StringType())
    det = st["details"].dataType
    assert isinstance(det, T.StructType)
    assert isinstance(det["claimants"].dataType, T.ArrayType)


def test_merge_additive():
    a = bq_schema_to_struct([{"name": "x", "type": "STRING"}])
    b = bq_schema_to_struct([{"name": "x", "type": "STRING"}, {"name": "y", "type": "INTEGER"}])
    merged = merge_additive(a, b)
    assert [f.name for f in merged.fields] == ["x", "y"]
    with pytest.raises(ValueError):
        merge_additive(a, bq_schema_to_struct([{"name": "x", "type": "INTEGER"}]))


# ----------------------------------------------------------------------- batch
def test_batch_planner():
    s, e = datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 10)
    assert B.shift_interval(s, e) == datetime(2024, 1, 1, 9, 50)
    assert B.trim_end_ledger(5, 5) == 5  # empty range collapses to start
    assert B.trim_end_ledger(5, 9) == 8
    w = B.plan_batch("run_1", s, e)
    assert w.batch_id == "run_1-cc"
    assert w.batch_run_date == datetime(2024, 1, 1, 9, 50)
    assert w.start_ledger <= w.end_ledger
    # a 10-minute window covers 120 five-second ledgers (half-open, trimmed)
    assert w.end_ledger - w.start_ledger == 119
    chunks = B.chunk_backfill(datetime(2024, 1, 1), datetime(2024, 1, 2), hours=6)
    assert len(chunks) == 4 and chunks[0][1] == chunks[1][0]
    with pytest.raises(ValueError):
        B.chunk_backfill(datetime(2024, 1, 1), datetime(2024, 1, 2), hours=48)


# ---------------------------------------------------------------------- ndjson
def test_ndjson_corrupt_gate(spark, tmp_path):
    p = FX.write_ndjson(str(tmp_path / "b" / "0-10-accounts.txt"), FX.account_change_rows(), corrupt_line=True)
    with pytest.raises(ndjson.BadRecordsError):
        ndjson.read_ndjson(spark, p, FX.ACCOUNTS_SCHEMA)
    clean = FX.write_ndjson(str(tmp_path / "c" / "0-10-accounts.txt"), FX.account_change_rows())
    df = ndjson.read_ndjson(spark, clean, FX.ACCOUNTS_SCHEMA)
    assert df.count() == 6 and "_corrupt_record" not in df.columns


def test_failed_transforms_gate(spark, tmp_path):
    p = FX.write_ndjson(str(tmp_path / "x" / "f.txt"), FX.account_change_rows())
    with pytest.raises(ndjson.FailedTransformsError):
        ndjson.read_ndjson(spark, p, FX.ACCOUNTS_SCHEMA, failed_transforms=3)


# ---------------------------------------------------------------------- ingest
def _window(run_id="run_1", start=datetime(2024, 1, 1, 10, 0)):
    return B.plan_batch(run_id, start, start + timedelta(minutes=10))


def test_ingest_replay_idempotent(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    src = FX.write_ndjson(str(tmp_path / "in" / "accounts.txt"), FX.account_change_rows())
    w = _window()
    ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, w)
    n1 = read_table(spark, wh, "accounts").count()
    # replay the SAME batch: row count unchanged (partition replaced)
    ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, w)
    assert read_table(spark, wh, "accounts").count() == n1 == 6
    # a DIFFERENT batch appends
    ingest_batch(spark, wh, "accounts", src, FX.ACCOUNTS_SCHEMA, _window(run_id="run_2"))
    assert read_table(spark, wh, "accounts").count() == 12
    # batch stats recorded one row per ingest call
    meta = spark.read.parquet(wh.meta_path())
    assert meta.count() == 3
    assert set(meta.select("table_name").distinct().toPandas()["table_name"]) == {"accounts"}
    # batch columns stamped
    tbl = read_table(spark, wh, "accounts")
    assert {"batch_id", "batch_run_date", "batch_insert_ts"} <= set(tbl.columns)


# ----------------------------------------------------------------------- merge
def test_merge_upsert_semantics(spark, tmp_path):
    path = str(tmp_path / "accounts")
    target = spark.createDataFrame(
        [("A", 10.0, 1, 100, 0, False), ("B", 5.0, 1, 101, 0, False)], FX.ACCOUNTS_SCHEMA
    )
    MG.apply_changes(spark, target, path, ("account_id",), n_buckets=4)
    changes = spark.createDataFrame(
        [
            ("A", 99.0, 9, 110, 0, False),  # update
            ("A", 98.0, 8, 109, 0, False),  # older version in same batch -> ignored
            ("B", 0.0, 2, 111, 0, True),  # delete
            ("D", 1.0, 1, 112, 0, False),  # insert
        ],
        FX.ACCOUNTS_SCHEMA,
    )
    MG.apply_changes(spark, changes, path, ("account_id",), n_buckets=4)
    rows = {r["account_id"]: r for r in SN.read_snapshot(spark, path).collect()}
    assert set(rows) == {"A", "D"}
    assert rows["A"]["balance"] == 99.0  # latest-change-wins
    ins = MG.insert_unique(target, changes, ("account_id",))
    assert set(r["account_id"] for r in ins.collect()) == {"D"}


def test_safe_overwrite_roundtrip(spark, tmp_path):
    p = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.write.parquet(p)
    merged = spark.read.parquet(p).withColumn("v", F.lit("b"))
    MG.safe_overwrite(spark, merged, p)
    assert spark.read.parquet(p).collect()[0]["v"] == "b"


# ------------------------------------------------------------------------ scd2
def test_scd2_lifecycle(spark):
    s1 = spark.createDataFrame([("A", 10.0), ("B", 5.0)], "k string, v double")
    snap = S2.scd2_init(s1, ("k",), datetime(2024, 1, 1))
    # day 2: A changes, B unchanged, C appears
    s2 = spark.createDataFrame([("A", 20.0), ("B", 5.0), ("C", 1.0)], "k string, v double")
    snap = S2.scd2_apply(snap, s2, ("k",), datetime(2024, 1, 2))
    # day 3: B disappears
    s3 = spark.createDataFrame([("A", 20.0), ("C", 1.0)], "k string, v double")
    snap = S2.scd2_apply(snap, s3, ("k",), datetime(2024, 1, 3))

    cur = {r["k"]: r["v"] for r in S2.current_of(snap).collect()}
    assert cur == {"A": 20.0, "C": 1.0}
    asof_d1 = {r["k"]: r["v"] for r in S2.as_of(snap, datetime(2024, 1, 1, 12)).collect()}
    assert asof_d1 == {"A": 10.0, "B": 5.0}
    asof_d2 = {r["k"]: r["v"] for r in S2.as_of(snap, datetime(2024, 1, 2, 12)).collect()}
    assert asof_d2 == {"A": 20.0, "B": 5.0, "C": 1.0}
    # A has exactly two versions, one open
    a_versions = snap.filter(F.col("k") == "A").collect()
    assert len(a_versions) == 2 and sum(1 for r in a_versions if r["valid_to"] is None) == 1
    # re-applying an unchanged state is a no-op (snapshot idempotency)
    again = S2.scd2_apply(snap, s3, ("k",), datetime(2024, 1, 4))
    assert again.count() == snap.count()
    assert {r["k"]: r["v"] for r in S2.current_of(again).collect()} == cur


# ----------------------------------------------------------------------- views
def test_v_accounts_current(spark):
    accounts = spark.createDataFrame(FX.account_change_rows())
    ledgers = spark.createDataFrame(
        [(r["sequence"], r["ledger_hash"], datetime.fromisoformat(r["closed_at"]), r["transaction_count"]) for r in FX.ledger_rows()],
        FX.LEDGERS_SCHEMA,
    )
    cur = CS.v_accounts_current(accounts, ledgers)
    rows = {r["account_id"]: r for r in cur.collect()}
    assert rows["A"]["balance"] == 25.0  # ledger_entry_change tiebreak
    assert rows["B"]["deleted"] is True  # view keeps deleted rows (matches reference)
    assert rows["C"]["balance"] == 7.5
    assert rows["A"]["closed_at"] is not None  # joined from ledgers


def test_history_assets_dedup_insert(spark):
    staging = spark.createDataFrame(
        [
            ("credit_alphanum4", "USD", "I1", datetime(2024, 1, 2)),
            ("credit_alphanum4", "USD", "I1", datetime(2024, 1, 1)),  # older dupe wins
            ("native", None, None, datetime(2024, 1, 1)),
        ],
        "asset_type string, asset_code string, asset_issuer string, batch_run_date timestamp",
    )
    existing = spark.createDataFrame(
        [("native", None, None)], "asset_type string, asset_code string, asset_issuer string"
    )
    out = {r["asset_type"]: r for r in marts.history_assets_dedup_insert(staging, existing).collect()}
    # USD deduped to its OLDEST batch row; native re-inserts because the
    # reference's NULL-unsafe equality join never matches NULL keys
    # (dags/queries/history_assets.sql:36-45) — faithful quirk.
    assert set(out) == {"credit_alphanum4", "native"}
    assert out["credit_alphanum4"]["batch_run_date"] == datetime(2024, 1, 1)


def test_asof_price_join_mart(spark):
    prices = spark.createDataFrame(
        [("USD", "I1", 2.0, datetime(2024, 1, 1)), ("USD", "I1", 3.0, datetime(2024, 1, 2))],
        "asset_code string, asset_issuer string, price_in_xlm double, last_updated_ts timestamp",
    )
    win = marts.validity_windows(prices, ("asset_code", "asset_issuer"))
    rows = sorted(win.collect(), key=lambda r: r["valid_from_ts"])
    assert rows[0]["valid_to_ts"] == datetime(2024, 1, 2)
    assert rows[1]["valid_to_ts"].year == 2200
    facts = spark.createDataFrame(
        [("t1", "USD", "I1", datetime(2024, 1, 1, 12)), ("t2", "USD", "I1", datetime(2024, 1, 3)), ("t0", "USD", "I1", datetime(2023, 12, 31))],
        "trade_id string, code string, issuer string, ts timestamp",
    )
    joined = marts.asof_join(facts, win, "ts", [("code", "asset_code"), ("issuer", "asset_issuer")])
    got = {r["trade_id"]: r["price"] for r in joined.collect()}
    assert got == {"t1": 2.0, "t2": 3.0, "t0": None}


def test_liquidity_providers(spark):
    ops_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("transaction_id", T.LongType()),
            T.StructField("source_account", T.StringType()),
            T.StructField("type", T.LongType()),
            T.StructField("closed_at", T.TimestampType()),
            T.StructField(
                "details",
                T.StructType(
                    [
                        T.StructField("liquidity_pool_id", T.StringType()),
                        T.StructField("shares_received", T.DoubleType()),
                        T.StructField("shares", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    ops = spark.createDataFrame(
        [
            (1, 10, "acc1", 22, datetime(2024, 1, 1), ("P1", 100.0, None)),
            (2, 11, "acc1", 23, datetime(2024, 1, 2), ("P1", None, 40.0)),
            (3, 12, "acc2", 22, datetime(2024, 1, 1), ("P1", 50.0, None)),
            (4, 13, "acc3", 22, datetime(2024, 1, 1), ("P1", 77.0, None)),  # failed tx
        ],
        ops_schema,
    )
    txs = spark.createDataFrame(
        [(10, True), (11, None), (12, True), (13, False)], "id long, successful boolean"
    )
    out = {(r["account"], r["pool"]): r for r in marts.liquidity_providers(ops, txs).collect()}
    assert out[("acc1", "P1")]["current_shares"] == 60.0  # NULL successful counts
    assert out[("acc2", "P1")]["current_shares"] == 50.0
    assert ("acc3", "P1") not in out  # failed tx excluded


# ---------------------------------------------------------------------- models
def test_model_runner_closure(spark):
    reg = ModelRegistry()
    calls = []

    @reg.model("base", tags=("staging",))
    def base(ctx):
        calls.append("base")
        return ctx.spark.range(3).withColumnRenamed("id", "n")

    @reg.model("mid", tags=("marts",), deps=("base",))
    def mid(ctx):
        calls.append("mid")
        return ctx.ref("base").filter(F.col("n") > 0)

    @reg.model("top", tags=("marts",), deps=("mid",))
    def top(ctx):
        calls.append("top")
        return ctx.ref("mid").agg(F.count("*").alias("c"))

    @reg.model("island", tags=("other",))
    def island(ctx):
        calls.append("island")
        return ctx.spark.range(1)

    out = reg.run(spark, "+tag:marts")
    assert calls == ["base", "mid", "top"]  # closure + topo order
    assert out["top"].collect()[0]["c"] == 2
    assert spark.table("top").collect()[0]["c"] == 2  # registered as a view
    assert "island" not in out
    assert [m.name for m in reg.plan("tag:marts")] == ["mid", "top"]  # no closure without '+'
    assert [m.name for m in reg.plan("+top", exclude=("mid",))] == ["base", "top"]


# --------------------------------------------------------------------- quality
def test_quality_checks(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    assert Q.check_not_empty(df).passed
    assert not Q.check_unique_key(df, ("k",)).passed
    assert Q.check_unique_key(df, ("k", "v")).passed
    assert Q.check_no_nulls(df, ("v",)).passed
    ts_df = spark.createDataFrame([(datetime(2024, 1, 1),)], "ts timestamp")
    assert Q.check_recency(ts_df, "ts", timedelta(days=2), datetime(2024, 1, 2)).passed
    assert not Q.check_recency(ts_df, "ts", timedelta(hours=1), datetime(2024, 1, 2)).passed
    with pytest.raises(Q.QualityError):
        Q.enforce([Q.check_unique_key(df, ("k",))])


# --------------------------------------------------------------- sources/sinks
def test_partner_csv(spark, tmp_path):
    p = tmp_path / "drops"
    p.mkdir()
    (p / "mgi_20240101.csv").write_text("id,amount\n1,2.5\n")
    time.sleep(0.01)
    (p / "mgi_20240102.csv").write_text("id,amount\n2,3.5\n")
    assert csvsrc.find_dated_file(str(p), "mgi", "20240101").endswith("mgi_20240101.csv")
    assert csvsrc.find_dated_file(str(p), "mgi", "20240199") is None
    latest = csvsrc.latest_file_by_mtime(str(p), "mgi")
    assert latest.endswith("mgi_20240102.csv")
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("amount", T.DoubleType())])
    df = csvsrc.read_partner_csv(spark, latest, schema)
    assert df.collect()[0]["amount"] == 3.5


def test_state_file_fanout(spark, tmp_path):
    from stellar_etl_airflow_spark.sources.statefiles import read_state_exports

    run = tmp_path / "run"
    FX.write_ndjson(str(run / "100-200-accounts.txt"), FX.account_change_rows())
    FX.write_ndjson(str(run / "100-200-trustlines.txt"), [{"account_id": "A", "balance": 1.0, "sequence_number": 1, "last_modified_ledger": 100, "ledger_entry_change": 0, "deleted": False}])
    out = read_state_exports(
        spark, str(run), {"accounts": FX.ACCOUNTS_SCHEMA, "trust_lines": FX.ACCOUNTS_SCHEMA}, ["accounts", "trust_lines", "offers"]
    )
    assert set(out) == {"accounts", "trust_lines"}  # offers file absent -> skipped
    assert out["accounts"].count() == 6


def test_export_slice_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, datetime(2024, 1, 1) + timedelta(hours=i)) for i in range(48)], "id long, closed_at timestamp"
    )
    dest = exports.avro_export_dir(str(tmp_path / "avro"), "accounts", datetime(2024, 1, 2, 3, 4, 5))
    assert dest.endswith(os.path.join("accounts", "2024", "1", "2", "03:04:05"))
    fmt = exports.export_slice(df, ["id", "closed_at"], "closed_at", datetime(2024, 1, 1), datetime(2024, 1, 2), dest)
    assert fmt == "avro"  # real Avro bytes via the Python writer fallback
    back = exports.read_export(spark, fmt, dest)
    assert back.count() == 24  # half-open slice
    assert back.columns == ["id", "closed_at"]


def test_truncate_and_copy(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame([(1,)], "id long")
    df.write.parquet(src)
    exports.copy_table(spark, src, dst)
    assert spark.read.parquet(dst).count() == 1
    writer.truncate_like(spark, df.schema, dst)
    assert spark.read.parquet(dst).count() == 0
