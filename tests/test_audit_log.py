"""End-to-end port of the reference's hardest query: audit_log.sql
(726 lines — six JSON-heavy CTEs, ARRAY_AGG(STRUCT) rollups ordered by
resourceName, a correlated ARRAY(SELECT STRUCT FROM UNNEST(GENERATE_ARRAY))
slot-bucketing timeline, and a 6-way LEFT JOIN ... USING(jobId)).

The BigQuery source is translated to Spark SQL by ``translate_bq_sql``
(string-level, no hand edits), run over a synthetic cloudaudit fixture, and
deep-compared — nested structs and arrays included — against the same query
transcribed to DuckDB by ``spark_sql_to_duckdb`` over the identical parquet.

Documented divergences from BigQuery proper (both engines agree with each
other): EXTRACT(WEEK) is ISO rather than Sunday-based, and JSON_EXTRACT on
string scalars returns the unquoted value (BQ keeps the JSON quotes)."""

from __future__ import annotations

import json
import math
import os
from datetime import date, datetime

import duckdb
import pytest

from stellar_etl_airflow_spark.functions.bqcompat import translate_bq_sql
from stellar_etl_airflow_spark.functions.duckcompat import spark_sql_to_duckdb

from .audit_fixture import AUDIT_SCHEMA, build_rows

AUDIT_SQL_PATH = "/root/reference/dags/queries/audit_log.sql"


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (tuple subclass — check first)
        return _norm(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k.lower(): _norm(x) for k, x in sorted(v.items(), key=lambda kv: kv[0].lower())}
    return str(v)


def _canon(columns, rows):
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(json.dumps([_norm(r[i]) for i in order], sort_keys=True) for r in rows)
    return sorted(cols), out


@pytest.fixture(scope="module")
def audit_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("audit")
    data_access, activity = build_rows()
    paths = {}
    for name, rows in [
        ("cloudaudit_googleapis_com_data_access", data_access),
        ("cloudaudit_googleapis_com_activity", activity),
    ]:
        p = str(root / name)
        spark.createDataFrame(rows, AUDIT_SCHEMA).repartition(1).write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def _load_sqls():
    if not os.path.exists(AUDIT_SQL_PATH):
        pytest.skip("reference checkout not present")
    bq = open(AUDIT_SQL_PATH).read().format(project_id="p", dataset_id="d")
    spark_sql = translate_bq_sql(bq)
    duck_sql = spark_sql_to_duckdb(spark_sql)
    return spark_sql, duck_sql


def test_audit_log_translated_end_to_end(spark, audit_tables):
    spark_sql, duck_sql = _load_sqls()

    for name, p in audit_tables.items():
        spark.read.parquet(p).createOrReplaceTempView(name)
    sdf = spark.sql(spark_sql)
    scols, srows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])

    con = duckdb.connect()
    try:
        for name, p in audit_tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        res = con.execute(duck_sql)
        dcols = [c[0] for c in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    ocols, orows = _canon(dcols, drows)

    assert scols == ocols
    # 12 jobs - 1 stale - 1 non-bigquery service - 2 jobConfigType IMPORT
    assert len(srows) == len(orows) == 9
    for i, (a, b) in enumerate(zip(srows, orows)):
        assert a == b, f"row {i} diverges:\nspark={a[:400]}\nduck ={b[:400]}"


def test_audit_log_join_fanout(spark, audit_tables):
    """Every surviving job keeps exactly one output row (tableDataRead is
    pre-aggregated per jobId before the join), and the event flags line up
    with the fixture's modulo pattern."""
    spark_sql, _ = _load_sqls()
    for name, p in audit_tables.items():
        spark.read.parquet(p).createOrReplaceTempView(name)
    rows = {r["jobId"]: r for r in spark.sql(spark_sql).collect()}
    assert len(rows) == 9
    for job_id, r in rows.items():
        i = int(job_id.rsplit("_", 1)[1])
        assert r["hasJobChangeEvent"]
        assert r["hasTableDataReadEvent"] == (i % 3 == 0)
        assert r["hasTableDataChangeEvent"] == (i % 4 == 0)
        assert r["hasTableCreationEvent"] == (i % 3 == 1)
        assert r["hasTableChangeEvent"] == (i % 3 == 2)
        assert r["hasTableDeletionEvent"] == (i % 5 == 0)
        if i % 3 == 0:
            # ARRAY_AGG ordered by resourceName: t0 < t1 < t2 (insertion was t2,t1,t0)
            names = r["tableDataRead"]["tableName"]
            assert names == sorted(names) and len(names) == 3
        buckets = r["jobExecutionTimeline"]
        runtime = r["jobRuntimeSec"]
        assert len(buckets) == math.ceil(runtime / 60)
