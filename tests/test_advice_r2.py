"""Regression tests for the round-1 ADVICE findings: runtime read confs,
struct-path-safe BQ translation, crash-safe overwrite, unigram shingles,
brace-literal-safe template rendering."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from stellar_etl_airflow_spark.functions import translate_bq_sql
from stellar_etl_airflow_spark.operators.ingest import Warehouse
from stellar_etl_airflow_spark.operators.jobs import render_sql_template
from stellar_etl_airflow_spark.operators.merge import recover_overwrite, safe_overwrite
from stellar_etl_airflow_spark.queries.base import tables
from stellar_etl_airflow_spark.training.dedup import with_word_ngrams

from .conftest import SF_SMOKE


def test_tables_sets_read_confs_on_caller_session(spark):
    # simulate an externally owned session missing the nanos conf
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    (ev,) = tables(spark, SF_SMOKE, "events")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"


def test_translate_preserves_struct_field_paths():
    sql = (
        "SELECT resource.labels.project_id, a.details.liquidity_pool_id "
        "FROM proj-x.dset.audit_t JOIN proj-x.dset.other_t USING (id) "
        "WHERE a.details.liquidity_pool_id IS NOT NULL"
    )
    out = translate_bq_sql(sql)
    # table refs stripped to bare names...
    assert "FROM audit_t" in out and "JOIN other_t" in out
    # ...but struct field paths are untouched (appear twice for the WHERE)
    assert out.count("resource.labels.project_id") == 1
    assert out.count("a.details.liquidity_pool_id") == 2


def test_safe_overwrite_tmp_is_sibling_and_recovers(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.merge import backup_path

    wh = Warehouse(str(tmp_path))
    path = wh.path("state_t")
    safe_overwrite(spark, spark.range(5), path)
    safe_overwrite(spark, spark.range(7), path)  # second swap exercises the backup
    assert spark.read.parquet(path).count() == 7
    assert not os.path.exists(backup_path(path))
    # no stray temp dirs outside the warehouse root, none left inside
    assert not [d for d in os.listdir(tmp_path) if d.startswith(".merge-tmp-")]

    # simulate a crash between the two renames: table gone, backup present
    os.rename(path, backup_path(path))
    assert wh.recover() == ["state_t"]
    assert spark.read.parquet(path).count() == 7
    assert recover_overwrite(path) is False  # idempotent no-op afterwards


def test_recover_walks_nested_partition_leaves(spark, tmp_path):
    """A crash mid-compaction leaves the backup deep inside the partition
    tree; recovery must walk the tree, and until it runs the dot-prefixed
    backup must be invisible to Spark partition discovery (no bogus
    partition values, no duplicate rows)."""
    from stellar_etl_airflow_spark.operators.merge import backup_path

    wh = Warehouse(str(tmp_path))
    path = wh.path("hist")
    spark.range(100).selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS _p").write.partitionBy(
        "_p"
    ).parquet(path)
    leaf = os.path.join(path, "_p=a")
    # crash between the two renames: leaf gone, backup sibling present
    os.rename(leaf, backup_path(leaf))

    # Spark must neither see the backup as a partition nor read its rows
    visible = spark.read.parquet(path)
    assert set(r["_p"] for r in visible.select("_p").distinct().collect()) == {"b"}
    assert visible.count() == 50

    assert wh.recover() == [os.path.join("hist", "_p=a")]
    restored = spark.read.parquet(path)
    assert restored.count() == 100
    assert set(r["_p"] for r in restored.select("_p").distinct().collect()) == {"a", "b"}


def test_safe_overwrite_failure_restores_previous(spark, tmp_path):
    path = str(tmp_path / "t")
    safe_overwrite(spark, spark.range(3), path)
    # try_divide: under ANSI (Spark 4 default) a plain 1/0 raises
    # DIVIDE_BY_ZERO in whichever task hits id=0 first, racing the
    # raise_error and making the matched message nondeterministic
    bad = spark.range(3).select(F.try_divide(F.lit(1), F.col("id")).alias("v"), F.raise_error(F.lit("boom")).alias("e"))
    with pytest.raises(Exception, match="boom"):
        safe_overwrite(spark, bad, path)
    assert spark.read.parquet(path).count() == 3  # previous table intact
    assert not [d for d in os.listdir(tmp_path) if d.startswith(".merge-tmp-")]


def test_word_ngrams_unigram_and_validation(spark):
    df = spark.createDataFrame([("the cat the dog",)], "text string")
    (row,) = with_word_ngrams(df, "text", n=1).collect()
    assert sorted(row["grams"]) == ["cat", "dog", "the"]
    (row2,) = with_word_ngrams(df, "text", n=2).collect()
    assert sorted(row2["grams"]) == ["cat the", "the cat", "the dog"]
    with pytest.raises(ValueError, match="n must be >= 1"):
        with_word_ngrams(df, "text", n=0)


def test_render_template_leaves_literal_braces():
    tpl = (
        "SELECT regexp_like(x, 'a.{2}b') AS m, '{\"k\": 1}' AS js "
        "FROM {project_id}.{dataset_id}.t WHERE batch_id = '{batch_id}'"
    )
    out = render_sql_template(tpl, batch_id="b9", batch_run_date=datetime(2024, 1, 1))
    assert "a.{2}b" in out and '{"k": 1}' in out
    assert "FROM t " in out and "'b9'" in out


def test_translate_timestamp_args_with_commas(spark):
    # nested calls with commas inside the argument list — the regex-only
    # translator's documented limitation, now handled by balanced parsing
    sql = (
        "SELECT TIMESTAMP_DIFF(coalesce(a, b), TIMESTAMP_ADD(c, INTERVAL 5 MINUTE), SECOND) AS d1, "
        "TIMESTAMP_TRUNC(coalesce(a, b), MONTH) AS m1 FROM t"
    )
    out = translate_bq_sql(sql)
    assert "timestampdiff(SECOND, (c + INTERVAL 5 MINUTE), coalesce(a, b))" in out
    assert "date_trunc('MONTH', coalesce(a, b))" in out

    # unknown arity stays untouched (and does not loop)
    keep = translate_bq_sql("SELECT TIMESTAMP_ADD(a, b, c) FROM t")
    assert "TIMESTAMP_ADD(a, b, c)" in keep

    # string literals containing commas/parens don't confuse the parser
    lit = translate_bq_sql("SELECT TIMESTAMP_DIFF(a, TIMESTAMP ',(', HOUR) FROM t")
    assert "timestampdiff(HOUR, TIMESTAMP ',(', a)" in lit

    # end-to-end: the translated nested form actually runs on Spark
    spark.sql(
        translate_bq_sql(
            "SELECT TIMESTAMP_DIFF(TIMESTAMP_ADD(ts, INTERVAL 90 MINUTE), coalesce(ts, ts), MINUTE) AS m "
            "FROM (SELECT TIMESTAMP '2024-01-01' AS ts)"
        )
    ).collect()


def test_translate_extended_function_families(spark):
    bq = (
        "SELECT COUNTIF(x > 1) AS c, LOGICAL_AND(b) AS la, LOGICAL_OR(b) AS lo, "
        "ANY_VALUE(x) AS av, STRING_AGG(s, ',') AS sa FROM "
        "(SELECT 2 AS x, true AS b, 'abc' AS s) GROUP BY 1.0"
    )
    row = spark.sql(translate_bq_sql(bq)).collect()[0]
    assert (row["c"], row["la"], row["lo"], row["av"], row["sa"]) == (1, True, True, 2, "abc")

    bq2 = (
        "SELECT STARTS_WITH(s, 'ab') AS sw, ENDS_WITH(s, 'bc') AS ew, TO_HEX(255) AS hx, "
        "DATE_TRUNC(t, MONTH) AS mt, DATETIME_TRUNC(t, DAY) AS dt, "
        "PARSE_TIMESTAMP('%Y-%m-%d %H:%M:%S', '2024-01-02 03:04:05') AS pt, "
        "FORMAT_DATE('%Y-%m', t) AS fd, length(SHA256(s)) AS shalen, DIV(7, 2) AS dv "
        "FROM (SELECT 'abc' AS s, TIMESTAMP '2024-05-17 10:30:00' AS t)"
    )
    row2 = spark.sql(translate_bq_sql(bq2)).collect()[0]
    assert row2["sw"] is True and row2["ew"] is True
    assert row2["hx"] == "FF"
    assert str(row2["mt"]).startswith("2024-05-01") and str(row2["dt"]).startswith("2024-05-17")
    assert str(row2["pt"]) == "2024-01-02 03:04:05"
    assert row2["fd"] == "2024-05"
    assert row2["shalen"] == 32  # BYTES semantics: 32 raw bytes
    assert row2["dv"] == 3


def test_compact_table_preserves_data_and_shrinks_files(spark, tmp_path):
    from stellar_etl_airflow_spark.operators.maintenance import compact_table

    path = str(tmp_path / "t")
    # two partitions, deliberately fragmented into many small files
    df = spark.range(2000).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN '2024-01' ELSE '2024-02' END AS _p", "id * 2 AS v"
    )
    df.repartition(10).write.partitionBy("_p").parquet(path)
    before = spark.read.parquet(path)
    before_rows = sorted(r["id"] for r in before.collect())

    stats = compact_table(spark, path, target_file_mb=256, sort_cols=("id",))
    assert len(stats) == 2  # both leaves rewritten
    for leaf, (nb, na) in stats.items():
        assert nb == 10 and na == 1

    after = spark.read.parquet(path)
    assert sorted(r["id"] for r in after.collect()) == before_rows
    # partition column still discoverable from the directory layout
    assert set(r["_p"] for r in after.select("_p").distinct().collect()) == {"2024-01", "2024-02"}
    # idempotent: a second pass finds nothing to do
    assert compact_table(spark, path) == {}


def test_compact_table_refuses_snapshot_table(spark, tmp_path):
    """An in-place leaf rewrite would delete files the manifests list;
    snapshot tables compact through compact_snapshot instead."""
    from stellar_etl_airflow_spark.operators.maintenance import compact_table
    from stellar_etl_airflow_spark.sinks import snapshots as S

    path = str(tmp_path / "t")
    df = spark.range(200).selectExpr("id", "id % 2 AS _p").repartition(4)
    S.overwrite_versioned(spark, df, path)
    files = S.read_manifest(path)["files"]
    with pytest.raises(ValueError, match="snapshot table"):
        compact_table(spark, path, min_files=2)
    assert all(os.path.exists(f) for f in files)
    assert S.read_snapshot(spark, path).count() == 200


def test_cli_corpus_single_query(spark, capsys):
    import stellar_etl_airflow_spark.__main__ as cli

    class A:
        sf = "/root/testdata/sf0.001"
        query = "q01_pricing_summary"

    cli._cmd_corpus(A())
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "rows" in out


def test_oracle_compare_detects_mutations(spark):
    """Guard the guard: the Spark-vs-DuckDB comparator must flag row-count,
    column-name, and value differences (not just pass everything)."""
    from .conftest import SF_SMOKE
    from .oracle import compare

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert compare(df, "SELECT 1 AS id, 'a' AS s", SF_SMOKE)  # row count
    assert compare(df, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, other)", SF_SMOKE)  # columns
    assert compare(df, "SELECT * FROM (VALUES (1, 'a'), (2, 'X')) t(id, s)", SF_SMOKE)  # values
    assert not compare(df, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)", SF_SMOKE)  # equal
    # doubles: -0.0/0.0 collapse, NaN equality
    d2 = spark.createDataFrame([(0.0,), (float("nan"),)], "v double")
    assert not compare(d2, "SELECT * FROM (VALUES (-0.0), ('NaN'::DOUBLE)) t(v)", SF_SMOKE)


def test_translate_safe_math_and_array_families(spark):
    bq = (
        "SELECT SAFE_ADD(9223372036854775807, 1) AS oa, SAFE_MULTIPLY(2, 3) AS m, "
        "SAFE_SUBTRACT(1, 2) AS sb, ARRAY_TO_STRING(['a', 'b'], '-') AS ats, "
        "ARRAY_REVERSE([1, 2, 3]) AS rev"
    )
    row = spark.sql(translate_bq_sql(bq).replace("['a', 'b']", "array('a','b')").replace("[1, 2, 3]", "array(1,2,3)")).collect()[0]
    assert row["oa"] is None  # bigint overflow -> NULL, not ANSI error
    assert row["m"] == 6 and row["sb"] == -1
    assert row["ats"] == "a-b" and row["rev"] == [3, 2, 1]
