"""As-of join operator: the union+running-window plan must agree with the
reference's LEAD()-validity-window range join, in both directions, and
handle tolerance/no-match/tie cases."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stellar_etl_airflow_spark.operators.asof import asof_join

from .conftest import SF_SMOKE


def _canon(df, cols=("event_id", "price")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def events(spark):
    from stellar_etl_airflow_spark.queries.base import tables

    (ev,) = tables(spark, SF_SMOKE, "events")
    return ev


def test_union_asof_matches_range_join_formulation(spark, events):
    prices = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("price"), "event_id"
    )
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")

    got = asof_join(clicks, prices, on="user_id", value_cols=["price"], tiebreak_cols=["event_id"])

    # reference formulation: LEAD validity windows + range join, latest
    # event_id wins ties within one (user_id, ts)
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    p1 = prices.withColumn("_rn", F.row_number().over(w_dedup)).filter("_rn = 1").drop("_rn")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    valid = p1.withColumn(
        "valid_to", F.coalesce(F.lead("ts", 1).over(w), F.lit("2200-01-01").cast("timestamp"))
    )
    # both sides descend from one events scan — alias to disambiguate lineage
    c, v = clicks.alias("c"), valid.alias("v")
    expected = c.join(
        v,
        (F.col("c.user_id") == F.col("v.user_id"))
        & (F.col("c.ts") >= F.col("v.ts"))
        & (F.col("c.ts") < F.col("v.valid_to")),
        "left",
    ).select(F.col("c.event_id"), F.col("v.price"))

    assert _canon(got) == _canon(expected)


def test_asof_no_prior_row_is_null_and_tolerance(spark):
    left = spark.createDataFrame(
        [("k", datetime(2024, 1, 1, 12), 1), ("k", datetime(2024, 1, 3, 12), 2), ("x", datetime(2024, 1, 2), 3)],
        "key string, ts timestamp, row_id int",
    )
    right = spark.createDataFrame(
        [("k", datetime(2024, 1, 1), 10.0), ("k", datetime(2024, 1, 3), 30.0)],
        "key string, ts timestamp, price double",
    )
    got = {r["row_id"]: r["price"] for r in asof_join(left, right, on="key").collect()}
    assert got == {1: 10.0, 2: 30.0, 3: None}  # key x has no right rows at all

    # tolerance: only matches within 12h staleness survive; the bound is
    # inclusive (both matches are exactly 12h old)
    tol = {
        r["row_id"]: r["price"]
        for r in asof_join(left, right, on="key", tolerance=timedelta(hours=12)).collect()
    }
    assert tol == {1: 10.0, 2: 30.0, 3: None}
    # a stale match reads NULL — it never falls back to an older row
    tight = {
        r["row_id"]: r["price"]
        for r in asof_join(left, right, on="key", tolerance=timedelta(hours=1)).collect()
    }
    assert tight == {1: None, 2: None, 3: None}
    # forward: row 1 sees Jan 3 (1.5 days ahead), row 2 nothing after it
    fwd = {
        r["row_id"]: r["price"]
        for r in asof_join(left, right, on="key", direction="forward").collect()
    }
    assert fwd == {1: 30.0, 2: None, 3: None}
    fwd_tol = {
        r["row_id"]: r["price"]
        for r in asof_join(
            left, right, on="key", direction="forward", tolerance=timedelta(days=1)
        ).collect()
    }
    assert fwd_tol == {1: None, 2: None, 3: None}


def test_asof_inclusive_tie_and_forward_direction(spark):
    t0 = datetime(2024, 6, 1)
    left = spark.createDataFrame([("k", t0, 1)], "key string, ts timestamp, row_id int")
    right = spark.createDataFrame(
        [("k", t0 - timedelta(hours=1), 3.0), ("k", t0, 5.0), ("k", t0 + timedelta(hours=1), 7.0)],
        "key string, ts timestamp, price double",
    )
    # backward inclusive: the equal-ts right row matches
    (row,) = asof_join(left, right, on="key").collect()
    assert row["price"] == 5.0
    # inclusive forward also picks the tie first
    (fwd,) = asof_join(left, right, on="key", direction="forward").collect()
    assert fwd["price"] == 5.0
    # a zero tolerance keeps exact matches only
    (zero,) = asof_join(left, right, on="key", direction="forward", tolerance=timedelta(0)).collect()
    assert zero["price"] == 5.0


def test_asof_rejects_unknown_direction_and_negative_tolerance(spark):
    df = spark.createDataFrame([("k", datetime(2024, 1, 1), 1.0)], "key string, ts timestamp, price double")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df.drop("price"), df, on="key", direction="nearest")
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(df.drop("price"), df, on="key", tolerance=timedelta(hours=-1))


def test_asof_value_col_collision_raises(spark):
    df = spark.createDataFrame([("k", datetime(2024, 1, 1), 1.0)], "key string, ts timestamp, price double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(df, df, on="key")


def test_asof_pandas_tie_cols_deterministic(spark):
    """Equal-ts right rows must resolve by tiebreak_cols — backward takes
    the max, forward the min, matching the oracles' validity-window
    conventions — and a NULL tiebreak never wins over a set one."""
    t = datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1, 13)), (2, "u", datetime(2024, 1, 1, 11))],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", t, 10.0, 1), ("u", t, 99.0, 2), ("u", t, 50.0, 0), ("u", t, 77.0, None)],
        "k string, ts timestamp, price double, rid long",
    )
    for _ in range(3):  # any run-dependence would flake across repeats
        back = {
            r["id"]: r["price"]
            for r in asof_join(left, right, on="k", value_cols=["price"], tiebreak_cols=["rid"]).collect()
        }
        assert back == {1: 99.0, 2: None}  # rid=2 is the max tie
        fwd = {
            r["id"]: r["price"]
            for r in asof_join(
                left, right, on="k", value_cols=["price"], tiebreak_cols=["rid"], direction="forward"
            ).collect()
        }
        assert fwd == {1: None, 2: 50.0}  # rid=0 is the min tie


@pytest.mark.parametrize(
    "kw",
    [{}, {"direction": "forward"}, {"tolerance": timedelta(hours=1)}],
    ids=["backward", "forward", "tolerance"],
)
def test_asof_unmatched_row_with_non_nullable_value_is_null(spark, kw):
    """A right value column Spark knows to be non-nullable must still come
    out NULL for a left row with no match, not fail the job."""
    t = datetime(2024, 1, 1)
    right = spark.range(1).select(
        F.lit("a").alias("key"), F.lit(t).alias("ts"), (F.col("id") * 0.5).alias("price")
    )
    assert not right.schema["price"].nullable
    left = spark.createDataFrame([("a", t, 1), ("b", t, 2)], "key string, ts timestamp, row_id int")
    out = asof_join(left, right, on="key", **kw)
    assert out.schema["price"].nullable
    assert {r["row_id"]: r["price"] for r in out.collect()} == {1: 0.0, 2: None}
