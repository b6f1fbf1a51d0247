"""Third relational batch: reshaping (UNPIVOT/stack), time-window
aggregation (tumbling + hopping, the batch twins of Structured Streaming's
window()), quantified subqueries (EXISTS / IN), rank-family windows, and
correlated LATERAL joins.

The reference corpus doesn't use these shapes directly (SURVEY §2.4 lists
what it does use), but they complete the engine surface a user would
expect when porting adjacent workloads; each is oracle-checked like the
core corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import detach_result
from .base import QuerySpec, dsum, dsum_sql, tables

# ---------------------------------------------------------------------------
# q33 — UNPIVOT: wide measure columns -> (measure, val) long form
# (melt for per-measure statistics). Spark's native unpivot emits the
# stack() expression; the oracle is the semantically equivalent UNION ALL.
# ---------------------------------------------------------------------------

_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q33_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = tables(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=list(_MEASURES),
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("val")).alias("total"),
        F.min("val").alias("vmin"),
        F.max("val").alias("vmax"),
    )


_UNION = "\nUNION ALL\n".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, {m} AS val FROM lineitem"
    for m in _MEASURES
)
Q33_SQL = f"""
WITH long AS ({_UNION})
SELECT measure, count(*) AS n, {dsum_sql('val')} AS total,
       min(val) AS vmin, max(val) AS vmax
FROM long GROUP BY measure
"""


# ---------------------------------------------------------------------------
# q34 — tumbling time-window aggregation: F.window(ts, 6h) — the batch twin
# of the Structured Streaming windowed agg (streaming/microbatch.py::
# windowed_counts). Spark aligns windows to the unix epoch; the oracle
# recomputes the same bucketing arithmetically.
# ---------------------------------------------------------------------------

_SIX_H = 6 * 3600


def q34_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


Q34_SQL = f"""
SELECT CAST(to_timestamp(((epoch_ms(ts) // 1000) // {_SIX_H}) * {_SIX_H}) AS TIMESTAMP) AS win_start,
       CAST(to_timestamp(((epoch_ms(ts) // 1000) // {_SIX_H}) * {_SIX_H} + {_SIX_H}) AS TIMESTAMP) AS win_end,
       event_type, count(*) AS n, {dsum_sql('value')} AS total
FROM events
GROUP BY 1, 2, 3
"""
# NB: epoch_ms // 1000 = FLOOR seconds; epoch(ts)::BIGINT would ROUND and
# misplace events within 0.5s below a window boundary (hit at sf0.1).


# ---------------------------------------------------------------------------
# q35 — quantified subqueries: EXISTS / NOT EXISTS / IN. Catalyst rewrites
# these into semi/anti joins (RewritePredicateSubquery), so the physical
# plan is the q05/q06 join shape — the SQL surface is what's being proven.
# ---------------------------------------------------------------------------


def q35_exists_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables(spark, sf_dir, "customer", "orders", "nation")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 50000)
          AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <> 0)
        """
    )


Q35_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                    AND o.o_totalprice < 50000)
  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <> 0)
"""


# ---------------------------------------------------------------------------
# q36 — rank-family windows: NTILE / PERCENT_RANK / CUME_DIST. The ordering
# is made tie-free with the (orderkey, linenumber) suffix — NTILE assignment
# under ties is otherwise engine-dependent.
# ---------------------------------------------------------------------------


def q36_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = tables(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


Q36_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC)
"""


# ---------------------------------------------------------------------------
# q37 — correlated LATERAL join with ORDER BY + LIMIT: top-2 orders per
# qualifying customer. Catalyst decorrelates the lateral subquery into a
# ranked window join — the declarative form a user writes vs. the q25
# window formulation the optimizer produces.
# ---------------------------------------------------------------------------


def q37_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, l.o_orderkey, l.o_totalprice
        FROM customer c,
             LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) l
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


Q37_SQL = """
SELECT c.c_custkey, c.c_name, l.o_orderkey, l.o_totalprice
FROM customer c,
     LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) l
WHERE c.c_mktsegment = 'BUILDING'
"""


# ---------------------------------------------------------------------------
# q38 — hopping (sliding) time windows: 6h width, 3h slide — each event
# lands in exactly 2 windows. Spark's window(ts, w, s) explodes
# internally; the oracle unnests the 2 per-offset bucket computations.
# ---------------------------------------------------------------------------

_SLIDE = 3 * 3600


def q38_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


Q38_SQL = f"""
WITH hops AS (
  SELECT event_type, value,
         CAST(to_timestamp((((epoch_ms(ts) // 1000) - k * {_SLIDE}) // {_SIX_H}) * {_SIX_H} + k * {_SLIDE}) AS TIMESTAMP) AS win_start
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
SELECT win_start, win_start + INTERVAL {_SLIDE * 2} SECOND AS win_end,
       event_type, count(*) AS n, {dsum_sql('value')} AS total
FROM hops
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q44 — CUBE: all 2^n grouping combinations (q28 covers the ROLLUP
# prefix-hierarchy; CUBE completes the grouping-sets family). Same
# Expand-based plan: partial aggregation applies per grouping set.
# ---------------------------------------------------------------------------


def q44_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


Q44_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# q47 — explicit GROUPING SETS: an arbitrary (non-hierarchical,
# non-exhaustive) set list — the general form ROLLUP (q28) and CUBE (q44)
# are sugar for. Same Expand-based plan, one aggregation pass.
# ---------------------------------------------------------------------------


def q47_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n_orders,
               {dsum_sql('o_totalprice')} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


Q47_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


# ---------------------------------------------------------------------------
# q43 — RANGE window frames over event time (trailing 24h per user) +
# FIRST_VALUE/LAST_VALUE with explicit frames. RANGE frames include peer
# rows (identical order keys) in both engines; the frame sum uses the
# DECIMAL pattern like q30.
# ---------------------------------------------------------------------------

_DAY_S = 86400


def q43_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_seconds(F.col("ts")))
        .rangeBetween(-_DAY_S, Window.currentRow)
    )
    wo = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.sum(F.col("value").cast("decimal(38,6)")).over(wr).cast("double").alias("sum_24h"),
            F.count(F.lit(1)).over(wr).alias("n_24h"),
            F.first("value").over(wfull).alias("first_val"),
            F.last("value").over(wfull).alias("last_val"),
        )
    )


Q43_SQL = f"""
SELECT event_id, user_id, ts,
       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER wr AS DOUBLE) AS sum_24h,
       count(*) OVER wr AS n_24h,
       first_value(value) OVER wfull AS first_val,
       last_value(value) OVER wfull AS last_val
FROM events
WHERE event_type = 'purchase'
WINDOW wr AS (PARTITION BY user_id ORDER BY (epoch_ms(ts) // 1000)
              RANGE BETWEEN {_DAY_S} PRECEDING AND CURRENT ROW),
       wfull AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# q39 — FULL OUTER join reconciliation: per-(user, day) click vs purchase
# activity, keys coalesced from both sides. Completes the join-type matrix
# (inner/left/semi/anti/cross are covered by q03-q08).
# ---------------------------------------------------------------------------


def q39_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_buys"), dsum(F.col("value")).alias("spend"))
    )
    c, b = clicks.alias("c"), buys.alias("b")
    return c.join(
        b, (F.col("c.user_id") == F.col("b.user_id")) & (F.col("c.day") == F.col("b.day")), "full_outer"
    ).select(
        F.coalesce(F.col("c.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("c.day"), F.col("b.day")).alias("day"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("n_buys"), F.lit(0)).alias("n_buys"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
    )


Q39_SQL = f"""
WITH c AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
b AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         count(*) AS n_buys, {dsum_sql('value')} AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT coalesce(c.user_id, b.user_id) AS user_id,
       coalesce(c.day, b.day) AS day,
       coalesce(c.n_clicks, 0) AS n_clicks,
       coalesce(b.n_buys, 0) AS n_buys,
       coalesce(b.spend, 0.0) AS spend
FROM c FULL OUTER JOIN b ON c.user_id = b.user_id AND c.day = b.day
"""


# ---------------------------------------------------------------------------
# q40 — approximate sketch aggregates: HyperLogLog++ distinct counts and
# t-digest percentiles — the 100 TB swap-ins for q16's exact distinct and
# q29's exact percentiles (single-pass, mergeable, fixed memory). Sketch
# internals are engine-specific, so raw sketch values cannot hash-match a
# DuckDB oracle. Instead the query emits (a) exact companion aggregates —
# fully value-checked — and (b) accuracy booleans asserting the sketch is
# within its error contract of the exact value, which the oracle pins to
# TRUE. A sketch drifting out of tolerance flips a boolean and fails the
# driver hash gate; fine-grained accuracy curves live in
# tests/test_sketches.py.
# ---------------------------------------------------------------------------


def q40_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = tables(spark, sf_dir, "lineitem")
    # exact_orders lives in its OWN aggregation: a DISTINCT aggregate mixed
    # with the sketch aggregates triggers Catalyst's distinct rewrite, which
    # re-keys the partial aggregation by (group, distinct-key) — one
    # t-digest/percentile buffer PER ORDERKEY (~150k heavy sketch buffers
    # through the exchange; measured 385 s at sf0.1 vs ~5 s split). The
    # rejoin is 3 rows — broadcast, free.
    # One sketch/percentile buffer per COLUMN (optimization r13, guide
    # §1.2): scalar calls per percentage point each build their own
    # buffer — two GK summaries + two 600k-entry counts hashmaps over the
    # same column; the array forms build one of each and query it at both
    # points. Exact percentile is the same counts map + interpolation
    # (bit-identical); approx_percentile's separate scalar calls built
    # byte-identical summaries from the same input order, so the array
    # query returns the same values (measured: exact pair 1.96 s ->
    # ~1.0 s, approx pair 0.70 s -> 0.44 s at sf0.1).
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").alias("ap"),
        # percentile() is the exact interpolated (CONT) percentile with a
        # counts-hashmap implementation; percentile_cont's sort-based
        # ObjectHashAggregate path is ~40x slower on wide value domains
        F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("ep"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "l_returnflag",
        "approx_orders",
        F.col("ap")[0].alias("approx_p50"),
        F.col("ap")[1].alias("approx_p90"),
        F.col("ep")[0].alias("exact_p50"),
        F.col("ep")[1].alias("exact_p90"),
        "n_rows",
    )
    orders = li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    agg = sketch.join(orders, "l_returnflag")
    # HLL++ contract: relative error <= 3 * rsd. approx_percentile contract:
    # rank error <= 1/accuracy — with 10k accuracy over ~150k rows/group the
    # returned element sits within a tight relative band of the continuous
    # percentile; 2% is comfortably loose for this distribution.
    return agg.select(
        "l_returnflag",
        "exact_orders",
        F.round(F.col("exact_p50").cast("double"), 4).alias("exact_p50"),
        F.round(F.col("exact_p90").cast("double"), 4).alias("exact_p90"),
        "n_rows",
        (F.abs(F.col("approx_orders") - F.col("exact_orders")) <= 0.06 * F.col("exact_orders")).alias(
            "hll_within_tol"
        ),
        (F.abs(F.col("approx_p50") - F.col("exact_p50")) <= 0.02 * F.col("exact_p50")).alias(
            "p50_within_tol"
        ),
        (F.abs(F.col("approx_p90") - F.col("exact_p90")) <= 0.02 * F.col("exact_p90")).alias(
            "p90_within_tol"
        ),
    )


Q40_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
       count(*) AS n_rows,
       TRUE AS hll_within_tol,
       TRUE AS p50_within_tol,
       TRUE AS p90_within_tol
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q45 — explode vs explode_outer: rows with empty arrays must survive the
# outer variant with a NULL element (the LEFT JOIN UNNEST shape). Arrays
# are derived from event props (digit runs), so some rows genuinely have
# none.
# ---------------------------------------------------------------------------


def q45_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    with_arr = ev.select(
        "event_id",
        F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), F.lit(0)).alias("runs"),
    )
    return with_arr.select(
        "event_id",
        F.size("runs").alias("n_runs"),
        F.explode_outer("runs").alias("run"),
    )


Q45_SQL = """
WITH a AS (SELECT event_id, regexp_extract_all(props, '[0-9]+') AS runs FROM events)
SELECT event_id, CAST(len(runs) AS INT) AS n_runs,
       unnest(CASE WHEN len(runs) = 0 THEN [NULL] ELSE runs END) AS run
FROM a
"""


# ---------------------------------------------------------------------------
# q46 — higher-order array functions as a first-class family: transform /
# filter / exists / aggregate / zip_with (audit_log.sql's GENERATE_ARRAY +
# correlated ARRAY(SELECT STRUCT(...)) maps to exactly these, SURVEY §2.4
# Array bullet). These run inside codegen — the reason the training
# operators need zero Python UDFs.
# ---------------------------------------------------------------------------


def q46_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    (od,) = tables(spark, sf_dir, "orders")
    # Array results are serialized to CSV strings in the final projection:
    # the correctness harness canonicalizes via pandas hashing, which cannot
    # hash list cells. Serialization is presentation-only — the higher-order
    # ops themselves still run on native arrays inside codegen.
    return od.select(
        "o_orderkey",
        F.expr("sequence(1, 1 + cast(o_orderkey % 5 as int))").alias("seq"),
    ).select(
        "o_orderkey",
        F.expr("array_join(transform(seq, x -> cast(x * x as string)), ',')").alias("squares"),
        F.expr("array_join(transform(filter(seq, x -> x % 2 = 0), x -> cast(x as string)), ',')").alias(
            "evens"
        ),
        F.expr("exists(seq, x -> x >= 4)").alias("has_ge4"),
        F.expr("aggregate(seq, 0L, (acc, x) -> acc + x)").alias("total"),
        F.expr("aggregate(zip_with(seq, reverse(seq), (a, b) -> a * b), 0L, (acc, x) -> acc + x)").alias(
            "dot_rev"
        ),
    )


Q46_SQL = """
WITH s AS (
  SELECT o_orderkey, range(1, 2 + CAST(o_orderkey % 5 AS INT)) AS seq FROM orders
)
SELECT o_orderkey,
       array_to_string(list_transform(seq, x -> CAST(x * x AS VARCHAR)), ',') AS squares,
       coalesce(array_to_string(list_transform(list_filter(seq, x -> x % 2 = 0), x -> CAST(x AS VARCHAR)), ','), '') AS evens,
       len(list_filter(seq, x -> x >= 4)) > 0 AS has_ge4,
       CAST(list_sum(seq) AS BIGINT) AS total,
       CAST(list_sum(list_transform(range(1, len(seq) + 1), i -> seq[i] * list_reverse(seq)[i])) AS BIGINT) AS dot_rev
FROM s
"""




# ---------------------------------------------------------------------------
# q48 — fuzzy entity-matching join with blocking: candidate pairs share a
# block key (name prefix), then an edit-distance filter confirms. The
# blocking discipline is what makes fuzzy matching tractable at scale:
# the join is a plain hash equi-join on the block key and the quadratic
# edit-distance work happens only WITHIN a block (bounded by block size),
# never all-pairs. Spark and DuckDB agree on levenshtein semantics.
# ---------------------------------------------------------------------------


def q48_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = tables(spark, sf_dir, "customer")
    a = cust.select(F.col("c_name").alias("name_a"), F.substring("c_name", 1, 16).alias("blk"))
    b = cust.select(F.col("c_name").alias("name_b"), F.substring("c_name", 1, 16).alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 1)
        .select("name_a", "name_b", "dist")
    )


Q48_SQL = """
SELECT a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a
JOIN customer b
  ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16) AND a.c_name < b.c_name
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


# ---------------------------------------------------------------------------
# q49 — time-series gap fill + forward fill: per-user daily calendar from
# sequence(min_day, max_day), missing days joined back in, totals carried
# forward with last(ignorenulls). The calendar explode is per-key and
# proportional to the span (no global calendar build); the fill is one
# window over the same user_id partitioning the daily agg already
# established. Forward-fill copies the double verbatim (no re-arithmetic),
# so the decimal-exact daily sums stay hash-identical through the fill.
# ---------------------------------------------------------------------------


def q49_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("day_total")
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        "user_id", F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last("day_total", ignorenulls=True).over(w).alias("filled_total"),
            F.col("day_total").isNull().alias("is_gap"),
        )
    )


Q49_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS day_total
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
cal AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span)
SELECT cal.user_id, cal.day,
       coalesce(daily.n_events, 0) AS n_events,
       last_value(daily.day_total IGNORE NULLS) OVER (
         PARTITION BY cal.user_id ORDER BY cal.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total,
       daily.day_total IS NULL AS is_gap
FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
"""




# ---------------------------------------------------------------------------
# q50 — funnel analysis: the earliest signup -> click -> purchase chain per
# user, each step strictly after the previous. Spark shape: ONE shuffle
# (groupBy user) collecting the (ts, type) sequence, then a pure JVM
# expression cascade (filter/transform/array_min) walks the funnel —
# events are never re-shuffled per step. Per-user array size is the
# per-key event count; a pathological hot key would call for the
# salting/df-capping discipline documented at the dedup operators. The
# oracle rebuilds the same steps relationally (conditional-min cascade).
# ---------------------------------------------------------------------------


def q50_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    # no sort needed: every funnel step is an order-insensitive array_min
    seq = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("seq")
    )

    def step_after(prev_col: str, kind: str) -> F.Column:
        return F.expr(
            f"array_min(transform(filter(seq, x -> x.event_type = '{kind}'"
            + (f" AND x.ts > {prev_col}" if prev_col else "")
            + "), x -> x.ts))"
        )

    return (
        seq.withColumn("t_signup", step_after("", "signup"))
        .withColumn("t_click", step_after("t_signup", "click"))
        .withColumn("t_purchase", step_after("t_click", "purchase"))
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            (
                F.when(F.col("t_purchase").isNotNull(), 3)
                .when(F.col("t_click").isNotNull(), 2)
                .when(F.col("t_signup").isNotNull(), 1)
                .otherwise(0)
            ).cast("int").alias("steps_reached"),
        )
    )


Q50_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS t_signup
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_signup
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
       CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
                 WHEN s2.t_click IS NOT NULL THEN 2
                 WHEN s1.t_signup IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS steps_reached
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


SPECS: dict[str, QuerySpec] = {
    "q50_funnel": QuerySpec(
        q50_funnel, Q50_SQL, "ordered funnel steps per user (single-shuffle array fold)"
    ),
    "q48_fuzzy_blocked_join": QuerySpec(
        q48_fuzzy_blocked_join, Q48_SQL, "blocked fuzzy join (levenshtein within block)"
    ),
    "q49_gapfill_ffill": QuerySpec(
        q49_gapfill_ffill, Q49_SQL, "calendar gap fill + forward fill per key"
    ),
    "q33_unpivot": QuerySpec(q33_unpivot, Q33_SQL, "UNPIVOT long-form measure stats"),
    "q34_tumbling_window": QuerySpec(q34_tumbling_window, Q34_SQL, "tumbling time-window aggregation"),
    "q35_exists_subqueries": QuerySpec(q35_exists_subqueries, Q35_SQL, "EXISTS/NOT EXISTS/IN subqueries"),
    "q36_window_ranks": QuerySpec(q36_window_ranks, Q36_SQL, "NTILE/PERCENT_RANK/CUME_DIST"),
    "q37_lateral_topk": QuerySpec(q37_lateral_topk, Q37_SQL, "correlated LATERAL top-k"),
    "q38_hopping_window": QuerySpec(q38_hopping_window, Q38_SQL, "hopping window aggregation"),
    "q39_full_outer": QuerySpec(q39_full_outer, Q39_SQL, "FULL OUTER reconciliation join"),
    "q43_range_frames": QuerySpec(q43_range_frames, Q43_SQL, "RANGE time frames + first/last_value"),
    "q44_cube": QuerySpec(q44_cube, Q44_SQL, "CUBE grouping-set matrix"),
    "q47_grouping_sets": QuerySpec(
        q47_grouping_sets, Q47_SQL, "explicit GROUPING SETS (general grouping-set form)"
    ),
    "q45_explode_outer": QuerySpec(q45_explode_outer, Q45_SQL, "explode_outer null preservation"),
    "q46_higher_order": QuerySpec(q46_higher_order, Q46_SQL, "transform/filter/exists/aggregate/zip_with"),
    "q40_sketch_aggregates": QuerySpec(
        q40_sketch_aggregates,
        Q40_SQL,
        "HLL++ / t-digest sketches vs exact companions + accuracy booleans",
    ),
}


# ---------------------------------------------------------------------------
# q65 — RECURSIVE CTE (r11): Spark 4 landed WITH RECURSIVE, the
# missing iterative-SQL shape (hierarchy walks, transitive closure,
# sequence generation without explode). A synthetic forest over
# customer (parent = custkey DIV 10, roots = custkey < 10, so depth ==
# digits-1) is walked to the root and aggregated per (depth, root
# bucket). The oracle replays the identical recursion in DuckDB.
# Recursion depth is log10(|customer|): ~6 joins at sf0.1 — the plan
# is depth-many hash joins, each reusing the prior iteration's frame,
# never a cartesian; at 100 TB this shape only works because every
# iteration joins on the parent KEY (hash-partitionable). Spark SQL and
# DuckDB differ only in the integer-division spelling (DIV vs //).
# ---------------------------------------------------------------------------


def q65_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    (cust,) = tables(spark, sf_dir, "customer")
    # 100 TB guard (r12, found by
    # `git show b7fa307:tools/recursive_scale_probe.py`): Spark 4
    # caps recursive CTEs at spark.sql.cteRecursionRowLimit = 1e6 TOTAL
    # rows across levels — the walk visits every customer exactly once,
    # so any production-size run must raise it or die with
    # RECURSION_ROW_LIMIT_EXCEEDED. Depth (cteRecursionLevelLimit = 100)
    # never binds for the DIV-10 forest: log10(N) levels.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(1_000_000_000))
    view = f"customer_q65_{_uuid.uuid4().hex[:8]}"  # unique: bench pools threads
    cust.createOrReplaceTempView(view)
    try:
        return spark.sql(f"""
        WITH RECURSIVE walk(custkey, root, depth, acctbal) AS (
          SELECT c_custkey, c_custkey, 0, c_acctbal
          FROM {view} WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, w.root, w.depth + 1, c.c_acctbal
          FROM {view} c JOIN walk w ON c.c_custkey DIV 10 = w.custkey
          WHERE c.c_custkey >= 10
        )
        SELECT depth,
               root % 4 AS root_bucket,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
        FROM walk
        GROUP BY depth, root % 4
        """)
    finally:
        # the RESULT plan is resolved; the view can go so pooled bench
        # reps never accumulate per-run temp views
        spark.catalog.dropTempView(view)


Q65_SQL = """
WITH RECURSIVE walk(custkey, root, depth, acctbal) AS (
  SELECT c_custkey, c_custkey, 0, c_acctbal
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root, w.depth + 1, c.c_acctbal
  FROM customer c JOIN walk w ON c.c_custkey // 10 = w.custkey
  WHERE c.c_custkey >= 10
)
SELECT depth,
       root % 4 AS root_bucket,
       count(*)::BIGINT AS n_customers,
       CAST(sum(CAST(acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
FROM walk
GROUP BY depth, root % 4
"""

SPECS["q65_recursive_hierarchy"] = QuerySpec(
    q65_recursive_hierarchy,
    Q65_SQL,
    "WITH RECURSIVE hierarchy walk: depth/root aggregation over a synthetic customer forest",
)


# ---------------------------------------------------------------------------
# q66 — VARIANT-typed semi-structured ingestion (r12, VERDICT r11 ask
# #7): Spark 4's VARIANT type is the engine-native answer to the
# reference's JSON-string convention (the `details` payloads SURVEY
# §2.1 ingests as strings and re-parses per query — q10's
# get_json_object shape). Here the payload is parsed ONCE into a
# VARIANT column and every downstream access is a typed variant_get:
# nested-object paths, array indexing, a missing-path NULL via
# try_variant_get, and a string extraction used as a FILTER — then
# aggregated. The binary VARIANT encoding makes repeated path access
# O(shredded field), not O(re-parse), which is the 100 TB reason to
# prefer it over per-query JSON string parsing. The JSON document is
# constructed in-plan from events columns (props is the only stored
# JSON and is a flat {"k": N}), so the oracle can restate the whole
# pipeline declaratively from the base columns — integer/string paths
# only, because a double does not survive a JSON round-trip
# identically across engines.
# ---------------------------------------------------------------------------


def q66_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = tables(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("type"),
            F.struct(F.col("user_id").alias("uid")).alias("who"),
            F.from_json(F.col("props"), "k long").alias("props"),
            F.array(F.col("user_id") % 3, F.col("user_id") % 5).alias("tags"),
        )
    )
    v = ev.select(F.parse_json(doc).alias("v"))
    flat = v.select(
        F.variant_get(F.col("v"), "$.who.uid", "long").alias("uid"),
        F.variant_get(F.col("v"), "$.props.k", "long").alias("k"),
        F.variant_get(F.col("v"), "$.tags[1]", "long").alias("tag1"),
        F.try_variant_get(F.col("v"), "$.missing.path", "long").alias("missing"),
        F.variant_get(F.col("v"), "$.type", "string").alias("etype"),
    )
    return (
        flat.where(F.col("etype") == "purchase")
        .groupBy((F.col("k") % 10).alias("k_mod10"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("uid").alias("sum_uid"),
            F.sum("tag1").alias("sum_tag1"),
            F.count("missing").alias("n_missing_nonnull"),  # always 0
        )
    )


Q66_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
       count(*)::BIGINT AS n_events,
       CAST(sum(user_id) AS BIGINT) AS sum_uid,
       CAST(sum(user_id % 5) AS BIGINT) AS sum_tag1,
       CAST(0 AS BIGINT) AS n_missing_nonnull
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""

SPECS["q66_variant_json"] = QuerySpec(
    q66_variant_json,
    Q66_SQL,
    "VARIANT ingestion: parse once, typed variant_get paths (nested/array/missing) + filter + agg",
)


# ---------------------------------------------------------------------------
# q68 — STORED VARIANT (r12, the production twin of q66): the 100 TB
# shape is parse-at-ingest — the VARIANT column is WRITTEN to parquet
# (Spark 4 stores the binary variant encoding natively) and every
# downstream query pays only typed variant_get access, never a JSON
# re-parse. q66 measures parse+access in one plan; this entry
# round-trips the variant through storage and runs the same typed
# pipeline over the STORED column, proving the encoding survives the
# parquet write/read and the access path needs no string re-parse. The
# oracle is q66's declarative restatement (identical semantics — the
# storage round-trip must be invisible to results).
# ---------------------------------------------------------------------------


def q68_variant_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    (ev,) = tables(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("type"),
            F.struct(F.col("user_id").alias("uid")).alias("who"),
            F.from_json(F.col("props"), "k long").alias("props"),
            F.array(F.col("user_id") % 3, F.col("user_id") % 5).alias("tags"),
        )
    )
    path = _os.path.join(_tempfile.gettempdir(), f"q68-variant-{_uuid.uuid4().hex[:8]}")
    try:
        # ingest: parse ONCE, store the binary variant
        ev.select(F.parse_json(doc).alias("v")).write.mode("overwrite").parquet(path)
        stored = spark.read.parquet(path)
        flat = stored.select(
            F.variant_get(F.col("v"), "$.who.uid", "long").alias("uid"),
            F.variant_get(F.col("v"), "$.props.k", "long").alias("k"),
            F.variant_get(F.col("v"), "$.tags[1]", "long").alias("tag1"),
            F.try_variant_get(F.col("v"), "$.missing.path", "long").alias("missing"),
            F.variant_get(F.col("v"), "$.type", "string").alias("etype"),
        )
        out = (
            flat.where(F.col("etype") == "purchase")
            .groupBy((F.col("k") % 10).alias("k_mod10"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("uid").alias("sum_uid"),
                F.sum("tag1").alias("sum_tag1"),
                F.count("missing").alias("n_missing_nonnull"),
            )
        )
        out = detach_result(out)  # JVM-side detach before cleanup
    finally:
        _shutil.rmtree(path, ignore_errors=True)
    return out


SPECS["q68_variant_storage"] = QuerySpec(
    q68_variant_storage,
    Q66_SQL,  # identical semantics: the storage round-trip is invisible
    "stored VARIANT: parse at ingest, parquet round-trip, typed access with no re-parse",
)


# ---------------------------------------------------------------------------
# q69 — SQL UDFs (r12, Spark 4): CREATE FUNCTION ... RETURN <expr> —
# the engine-native answer to the reference's repeated inline pricing
# arithmetic (every BigQuery view re-spells `price * (1 - disc)`
# by hand; SURVEY §2.4 scalar families). Spark 4 SQL UDFs are
# MACRO-INLINED by Catalyst: the plan below contains no UDF node, no
# Python, and stays inside whole-stage codegen (pinned by
# tests/test_plan_contracts.py) — abstraction at zero runtime cost,
# which is the 100 TB reason to prefer them over Python UDFs for
# scalar logic. Composition (taxed over disc_price) inlines
# transitively. The oracle restates the expressions inline.
# ---------------------------------------------------------------------------


def q69_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables(spark, sf_dir, "lineitem")
    # temp functions are session-scoped; CREATE OR REPLACE makes the
    # entry idempotent under pooled bench reps
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q69_disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q69_charge(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN q69_disc_price(p, d) * (1 + t)"
    )
    return spark.sql(f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           {dsum_sql('q69_disc_price(l_extendedprice, l_discount)')} AS sum_disc_price,
           {dsum_sql('q69_charge(l_extendedprice, l_discount, l_tax)')} AS sum_charge
    FROM lineitem
    WHERE l_quantity < 24
    GROUP BY l_returnflag, l_linestatus
    """)


Q69_SQL = f"""
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge
FROM lineitem
WHERE l_quantity < 24
GROUP BY l_returnflag, l_linestatus
"""

SPECS["q69_sql_udf"] = QuerySpec(
    q69_sql_udf,
    Q69_SQL,
    "SQL UDFs (CREATE FUNCTION ... RETURN expr): composed scalar macros, Catalyst-inlined to zero-cost",
)


# ---------------------------------------------------------------------------
# q70 — SQL scripting (r12, Spark 4): BEGIN/DECLARE/IF/WHILE — the
# procedural-SQL surface the reference scatters across Airflow
# PythonOperators and BigQuery scripting (FOR ... IN loops in
# dag_stellar_dbt_staging_refresh). The script derives its parameters
# with control flow (a WHILE doubling loop and a data-dependent IF),
# then returns one declarative SELECT parameterized by the variables.
# The oracle restates the whole script as a single expression — a
# correct script IS sugar over its final query, so the comparison
# proves the control flow computed what it claims. Local variables are
# script-scoped (no session state leaks into pooled bench neighbors).
# ---------------------------------------------------------------------------


def q70_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables(spark, sf_dir, "orders")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql("""
    BEGIN
      DECLARE n_buckets INT DEFAULT 1;
      DECLARE cutoff DOUBLE DEFAULT 100000.0;
      -- smallest power of two >= 100
      WHILE n_buckets < 100 DO
        SET n_buckets = n_buckets * 2;
      END WHILE;
      IF (SELECT max(o_totalprice) FROM orders) > 100000.0 THEN
        SET cutoff = 300000.0;
      END IF;
      SELECT o_orderstatus,
             CAST(o_orderkey % n_buckets AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM orders
      WHERE o_totalprice > cutoff
      GROUP BY o_orderstatus, o_orderkey % n_buckets;
    END
    """)


Q70_SQL = """
WITH params AS (
  SELECT 128 AS n_buckets,
         CASE WHEN (SELECT max(o_totalprice) FROM orders) > 100000.0
              THEN 300000.0 ELSE 100000.0 END AS cutoff
)
SELECT o_orderstatus,
       (o_orderkey % (SELECT n_buckets FROM params))::BIGINT AS bucket,
       count(*)::BIGINT AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice > (SELECT cutoff FROM params)
GROUP BY 1, 2
"""

SPECS["q70_sql_script"] = QuerySpec(
    q70_sql_script,
    Q70_SQL,
    "SQL scripting (BEGIN/DECLARE/WHILE/IF): control-flow-derived params feeding a declarative SELECT",
)


# ---------------------------------------------------------------------------
# q71 — the full v_liquidity_pool_trade_volume mart driven through the
# REAL view code (views/marts.py::liquidity_pool_trade_volume) and the
# shared inlined SQL UDFs it now uses (functions/sharedsql.py — VERDICT
# r12 ask #5): LEAD validity windows, two broadcast as-of range joins,
# the buying-leg gross CASE, fee attribution through the pool fee
# multiplier, and the quote/base direction CASEs — all per-row, so the
# oracle compares exact IEEE doubles, not order-dependent sums.
# Inputs are reference-shaped frames derived DETERMINISTICALLY from the
# events table (purchases -> trades; sparse views -> asset/XLM price
# updates; 8 static pools), so DuckDB can restate the whole pipeline.
# Reference: v_liquidity_pool_trade_volume.sql:31-95.
# ---------------------------------------------------------------------------


def _price_inputs(ev):
    """Shared derived price series for the mart entries (q71/q73/q74):
    sparse per-(asset_code, asset_issuer) XLM price updates and an
    XLM/USD series, deduped per (key, ts) so every window/rank order is
    total in both engines. ``event_id % 5`` (NOT % 10 — review r13:
    an even-only modulus priced only AST0/AST2 while the odd-parity
    trades carried AST1/AST3, leaving q71's asset-price as-of join
    structurally dead and the oracle vacuously green) spans both
    parities, so all of AST0..AST3 carry prices. One definition here +
    one SQL CTE string (_PRICE_CTES) keeps the three entries and their
    oracles from desynchronizing."""
    prices_xlm = (
        ev.filter((F.col("event_type") == "view") & (F.col("event_id") % 5 == 0))
        .groupBy(
            F.concat(F.lit("AST"), (F.col("event_id") % 4).cast("string")).alias("asset_code"),
            F.concat(F.lit("I"), (F.col("event_id") % 4).cast("string")).alias("asset_issuer"),
            F.col("ts").alias("last_updated_ts"),
        )
        .agg(F.min(F.lit(1.0) + (F.col("event_id") % 97) / 10.0).alias("price_in_xlm"))
    )
    prices_usd = (
        ev.filter((F.col("event_type") == "click") & (F.col("event_id") % 20 == 0))
        .groupBy(F.col("ts").alias("last_updated_ts"))
        .agg(F.min(F.lit(0.05) + (F.col("event_id") % 13) / 100.0).alias("price_in_usd"))
        .withColumn("asset_id", F.lit("XLM"))
    )
    return prices_xlm, prices_usd


# the same two series as DuckDB CTEs (px keyed by (p_code, p_issuer,
# p_ts) -> price; pu keyed by x_ts -> x_price)
_PRICE_CTES = """
px AS (
  SELECT 'AST' || CAST(event_id % 4 AS VARCHAR) AS p_code,
         'I' || CAST(event_id % 4 AS VARCHAR) AS p_issuer,
         ts AS p_ts,
         min(1.0 + (event_id % 97) / 10.0) AS price
  FROM events WHERE event_type = 'view' AND event_id % 5 = 0
  GROUP BY 1, 2, 3
),
pu AS (
  SELECT ts AS x_ts, min(0.05 + (event_id % 13) / 100.0) AS x_price
  FROM events WHERE event_type = 'click' AND event_id % 20 = 0
  GROUP BY 1
)"""

# the same block without the WITH-list comma handling: spliced into the
# entries' oracle CTE lists via f-string
_PRICE_CTES_INNER = _PRICE_CTES.strip()



def _q71_inputs(spark: SparkSession, sf_dir: str):
    (ev,) = tables(spark, sf_dir, "events")
    native = F.col("event_id") % 2 == 0
    trades = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("ledger_closed_at"),
        F.concat(F.lit("LP"), (F.col("user_id") % 8).cast("string")).alias(
            "selling_liquidity_pool_id"
        ),
        F.when(F.col("user_id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("AST"), (F.col("user_id") % 5).cast("string")))
        .alias("selling_asset_code"),
        (F.col("value") * 2).alias("selling_amount"),
        F.when(native, F.lit("native")).otherwise(F.lit("credit_alphanum4")).alias(
            "buying_asset_type"
        ),
        F.when(native, F.lit("XLM"))
        .otherwise(F.concat(F.lit("AST"), (F.col("event_id") % 4).cast("string")))
        .alias("buying_asset_code"),
        F.when(native, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("I"), (F.col("event_id") % 4).cast("string")))
        .alias("buying_asset_issuer"),
        F.col("value").alias("buying_amount"),
        (F.lit(1) + F.col("event_id") % 7).alias("price_n"),
        (F.lit(1) + F.col("event_id") % 5).alias("price_d"),
        F.lit(30).cast("long").alias("liquidity_pool_fee"),
    )
    pools = spark.range(8).select(
        F.concat(F.lit("LP"), F.col("id").cast("string")).alias("liquidity_pool_id"),
        F.concat(F.lit("AST"), (F.col("id") % 3).cast("string")).alias("asset_a_code"),
        F.concat(F.lit("I"), (F.col("id") % 3).cast("string")).alias("asset_a_issuer"),
        F.concat(F.lit("AST"), (F.col("id") % 5).cast("string")).alias("asset_b_code"),
        F.concat(F.lit("I"), (F.col("id") % 5).cast("string")).alias("asset_b_issuer"),
        F.concat(
            F.lit("AST"), (F.col("id") % 3).cast("string"),
            F.lit(":"), F.lit("AST"), (F.col("id") % 5).cast("string"),
        ).alias("asset_pair"),
    )
    # sparse price updates; groupBy de-dups any (key, ts) collision so
    # the LEAD window order is total in BOTH engines
    prices_xlm, prices_usd = _price_inputs(ev)
    return trades, pools, prices_xlm, prices_usd


def q71_trade_volume_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..views.marts import liquidity_pool_trade_volume

    trades, pools, prices_xlm, prices_usd = _q71_inputs(spark, sf_dir)
    return liquidity_pool_trade_volume(trades, pools, prices_xlm, prices_usd)


Q71_SQL = f"""
WITH trades AS (
  SELECT ts AS ledger_closed_at,
         'LP' || CAST(user_id % 8 AS VARCHAR) AS selling_liquidity_pool_id,
         CASE WHEN user_id % 3 = 0 THEN NULL
              ELSE 'AST' || CAST(user_id % 5 AS VARCHAR) END AS selling_asset_code,
         value * 2 AS selling_amount,
         CASE WHEN event_id % 2 = 0 THEN 'native' ELSE 'credit_alphanum4' END AS buying_asset_type,
         CASE WHEN event_id % 2 = 0 THEN 'XLM'
              ELSE 'AST' || CAST(event_id % 4 AS VARCHAR) END AS buying_asset_code,
         CASE WHEN event_id % 2 = 0 THEN NULL
              ELSE 'I' || CAST(event_id % 4 AS VARCHAR) END AS buying_asset_issuer,
         value AS buying_amount,
         1 + event_id % 7 AS price_n,
         1 + event_id % 5 AS price_d,
         CAST(30 AS BIGINT) AS liquidity_pool_fee
  FROM events WHERE event_type = 'purchase'
),
pools AS (
  SELECT 'LP' || CAST(i AS VARCHAR) AS liquidity_pool_id,
         'AST' || CAST(i % 3 AS VARCHAR) AS asset_a_code,
         'I' || CAST(i % 3 AS VARCHAR) AS asset_a_issuer,
         'AST' || CAST(i % 5 AS VARCHAR) AS asset_b_code,
         'I' || CAST(i % 5 AS VARCHAR) AS asset_b_issuer,
         'AST' || CAST(i % 3 AS VARCHAR) || ':' || 'AST' || CAST(i % 5 AS VARCHAR) AS asset_pair
  FROM range(8) t(i)
),
-- the Spark side builds LEAD(ts) validity windows and joins half-open
-- ranges (the mart's asof_join); windows TILE time within each key, so
-- DuckDB's native ASOF JOIN (latest update <= fact ts) is the exact
-- same relation. The direct LEAD+IE-join restatement is avoided ON
-- PURPOSE: DuckDB 1.0.0 wedges (>10 min, plan looks fine, count(*) is
-- instant) when projecting payload columns through this particular
-- CTE + double-inequality LEFT JOIN shape — see SCALE.md r13.
{_PRICE_CTES_INNER},
tv AS (
  SELECT t.*, pl.asset_a_code, pl.asset_a_issuer, pl.asset_b_code, pl.asset_b_issuer,
         pl.asset_pair, 1 + liquidity_pool_fee / 10000 AS fee_multiplier
  FROM trades t JOIN pools pl ON t.selling_liquidity_pool_id = pl.liquidity_pool_id
),
j1 AS (
  SELECT tv.*, p.price
  FROM tv ASOF LEFT JOIN px p
    ON tv.buying_asset_code = p.p_code AND tv.buying_asset_issuer = p.p_issuer
   AND tv.ledger_closed_at >= p.p_ts
),
j AS (
  SELECT j1.*, x.x_price AS xlm_price
  FROM j1 ASOF LEFT JOIN pu x ON j1.ledger_closed_at >= x.x_ts
)
SELECT ledger_closed_at, selling_liquidity_pool_id,
       asset_a_code, asset_a_issuer, asset_b_code, asset_b_issuer, asset_pair,
       selling_asset_code, selling_amount, buying_asset_code, buying_amount,
       price AS asset_price_in_xlm, xlm_price,
       g - g / fee_multiplier AS fee_earned,
       g / fee_multiplier AS trade_amount,
       price_n, price_d,
       CASE WHEN selling_asset_code = asset_b_code
            THEN CAST(price_d AS DOUBLE) / price_n
            ELSE CAST(price_n AS DOUBLE) / price_d END AS quote_price,
       CASE WHEN selling_asset_code = asset_b_code
            THEN CAST(price_n AS DOUBLE) / price_d
            ELSE CAST(price_d AS DOUBLE) / price_n END AS base_price
FROM (
  SELECT j.*,
         CASE WHEN buying_asset_type = 'native'
              THEN buying_amount * coalesce(xlm_price, 0)
              ELSE buying_amount * coalesce(price, 0) * coalesce(xlm_price, 0)
         END AS g
  FROM j
)
"""

SPECS["q71_trade_volume_mart"] = QuerySpec(
    q71_trade_volume_mart,
    Q71_SQL,
    "v_liquidity_pool_trade_volume end to end: LEAD windows, 2 broadcast as-of joins, shared-UDF fee/price math",
)


# ---------------------------------------------------------------------------
# q72 — the v_liquidity_providers mart driven through the REAL view code
# (views/marts.py::liquidity_providers): per-(account, pool) share
# accounting from LP deposit (type 22) / withdraw (type 23) operations,
# with the reference's NULL-successful-counts-as-success transaction
# gate (:17-19) exercised on purpose (event_id % 7 rows are NULL).
# Inputs derive deterministically from events; share amounts go through
# floor() so the double SUMs are integer-valued and order-independent
# (the dsum discipline without DECIMAL — sums of integers < 2^53 are
# exact in IEEE double regardless of reduction order).
# ---------------------------------------------------------------------------


def q72_liquidity_providers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..views.marts import liquidity_providers

    (ev,) = tables(spark, sf_dir, "events")
    transactions = ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("boolean"))
        .when(F.col("event_id") % 3 == 0, F.lit(False))
        .otherwise(F.lit(True))
        .alias("successful"),
    )
    operations = ev.select(
        F.col("event_id").alias("transaction_id"),
        F.when(F.col("event_id") % 2 == 0, F.lit(22)).otherwise(F.lit(23)).alias("type"),
        F.concat(F.lit("A"), (F.col("user_id") % 40).cast("string")).alias("source_account"),
        F.struct(
            F.concat(F.lit("LP"), (F.col("user_id") % 8).cast("string")).alias(
                "liquidity_pool_id"
            ),
            F.floor(F.col("value")).cast("double").alias("shares_received"),
            F.floor(F.col("value") / 2).cast("double").alias("shares"),
        ).alias("details"),
        F.col("ts").alias("closed_at"),
    )
    return liquidity_providers(operations, transactions)


Q72_SQL = """
WITH tx AS (
  SELECT event_id AS tx_id,
         CASE WHEN event_id % 7 = 0 THEN NULL
              WHEN event_id % 3 = 0 THEN FALSE ELSE TRUE END AS successful
  FROM events
),
ops AS (
  SELECT event_id,
         CASE WHEN event_id % 2 = 0 THEN 22 ELSE 23 END AS type,
         'A' || CAST(user_id % 40 AS VARCHAR) AS account,
         'LP' || CAST(user_id % 8 AS VARCHAR) AS pool,
         floor(value) AS shares_received,
         floor(value / 2) AS shares,
         ts AS closed_at
  FROM events
),
ok AS (
  SELECT o.* FROM ops o
  WHERE EXISTS (SELECT 1 FROM tx t WHERE t.tx_id = o.event_id
                AND (t.successful OR t.successful IS NULL))
),
dep AS (
  SELECT account, pool,
         sum(coalesce(shares_received, 0)) AS shares_in,
         min(closed_at) AS first_deposit,
         count(*) AS n_deposits
  FROM ok WHERE type = 22 GROUP BY 1, 2
),
wd AS (
  SELECT account, pool, sum(coalesce(shares, 0)) AS shares_out
  FROM ok WHERE type = 23 GROUP BY 1, 2
)
SELECT d.account, d.pool, d.shares_in, d.first_deposit, d.n_deposits,
       w.shares_out, d.shares_in - coalesce(w.shares_out, 0) AS current_shares
FROM dep d LEFT JOIN wd w ON d.account = w.account AND d.pool = w.pool
"""

SPECS["q72_liquidity_providers"] = QuerySpec(
    q72_liquidity_providers,
    Q72_SQL,
    "v_liquidity_providers end to end: NULL-successful gate, semi-join, deposit/withdraw share accounting",
)


# ---------------------------------------------------------------------------
# q73 — the v_liquidity_pool_value TVL mart through the REAL view code
# (views/marts.py::liquidity_pool_value): per-pool legs valued at the
# LATEST asset price (rank()=1 per asset), native legs at face value,
# the latest XLM/USD price cross-joined onto every pool (:74-80).
# Static 24-pool dimension (some deleted, some native legs, some codes
# with no price -> COALESCE 0) x the q71-derived price series.
# ---------------------------------------------------------------------------


def q73_liquidity_pool_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..views.marts import liquidity_pool_value

    (ev,) = tables(spark, sf_dir, "events")
    i = F.col("id")
    pools = spark.range(24).select(
        F.concat(F.lit("LP"), i.cast("string")).alias("liquidity_pool_id"),
        F.when(i % 4 == 0, F.lit("native")).otherwise(F.lit("credit_alphanum4")).alias(
            "asset_a_type"
        ),
        F.when(i % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("AST"), (i % 6).cast("string")))
        .alias("asset_a_code"),
        F.when(i % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("I"), (i % 6).cast("string")))
        .alias("asset_a_issuer"),
        F.lit("credit_alphanum4").alias("asset_b_type"),
        F.concat(F.lit("AST"), (i % 5).cast("string")).alias("asset_b_code"),
        F.concat(F.lit("I"), (i % 5).cast("string")).alias("asset_b_issuer"),
        (F.lit(100.0) + i * 7).alias("asset_a_amount"),
        (F.lit(50.0) + i * 3).alias("asset_b_amount"),
        (i % 6 == 0).alias("deleted"),
        F.concat(
            F.lit("AST"), (i % 6).cast("string"), F.lit(":"), F.lit("AST"), (i % 5).cast("string")
        ).alias("asset_pair"),
    )
    prices_xlm, prices_usd = _price_inputs(ev)
    return liquidity_pool_value(pools, prices_xlm, prices_usd)


Q73_SQL = f"""
WITH pools AS (
  SELECT 'LP' || CAST(i AS VARCHAR) AS liquidity_pool_id,
         CASE WHEN i % 4 = 0 THEN 'native' ELSE 'credit_alphanum4' END AS asset_a_type,
         CASE WHEN i % 4 = 0 THEN NULL ELSE 'AST' || CAST(i % 6 AS VARCHAR) END AS asset_a_code,
         CASE WHEN i % 4 = 0 THEN NULL ELSE 'I' || CAST(i % 6 AS VARCHAR) END AS asset_a_issuer,
         'AST' || CAST(i % 5 AS VARCHAR) AS asset_b_code,
         'I' || CAST(i % 5 AS VARCHAR) AS asset_b_issuer,
         100.0 + i * 7 AS asset_a_amount,
         50.0 + i * 3 AS asset_b_amount,
         (i % 6 = 0) AS deleted,
         'AST' || CAST(i % 6 AS VARCHAR) || ':' || 'AST' || CAST(i % 5 AS VARCHAR) AS asset_pair
  FROM range(24) t(i)
),
{_PRICE_CTES_INNER},
latest AS (
  SELECT p_code, p_issuer, price AS price_in_xlm FROM (
    SELECT p_code, p_issuer, price,
           rank() OVER (PARTITION BY p_code, p_issuer ORDER BY p_ts DESC) AS rnk
    FROM px
  ) WHERE rnk = 1
),
xlm AS (
  SELECT x_price AS xlm_price_usd FROM (
    SELECT x_price, row_number() OVER (ORDER BY x_ts DESC) AS rn FROM pu
  ) WHERE rn = 1
),
vals AS (
  SELECT p.liquidity_pool_id, p.asset_pair,
         CASE WHEN p.asset_a_type = 'native' THEN p.asset_a_amount
              ELSE p.asset_a_amount * coalesce(pa.price_in_xlm, 0) END AS asset_a_value_xlm,
         p.asset_b_amount * coalesce(pb.price_in_xlm, 0) AS asset_b_value_xlm
  FROM pools p
  LEFT JOIN latest pa ON p.asset_a_code = pa.p_code AND p.asset_a_issuer = pa.p_issuer
  LEFT JOIN latest pb ON p.asset_b_code = pb.p_code AND p.asset_b_issuer = pb.p_issuer
  WHERE NOT p.deleted
)
SELECT liquidity_pool_id, asset_pair, asset_a_value_xlm, asset_b_value_xlm,
       x.xlm_price_usd,
       asset_a_value_xlm * x.xlm_price_usd AS asset_a_usd_value,
       asset_b_value_xlm * x.xlm_price_usd AS asset_b_usd_value,
       asset_a_value_xlm * x.xlm_price_usd + asset_b_value_xlm * x.xlm_price_usd
         AS total_value_locked
FROM vals CROSS JOIN xlm x
"""

SPECS["q73_liquidity_pool_value"] = QuerySpec(
    q73_liquidity_pool_value,
    Q73_SQL,
    "v_liquidity_pool_value TVL: latest-price rank()=1 valuation, native face value, XLM/USD cross join",
)


# ---------------------------------------------------------------------------
# q74 — the v_relevant_asset_trades mart through the REAL view code
# (views/marts.py::relevant_asset_trades): both legs must be meaningful
# (broadcast semi via left-join + IS NOT NULL) or native, three as-of
# joins USD-value each leg, AMM/DEX tag from the pool id (:6-27,75).
# Derived trades include junk-asset legs (dropped), native legs, and
# NULL pools so every branch executes. Oracle uses ASOF LEFT JOINs
# (see Q71_SQL's note on the DuckDB IE-join wedge).
# ---------------------------------------------------------------------------


def q74_relevant_asset_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..views.marts import relevant_asset_trades

    (ev,) = tables(spark, sf_dir, "events")
    sell_native = F.col("user_id") % 4 == 0
    buy_native = F.col("event_id") % 2 == 0
    amm = F.col("event_id") % 3 != 0
    trades = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("history_operation_id"),
        (F.col("event_id") % 3).alias("order"),
        F.col("ts").alias("ledger_closed_at"),
        F.concat(F.lit("S"), F.col("user_id").cast("string")).alias("selling_account_address"),
        F.when(sell_native, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("AST"), (F.col("user_id") % 6).cast("string")))
        .alias("selling_asset_code"),
        F.when(sell_native, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("I"), (F.col("user_id") % 6).cast("string")))
        .alias("selling_asset_issuer"),
        F.when(sell_native, F.lit("native")).otherwise(F.lit("credit_alphanum4")).alias(
            "selling_asset_type"
        ),
        (F.col("value") * 2).alias("selling_amount"),
        F.concat(F.lit("B"), F.col("user_id").cast("string")).alias("buying_account_address"),
        F.when(buy_native, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("AST"), (F.col("event_id") % 5).cast("string")))
        .alias("buying_asset_code"),
        F.when(buy_native, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("I"), (F.col("event_id") % 5).cast("string")))
        .alias("buying_asset_issuer"),
        F.when(buy_native, F.lit("native")).otherwise(F.lit("credit_alphanum4")).alias(
            "buying_asset_type"
        ),
        F.col("value").alias("buying_amount"),
        (F.lit(1) + F.col("event_id") % 7).alias("price_n"),
        (F.lit(1) + F.col("event_id") % 5).alias("price_d"),
        F.when(amm, F.concat(F.lit("LP"), (F.col("user_id") % 8).cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("selling_liquidity_pool_id"),
        F.when(amm, F.lit(30).cast("long")).otherwise(F.lit(None).cast("long")).alias(
            "liquidity_pool_fee"
        ),
    )
    meaningful = spark.range(4).select(
        F.concat(F.lit("AST"), F.col("id").cast("string")).alias("code"),
        F.concat(F.lit("I"), F.col("id").cast("string")).alias("issuer"),
    )
    prices_xlm, prices_usd = _price_inputs(ev)
    return relevant_asset_trades(trades, meaningful, prices_xlm, prices_usd)


Q74_SQL = f"""
WITH trades AS (
  SELECT event_id AS history_operation_id,
         event_id % 3 AS "order",
         ts AS ledger_closed_at,
         'S' || CAST(user_id AS VARCHAR) AS selling_account_address,
         CASE WHEN user_id % 4 = 0 THEN NULL
              ELSE 'AST' || CAST(user_id % 6 AS VARCHAR) END AS selling_asset_code,
         CASE WHEN user_id % 4 = 0 THEN NULL
              ELSE 'I' || CAST(user_id % 6 AS VARCHAR) END AS selling_asset_issuer,
         CASE WHEN user_id % 4 = 0 THEN 'native' ELSE 'credit_alphanum4' END AS selling_asset_type,
         value * 2 AS selling_amount,
         'B' || CAST(user_id AS VARCHAR) AS buying_account_address,
         CASE WHEN event_id % 2 = 0 THEN NULL
              ELSE 'AST' || CAST(event_id % 5 AS VARCHAR) END AS buying_asset_code,
         CASE WHEN event_id % 2 = 0 THEN NULL
              ELSE 'I' || CAST(event_id % 5 AS VARCHAR) END AS buying_asset_issuer,
         CASE WHEN event_id % 2 = 0 THEN 'native' ELSE 'credit_alphanum4' END AS buying_asset_type,
         value AS buying_amount,
         1 + event_id % 7 AS price_n,
         1 + event_id % 5 AS price_d,
         CASE WHEN event_id % 3 <> 0 THEN 'LP' || CAST(user_id % 8 AS VARCHAR)
              ELSE NULL END AS selling_liquidity_pool_id,
         CASE WHEN event_id % 3 <> 0 THEN CAST(30 AS BIGINT)
              ELSE NULL END AS liquidity_pool_fee
  FROM events WHERE event_type = 'purchase'
),
meaningful AS (
  SELECT 'AST' || CAST(i AS VARCHAR) AS m_code, 'I' || CAST(i AS VARCHAR) AS m_issuer
  FROM range(4) t(i)
),
kept AS (
  SELECT t.* FROM trades t
  WHERE (t.selling_asset_type = 'native' OR EXISTS (
           SELECT 1 FROM meaningful m
           WHERE t.selling_asset_code = m.m_code AND t.selling_asset_issuer = m.m_issuer))
    AND (t.buying_asset_type = 'native' OR EXISTS (
           SELECT 1 FROM meaningful m
           WHERE t.buying_asset_code = m.m_code AND t.buying_asset_issuer = m.m_issuer))
),
{_PRICE_CTES_INNER},
j1 AS (
  SELECT k.*, c.price AS c_price
  FROM kept k ASOF LEFT JOIN px c
    ON k.selling_asset_code = c.p_code AND k.selling_asset_issuer = c.p_issuer
   AND k.ledger_closed_at >= c.p_ts
),
j2 AS (
  SELECT j1.*, d.price AS d_price
  FROM j1 ASOF LEFT JOIN px d
    ON j1.buying_asset_code = d.p_code AND j1.buying_asset_issuer = d.p_issuer
   AND j1.ledger_closed_at >= d.p_ts
),
j AS (
  SELECT j2.*, x.x_price
  FROM j2 ASOF LEFT JOIN pu x ON j2.ledger_closed_at >= x.x_ts
)
SELECT ledger_closed_at, selling_account_address, selling_asset_code,
       selling_asset_issuer, selling_asset_type, selling_amount,
       CASE WHEN selling_asset_type = 'native'
            THEN selling_amount * coalesce(x_price, 0)
            ELSE selling_amount * coalesce(x_price, 0) * coalesce(c_price, 0)
       END AS selling_amount_usd,
       buying_account_address, buying_asset_code, buying_asset_issuer,
       buying_asset_type, buying_amount,
       CASE WHEN buying_asset_type = 'native'
            THEN buying_amount * coalesce(x_price, 0)
            ELSE buying_amount * coalesce(x_price, 0) * coalesce(d_price, 0)
       END AS buying_amount_usd,
       price_n, price_d, selling_liquidity_pool_id, liquidity_pool_fee,
       CASE WHEN selling_liquidity_pool_id IS NOT NULL THEN 'AMM' ELSE 'DEX' END AS trade_type
FROM j
"""

SPECS["q74_relevant_asset_trades"] = QuerySpec(
    q74_relevant_asset_trades,
    Q74_SQL,
    "v_relevant_asset_trades: dual semi-gates, three as-of USD valuations, AMM/DEX tag",
)
