"""Scalable as-of (temporal) join.

The reference expresses as-of joins as LEAD()-built validity windows plus a
range join (v_liquidity_pool_trade_volume.sql:31-54,88-95 — see
``queries/relational.py::q07`` and ``views/marts.py``). That formulation is
ideal when the price/dimension side is broadcastable, but at 100 TB with a
LARGE right side the range join degenerates: Catalyst plans a
BroadcastNestedLoopJoin or an exploded theta join, both quadratic per key.

:func:`asof_join` is the scale path: tag both sides, union, then one
running ``last(value, ignorenulls=True)`` window per key. Cost = ONE
shuffle + sort of |L|+|R| rows, no pair blow-up, AQE-skew-splittable, and
the window spills, so a hot key never has to fit in memory. This is how
as-of joins are done on billions-of-rows-per-side (the same plan Flink's
temporal join and kdb's aj compile to).

- ``direction="backward"`` (default): the latest right row with
  ``r.ts <= l.ts``, matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``
  (the corpus oracle for q27) and the reference's ``valid_from <= t``.
- ``direction="forward"``: the earliest right row with ``r.ts >= l.ts`` —
  the same window run over ``ts DESC``.
- ``tolerance``: a match older (backward) or newer (forward) than the left
  row by more than this ``timedelta`` reads NULL. The bound is inclusive,
  as in ``pandas.merge_asof``, and never falls back to another row.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE, _ATS = "_asof_side", "_asof_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] | None = None,
    tiebreak_cols: Sequence[str] = (),
    direction: str = "backward",
    tolerance: timedelta | None = None,
) -> DataFrame:
    """As-of LEFT join: for each left row, attach ``value_cols`` from the
    latest right row with ``right_ts <= left_ts`` (``direction="backward"``)
    or the earliest with ``right_ts >= left_ts`` (``"forward"``), same key;
    NULL if none, or if that row is further than ``tolerance`` from the
    left row. Right rows sharing one (key, ts): backward takes the greatest
    ``tiebreak_cols``, forward the smallest (pass the right side's sequence
    column to make ties deterministic).

    Plan shape: unionByName -> single hash exchange on the key -> per-key
    sort -> running last(). No range predicate ever reaches a join operator.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join: direction must be 'backward' or 'forward', got {direction!r}")
    if tolerance is not None and tolerance < timedelta(0):
        raise ValueError(f"asof_join: tolerance must not be negative, got {tolerance!r}")
    keys = [on] if isinstance(on, str) else list(on)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c not in set(keys) | {right_ts}
    ]
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"asof_join: value_cols collide with left columns: {sorted(overlap)}")

    # All value columns ride in ONE struct so a single right row wins
    # atomically: filling each column independently with last(ignorenulls)
    # would let a NULL value in the latest matching row silently fall back
    # to an older row, and could mix values from different right rows.
    # The struct itself is non-null for every right row, so genuine NULLs
    # inside it survive — matching the DuckDB ASOF oracle semantics. With a
    # tolerance the matched right ts rides along to bound the distance.
    packed = [F.col(c) for c in value_cols]
    if tolerance is not None:
        packed.append(F.col(right_ts).alias(_ATS))
    r = right.select(
        *keys,
        F.col(right_ts).alias(_ATS),
        F.lit(0).alias(_SIDE),
        F.struct(*packed).alias("_r_pack"),
        *[F.col(c).alias(f"_tb_{c}") for c in tiebreak_cols],
    )
    lft = left.select("*", F.col(left_ts).alias(_ATS), F.lit(1).alias(_SIDE))
    u = lft.unionByName(r, allowMissingColumns=True)

    # right rows sort BEFORE left rows at equal ts (inclusive match); among
    # right ties the winning tiebreak lands last and wins last(): backward
    # runs ts ascending (greatest tiebreak last), forward runs ts descending
    # (smallest tiebreak last). A NULL tiebreak never beats a set one.
    if direction == "backward":
        order = [F.col(_ATS).asc(), F.col(_SIDE).asc()] + [
            F.col(f"_tb_{c}").asc_nulls_first() for c in tiebreak_cols
        ]
    else:
        order = [F.col(_ATS).desc(), F.col(_SIDE).asc()] + [
            F.col(f"_tb_{c}").desc_nulls_first() for c in tiebreak_cols
        ]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = u.withColumn("_pack", F.last("_r_pack", ignorenulls=True).over(w))
    if tolerance is not None:
        matched_ts, tol = F.col("_pack").getField(_ATS), F.lit(tolerance)
        near = (
            matched_ts >= F.col(_ATS) - tol if direction == "backward" else matched_ts <= F.col(_ATS) + tol
        )
        filled = filled.withColumn("_pack", F.when(near, F.col("_pack")))
    return filled.filter(F.col(_SIDE) == 1).select(
        *left.columns,
        *[F.col("_pack").getField(c).alias(c) for c in value_cols],
    )
