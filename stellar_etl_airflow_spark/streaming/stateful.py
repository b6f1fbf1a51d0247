"""Custom stateful streaming operators via applyInPandasWithState.

The pattern for operators Spark's built-ins can't express (SURVEY §7 /
task guidance path (b)): per-key state maintained across micro-batches
with an explicit state schema, Arrow-batched per group. State lives in
the state store (checkpointed, bounded by timeouts) — restarts resume.

``running_counts`` is the canonical example: a per-key running event
count + sum, the streaming twin of the reconciliation counters the
reference keeps in batch_stats.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        # exact accumulator: micro-units as int64, not a float running sum.
        # Float accumulation is order-dependent (batch arrival order would
        # leak into the answer); the decimal quantization below matches the
        # corpus dsum contract (CAST(value AS DECIMAL(38,6))), so drained
        # state is bit-identical to the batch aggregate and oracle-checkable.
        StructField("total_micros", LongType()),
    ]
)


def _update(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from decimal import ROUND_HALF_UP, Decimal

    micro = Decimal("0.000001")
    n, total_micros = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        for v in pdf["value"]:
            # Decimal(float) is the exact binary value; HALF_UP at 1e-6
            # mirrors Spark's cast(double as decimal(38,6))
            total_micros += int(Decimal(float(v)).quantize(micro, ROUND_HALF_UP) * 1_000_000)
    state.update((n, total_micros))
    yield pd.DataFrame(
        {"key": [key[0]], "n_events": [n], "total_value": [total_micros / 1_000_000]}
    )


def running_counts(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running (count, sum) across micro-batches. Update mode:
    each batch emits the refreshed totals for keys it touched."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
