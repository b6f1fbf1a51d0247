"""applyInPandasWithState: state persists across separate AvailableNow
runs through the checkpoint."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from stellar_etl_airflow_spark.streaming import microbatch as MB
from stellar_etl_airflow_spark.streaming.stateful import running_counts

SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
)


def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _run(spark, landing, out, ckpt):
    stream = MB.stream_ndjson(spark, landing, SCHEMA)

    # update-mode stateful output needs an update-capable sink: foreachBatch
    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        running_counts(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_state_across_runs(spark, tmp_path):
    landing, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write(os.path.join(landing, "b1.txt"), [{"user_id": 1, "value": 2.0}, {"user_id": 1, "value": 3.0}, {"user_id": 2, "value": 1.0}])
    _run(spark, landing, out, ckpt)
    first = {r["key"]: r for r in spark.read.parquet(out).collect()}
    assert first[1]["n_events"] == 2 and first[1]["total_value"] == 5.0
    assert first[2]["n_events"] == 1

    # second run: state restored from checkpoint, counts accumulate
    _write(os.path.join(landing, "b2.txt"), [{"user_id": 1, "value": 10.0}])
    _run(spark, landing, out, ckpt)
    rows = spark.read.parquet(out).collect()
    latest_u1 = max((r for r in rows if r["key"] == 1), key=lambda r: r["n_events"])
    assert latest_u1["n_events"] == 3 and latest_u1["total_value"] == 15.0
