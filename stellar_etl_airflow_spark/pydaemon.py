"""Preloaded Python worker daemon (guide §4.5, applied at the process
level): ``spark.python.daemon.module`` pointing here makes every forked
worker inherit the heavyweight imports below via fork copy-on-write,
instead of paying them per fresh worker.

Why this matters: ``pyspark.daemon`` imports only the worker module
(``pyspark.worker`` / the ``pyspark.sql.worker.*`` planners) before its
fork loop. The first thing most of our forked workers then do is
unpickle a function whose module graph pulls in pyarrow (every Arrow
batch exchange), pandas/numpy (mapInPandas stages) and this engine's
connector module — measured at 0.3-0.6 s of import latency PER FRESH
WORKER on this host (``git show b7fa307:tools/pooled_bisect.py``, r13).
A corpus entry whose plan runs a handful of Python-exchanging stages forks tens of workers,
so the import tax dominates the entry's wall (q56: 210 s task wall,
10 s task CPU — the difference was almost entirely worker imports).

At 100 TB the same tax appears on every executor whose worker pool
grows (scale-out multiplies fresh forks); preloading in the daemon is
the standard fix and costs only daemon RSS (~200 MB once per executor,
shared copy-on-write with all its workers).

The module must stay import-safe in a bare interpreter: it runs as
``python -m stellar_etl_airflow_spark.pydaemon <worker module>`` with
the repo root as cwd (local mode) or shipped via --py-files (cluster
mode). Preload failures are non-fatal: a missing optional library just
means workers pay its import themselves, exactly as without this
module.
"""

from __future__ import annotations


def _preload() -> None:
    # Ordered roughly by measured import cost; each guarded so a broken
    # or absent optional dependency can never take the daemon down.
    mods = (
        # every Arrow exchange (mapInArrow / mapInPandas / Python DS)
        "pyarrow",
        "pyarrow.parquet",
        "pyarrow.compute",
        # pandas-exchanging stages and their serializers
        "numpy",
        "pandas",
        "pyspark.sql.pandas.serializers",
        "pyspark.sql.pandas.types",
        # the engine's worker-side module graph: the snapshot connector's
        # read/write/stream functions unpickle by reference into these
        "stellar_etl_airflow_spark.sources.snapshot_source",
        "stellar_etl_airflow_spark.sources.cdf_source",
        "stellar_etl_airflow_spark.sinks.snapshots",
    )
    for name in mods:
        try:
            __import__(name)
        except Exception:  # noqa: BLE001 - preload is best-effort by design
            pass


_preload()

# pyspark.daemon reads sys.argv at import time to resolve the worker
# module, then ``manager()`` runs the fork-serve loop — identical
# behavior to ``python -m pyspark.daemon``, just with a warm heap.
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
