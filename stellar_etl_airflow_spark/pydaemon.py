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

A second per-task cost has nothing to do with imports. Every task starts
in ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes every
``zipimporter`` re-parse its archive's whole central directory. A forked
worker holds 16 of them under ``pyspark.zip`` (one per package
directory, 1,328 entries each). Under cProfile that call took 0.56-0.82 s
per task, nearly all of it in ``zipimport._read_directory``; unprofiled,
a trivial one-partition Python job took 0.23-0.25 s against ~0.05 s for
a JVM job, and 0.08-0.10 s with the guard below (4 cores, r17).
``_skip_unchanged_zip_rereads`` guards the re-read: an importer whose
archive still has the ``(st_ino, st_mtime_ns, st_size)`` it was read at
keeps the directory on record. A new or rewritten archive still
re-reads, so a zip shipped or replaced mid-session is seen as before.
The daemon calls ``importlib.invalidate_caches()`` once after the
preload, so every forked worker inherits the keys of the archives it
already holds.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> ((st_ino, st_mtime_ns, st_size), directory) as last read
_read_dirs: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _skip_unchanged_zip_rereads() -> None:
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        seen = _read_dirs.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            # unchanged since read; another importer of this archive may
            # already have re-read it, so take the directory on record
            self._files = seen[1]
            return
        # the key is taken BEFORE the read: an archive rewritten during
        # it records the older key, so the next call reads it again
        reread(self)
        if key is not None:
            _read_dirs[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


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


_skip_unchanged_zip_rereads()
_preload()
# read every archive the preload left on the path once, here, so each
# forked worker inherits its key and its first invalidate_caches() skips it
importlib.invalidate_caches()

# pyspark.daemon reads sys.argv at import time to resolve the worker
# module, then ``manager()`` runs the fork-serve loop — identical
# behavior to ``python -m pyspark.daemon``, just with a warm heap.
from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
