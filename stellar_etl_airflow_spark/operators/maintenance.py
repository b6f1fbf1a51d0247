"""Table maintenance: small-file compaction with optional sort clustering.

A 10-minute ingest cadence (history_tables_dag.py:43) writing per-batch
partitions produces thousands of small parquet files per month at 100 TB —
the classic lake small-file problem: scan tasks go seek-bound and the
name-node/listing cost dominates planning. BigQuery hides this behind its
managed storage; on parquet it is an explicit maintenance job (the
OPTIMIZE/compaction analog of Delta/Iceberg, which are absent in this
container by design — see README).

``compact_table`` walks the physical partition tree to its leaf
directories (e.g. ``_p=2024-01/batch_id=.../``), and rewrites each leaf
whose file count exceeds the bin-packed target, sized from the leaf's
actual bytes. Optional ``sort_cols`` applies ``sortWithinPartitions``
(z-order-lite clustering: range-correlated columns end up co-located, so
min/max row-group pruning works after compaction). Each leaf rewrite is
atomic via the sibling-rename swap of ``safe_overwrite``, so a crash
mid-compaction never loses a partition (``Warehouse.recover``). This is
for PLAIN parquet directories only; snapshot tables are refused and
compact with ``snapshots.compact_snapshot``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from ..sinks.snapshots import latest_version
from .merge import safe_overwrite


def _leaf_dirs(root: str) -> list[str]:
    leaves = []
    for dirpath, _dirnames, filenames in os.walk(root):
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return sorted(leaves)


def _dir_stats(leaf: str) -> tuple[int, int]:
    files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(leaf, f)) for f in files)
    return len(files), size


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_cols: tuple[str, ...] = (),
    min_files: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact every leaf partition directory of ``path`` down to
    ``ceil(bytes / target_file_mb)`` files. Leaves with fewer than
    ``min_files`` files are left untouched. Returns
    ``{leaf: (files_before, files_after)}`` for the rewritten leaves.

    Raises ``ValueError`` on a manifest-snapshot table: an in-place
    rewrite would delete files every published manifest lists.
    ``snapshots.compact_snapshot`` is the OPTIMIZE for those."""
    if latest_version(path) is not None:
        raise ValueError(
            f"{path} is a snapshot table; compact it with "
            "snapshots.compact_snapshot (an in-place rewrite would delete "
            "files its manifests list)"
        )
    results: dict[str, tuple[int, int]] = {}
    target = target_file_mb * 1024 * 1024
    for leaf in _leaf_dirs(path):
        n_files, size = _dir_stats(leaf)
        n_target = max(1, math.ceil(size / target))
        if n_files < min_files or n_target >= n_files:
            continue
        df = spark.read.parquet(leaf).repartition(n_target)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        safe_overwrite(spark, df, leaf)
        results[leaf] = (n_files, _dir_stats(leaf)[0])
    return results
