"""Where does a heavy entry's wall go? Wrap the engine's protocol-layer
functions with timers, run the entry, print per-function (calls, total s).

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/trace_profile.py q61_zorder_optimize [more...]

Guide §1 (measure first): this attributes an entry's wall to the
manifest/publish/stats layer vs the Spark jobs themselves before any
optimization is attempted. Each entry is run twice; the second (warm)
run's attribution is printed, so one-time session costs don't pollute.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACC: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
DEPTH = [0]


def _wrap(mod, name: str, label: str):
    fn = getattr(mod, name, None)
    if fn is None or not callable(fn):
        return

    @functools.wraps(fn)
    def timed(*a, **k):
        DEPTH[0] += 1
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            dt = time.perf_counter() - t0
            DEPTH[0] -= 1
            acc = ACC[label]
            acc[0] += 1
            # only top-level protocol calls accumulate wall, so nested
            # calls (publish inside append) don't double-count
            if DEPTH[0] == 0:
                acc[1] += dt
            else:
                ACC["  (nested) " + label][0] += 1
                ACC["  (nested) " + label][1] += dt

    setattr(mod, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    from stellar_etl_airflow_spark.session import get_spark

    spark = get_spark("trace-profile", warm_ds=True)
    spark.sparkContext.setLogLevel("ERROR")

    from stellar_etl_airflow_spark.operators import additive_mor, merge
    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.training import dedup

    for fname in (
        "overwrite_versioned", "append_versioned", "append_versioned_rows",
        "compact_snapshot", "compact_small_files", "compute_blooms",
        "_file_stats", "read_snapshot", "scan_snapshot", "read_manifest",
        "delete_where_dv", "vacuum", "adopt_staged", "_shard_stats",
        "load_table_props",
    ):
        _wrap(S, fname, f"snapshots.{fname}")
    _wrap(S.Txn, "commit", "snapshots.Txn.commit")
    _wrap(merge, "apply_changes", "merge.apply_changes")
    for fname in ("read_additive", "append_additive"):
        _wrap(additive_mor, fname, f"additive_mor.{fname}")
    for fname in ("_minhash_bands", "minhash_signatures"):
        _wrap(dedup, fname, f"dedup.{fname}")

    # late import so the wrapped module attributes are what entries bind
    from stellar_etl_airflow_spark.queries import QUERIES

    for name in names:
        spec = QUERIES[name]
        for rnd in ("cold", "warm"):
            for k in list(ACC):
                ACC[k] = [0, 0.0]
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            if rnd == "cold":
                print(f"== {name} cold wall {wall:.2f}s", flush=True)
                continue
            print(f"== {name} warm wall {wall:.2f}s", flush=True)
            traced = 0.0
            for label, (calls, tot) in sorted(ACC.items(), key=lambda x: -x[1][1]):
                if tot < 0.005:
                    continue
                print(f"   {tot:7.2f}s  x{calls:<4d} {label}", flush=True)
                if not label.startswith("  (nested)"):
                    traced += tot
            print(f"   {traced:7.2f}s traced / {wall:.2f}s wall "
                  f"({wall - traced:.2f}s untraced = entry-local Spark jobs)", flush=True)


if __name__ == "__main__":
    main()
