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
import importlib
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACC: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
DEPTH = [0]


# Engine functions wrapped with timers: module (under the package) ->
# attribute names, dotted for class members. A name that no longer
# resolves raises, so a rename cannot drop out of the profile unnoticed.
WRAPPED: dict[str, tuple[str, ...]] = {
    "sinks.snapshots": (
        "overwrite_versioned", "append_versioned", "append_versioned_rows",
        "compact_snapshot", "compact_small_files", "compute_blooms",
        "_file_stats", "read_snapshot", "scan_snapshot", "read_manifest",
        "delete_where_dv", "vacuum", "adopt_staged", "_shard_stats",
        "load_table_props", "Txn.commit",
    ),
    "operators.merge": ("apply_changes",),
    "operators.additive_mor": ("read_additive", "write_delta", "write_delta_rows", "fold_additive"),
    "training.dedup": ("_minhash_bands", "_minhash_sig_frame"),
}


def resolve(mod_name: str, attr: str):
    """``(owner, name, fn)`` for ``attr`` in ``stellar_etl_airflow_spark.<mod_name>``;
    raises AttributeError when it is gone or not callable."""
    owner = importlib.import_module(f"stellar_etl_airflow_spark.{mod_name}")
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part, None)
    fn = getattr(owner, name, None)
    if not callable(fn):
        raise AttributeError(f"{mod_name}.{attr} does not resolve to a callable")
    return owner, name, fn


def _wrap(mod_name: str, attr: str) -> None:
    owner, name, fn = resolve(mod_name, attr)
    label = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"

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

    setattr(owner, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    from stellar_etl_airflow_spark.session import get_spark

    spark = get_spark("trace-profile", warm_ds=True)
    spark.sparkContext.setLogLevel("ERROR")

    for mod_name, attrs in WRAPPED.items():
        for attr in attrs:
            _wrap(mod_name, attr)

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
