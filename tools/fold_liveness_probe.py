"""Fold-vs-writer liveness probe (r11, VERDICT r10 ask #6).

Question: can ``fold_additive`` livelock under sustained append
pressure? The CAS-guarded fold always loses to a concurrently landed
delta, and r10's implementation delegated the retry to callers — in
theory a busy counter table never folds and read cost grows without
bound.

r11's answer is structural: the fold pins the manifest version it read
and REBASES over pure-append losses (``folded(files@v)`` + the delta
files landed since v is exactly correct — addition commutes and delta
files are disjoint), so a lost CAS costs one manifest read, never a
re-aggregation. This probe measures it:

- W appender threads write continuous 64-key +1 deltas (unique txn ids)
  with NO sleep — saturating pressure — for a fixed duration;
- one folder thread folds in a tight loop (small sleep), recording per
  attempt: landed / raised, wall, and the publish-level CAS losses the
  rebase absorbed;
- one vacuumer prunes on cadence (keep_versions=16, above any writer's
  read lag);
- after the storm: exactness (every key == total deltas landed), file
  liveness, fsck, and the ledger carrying every submitted txn that is
  still within retained versions.

PASS = zero errors, counters exact, folds_landed >= 1 DURING the
pressure window (liveness), zero budget exhausts (pure appends never
force a re-fold), no missing live files.

Usage: python tools/fold_liveness_probe.py [SECONDS] [WRITERS]
(defaults 20 s, 6 writers). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stellar_etl_airflow_spark.operators import additive_mor as AM  # noqa: E402
from stellar_etl_airflow_spark.sinks import snapshots as S  # noqa: E402
from stellar_etl_airflow_spark.session import get_spark  # noqa: E402

N_KEYS = 64


def main():
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 20.0
    writers = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark("fold-liveness-probe")

    # count the publish CAS losses the fold's rebase loop absorbs
    real_commit_once = S.Txn._commit_once
    lock = threading.Lock()
    stats = {"fold_cas_losses": 0}

    def counting_commit_once(self, op, info):
        try:
            return real_commit_once(self, op, info)
        except S.ConcurrentWriteError:
            if op == "fold":
                with lock:
                    stats["fold_cas_losses"] += 1
            raise

    S.Txn._commit_once = counting_commit_once
    try:
        with tempfile.TemporaryDirectory() as root:
            tbl = os.path.join(root, "mor")
            seed = spark.range(N_KEYS).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("n")
            )
            AM.write_delta(spark, seed, tbl, ("k",), ("n",), txn_id="seed")

            stop = threading.Event()
            errs: list[str] = []
            landed_per_writer = [0] * writers
            fold_log: list[dict] = []

            def appender(w):
                def run():
                    r = 0
                    batch = spark.range(N_KEYS).select(
                        F.col("id").alias("k"), F.lit(1).cast("long").alias("n")
                    )
                    while not stop.is_set():
                        try:
                            AM.write_delta(
                                spark, batch, tbl, ("k",), ("n",),
                                txn_id=f"w{w}-r{r}",
                            )
                            landed_per_writer[w] += 1
                            r += 1
                        except Exception as e:  # noqa: BLE001 - probe report
                            errs.append(f"w{w}: {type(e).__name__}: {e}")
                            return

                return run

            def folder():
                while not stop.is_set():
                    t0 = time.monotonic()
                    try:
                        v, n = AM.fold_additive(spark, tbl)
                        fold_log.append(
                            {"ok": True, "v": v, "rows": n,
                             "wall": round(time.monotonic() - t0, 3)}
                        )
                    except S.ConcurrentWriteError as e:
                        fold_log.append(
                            {"ok": False, "err": str(e)[:80],
                             "wall": round(time.monotonic() - t0, 3)}
                        )
                    except Exception as e:  # noqa: BLE001 — a dead folder
                        # thread must read as a failure, not as zero
                        # attempts (the r11 ops-walk/vacuum bug hid this
                        # way: the first fold raised FileNotFoundError
                        # and the probe reported folds_attempted=0)
                        errs.append(f"folder: {type(e).__name__}: {e}")
                        fold_log.append(
                            {"ok": False, "err": f"{type(e).__name__}: {e}"[:80],
                             "wall": round(time.monotonic() - t0, 3)}
                        )
                        return
                    time.sleep(0.2)

            def vacuumer():
                while not stop.is_set():
                    S.vacuum(tbl, keep_versions=16)
                    time.sleep(0.3)

            app_threads = [
                threading.Thread(target=appender(w)) for w in range(writers)
            ]
            maint = [threading.Thread(target=f) for f in (folder, vacuumer)]
            t0 = time.monotonic()
            [t.start() for t in app_threads]
            [t.start() for t in maint]
            time.sleep(seconds)
            stop.set()
            [t.join() for t in app_threads]
            [t.join() for t in maint]
            wall = time.monotonic() - t0

            # final clean fold, then exactness
            AM.fold_additive(spark, tbl)
            got = {r["k"]: r["n"] for r in AM.read_additive(spark, tbl).collect()}
            total = sum(landed_per_writer)
            want = {k: total for k in range(N_KEYS)}
            m = S.read_manifest(tbl, resolve=False)
            missing = [f for f in m["files"] if not os.path.exists(f)]
            fsck = S.fsck_repair(tbl, dry_run=True)

            folds_ok = [f for f in fold_log if f["ok"]]
            folds_raised = [f for f in fold_log if not f["ok"]]
            # a fold that returned more rows than keys carried rebased-in
            # delta files (every delta batch is N_KEYS rows here, so
            # rows = 64 * (1 + deltas_absorbed))
            folds_rebased = sum(1 for f in folds_ok if f["rows"] > N_KEYS)
            deltas_rebased_in = sum(
                (f["rows"] - N_KEYS) // N_KEYS for f in folds_ok
            )
            out = {
                "probe": "fold_liveness",
                "seconds": seconds,
                "writers": writers,
                "wall_s": round(wall, 2),
                "deltas_landed": total,
                "errors": errs,
                "counters_exact": got == want,
                "folds_attempted": len(fold_log),
                "folds_landed": len(folds_ok),
                "folds_raised": len(folds_raised),
                "folds_rebased": folds_rebased,
                "deltas_rebased_in": deltas_rebased_in,
                "fold_publish_cas_losses": stats["fold_cas_losses"],
                "fold_walls": [f["wall"] for f in folds_ok][:20],
                "max_fold_wall": max((f["wall"] for f in folds_ok), default=None),
                "missing_live_files": len(missing),
                "fsck_findings": len(fsck),
            }
            ok = (
                not errs
                and out["counters_exact"]
                and out["folds_landed"] >= 1
                and out["folds_raised"] == 0
                and out["missing_live_files"] == 0
                and out["fsck_findings"] == 0
            )
            out["ok"] = ok
            print(json.dumps(out))
            sys.exit(0 if ok else 1)
    finally:
        S.Txn._commit_once = real_commit_once


if __name__ == "__main__":
    main()
