"""Concurrency storm for the snapshot state plane (r10, VERDICT r9 ask
#5): N=8 mixed writers hammer ONE table per combine family and the
invariants are checked AFTER the storm, with retry counts recorded.

The engine pins a state table to one combine family at creation
(``_props.json``: additive vs upsert), so "mixed" means mixed WRITER
ROLES, not mixed combines on one table — two storms run:

- **additive storm** (worst case: every writer touches EVERY bucket):
  6 additive mergers (each does R rounds of +1 over the same 64 keys,
  unique txn_id per (writer, round)) + 1 compactor (loops
  ``compact_snapshot``) + 1 vacuumer (loops ``vacuum``). Ledger
  exactness is EXACT: every key must end at 6*R — any lost, doubled,
  or partially-applied batch breaks it. Losses to the COMPACTOR resolve
  as manifest-level rebases (no recompute); losses to a peer MERGE
  (overlapping buckets) recompute — both counted via
  ``merge.MERGE_STATS``.
- **disjoint additive storm** (the realistic multi-pipeline shard
  shape): each merger owns its own bucket set, so merger-vs-merger CAS
  losses are bucket-disjoint and ALSO rebase without recompute — this
  is the shape where the r10 conflict resolution turns N-writer
  contention from quadratic recompute into cheap manifest re-lists.
- **upsert storm**: 6 upsert mergers (each round submits val =
  writer*1000+round for all 64 keys) + compactor + vacuumer. Upsert
  batches REPLACE matched rows (reference MERGE semantics — order_cols
  dedupe within a batch, not across batches), so the serial order the
  CAS imposes makes the final value the LAST-published writer's — the
  invariant is serializability, not a fixed value: exactly one row per
  key, every value ∈ the submitted set, and one single (writer, round)
  batch owns ALL keys (no torn/interleaved batch halves).

Both storms also assert file liveness (every file in the live manifest
exists on disk; ``fsck_repair`` dry-run reports nothing) and that the
txn ledger made every submitted batch exactly-once.

Vacuum cadence note (the 100 TB operational finding): a concurrent
vacuum must retain at least the version window in-flight writers can be
working from. Writers rebase to the latest manifest on every CAS retry,
so their read lag is bounded by one publish cycle — but ``vacuum``
deletes EXPIRED versions' files, and a writer that read version v
crashes mid-write if v's files vanish before it publishes. The storm
runs vacuum with ``keep_versions=16`` (> the maximum concurrent-writer
lag of 8) and default orphan retention (staged files of in-flight
writers are NEVER candidates); shrinking keep_versions below the writer
count is the misconfiguration this probe exists to catch.

Usage: python tools/concurrency_storm.py [R]   (default R=6 rounds)
Prints one JSON line per storm and a summary.
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

from stellar_etl_airflow_spark.operators import merge as M  # noqa: E402
from stellar_etl_airflow_spark.sinks import snapshots as S  # noqa: E402
from stellar_etl_airflow_spark.session import get_spark  # noqa: E402

N_KEYS = 64
N_MERGERS = 6


class RetryCounter:
    """Counts publish-CAS losses across all writers (thread-safe)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.merge_retries = 0
        self.compact_retries = 0
        self.errors: list[str] = []

    def bump(self, which: str, n: int = 1):
        with self.lock:
            setattr(self, which, getattr(self, which) + n)


def counting_core(counter: RetryCounter):
    """A drop-in for ``_merge_versioned_core`` that counts CAS losses
    before delegating to the single-attempt core, preserving the
    production retry/backoff shape."""

    def core(spark, changes, path, keys, pin, combine, evolve=False,
             txn_id=None, retries=30):
        for attempt in range(retries + 1):
            try:
                return M._merge_versioned_once(
                    spark, changes, path, keys, pin, combine,
                    evolve=evolve, txn_id=txn_id,
                )
            except S.ConcurrentWriteError:
                counter.bump("merge_retries")
                if attempt == retries:
                    raise
                time.sleep(0.05 * (attempt + 1))
        raise AssertionError("unreachable")

    return core


def _barrier_run(workers):
    start = threading.Barrier(len(workers))
    errs: list[str] = []

    def wrap(fn):
        def run():
            start.wait()
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - storm reporting
                errs.append(f"{fn.__name__}: {type(e).__name__}: {e}")

        return run

    ts = [threading.Thread(target=wrap(w)) for w in workers]
    [t.start() for t in ts]
    [t.join() for t in ts]
    return errs


def _maintenance_workers(spark, tbl, counter, stop_evt):
    def compactor():
        while not stop_evt.is_set():
            try:
                S.compact_snapshot(spark, tbl)
            except S.ConcurrentWriteError:
                counter.bump("compact_retries")
            time.sleep(0.2)

    def vacuumer():
        while not stop_evt.is_set():
            S.vacuum(tbl, keep_versions=16)
            time.sleep(0.3)

    return compactor, vacuumer


def _liveness(tbl) -> dict:
    m = S.read_manifest(tbl, resolve=False)
    missing = [f for f in m["files"] if not os.path.exists(f)]
    fsck = S.fsck_repair(tbl, dry_run=True)
    return {"missing_live_files": len(missing), "fsck_findings": len(fsck)}


def additive_storm(spark, root: str, rounds: int, disjoint: bool = False) -> dict:
    tbl = os.path.join(root, "additive_disjoint" if disjoint else "additive")
    counter = RetryCounter()
    stats0 = dict(M.MERGE_STATS)
    M._merge_versioned_core, orig = counting_core(counter), M._merge_versioned_core
    try:
        seed = spark.range(N_KEYS).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("n")
        )
        M.merge_additive_versioned(spark, seed, tbl, keys=("k",), sum_cols=("n",),
                                   n_buckets=8, txn_id="seed")
        stop = threading.Event()
        if disjoint:
            # assign each merger the keys of its OWN buckets (w mod 8, so
            # with 6 mergers buckets 0-5 each have one exclusive owner)
            from stellar_etl_airflow_spark.operators.merge import key_bucket

            probe = spark.range(N_KEYS).select(
                F.col("id").alias("k"), key_bucket(("k",), 8).alias("b")
            )
            owner_keys = {w: [] for w in range(N_MERGERS)}
            for r in probe.collect():
                if r["b"] < N_MERGERS:
                    owner_keys[r["b"]].append(r["k"])
        else:
            owner_keys = {w: list(range(N_KEYS)) for w in range(N_MERGERS)}

        def merger(w):
            def add():
                for r in range(rounds):
                    batch = spark.createDataFrame(
                        [(k, 1) for k in owner_keys[w]], "k long, n long"
                    ).coalesce(1)
                    M.merge_additive_versioned(
                        spark, batch, tbl, keys=("k",), sum_cols=("n",),
                        txn_id=f"w{w}-r{r}",
                    )

            add.__name__ = f"add_w{w}"
            return add

        compactor, vacuumer = _maintenance_workers(spark, tbl, counter, stop)
        workers = [merger(w) for w in range(N_MERGERS)]
        t0 = time.monotonic()
        maint = [threading.Thread(target=f) for f in (compactor, vacuumer)]
        [t.start() for t in maint]
        errs = _barrier_run(workers)
        stop.set()
        [t.join() for t in maint]
        wall = time.monotonic() - t0

        got = {r["k"]: r["n"] for r in S.read_snapshot(spark, tbl).collect()}
        inc = {k: 0 for k in range(N_KEYS)}
        for w in range(N_MERGERS):
            for k in owner_keys[w]:
                inc[k] += rounds
        want = inc
        # exactly-once accounting lives in the COUNTERS: a lost, doubled,
        # or torn batch breaks counters_exact. The ledger legitimately
        # prunes txns at vacuumed-out versions, so its count is reported
        # as telemetry, not gated.
        ledger = S.read_manifest(tbl, resolve=False).get("txns") or {}
        return {
            "storm": "additive_disjoint" if disjoint else "additive",
            "rounds": rounds, "writers": N_MERGERS + 2,
            "wall_s": round(wall, 2), "errors": errs,
            "counters_exact": got == want,
            "txns_in_ledger": sum(1 for w in range(N_MERGERS) for r in range(rounds)
                                  if f"w{w}-r{r}" in ledger),
            "txns_submitted": N_MERGERS * rounds,
            "cas_rebases": M.MERGE_STATS["rebases"] - stats0["rebases"],
            "cas_recomputes": M.MERGE_STATS["recomputes"] - stats0["recomputes"],
            "merge_full_retries": counter.merge_retries,
            "compact_cas_retries": counter.compact_retries,
            **_liveness(tbl),
        }
    finally:
        M._merge_versioned_core = orig


def append_storm(spark, root: str, rounds: int) -> dict:
    """The streaming-sink production shape (s14): 6 transactional
    appenders race a bin-packing compactor and a vacuumer on a PLAIN
    snapshot table. Appends rebase over each other AND the compactor
    rebases over appends (r10), so the expected steady state is zero
    blocking: every batch lands exactly once, compaction keeps the file
    count bounded, and nobody exhausts a retry budget."""
    tbl = os.path.join(root, "appends")
    counter = RetryCounter()
    S.append_versioned(
        spark,
        spark.createDataFrame([(-1, -1)], "k long, v long").coalesce(1),
        tbl,
        txn_id="seed",
    )
    stop = threading.Event()

    def appender(w):
        def app():
            for r in range(rounds):
                rows = [(w * 1000 + r * 10 + i, w) for i in range(3)]
                S.append_versioned(
                    spark,
                    spark.createDataFrame(rows, "k long, v long").coalesce(1),
                    tbl,
                    txn_id=f"w{w}-r{r}",
                )

        app.__name__ = f"app_w{w}"
        return app

    def compactor():
        while not stop.is_set():
            try:
                S.compact_small_files(spark, tbl)
            except S.ConcurrentWriteError:
                counter.bump("compact_retries")
            time.sleep(0.15)

    def vacuumer():
        while not stop.is_set():
            S.vacuum(tbl, keep_versions=16)
            time.sleep(0.3)

    workers = [appender(w) for w in range(N_MERGERS)]
    t0 = time.monotonic()
    maint = [threading.Thread(target=f) for f in (compactor, vacuumer)]
    [t.start() for t in maint]
    errs = _barrier_run(workers)
    stop.set()
    [t.join() for t in maint]
    wall = time.monotonic() - t0

    rows = sorted(tuple(r) for r in S.read_snapshot(spark, tbl).collect())
    want = sorted(
        [(-1, -1)]
        + [(w * 1000 + r * 10 + i, w) for w in range(N_MERGERS) for r in range(rounds) for i in range(3)]
    )
    return {
        "storm": "append", "rounds": rounds, "writers": N_MERGERS + 2,
        "wall_s": round(wall, 2), "errors": errs,
        "rows_exact": rows == want,
        "n_live_files": len(S.read_manifest(tbl, resolve=False)["files"]),
        "compact_cas_raises": counter.compact_retries,
        **_liveness(tbl),
    }


def additive_mor_storm(spark, root: str, rounds: int) -> dict:
    """The r10 aggregate-merge-on-read answer to the same-key additive
    worst case: 6 writers add +1 to the SAME 64 keys via pure delta
    appends (operators/additive_mor.py) while a folder loop
    materializes the aggregate and a vacuumer prunes — writers never
    read, never conflict, never recompute. Expected: exact counters,
    zero errors, zero merge recomputes. Since r11 the fold REBASES over
    pure-append CAS losses (see
    `git show b7fa307:tools/fold_liveness_probe.py` for the dedicated
    liveness measurement), so fold raises here should be ~0;
    any counted ones are refolds forced by non-append interleavings."""
    from stellar_etl_airflow_spark.operators import additive_mor as AM

    tbl = os.path.join(root, "additive_mor")
    counter = RetryCounter()
    stats0 = dict(M.MERGE_STATS)
    seed = spark.range(N_KEYS).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("n")
    )
    AM.write_delta(spark, seed, tbl, ("k",), ("n",), txn_id="seed")
    stop = threading.Event()

    def writer(w):
        def add():
            for r in range(rounds):
                batch = spark.range(N_KEYS).select(
                    F.col("id").alias("k"), F.lit(1).cast("long").alias("n")
                )
                AM.write_delta(spark, batch, tbl, ("k",), ("n",), txn_id=f"w{w}-r{r}")

        add.__name__ = f"mor_w{w}"
        return add

    def folder():
        while not stop.is_set():
            try:
                AM.fold_additive(spark, tbl)
            except S.ConcurrentWriteError:
                counter.bump("compact_retries")
            time.sleep(0.2)

    def vacuumer():
        while not stop.is_set():
            S.vacuum(tbl, keep_versions=16)
            time.sleep(0.3)

    workers = [writer(w) for w in range(N_MERGERS)]
    t0 = time.monotonic()
    maint = [threading.Thread(target=f) for f in (folder, vacuumer)]
    [t.start() for t in maint]
    errs = _barrier_run(workers)
    stop.set()
    [t.join() for t in maint]
    # one clean fold so the invariant check reads the materialized view
    AM.fold_additive(spark, tbl)
    wall = time.monotonic() - t0

    got = {r["k"]: r["n"] for r in AM.read_additive(spark, tbl).collect()}
    want = {k: N_MERGERS * rounds for k in range(N_KEYS)}
    ds = dict(M.MERGE_STATS)
    return {
        "storm": "additive_mor", "rounds": rounds, "writers": N_MERGERS + 2,
        "wall_s": round(wall, 2), "errors": errs,
        "counters_exact": got == want,
        "merge_recomputes": ds["recomputes"] - stats0["recomputes"],
        "fold_cas_losses": counter.compact_retries,
        **_liveness(tbl),
    }


def upsert_storm(spark, root: str, rounds: int) -> dict:
    tbl = os.path.join(root, "upsert")
    counter = RetryCounter()
    stats0 = dict(M.MERGE_STATS)
    M._merge_versioned_core, orig = counting_core(counter), M._merge_versioned_core
    try:
        def batch_df(w, r):
            return spark.range(N_KEYS).select(
                F.col("id").alias("k"),
                F.lit(w * 1000 + r).cast("long").alias("val"),
                F.lit(False).alias("deleted"),
                F.lit(r).cast("long").alias("last_modified_ledger"),
                F.lit(w).cast("long").alias("ledger_entry_change"),
            )

        M.apply_changes(spark, batch_df(99, 0), tbl, keys=("k",),
                        n_buckets=8, txn_id="seed")
        stop = threading.Event()

        def merger(w):
            def ups():
                for r in range(rounds):
                    M.apply_changes(
                        spark, batch_df(w, r), tbl, keys=("k",),
                        txn_id=f"w{w}-r{r}",
                    )

            ups.__name__ = f"ups_w{w}"
            return ups

        compactor, vacuumer = _maintenance_workers(spark, tbl, counter, stop)
        workers = [merger(w) for w in range(N_MERGERS)]
        t0 = time.monotonic()
        maint = [threading.Thread(target=f) for f in (compactor, vacuumer)]
        [t.start() for t in maint]
        errs = _barrier_run(workers)
        stop.set()
        [t.join() for t in maint]
        wall = time.monotonic() - t0

        rows = S.read_snapshot(spark, tbl).select("k", "val").collect()
        by_key = {}
        dupes = 0
        for r in rows:
            if r["k"] in by_key:
                dupes += 1
            by_key[r["k"]] = r["val"]
        submitted = {w * 1000 + r for w in range(N_MERGERS) for r in range(rounds)}
        vals = set(by_key.values())
        ledger = S.read_manifest(tbl, resolve=False).get("txns") or {}
        return {
            "storm": "upsert", "rounds": rounds, "writers": N_MERGERS + 2,
            "wall_s": round(wall, 2), "errors": errs,
            "one_row_per_key": dupes == 0 and set(by_key) == set(range(N_KEYS)),
            # serializability: ONE batch owns all keys (no torn halves)
            "single_winning_batch": len(vals) == 1 and vals <= submitted,
            "txns_in_ledger": sum(1 for w in range(N_MERGERS) for r in range(rounds)
                                  if f"w{w}-r{r}" in ledger),
            "txns_submitted": N_MERGERS * rounds,
            "cas_rebases": M.MERGE_STATS["rebases"] - stats0["rebases"],
            "cas_recomputes": M.MERGE_STATS["recomputes"] - stats0["recomputes"],
            "merge_full_retries": counter.merge_retries,
            "compact_cas_retries": counter.compact_retries,
            **_liveness(tbl),
        }
    finally:
        M._merge_versioned_core = orig


def main():
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    spark = get_spark("concurrency-storm")
    results = []
    with tempfile.TemporaryDirectory() as root:
        for run in (
            lambda: additive_storm(spark, root, rounds),
            lambda: additive_storm(spark, root, rounds, disjoint=True),
            lambda: upsert_storm(spark, root, rounds),
            lambda: append_storm(spark, root, rounds),
            lambda: additive_mor_storm(spark, root, rounds),
        ):
            res = run()
            print(json.dumps(res))
            results.append(res)
    add, disj, ups, app, mor = results
    ok = (
        not add["errors"] and add["counters_exact"]
        and not disj["errors"] and disj["counters_exact"]
        and not ups["errors"] and ups["one_row_per_key"]
        and ups["single_winning_batch"]
        and not app["errors"] and app["rows_exact"]
        and not mor["errors"] and mor["counters_exact"]
        and mor["merge_recomputes"] == 0
        and all(r["missing_live_files"] == 0 and r["fsck_findings"] == 0 for r in results)
    )
    print(json.dumps({"summary": "concurrency_storm", "rounds": rounds, "ok": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
