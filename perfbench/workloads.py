"""The two workloads. Each takes a :class:`Ctx`, runs its untimed set-up,
measures for ``ctx.seconds``, checks every output it can, and returns the
latencies of its unit operation plus the items it completed.

- ``batch_window``: one client, consecutive 10-minute windows through
  ingest -> merge -> read-back -> current-state view -> Avro export, with
  compaction on a fixed cadence.
- ``state_reads``: ``nproc / 2`` clients issuing seeded point lookups, range
  scans and time-travel reads against a state table built like
  ``batch_window``'s, plus one small oracle-checked corpus entry per query
  family (q, s, t) on the bundled sf0.001 tables.

A workload over the whole corpus is left out: its per-entry latency still
falls pass after pass for minutes while the driver JVM's JIT compiler keeps
about two of four cores busy, so runs differ by 20-30%.
"""

from __future__ import annotations

import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import changegen as G
import hostshape

#: the state-table definition both table workloads pin
KEYS = ("account_id",)
STATS_COLS = ("account_id", "last_modified_ledger")
BLOOM_COLS = ("account_id",)
N_BUCKETS = 8
#: changes per 10-minute window, and windows between compactions
WINDOW_CHANGES = 20000
COMPACT_EVERY = 2
#: windows merged into the state table before ``state_reads`` measures
READ_TABLE_WINDOWS = 2
READ_TABLE_CHANGES = 5000
#: ``state_reads`` paths and their reads in each block
READ_MIX = (("lookup", 6), ("connector", 2), ("range", 1), ("time_travel", 1))
#: corpus entries, one per family, each run once in every ``state_reads``
#: block: the corpus's per-entry fixed cost (Catalyst, streaming start and
#: stop, checkpoints) at a size where data costs almost nothing
CORPUS_ENTRIES = ("q02_latest_state_dedup", "s01_stream_tumbling", "t01_exact_dedup")
#: seconds of the ``state_reads`` mix run untimed in set-up, so the measured
#: phase starts past the steepest part of the driver JVM's warm-up
WARM_SECONDS = 4.0
BATCH_COLS = ("batch_id", "batch_run_date", "batch_insert_ts")
EXPORT_COLS = ["account_id", "balance", "sequence_number", "last_modified_ledger", "deleted", "closed_at"]


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    scratch: str
    data_dir: str
    clients: int
    failures: list = field(default_factory=list)
    attempted: int = 0
    layer: dict = field(default_factory=dict)  # per-layer counts the workload measures itself
    probe_cls: type | None = None  # host-contention probe started with the measured phase
    t_setup: float = 0.0
    t_setup_epoch: float = 0.0
    t_measured: float = 0.0
    t_measured_epoch: float = 0.0
    load: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def setup_done(self) -> None:
        """Set-up ends and the measured phase begins."""
        self.t_setup = time.perf_counter()
        self.t_setup_epoch = time.time()
        self._forks = hostshape.proc_forks()
        self._steal = hostshape.steal_seconds()
        self._jvm = _jvm_seconds(self.spark)
        self._probe = self.probe_cls() if self.probe_cls else None

    def measure_done(self) -> None:
        self.t_measured = time.perf_counter()
        self.t_measured_epoch = time.time()
        self.layer["proc.forks"] = hostshape.proc_forks() - self._forks
        for k, v in _jvm_seconds(self.spark).items():
            self.layer[k] = v - self._jvm[k]
        if self._probe is not None:
            self.load = self._probe.stamp()
            # CPU the hypervisor gave to other guests, which the probe's
            # busy-core count cannot see from inside this one
            self.load["steal_cores"] = round(
                (hostshape.steal_seconds() - self._steal) / self.load["wall"], 3)

    def fail(self, what: str) -> None:
        with self._lock:
            self.failures.append(what)

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n


@dataclass
class Result:
    latencies: list  # seconds per unit operation
    kinds: list  # what each operation was (read path, corpus entry)
    items: int  # work completed: changes, entries or reads
    wall: float  # seconds the measured operations took
    roots: tuple  # root span names, for the traced fold


def _jvm_seconds(spark) -> dict[str, float]:
    """The driver JVM's garbage-collection and JIT-compilation seconds
    since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "jvm.gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000,
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _space_amp(path: str) -> float:
    """Bytes under the table dir per byte of the latest version's files."""
    from stellar_etl_airflow_spark.sinks import snapshots as S

    live = sum(os.path.getsize(f) for f in S.read_manifest(path)["files"])
    return _dir_bytes(path) / live if live else 0.0


class StateTable:
    """The ``accounts_state`` table both table workloads grow: generator,
    staged NDJSON and the versions each merge published."""

    def __init__(self, ctx: Ctx, seed: int) -> None:
        from stellar_etl_airflow_spark.operators.ingest import Warehouse

        self.ctx = ctx
        self.gen = G.ChangeGenerator(seed)
        self.wh = Warehouse(os.path.join(ctx.scratch, "wh"))
        self.path = self.wh.path("accounts_state")
        self.versions: dict[int, int] = {}  # version -> last window merged into it
        self.ndjson_bytes = 0  # staged since ``restart_accounting``
        self.bytes_at_start = 0

    def stage(self, n: int = WINDOW_CHANGES):
        """Generate and stage the next window (untimed)."""
        w, rows = self.gen.window(n)
        base = os.path.join(self.ctx.scratch, "ndjson", w.batch_id)
        acc_bytes = G.write_ndjson(G.change_dicts(rows), os.path.join(base, "accounts"))
        G.write_ndjson(G.ledgers(w), os.path.join(base, "ledgers"))
        return w, len(self.gen.windows) - 1, base, acc_bytes

    def apply(self, changes, w, w_idx: int, acc_bytes: int) -> int:
        from stellar_etl_airflow_spark.operators.merge import apply_changes

        with self.ctx.tracer.span("operators.merge.apply_changes") as sp:
            version, touched = apply_changes(
                self.ctx.spark, changes, self.path, KEYS, n_buckets=N_BUCKETS, txn_id=w.batch_id,
                stats_cols=STATS_COLS, bloom_cols=BLOOM_COLS,
            )
            if sp is not None:
                sp.attrs["operators.merge.touched_buckets"] = len(touched)
        self.versions[version] = w_idx
        self.ndjson_bytes += acc_bytes
        return version

    def compact(self) -> int:
        from stellar_etl_airflow_spark.sinks import snapshots as S

        with self.ctx.tracer.span("sinks.snapshots.compact_snapshot"):
            version = S.compact_snapshot(self.ctx.spark, self.path)
        self.versions[version] = len(self.gen.windows) - 1
        return version

    def restart_accounting(self) -> None:
        self.ndjson_bytes = 0
        self.bytes_at_start = _dir_bytes(self.path)

    def record_layout(self) -> None:
        """Write amplification (bytes the table dir grew by, merges and
        compactions together, per staged NDJSON byte) and space
        amplification, as per-layer counts."""
        grown = _dir_bytes(self.path) - self.bytes_at_start
        self.ctx.layer["sinks.snapshots.write_amp"] = grown / self.ndjson_bytes if self.ndjson_bytes else 0.0
        self.ctx.layer["sinks.snapshots.space_amp"] = _space_amp(self.path)


# --------------------------------------------------------------------------
# batch_window


def batch_window(ctx: Ctx) -> Result:
    from stellar_etl_airflow_spark.e2e import ACCOUNTS_SCHEMA, LEDGERS_SCHEMA
    from stellar_etl_airflow_spark.operators.ingest import ingest_batch
    from stellar_etl_airflow_spark.sinks import exports
    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.views import currentstate as CS

    spark, tr = ctx.spark, ctx.tracer
    table = StateTable(ctx, ctx.seed)
    counts: dict[int, int] = {}  # window -> state rows read back after its merge
    exported: dict[int, tuple[str, str]] = {}  # window -> (format, dir)

    def window(staged) -> None:
        w, w_idx, base, acc_bytes = staged
        with tr.span("operators.ingest.ingest_batch"):
            led_df = ingest_batch(spark, table.wh, "history_ledgers", os.path.join(base, "ledgers"),
                                  LEDGERS_SCHEMA, w, cluster_fields=("sequence",))
        with tr.span("operators.ingest.ingest_batch"):
            acc_df = ingest_batch(spark, table.wh, "accounts", os.path.join(base, "accounts"),
                                  ACCOUNTS_SCHEMA, w)
        chg, led = acc_df.drop(*BATCH_COLS), led_df.drop(*BATCH_COLS)
        version = table.apply(chg, w, w_idx, acc_bytes)
        with tr.span("sinks.snapshots.read_snapshot"):
            counts[w_idx] = S.read_snapshot(spark, table.path, version).count()
        with tr.span("views.currentstate.v_accounts_current"):
            cur = CS.v_accounts_current(chg, led)
        dest = exports.avro_export_dir(os.path.join(ctx.scratch, "avro"), "accounts", w.interval_end)
        with tr.span("sinks.exports.export_slice"):
            fmt = exports.export_slice(cur, EXPORT_COLS, "closed_at", w.interval_start, w.interval_end, dest)
        exported[w_idx] = (fmt, dest)

    # set-up: a small first window creates the table and warms every code
    # path, then a full window and a compaction take the measured phase past
    # the steepest part of the JVM's warm-up
    window(table.stage(WINDOW_CHANGES // 10))
    window(table.stage())
    table.compact()
    table.restart_accounting()
    ctx.setup_done()

    latencies, items, wall = [], 0, 0.0
    # whole compaction cycles only, and at least two, so every run measures
    # the same mix of windows and compactions and a median over as many
    # windows however long a window takes
    while wall < ctx.seconds or len(latencies) < 2 * COMPACT_EVERY or len(latencies) % COMPACT_EVERY:
        staged = table.stage()
        ctx.attempt()
        t0 = time.perf_counter()
        try:
            with tr.span("batch.window"):
                window(staged)
        except Exception as exc:  # noqa: BLE001 - a failed window is counted, the run goes on
            ctx.fail(f"window {staged[1]}: {exc!r}"[:300])
        dt = time.perf_counter() - t0
        latencies.append(dt)
        wall += dt
        items += WINDOW_CHANGES
        if len(latencies) % COMPACT_EVERY == 0:
            ctx.attempt()
            t0 = time.perf_counter()
            try:
                with tr.span("batch.compact"):
                    table.compact()
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"compact: {exc!r}"[:300])
            wall += time.perf_counter() - t0
    ctx.measure_done()

    # checks, untimed: every read-back count, the final state's value hash
    # and every export's row count against the DuckDB fold
    table.record_layout()
    fold = G.Fold(table.gen)
    try:
        for w_idx, n in counts.items():
            ctx.attempt()
            if n != fold.state_count(w_idx):
                ctx.fail(f"window {w_idx}: state rows {n} != fold {fold.state_count(w_idx)}")
        ctx.attempt()
        got = G.arrow_hash(S.read_snapshot(spark, table.path).select(*G.COLUMNS[:5]).toArrow())
        want = fold.state_hash(len(table.gen.windows) - 1)
        if got != want:
            ctx.fail(f"final state (rows, hash) {got} != fold {want}")
        for w_idx, (fmt, dest) in exported.items():
            ctx.attempt()
            n = exports.read_export(spark, fmt, dest).count()
            if n != fold.window_keys(w_idx):
                ctx.fail(f"window {w_idx}: exported {n} rows != fold {fold.window_keys(w_idx)}")
    finally:
        fold.close()
    return Result(latencies, ["window"] * len(latencies), items, wall, ("batch.window", "batch.compact"))


# --------------------------------------------------------------------------
# state_reads


class _Fetched:
    """A collected result in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, df, rows) -> None:
        self.columns = df.columns
        self.schema = df.schema
        self._rows = rows

    def collect(self):
        return self._rows


def state_reads(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from stellar_etl_airflow_spark.e2e import ACCOUNTS_SCHEMA
    from stellar_etl_airflow_spark.queries import QUERIES
    from stellar_etl_airflow_spark.sinks import snapshots as S
    from stellar_etl_airflow_spark.sources import snapshot_source as SRC
    from tests.oracle import compare

    spark, tr = ctx.spark, ctx.tracer
    table = StateTable(ctx, ctx.seed)
    for i in range(READ_TABLE_WINDOWS):
        w, w_idx, base, acc_bytes = table.stage(READ_TABLE_CHANGES)
        changes = spark.read.schema(ACCOUNTS_SCHEMA).json(os.path.join(base, "accounts"))
        table.apply(changes, w, w_idx, acc_bytes)
        if (i + 1) % COMPACT_EVERY == 0:
            table.compact()
    table.record_layout()
    SRC.register(spark)
    fold = G.Fold(table.gen)
    latest = max(table.versions)
    last_window = table.versions[latest]
    expected = {v: fold.states(wi) for v, wi in table.versions.items()}
    commit_ts = {v: S.read_manifest(table.path, v)["ts"] for v in table.versions}
    # the latest state's keys in account-age order: the generator's skew
    # picks hot ones
    hot_keys = sorted(expected[latest])
    old_versions = sorted(v for v in table.versions if v != latest)
    recent_ledger = table.gen.windows[last_window].start_ledger

    def rows_of(found) -> list[tuple]:
        return sorted(tuple(r[c] for c in G.COLUMNS[:5]) for r in found)

    def entry(name: str) -> tuple[str, str, int, object]:
        fam = name[0]
        with tr.span(f"queries.{fam}.entry"):
            with tr.span(f"queries.{fam}.body"):
                df = QUERIES[name].fn(spark, ctx.data_dir)
            with tr.span("spark.collect") as sp:
                rows = df.collect()
                tr.catalyst_ms(sp, df)
        return "entry", name, 0, _Fetched(df, rows)

    def read(rng: random.Random, path: str) -> tuple[str, str, int, object]:
        """One read through ``path`` (or one corpus entry); returns what
        ``check`` needs."""
        if path in CORPUS_ENTRIES:
            return entry(path)
        key = hot_keys[int(len(hot_keys) * rng.random() ** G.SKEW)]
        with tr.span(f"reads.{path}"):
            if path == "lookup":
                with tr.span("sinks.snapshots.scan_snapshot"):
                    df = S.scan_snapshot(spark, table.path, [("account_id", "=", key)])
                with tr.span("spark.collect") as sp:
                    got = df.collect()
                    tr.catalyst_ms(sp, df)
                return "lookup", key, latest, got
            if path == "connector":
                with tr.span("sources.snapshot_source.read") as sp:
                    df = (spark.read.format(SRC.FORMAT_NAME).option("path", table.path).load()
                          .where(F.col("account_id") == key))
                    got = df.collect()
                    tr.catalyst_ms(sp, df)
                return "lookup", key, latest, got
            if path == "range":
                with tr.span("sinks.snapshots.scan_snapshot"):
                    df = S.scan_snapshot(spark, table.path, [("last_modified_ledger", ">=", recent_ledger)])
                with tr.span("spark.collect"):
                    return "range", "", latest, df.count()
            version = old_versions[rng.randrange(len(old_versions))]
            with tr.span("sinks.snapshots.as_of"):
                resolved = S.as_of(table.path, commit_ts[version])
            with tr.span("sinks.snapshots.scan_snapshot"):
                df = S.scan_snapshot(spark, table.path, [("account_id", "=", key)], version=resolved)
            with tr.span("spark.collect") as sp:
                got = df.collect()
                tr.catalyst_ms(sp, df)
            return "lookup", key, resolved, got

    def mix_block(rng: random.Random) -> list[str]:
        """One block of the mix in seeded order: every block holds each
        path and entry its exact share of times, so the mix does not vary
        by seed."""
        block = [path for path, n in READ_MIX for _ in range(n)] + list(CORPUS_ENTRIES)
        rng.shuffle(block)
        return block

    def check(kind: str, key: str, version: int, got) -> None:
        if kind == "entry":
            problems = compare(got, QUERIES[key].oracle, ctx.data_dir)
            if problems:
                ctx.fail(f"{key}: {problems[0]}"[:300])
            return
        if kind == "range":
            want = sum(1 for r in expected[version].values() if r[3] >= recent_ledger)
            if got != want:
                ctx.fail(f"range >= {recent_ledger} at v{version}: {got} rows != fold {want}")
            return
        want = [expected[version][key]] if key in expected[version] else []
        if rows_of(got) != want:
            ctx.fail(f"lookup {key} at v{version}: {rows_of(got)} != fold {want}")

    latencies: list[float] = []
    kinds: list[str] = []
    done: list = []

    def client(deadline: float, rng: random.Random) -> None:
        while time.perf_counter() < deadline:
            for path in mix_block(rng):
                ctx.attempt()
                t0 = time.perf_counter()
                try:
                    out = read(rng, path)
                except Exception as exc:  # noqa: BLE001 - a failed read is counted, the client goes on
                    ctx.fail(f"{path} read: {exc!r}"[:300])
                    continue
                with ctx._lock:
                    latencies.append(time.perf_counter() - t0)
                    kinds.append(path)
                done.append(out)
                if time.perf_counter() >= deadline:
                    break

    def closed_loop(seconds: float, seed: int) -> float:
        """Run the mix on ``ctx.clients`` threads for ``seconds``; returns
        the wall."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        with ThreadPoolExecutor(ctx.clients) as ex:
            for f in [ex.submit(client, deadline, random.Random(seed + i)) for i in range(ctx.clients)]:
                f.result()
        return time.perf_counter() - t0

    # warm every read path once, then run the mix untimed, checking all of it
    warm = random.Random(ctx.seed)
    for path, _n in READ_MIX:
        ctx.attempt()
        check(*read(warm, path))
    closed_loop(WARM_SECONDS, ctx.seed * 1000 + 500)
    for out in done:
        check(*out)
    for measured in (latencies, kinds, done):
        measured.clear()
    ctx.setup_done()

    wall = closed_loop(ctx.seconds, ctx.seed * 1000)
    ctx.measure_done()
    for out in done:
        check(*out)
    fold.close()
    roots = tuple(f"reads.{p}" for p, _ in READ_MIX) + tuple(f"queries.{n[0]}.entry" for n in CORPUS_ENTRIES)
    return Result(latencies, kinds, len(latencies), wall, roots)


WORKLOADS = {"batch_window": batch_window, "state_reads": state_reads}
