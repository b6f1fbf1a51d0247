"""Seeded account-change traffic shaped like ledger traffic, and the
independent DuckDB fold that checks what the engine made of it.

Per 10-minute window (120 ledgers) the generator emits ``n`` changes in
ledger order. Most are updates whose account is drawn with a power-law skew
toward the oldest accounts, so hot accounts change many times per window; a
share create new accounts; about 1% delete a live account. No account
changes twice in one ledger, so (``last_modified_ledger``,
``ledger_entry_change``) orders every key's changes without ties.

The mix is an assumption, not measured traffic: no sample of real ledger or
account-change traffic backs ``NEW_SHARE``, ``SKEW`` or the window sizes the
workloads pick. Only the ~1% delete rate is a stated target. Retune them
against a real ledger sample before reading the figures as network traffic.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import duckdb
import pyarrow as pa

from stellar_etl_airflow_spark.operators.batch import BatchWindow, plan_batch

CREATED, UPDATED, REMOVED = 0, 1, 2
#: assumed shares of changes that create and delete accounts
NEW_SHARE = 0.15
DELETE_SHARE = 0.01
#: assumed skew of updates toward old accounts: rank = n * u^SKEW, so
#: P(rank < x n) = x^(1/SKEW); the oldest tenth gets ~46% of updates at 3
SKEW = 3.0
COLUMNS = ("account_id", "balance", "sequence_number", "last_modified_ledger",
           "ledger_entry_change", "deleted")
#: the value hash both sides are folded into, row-order independent
VALUE_HASH = (
    "count(*) AS n, sum(hash(account_id, balance, sequence_number,"
    " last_modified_ledger, ledger_entry_change)::HUGEINT) AS h"
)

T0 = datetime(2024, 1, 1, 0, 0)


class ChangeGenerator:
    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.live: list[str] = []
        self.next_id = 0
        self.windows: list[BatchWindow] = []
        self.changes: list[tuple] = []  # every change, with its window index

    def _new_account(self) -> str:
        self.next_id += 1
        acct = f"G{self.next_id:011d}"
        self.live.append(acct)
        return acct

    def _hot(self) -> int:
        return int(len(self.live) * self.rng.random() ** SKEW)

    def window(self, n: int) -> tuple[BatchWindow, list[tuple]]:
        """Plan the next 10-minute window and generate its ``n`` changes."""
        w_idx = len(self.windows)
        start = T0 + timedelta(minutes=10 * (w_idx + 1))
        w = plan_batch(f"perfbench-{w_idx:05d}", start, start + timedelta(minutes=10))
        self.windows.append(w)
        n_ledgers = w.end_ledger - w.start_ledger + 1
        rng, rows, touched = self.rng, [], {}
        for i in range(n):
            ledger = w.start_ledger + i * n_ledgers // n
            u = rng.random()
            kind = CREATED if (u < NEW_SHARE or len(self.live) < 16) else (
                REMOVED if u < NEW_SHARE + DELETE_SHARE else UPDATED)
            if kind == CREATED:
                acct = self._new_account()
            else:
                for _ in range(8):
                    idx = self._hot() if kind == UPDATED else rng.randrange(len(self.live))
                    if touched.get(self.live[idx]) != ledger:
                        break
                else:  # every draw already changed in this ledger
                    kind, idx = CREATED, None
                if kind == CREATED:
                    acct = self._new_account()
                else:
                    acct = self.live[idx]
                    if kind == REMOVED:
                        self.live[idx] = self.live[-1]
                        self.live.pop()
            touched[acct] = ledger
            rows.append((acct, round(rng.uniform(1, 1e6), 2), rng.randrange(1, 1 << 40),
                         ledger, kind, kind == REMOVED))
        self.changes.extend(r + (w_idx,) for r in rows)
        return w, rows


def ledgers(w: BatchWindow) -> list[dict]:
    return [
        {"sequence": s, "ledger_hash": f"{s:064x}",
         "closed_at": (w.interval_start + timedelta(seconds=5 * (s - w.start_ledger))).isoformat() + "Z",
         "transaction_count": s % 1000}
        for s in range(w.start_ledger, w.end_ledger + 1)
    ]


def write_ndjson(rows: list[dict], directory: str) -> int:
    """Stage rows as one NDJSON file in ``directory``; returns its bytes."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "part-00000.json")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return os.path.getsize(path)


def change_dicts(rows: list[tuple]) -> list[dict]:
    return [dict(zip(COLUMNS, r)) for r in rows]


class Fold:
    """DuckDB over every generated change: the expected state at any window."""

    def __init__(self, gen: ChangeGenerator) -> None:
        cols = list(zip(*gen.changes)) if gen.changes else [[]] * (len(COLUMNS) + 1)
        tbl = pa.table({name: list(c) for name, c in zip(COLUMNS + ("win",), cols)})
        self.con = duckdb.connect()
        self.con.register("changes_arrow", tbl)
        self.con.execute("CREATE TABLE changes AS SELECT * FROM changes_arrow")
        self.con.unregister("changes_arrow")

    def state_sql(self, upto_window: int) -> str:
        """Latest row per key by (ledger, change type) over windows
        ``<= upto_window``, deletes dropped."""
        return (
            "SELECT * EXCLUDE (rn) FROM (SELECT account_id, balance, sequence_number,"
            " last_modified_ledger, ledger_entry_change, deleted, row_number() OVER ("
            " PARTITION BY account_id ORDER BY last_modified_ledger DESC,"
            f" ledger_entry_change DESC) AS rn FROM changes WHERE win <= {int(upto_window)})"
            " WHERE rn = 1 AND NOT deleted"
        )

    def state_count(self, upto_window: int) -> int:
        return self.con.execute(f"SELECT count(*) FROM ({self.state_sql(upto_window)})").fetchone()[0]

    def state_hash(self, upto_window: int) -> tuple[int, int]:
        return tuple(self.con.execute(f"SELECT {VALUE_HASH} FROM ({self.state_sql(upto_window)})").fetchone())

    def window_keys(self, window: int) -> int:
        """Rows the current-state view exports for one window: one per
        account changed in it, deletes included."""
        return self.con.execute(
            f"SELECT count(DISTINCT account_id) FROM changes WHERE win = {int(window)}"
        ).fetchone()[0]

    def states(self, upto_window: int) -> dict[str, tuple]:
        """{account_id: row} of the expected state after ``upto_window``."""
        rows = self.con.execute(
            f"SELECT account_id, balance, sequence_number, last_modified_ledger,"
            f" ledger_entry_change FROM ({self.state_sql(upto_window)})"
        ).fetchall()
        return {r[0]: tuple(r) for r in rows}

    def close(self) -> None:
        self.con.close()


def arrow_hash(tbl: pa.Table) -> tuple[int, int]:
    """The same value hash as :meth:`Fold.state_hash`, over an engine result."""
    con = duckdb.connect()
    try:
        con.register("t", tbl)
        return tuple(con.execute(f"SELECT {VALUE_HASH} FROM t").fetchone())
    finally:
        con.close()
