"""Dump ``explain("formatted")`` for every corpus entry to plans/<tag>/.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/plan_dump.py <tag> [names...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` where ``suffix`` comes from
``SPARK_GRAFT_PLAN_SUFFIX`` (default ``before``). Entries whose fn is
side-effectful (snapshot/stream protocols) still run their pipeline; the
dumped plan is the plan of the RETURNED DataFrame, which for collect-
detach entries is a LocalTableScan — the file notes that. Below it, the
file lists the parquet scans of every snapshot-table frame the entry
built (``read_snapshot``, ``scan_snapshot`` and the raw
``_read_physical`` under them, which merges and rewrites read through),
so the ReadSchema, PartitionFilters and PushedFilters of a protocol
entry's internal reads are visible too. Optimization guide §1: capture plan
shape (Exchange count, join strategy, PushedFilters, Python eval nodes)
before and after each change.
"""

from __future__ import annotations

import io
import os
import sys
import time
import traceback
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stellar_etl_airflow_spark.queries import QUERIES  # noqa: E402
from stellar_etl_airflow_spark.session import get_spark  # noqa: E402
from stellar_etl_airflow_spark.sinks import snapshots as S  # noqa: E402

_SCAN_FIELDS = ("Output", "PartitionFilters", "PushedFilters", "DataFilters", "ReadSchema")


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _scans(frames: list) -> str:
    """The ``Scan parquet`` nodes of each ``(builder, frame)``'s formatted
    plan, cut to the fields that say what a scan reads (paths vary run
    to run)."""
    out = []
    for i, (builder, df) in enumerate(frames):
        out.append(f"## frame {i}: {builder}")
        cur = None
        for line in _formatted(df).splitlines():
            if line.startswith("(") and "Scan parquet" in line:
                cur = line.split(" ", 1)[1].strip()
                out.append(cur)
            elif cur is not None and line.split(" ", 1)[0].split(":")[0] in _SCAN_FIELDS:
                out.append(line)
            elif not line.strip():
                cur = None
    return "\n".join(out)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    only = set(sys.argv[2:])
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("plan-dump", warm_ds=True)
    spark.sparkContext.setLogLevel("ERROR")
    built: list = []

    def recording(name):
        build = getattr(S, name)

        def record(*args, **kwargs):
            df = build(*args, **kwargs)
            built.append((name, df))
            return df

        setattr(S, name, record)

    for name in ("read_snapshot", "scan_snapshot", "_read_physical"):
        recording(name)

    for name, spec in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        dest = os.path.join(out_dir, f"{name}_{suffix}.txt")
        t0 = time.perf_counter()
        built.clear()
        try:
            df = spec.fn(spark, sf_dir)
            body = _formatted(df)
            if built:
                body += "\n# snapshot-table scans the entry built\n" + _scans(built) + "\n"
        except Exception:  # noqa: BLE001 - record the failure in the file
            body = "PLAN CAPTURE FAILED:\n" + traceback.format_exc()
        wall = time.perf_counter() - t0
        header = (
            f"# {name} — explain('formatted') of the returned DataFrame\n"
            f"# sf_dir={sf_dir}  capture_wall={wall:.2f}s  tag={tag}/{suffix}\n"
        )
        if "LocalTableScan" in body and "Exchange" not in body:
            header += (
                "# NOTE: entry collects+detaches internally (protocol entry);\n"
                "# the returned frame is a LocalTableScan — the interesting\n"
                "# plans are internal to the entry's pipeline.\n"
            )
        with open(dest, "w") as fh:
            fh.write(header + "\n" + body)
        print(f"{name}: {wall:.2f}s -> {dest}", flush=True)


if __name__ == "__main__":
    main()
