"""Benchmark of the stellar_etl_airflow_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_window --seed 1 --seconds 18 --trace 0

Workloads (see ``workloads.py``): ``batch_window`` (the write path) and
``state_reads`` (the read path, plus one small corpus entry per query
family).

The launcher derives the session's shape from this host (``SPARK_GRAFT_CPUS``
= CPUs, ``SPARK_DRIVER_MEMORY`` from ``MemTotal``, ``SPARK_LOCAL_DIRS`` under
the run's scratch dir), keeps every file a run writes in ``.perfbench_tmp/``
and removes it at exit.

Output: a stamp line (host shape, engine commit, host contention, failure
messages), then as the LAST line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones; with ``--trace 1`` every span is recorded and the
metrics are the per-layer ones (``--spans FILE`` keeps the span dump).
``trace.op_s_gmean`` minus the untraced run's ``op_s_gmean`` for the same
seed is what tracing costs; ``trace.overhead_s`` is only the tracer's own
bookkeeping within it.

Exits 2 without a result when the engine is not in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostshape  # noqa: E402

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s_gmean": "s",
    "items_per_s": "1/s",
}

#: per-layer metrics (``--trace 1``): name -> unit
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warm_python_data_source_s": "s",
    "operators.ingest.ingest_batch_s": "s",
    "operators.merge.apply_changes_s": "s",
    "operators.merge.touched_buckets": "count",
    "sinks.snapshots.read_snapshot_s": "s",
    "views.currentstate.v_accounts_current_s": "s",
    "sinks.exports.export_slice_s": "s",
    "sinks.snapshots.compact_snapshot_s": "s",
    "sinks.snapshots.write_amp": "ratio",
    "sinks.snapshots.space_amp": "ratio",
    "sinks.snapshots.manifest_files": "count",
    "sinks.snapshots.files_kept": "count",
    "sinks.snapshots.files_kept_ratio": "ratio",
    "sinks.snapshots.read_manifest_s": "s",
    "sinks.snapshots.prune_files_s": "s",
    "sinks.snapshots.scan_snapshot_s": "s",
    "sources.snapshot_source.read_s": "s",
    "queries.q.entry_s_sum": "s",
    "queries.s.entry_s_sum": "s",
    "queries.t.entry_s_sum": "s",
    "spark.collect_s": "s",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.catalyst_ms": "ms",
    "spark.failed_tasks": "count",
    "spark.unattributed_jobs": "count",
    "driver_s": "s",
    "uncovered_s": "s",
    "proc.forks": "count",
    "proc.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "trace.overhead_s": "s",
    "trace.op_s_gmean": "s",
}

#: span names whose summed wall is a per-layer ``<name>_s`` metric
_WALL_SPANS = {
    "session.get_spark_s": "session.get_spark",
    "session.warm_python_data_source_s": "session.warm_python_data_source",
    "operators.ingest.ingest_batch_s": "operators.ingest.ingest_batch",
    "operators.merge.apply_changes_s": "operators.merge.apply_changes",
    "sinks.snapshots.read_snapshot_s": "sinks.snapshots.read_snapshot",
    "views.currentstate.v_accounts_current_s": "views.currentstate.v_accounts_current",
    "sinks.exports.export_slice_s": "sinks.exports.export_slice",
    "sinks.snapshots.compact_snapshot_s": "sinks.snapshots.compact_snapshot",
    "sinks.snapshots.read_manifest_s": "sinks.snapshots.read_manifest",
    "sinks.snapshots.prune_files_s": "sinks.snapshots.prune_files",
    "sinks.snapshots.scan_snapshot_s": "sinks.snapshots.scan_snapshot",
    "sources.snapshot_source.read_s": "sources.snapshot_source.read",
    "queries.q.entry_s_sum": "queries.q.entry",
    "queries.s.entry_s_sum": "queries.s.entry",
    "queries.t.entry_s_sum": "queries.t.entry",
    "spark.collect_s": "spark.collect",
}

#: workloads that read through the snapshot Python Data Source, which warm
#: it during set-up
_WARM_CONNECTOR = ("state_reads",)


def _engine_missing(checkout: str) -> list[str]:
    need = ("stellar_etl_airflow_spark/__init__.py", "bench.py", "tests/oracle.py")
    return [p for p in need if not os.path.isfile(os.path.join(checkout, p))]


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) as ``statistics.quantiles`` cuts it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _kind_quantiles(result, q: int) -> dict[str, float]:
    """The q-th percentile latency of each kind of operation (window, read
    path, corpus entry)."""
    by_kind: dict[str, list[float]] = {}
    for v, k in zip(result.latencies, result.kinds):
        by_kind.setdefault(k, []).append(v)
    return {k: _quantile(v, q) for k, v in sorted(by_kind.items())}


def _op_s_gmean(result) -> float:
    """Geometric mean over the kinds of operation of each kind's median
    latency: the window's on ``batch_window``; on ``state_reads`` every read
    path and corpus entry weighs the same however often it ran."""
    return statistics.geometric_mean(_kind_quantiles(result, 50).values())


def _of_kinds(result, kinds: tuple[str, ...]) -> list[float]:
    return [v for v, k in zip(result.latencies, result.kinds) if k in kinds]


def _workload_metrics(workload: str, result, ctx, setup_s: float) -> dict:
    """The workload's own figures under their own names, for the stamp:
    what ``op_s_gmean`` and ``items_per_s`` stand for on this workload, plus
    the figures that are not bounded end-to-end metrics. The p90s are here,
    not bounded: ``batch_window`` measures ~4 windows a run, too few for any
    percentile past the median, and on ``state_reads`` they follow co-tenant
    load more than the engine."""
    import workloads

    lat = result.latencies
    out = {"setup_s": (setup_s, "s"), "peak_rss_mb": (ctx.layer["proc.peak_rss_mb"], "MB")}
    if workload == "batch_window":
        out.update(batch_s_p50=(statistics.median(lat), "s"), changes_per_s=(result.items / result.wall, "changes/s"),
                   space_amp=(ctx.layer["sinks.snapshots.space_amp"], "ratio"))
    else:
        lookups, scans = _of_kinds(result, ("lookup", "connector")), _of_kinds(result, ("range", "time_travel"))
        entries = _of_kinds(result, workloads.CORPUS_ENTRIES)
        out.update(lookup_s_p50=(statistics.median(lookups), "s"), lookup_s_p90=(_quantile(lookups, 90), "s"),
                   scan_s_p50=(statistics.median(scans), "s"),
                   reads_per_s=((len(lookups) + len(scans)) / result.wall, "reads/s"),
                   entry_s_p50=(statistics.median(entries), "s"), entry_s_p90=(_quantile(entries, 90), "s"))
    return {k: {"value": round(v, 4), "unit": u} for k, (v, u) in out.items()}


def _prune_counts(args, kept) -> dict:
    return {"sinks.snapshots.manifest_files": len(args[0]["files"]), "sinks.snapshots.files_kept": len(kept)}


def _per_layer(tracer, spark, run_id: str, ctx, result) -> tuple[dict, dict]:
    import spans

    jobs, unattributed = spans.spark_jobs(spark, run_id, ctx.t_setup_epoch * 1000, ctx.t_measured_epoch * 1000)
    folded = spans.fold(tracer, jobs, result.roots, ctx.t_setup_epoch, ctx.t_measured_epoch)
    out = dict.fromkeys(PER_LAYER, 0.0)
    for metric, name in _WALL_SPANS.items():
        out[metric] = folded["walls"].get(name, 0.0)
    out.update({k: v for k, v in folded["attrs"].items() if k in out})
    out.update(folded["spark"])
    out.update({k: v for k, v in ctx.layer.items() if k in out})
    kept, listed = out["sinks.snapshots.files_kept"], out["sinks.snapshots.manifest_files"]
    out["sinks.snapshots.files_kept_ratio"] = kept / listed if listed else 0.0
    out["spark.unattributed_jobs"] = unattributed
    out["driver_s"] = folded["driver_s"]
    out["uncovered_s"] = folded["uncovered_s"]
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.op_s_gmean"] = _op_s_gmean(result)
    return out, jobs


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait for every
    process this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    pids = hostshape.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to the reaper
                proc.kill()
                proc.wait(timeout=10)
    hostshape.reap(pids)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch_window", "state_reads"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the span dump (JSON lines) here")
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    missing = _engine_missing(checkout)
    if missing:
        print(f"perfbench: run from the root of a checkout of the engine; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)

    os.makedirs(os.path.join(checkout, ".perfbench_tmp"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=os.path.join(checkout, ".perfbench_tmp"))
    env = hostshape.session_env(scratch, checkout)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    tree_before = hostshape.tree_state(checkout)
    spark = None
    try:
        import spans
        import workloads
        from bench import _LoadProbe

        run_id = uuid.uuid4().hex[:12]
        tracer = spans.Tracer(run_id, enabled=bool(args.trace))
        with hostshape.RssSampler() as rss:
            with tracer.span("session.get_spark"):
                from stellar_etl_airflow_spark.session import get_spark, warm_python_data_source

                conf = {
                    "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
                    "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}",
                    "spark.ui.showConsoleProgress": "false",
                }
                if args.trace:  # keep every job and stage for the end-of-run fold
                    conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
                spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
                spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark)
            if args.workload in _WARM_CONNECTOR:
                with tracer.span("session.warm_python_data_source"):
                    warm_python_data_source(spark)
            undo = []
            if args.trace:
                from stellar_etl_airflow_spark.sinks import snapshots as S

                undo = [tracer.wrap(S, "read_manifest", "sinks.snapshots.read_manifest"),
                        tracer.wrap(S, "prune_files", "sinks.snapshots.prune_files", _prune_counts)]
            # clients on half the CPUs: the JVM's JIT compiler, Spark's tasks
            # and the Python workers reads start keep about one more CPU busy
            # per client, so more clients measure the scheduler, not the engine
            ctx = workloads.Ctx(
                spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, scratch=scratch,
                data_dir=os.path.join(HERE, "data", "sf0.001"), clients=max(1, hostshape.cpu_count() // 2),
                probe_cls=_LoadProbe,
            )
            result = workloads.WORKLOADS[args.workload](ctx)
            check_s = time.perf_counter() - ctx.t_measured
            for u in undo:
                u()
        setup_s = ctx.t_setup - t_start
        # peak memory of the whole process tree (Python, JVM, Python workers);
        # a per-layer count, as it spreads too widely between runs for a bound
        ctx.layer["proc.peak_rss_mb"] = rss.peak / 2**20
        if args.trace:
            metrics, jobs = _per_layer(tracer, spark, run_id, ctx, result)
            dump = os.path.join(scratch, "spans.jsonl")
            tracer.dump(dump, jobs)
            if args.spans:
                shutil.copyfile(dump, args.spans)
        else:
            metrics = {
                "setup_s": setup_s,
                "op_s_gmean": _op_s_gmean(result),
                "items_per_s": result.items / result.wall,
            }
        units = PER_LAYER if args.trace else END_TO_END
        sha, dirty = hostshape.engine_commit(checkout)
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cpus": hostshape.cpu_count(), "clients": ctx.clients, "mem_total_gb": round(hostshape.mem_total_bytes() / 2**30, 2),
            "driver_memory": env["SPARK_DRIVER_MEMORY"], "master": spark.sparkContext.master,
            "pyspark": spark.version, "engine_commit": sha, "engine_dirty": dirty,
            "ops": len(result.latencies), "wall_s": result.wall, "setup_s": setup_s, "check_s": check_s,
            "other_busy_cores": ctx.load.get("other_busy_cores"),
            "cpu_wall_ratio": ctx.load.get("cpu_wall_ratio"), "steal_cores": ctx.load.get("steal_cores"),
            "load": ctx.load,
            "workload_metrics": _workload_metrics(args.workload, result, ctx, setup_s),
            "op_s_p50_by_kind": _kind_quantiles(result, 50),
            "measured_phase": {k: ctx.layer[k] for k in ("proc.forks", "jvm.gc_s", "jvm.jit_s")},
            "failures": ctx.failures[:20],
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(checkout, ".perfbench_tmp"))
        except OSError:
            pass  # another run's scratch is still there
    attempted, failed = ctx.attempted + 1, len(ctx.failures)
    if hostshape.tree_state(checkout) != tree_before:
        failed += 1
        stamp["failures"].append("the run changed files of the checkout")
    stamp["workload_metrics"]["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
