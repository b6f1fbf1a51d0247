"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``),
but every setting here is chosen for the 1000-executor / 100 TB case:

- AQE on (runtime join re-planning, skew-join splitting, partition
  coalescing) — the reference delegated all physical planning to BigQuery;
  we delegate to Catalyst + AQE.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE coalesces from a high initial number, so we also set
  ``adaptive.coalescePartitions`` knobs rather than hand-tuning per query.
- Arrow enabled for the few Pandas-UDF paths (training/multimodal ops).
- Timezone pinned to UTC — the reference stores UTC TIMESTAMP plus a
  timezone-less DATETIME ``batch_run_date`` (SURVEY §1.2); computing in UTC
  keeps both consistent.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jars", "fastlocalfs.jar")
_CLASSPATH = "spark.driver.extraClassPath"


def session_conf(extra_conf: dict | None, launching: bool, environ=os.environ) -> dict:
    """Every conf :func:`get_spark` sets, ``extra_conf`` last.
    ``launching``: this call starts the JVM, so launch-time confs still
    take effect."""
    par = default_parallelism()
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(max(par, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        # Spark 4.1 Python Data Source pushFilters (SPARK-48921) is
        # opt-in; the snapshot source's manifest pruning rides on it
        "spark.sql.python.filterPushdown.enabled": "true",
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and convert (see load_tables)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # local mode is one driver-only JVM — give it most of the host
        # (container budget 128 GiB); real clusters size executors instead
        "spark.driver.memory": environ.get("SPARK_DRIVER_MEMORY", "64g"),
        "spark.ui.enabled": "false",
        # The JVM-global generated-class cache holds 100 entries by
        # default — a 154-query corpus emits ~1-1.5k distinct
        # whole-stage-codegen units per pass, so the cache thrashes and
        # EVERY pass re-Janino-compiles and re-JITs the entire corpus's
        # generated code (optimization r14,
        # `git show b7fa307:tools/burst_probe.py`: warm pooled rep
        # 52-90 s wall / 764-1405 s CPU with the default vs
        # 33 s / 485 s with the cache sized to the workload; the JIT
        # storm is also r13's "cross-entry CPU burst" anomaly, which
        # charged 60-330 s bursts to whichever entry was running). 4096
        # bounds the LRU at ~3x the corpus's working set; entries are
        # compiled classes (kB each), not data. Static conf: must be set
        # before the JVM session exists, hence here and not per-entry.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Preloaded worker daemon (guide §4.5 at the process level): forked
        # Python workers inherit pyarrow/pandas/connector imports via
        # copy-on-write instead of paying 0.3-0.6 s of imports per fresh
        # worker (measured r13 — the dominant cost of every
        # Python-exchanging stage on a cold pool). Cluster deployments ship
        # the module with --py-files.
        "spark.python.daemon.module": "stellar_etl_airflow_spark.pydaemon",
        **(extra_conf or {}),
    }
    # Local-FS permission shim (optimization r14, guide §1.2 "per-task
    # work"): without libhadoop.so, Hadoop's RawLocalFileSystem forks a
    # `chmod` for EVERY file/dir a checkpoint, state store or stage
    # writer creates (~300-600 execs per streaming/protocol entry,
    # measured r13/r14 via /proc/stat `processes`). The bundled jar
    # (tools/fastfs, ~60 lines of Java) reimplements setPermission with
    # java.nio setPosixFilePermissions — identical checksummed-FS
    # semantics, no fork. Local-mode-only concern: on HDFS/S3 the code
    # path does not exist. The driver classpath is read only at JVM
    # launch, and a class path given in PYSPARK_SUBMIT_ARGS wins over this
    # conf; the fs confs name classes from the jar, so they are set only
    # when this call puts the jar on the classpath of the JVM it starts.
    if launching and os.path.exists(_JAR) and not _submit_args_set_classpath(environ):
        prior = conf.get(_CLASSPATH) or _defaults_conf(environ).get(_CLASSPATH)
        conf[_CLASSPATH] = os.pathsep.join(p for p in (prior, _JAR) if p)
        conf.setdefault("spark.hadoop.fs.file.impl", "fastlocalfs.FastLocalFileSystem")
        conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", "fastlocalfs.FastLocalFs")
    return conf


def _submit_args_set_classpath(environ) -> bool:
    args = environ.get("PYSPARK_SUBMIT_ARGS", "")
    return "--driver-class-path" in args or _CLASSPATH in args


def _defaults_conf(environ) -> dict:
    """``spark-defaults.conf`` as spark-submit finds it: a ``--conf``
    replaces its value rather than extending it."""
    import pyspark

    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(
        environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "conf"
    )
    out = {}
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            for line in fh:
                line = line.strip()
                if line and not line.startswith(("#", "!")):
                    key, *value = re.split(r"\s*[=:\s]\s*", line, maxsplit=1)
                    out[key] = value[0] if value else ""
    except OSError:
        pass
    return out


def get_spark(
    app_name: str = "stellar-etl-spark",
    extra_conf: dict | None = None,
    warm_ds: bool = False,
) -> SparkSession:
    """Build the session. ``warm_ds=True`` additionally absorbs the
    Python Data Source's first-use cost up front (see
    :func:`warm_python_data_source`) — recommended for long-lived /
    production-shaped sessions that will use the snapshot connector."""
    from pyspark import SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(extra_conf, launching=SparkContext._gateway is None).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if warm_ds:
        warm_python_data_source(spark)
    return spark


def warm_python_data_source(spark: SparkSession) -> None:
    """Absorb the Python Data Source's first-use session cost NOW instead
    of inside whichever query touches the connector first.

    The connector's first use in a session pays ~8 s of driver-side
    plan/write-worker spawn + registration on top of its ~2 s warm wall
    (measured r12, ``git show b7fa307:tools/q55_sweep_probe.py``: cold
    10.8 s / warm 1.7 s / ~4.5 s after 3 min idle — pyspark worker pools
    also shrink when idle). bench.py warms before its sweeps; any
    production-shaped long session should too — either
    ``get_spark(warm_ds=True)`` or this one call (VERDICT r12 ask #6).
    The scratch table path is uuid-suffixed and removed in a finally, so
    concurrent or crashed callers never collide on a shared warmup
    directory."""
    import shutil
    import tempfile
    import uuid

    from .sources import snapshot_source as snap

    snap.register(spark)  # also sets the pushFilters conf
    path = os.path.join(tempfile.gettempdir(), f"ds-warmup-{uuid.uuid4().hex[:8]}")
    try:
        (
            spark.range(32)
            .selectExpr("id AS k", "id * 2 AS v")
            .write.format(snap.FORMAT_NAME)
            .option("path", path)
            .option("stats_cols", "k")
            .mode("overwrite")
            .save()
        )
        (
            spark.read.format(snap.FORMAT_NAME)
            .option("path", path)
            .load()
            .where("k >= 8")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def ensure_read_confs(spark: SparkSession) -> None:
    """Apply the runtime SQL confs needed to read the driver testdata.

    Safe on any session (our own or an externally created one): all three
    confs are per-session runtime confs in Spark 4. Without ``nanosAsLong``
    a TIMESTAMP(NANOS) ``events.parquet`` scan fails with
    PARQUET_TYPE_ILLEGAL; without a pinned timezone, timestamp->date/local
    conversions are host-dependent and break oracle hash comparison; with
    NTZ inference on, a tz-less ``timestamp[us]`` parquet column reads as
    TIMESTAMP_NTZ, which half the timestamp function surface
    (``unix_seconds`` et al.) rejects — read it as TIMESTAMP instead,
    identical under the UTC session zone (DuckDB does the same).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None) -> dict:
    """Load the driver testdata parquet tables and register temp views.

    Returns ``{name: DataFrame}``. Missing files are skipped so the same
    helper works across scale factors.
    """
    all_names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    ensure_read_confs(spark)
    out = {}
    for name in all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = normalize_nanos(spark.read.parquet(path))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread(df, min_factor: int = 2):
    """Ensure CPU-bound per-row stages see enough input partitions.

    A small parquet table arrives as ONE scan split (files below
    ``maxPartitionBytes`` never split), so an expensive narrow stage —
    shingling folds, sketch scoring, Arrow ``mapInPandas`` — runs on one
    core no matter how many the session has. Repartitioning the (tiny)
    input is a round-robin shuffle of the raw bytes, trivially cheap at
    the sizes where it triggers. At scale the scan already has >= cores
    splits and this is an exact no-op — no exchange is added.

    Only scan-shaped plans are probed: ``df.rdd`` on a plan containing
    joins/aggregates EXECUTES the upstream query stages under AQE just to
    learn the partition count (measured: the whole join ran twice). Plans
    already behind an exchange have adequate parallelism by construction.
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if any(k in plan for k in ("Join", "Aggregate", "Window", "Repartition", "Exchange", "Sort")):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df


def normalize_nanos(df):
    """Normalize timestamp physical encodings to session-zone TIMESTAMP:
    TIMESTAMP(NANOS) columns (read as long via nanosAsLong) become
    microsecond timestamps, matching DuckDB's ns->us truncation, and any
    TIMESTAMP_NTZ column (tz-less parquet read on a session created before
    :func:`ensure_read_confs` ran) is cast to TIMESTAMP — identity under
    the pinned UTC zone."""
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


_DS_REG_LOCK = None  # created lazily to keep module import light


def register_python_source(spark, source_cls, attr: str) -> None:
    """Session-scoped, thread-safe, idempotent Python Data Source
    registration — shared by every connector (snapshot, snapshot_cdf).

    Two subtleties both connectors need:

    - registration lands in the session's DataSourceManager, but the
      static lookup (DataFrameReader.load / DataFrameWriter.save /
      DataStreamWriter.start) resolves Python sources through the JVM
      THREAD-LOCAL active session. PySpark pins each Python thread to a
      JVM thread, and a thread that earlier created a child session
      (newSession — the streaming entries do) has THAT session active,
      whose manager is empty -> DATA_SOURCE_NOT_FOUND. So the active
      session is (re)pinned on the calling thread on EVERY call;
    - re-registering swaps the registry entry, leaving a window where a
      concurrent lookup misses the format — so each session registers
      exactly once, guarded by a process-wide lock.
    """
    import threading

    global _DS_REG_LOCK
    if _DS_REG_LOCK is None:
        _DS_REG_LOCK = threading.Lock()
    spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(spark._jsparkSession)
    # Spark 4 refuses to PLAN a Python Data Source whose reader implements
    # pushFilters() unless this (runtime-settable) conf is on — and it
    # defaults to false in a bare session. Registering a connector without
    # it leaves a landmine that fires only when the entry runs without a
    # conf-setting predecessor (VERDICT r12 "What's wrong #1": s11/s13 red
    # in the driver's session because only q55 set it). Set it HERE, on
    # every call, so each register() makes the calling session
    # self-sufficient — per-session SQLConf, so newSession() children that
    # re-register get it too.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    with _DS_REG_LOCK:
        if getattr(spark, attr, False):
            return
        spark.dataSource.register(source_cls)
        setattr(spark, attr, True)


def local_df(spark: SparkSession, rows, schema, slices: int = 1):
    """Driver-metadata DataFrame with a BOUNDED slice count.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` pickled slices — on local[32] that is 32
    Python worker round-trips (~0.3-0.6 s each on a cold pool, measured
    r13) to materialize a handful of driver rows, and the same 32-way
    fan-out shows up at cluster scale as 32 scheduled tasks per tiny
    metadata frame. Guide §5: the driver's metadata should not become
    distributed work. One slice keeps the identical createDataFrame
    semantics (same verification/conversion path) at one task.
    """
    n = max(1, min(slices, len(rows))) if rows else 1
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)


def detach_result(df):
    """Detach a BOUNDED result DataFrame from its backing scratch files,
    JVM-side: ``localCheckpoint(eager=True)`` materializes the rows into
    executor block storage and cuts the lineage, so per-run scratch dirs
    can be removed before the caller consumes the result.

    Replaces the ``rows, schema = df.collect(), df.schema`` ->
    ``local_df(spark, rows, schema)`` detach: that shape pays a driver
    round-trip plus TWO Python-worker task rounds (the collect and the
    re-parallelize scan) per entry — measured 1337 ms vs 658 ms per
    detach round warm at sf0.1 (r13). At 100 TB the difference is
    structural, not just constant: the result never has to fit on, or
    move through, the driver. Results are identical — the checkpointed
    frame keeps the exact schema and rows (oracle-gated)."""
    return df.localCheckpoint(eager=True)


def empty_df(spark: SparkSession, schema):
    """Zero-row DataFrame with ``schema``, built WITHOUT any Python
    task: ``createDataFrame([], schema)`` still plans defaultParallelism
    empty pickled partitions (32 Python worker rounds for zero rows —
    the r13 q56 stage-49 stall). An ``emptyRDD`` with the explicit
    schema keeps the exact schema (names, types, nullability) at zero
    partitions — no Python task is ever launched."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
