"""Batch Python Data Source over versioned snapshot tables with REAL
Catalyst filter pushdown into manifest pruning —
``spark.read.format("snapshot").option("path", t).load()``.

``scan_snapshot`` already skips files from manifest [min, max] stats
and bloom filters, but callers must hand it ``where=`` tuples. This
source closes the loop the way a native connector does: Spark 4.1's
``DataSourceReader.pushFilters`` (SPARK-48921 Python filter-pushdown
API) hands the planner's conjunctive filters to the source, which maps
them onto the SAME manifest pruning decision — so a plain

    spark.read.format("snapshot").option("path", t).load()
         .where(F.col("h") == probe)

plans only the files whose blooms/stats may match, with zero special
API at the call site. Three pruning layers, each at its natural level:

1. FILE skip at planning time (driver): manifest stats + blooms via
   :func:`~stellar_etl_airflow_spark.sinks.snapshots.prune_files`;
2. ROW-GROUP skip at read time (executor): the same predicates handed
   to pyarrow's ``read_table(filters=...)``, which consults parquet
   row-group statistics;
3. ROW filter by Spark: pushFilters returns every filter (partial
   pushdown — the source skips containers, Spark keeps semantics), so
   results are exact even when stats lie low.

``read`` yields Arrow RecordBatches (the API's vectorized path), cast
to the table's unified schema so additively-evolved old files surface
missing columns as nulls.
"""

from __future__ import annotations
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..sinks import snapshots as S

FORMAT_NAME = "snapshot"

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}

#: filter value types that compare safely against JSON manifest stats
_SAFE_TYPES = (str, int, float, bool)


def _spark_safe(fld):
    """Spark's Arrow bridge rejects nanosecond timestamps (INT96
    parquet, Spark's own default output, reads back as timestamp[ns]);
    surface them as microseconds. INT96 is UTC-adjusted, so attach UTC
    when the file carries no zone."""
    import pyarrow as pa

    t = fld.type
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return fld.with_type(pa.timestamp("us", tz=t.tz or "UTC"))
    return fld


def _unified_arrow_schema(files: list[str]):
    """Union of the files' parquet schemas, first-seen field order
    (additive evolution keeps old-schema files alive)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not files:
        # reached from _version_schema only for a version that lists no
        # files and records no schema: there is nothing to read it from
        raise ValueError(
            "snapshot version lists no data files (empty table); "
            "read an earlier version or supply .schema(...) explicitly"
        )
    fields: dict[str, object] = {}
    for f in files:
        for fld in pq.ParquetFile(f).schema_arrow:
            if fld.name == "_p":  # bucket layout dir, not table data
                continue
            # force nullable: files that PREDATE an added column
            # surface it as nulls even when the adding writer's
            # schema declared it required
            fld = _spark_safe(fld).with_nullable(True)
            cur = fields.get(fld.name)
            if cur is None:
                fields[fld.name] = fld
            elif cur.type != fld.type:
                # type-evolved files (int32 table + int64 append): take
                # the PROMOTED type so _align's casts always widen —
                # first-seen-wins made the cast overflow-crash or pass
                # depending on file order (review r8)
                try:
                    fields[fld.name] = pa.unify_schemas(
                        [pa.schema([cur]), pa.schema([fld])],
                        promote_options="permissive",
                    ).field(0)
                except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError):
                    pass  # non-unifiable: keep first-seen (old behavior)
    return pa.schema(list(fields.values()))


def _hive_layout_guard(path: str, m: dict) -> None:
    """Leaf-file pyarrow reads cannot recover hive ``col=val`` DATA
    columns (the manifest's ``base`` exists for DataFrame-path partition
    discovery); refuse such layouts loudly instead of silently dropping
    the column (review r8 — ``_p=`` bucket dirs are layout metadata, not
    data, and stay readable). The recorded ``layout`` decides when there
    is one; otherwise every file's directories are parsed."""
    names = m.get("layout")
    if names is None:
        base = m.get("base") or path
        names = [k for f in m["files"] for k, _ in S._partition_dirs(f, base) or ()]
    hive = [k for k in names if k != S.BUCKET_COL]
    if hive:
        raise ValueError(
            f"{path}: data files live under hive partition "
            f"dirs ({hive[0]}=...); the snapshot Data Source reads leaf "
            "files and would drop that column — use "
            "snapshots.read_snapshot / scan_snapshot (DataFrame "
            "path with partition discovery) for this layout"
        )



def _version_schema(m: dict) -> StructType:
    """A version's LOGICAL Spark schema without the ``_p`` bucket
    column, every top-level field nullable: the manifest's recorded
    schema, or the union of the footers for an evolved
    (``mixed_schema``) version or one whose record Spark's reads do not
    plan from (no ``layout``). A version listing no files reads as its
    record; with none recorded it raises."""
    import json

    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField

    files = list(m["files"])
    if not m.get("schema") or (files and (m.get("mixed_schema") or m.get("layout") is None)):
        # a non-mixed_schema manifest guarantees every file shares one
        # schema: one footer suffices (review r8 — opening all 100k
        # footers per plan defeats metadata-only planning)
        sfiles = files if m.get("mixed_schema") else files[:1]
        return from_arrow_schema(_logical_arrow_schema(_unified_arrow_schema(sfiles), m))
    renames, dropped = S.mapping_of(m)
    recorded = StructType.fromJson(json.loads(m["schema"]))
    return StructType([
        StructField(renames.get(f.name, f.name), f.dataType, True, f.metadata)
        for f in recorded
        if f.name != S.BUCKET_COL and f.name not in dropped
    ])


def _logical_arrow_schema(schema, m):
    """Apply a manifest's column mapping (snapshots.rename_column /
    drop_column) to a PHYSICAL arrow schema: dropped fields removed,
    renamed fields re-labelled. Identity mappings return the input."""
    import pyarrow as pa

    renames, dropped = S.mapping_of(m)
    if not renames and not dropped:
        return schema
    return pa.schema(
        [f.with_name(renames.get(f.name, f.name)) for f in schema if f.name not in dropped]
    )


def _epoch(ts: str) -> float:
    """Epoch seconds from an option string: raw float, or an ISO
    date/datetime (interpreted as UTC when zoneless)."""
    try:
        return float(ts)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()


@dataclass
class _FilePartition(InputPartition):
    files: list = field(default_factory=list)
    where: list = field(default_factory=list)
    dv: dict = field(default_factory=dict)  # {file: [deleted row_index]}


class _SnapshotReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType | None = None) -> None:
        self._path = options["path"]
        v = options.get("version")
        ts = options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValueError("pass either version or timestampAsOf, not both")
        if ts is not None:
            # FOR SYSTEM_TIME AS OF: resolve the largest version at or
            # before the timestamp (epoch seconds or ISO date/datetime)
            v = S.as_of(self._path, _epoch(ts))
        self._version = int(v) if v is not None else None
        # resolve=False: prune_files walks shard summaries lazily; the
        # reader needs only files / mapping / dv refs besides that
        self._manifest = S.read_manifest(self._path, self._version, resolve=False)
        self._where: list = []
        renames, _ = S.mapping_of(self._manifest)
        self._l2p = {log: phys for phys, log in renames.items()}
        self._dv = S.read_dv(self._manifest)
        _hive_layout_guard(self._path, self._manifest)
        if self._manifest["files"] or schema is None:
            # the planner's schema is this version's (SnapshotSource.schema)
            # or the user's .schema(...): a projection/reorder of its
            # columns, rejected loudly at plan time when it names others
            # (review r8). A version listing no files takes the planner's
            # schema as is.
            logical = _version_schema(self._manifest)
            schema = logical if schema is None else schema
            unknown = [n for n in schema.names if n not in logical.names]
            if unknown:
                raise ValueError(
                    f"{self._path}: .schema(...) names {unknown} not in "
                    f"this version's columns {logical.names}"
                )
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        # every batch is cast to exactly the schema Spark planned with,
        # under the files' physical names (dropped columns' bytes are
        # never materialized); pa.Schema pickles with the reader to
        # every task, and batches re-label to the logical names
        self._schema_arrow = pa.schema(
            [f.with_name(self._l2p.get(f.name, f.name)) for f in to_arrow_schema(schema)]
        )
        self._logical_names = list(schema.names)

    def pushFilters(self, filters):
        for f in filters:
            t = type(f)
            op = _OPS.get(t)
            if op and len(f.attribute) == 1:
                v = list(f.value) if t is In else f.value
                vals = v if isinstance(v, list) else [v]
                if all(isinstance(x, _SAFE_TYPES) for x in vals):
                    # filters arrive under LOGICAL names; files and
                    # manifest stats are keyed physically
                    self._where.append((self._l2p.get(f.attribute[0], f.attribute[0]), op, v))
            # partial pushdown: the source only skips FILES/row groups,
            # so every filter is returned for Spark to re-evaluate
            yield f

    def partitions(self):
        files = S.prune_files(self._manifest, self._where)
        return [
            _FilePartition(
                files=[f],
                where=list(self._where),
                dv={f: self._dv[f]} if f in self._dv else {},
            )
            for f in files
        ] or [_FilePartition()]

    def read(self, partition: _FilePartition):
        if not partition.files:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_filters = _pyarrow_filters(partition.where)
        for f in partition.files:
            dv = partition.dv.get(f)
            if dv:
                # deletion vector: indices refer to the file's ORIGINAL
                # row order, so pyarrow predicate filtering (which drops
                # rows) must be skipped; Spark re-evaluates every filter
                # anyway (partial-pushdown contract)
                tbl = pq.read_table(f)
            else:
                try:
                    tbl = pq.read_table(f, filters=pa_filters)
                except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError, TypeError):
                    tbl = pq.read_table(f)  # incomparable filter types: read all
            yield from _mask_align(
                tbl, dv, self._schema_arrow, self._logical_names
            ).to_batches()


def _pyarrow_filters(where):
    """Our (col, op, v) tuples in pyarrow's DNF filter dialect — this is
    what turns manifest-level file pruning into ROW-GROUP pruning via
    the parquet footer stats pyarrow consults."""
    if not where:
        return None
    out = []
    for col, op, v in where:
        out.append((col, "==" if op == "=" else op, v))
    return out


def _mask_align(tbl, dv, schema_arrow, logical_names):
    """Shared read tail of the batch and stream readers (review r8 —
    two drifting copies before): deletion-vector row mask (indices are
    ORIGINAL parquet row order), align to the unified physical schema,
    re-label to logical names."""
    if dv:
        import numpy as np

        keep = np.setdiff1d(np.arange(tbl.num_rows), np.asarray(dv, dtype=np.int64))
        tbl = tbl.take(keep)
    tbl = _align(tbl, schema_arrow)
    if list(tbl.column_names) != logical_names:
        tbl = tbl.rename_columns(logical_names)
    return tbl


def _align(tbl, schema):
    """Project/cast an (old-schema) file table to the unified schema,
    null-filling absent columns."""
    import pyarrow as pa

    cols = []
    for fld in schema:
        if fld.name in tbl.column_names:
            cols.append(tbl.column(fld.name).cast(fld.type))
        else:
            cols.append(pa.nulls(len(tbl), type=fld.type))
    return pa.Table.from_arrays(cols, schema=schema)


@dataclass
class _FileCommit(WriterCommitMessage):
    """One task's durable claim: the file it wrote plus the metadata the
    manifest needs — computed WHERE THE DATA ALREADY IS (executor-side),
    so commit is a pure metadata operation."""

    file: str | None = None
    rows: int = 0
    stats: dict | None = None
    blooms: dict | None = None


@dataclass
class _MultiFileCommit(WriterCommitMessage):
    """A task that ROLLED files (maxRecordsPerFile) claims them all in
    one message; the driver flattens before publishing."""

    parts: list = field(default_factory=list)


def _flatten_commits(messages):
    out = []
    for m in messages or []:
        if isinstance(m, _MultiFileCommit):
            out.extend(m.parts)
        elif m is not None:
            out.append(m)
    return out


class _SnapshotWriter(DataSourceArrowWriter):
    """Task-write / driver-commit protocol onto the manifest log — the
    Iceberg commit model expressed through Spark's DataSourceWriter
    contract:

    - each task streams its Arrow batches into ONE uniquely-named
      parquet file directly under the table dir. Unlisted files are
      invisible to every reader (manifests are the source of truth), so
      no staging directory or rename dance is needed — a speculative
      duplicate or failed task leaves garbage that ``vacuum`` sweeps,
      never a visible row;
    - per-file [min, max] stats and bloom bitsets are computed in the
      task from the batches it writes (zero extra reads; the write IS
      the scan);
    - ``commit`` (driver, runs once) publishes the next manifest version
      listing exactly the committed tasks' files — one
      :class:`snapshots.Txn` commit. ``overwrite`` lists only the new
      files (old versions stay for time travel); append carries the
      previous version's files, stats, blooms, and txn ledger forward.
    - ``abort`` deletes this attempt's files; readers never saw them.
    """

    def __init__(self, options: dict, overwrite: bool, schema=None) -> None:
        self._path = options["path"]
        self._overwrite = overwrite
        self._stats_cols = [c for c in (options.get("stats_cols") or "").split(",") if c]
        self._bloom_cols = [c for c in (options.get("bloom_cols") or "").split(",") if c]
        # type-gate bloom columns at plan time (ADVICE r7): a float/
        # timestamp bloom column records str()-hashes that Spark's CAST
        # AS STRING probe won't reproduce — silent false negatives.
        if schema is not None:
            for c in self._bloom_cols:
                f = next((f for f in schema.fields if f.name == c), None)
                if f is not None:
                    S._check_bloomable(c, f.dataType)
        # file sizing (the maxRecordsPerFile knob): a task holding more
        # rows than this ROLLS to a new file — at 100 TB file size is a
        # first-order scan/parallelism lever, and a 1-file-per-task rule
        # couples it to shuffle partitioning
        mrpf = options.get("maxrecordsperfile")
        self._max_rows = int(mrpf) if mrpf else None
        # column mapping (snapshots.rename_column): APPENDED files must
        # carry the table's PHYSICAL names — incoming frames use logical
        # names, so tasks rename batches before writing (resolved once
        # driver-side here, pickled to tasks). An overwrite defines a
        # fresh schema and ignores the prior mapping (reset on publish).
        self._l2p: dict[str, str] = {}
        if S.latest_version(self._path):
            # resolve=False: mapping/constraints/pins only (review r8)
            cur = S.read_manifest(self._path, resolve=False)
            if cur.get("constraints"):
                # the Data Source commit runs in Spark's isolated
                # plan-data-source worker (no SparkSession — see the r7
                # autoCompact note), so CHECK constraints CANNOT be
                # enforced here; silently publishing unvalidated rows
                # (or silently dropping the constraints on overwrite,
                # the previous behavior) breaks the constraint contract.
                # Refuse loudly (review r8).
                raise ValueError(
                    f"{self._path} has CHECK constraints "
                    f"{sorted(cur['constraints'])}; the Data Source writer "
                    "cannot enforce them (no session at commit time) — "
                    "write via the library paths (overwrite_versioned / "
                    "merge) or drop_constraint first"
                )
            if not overwrite:
                renames, _dropped = S.mapping_of(cur)
                self._l2p = {log: phys for phys, log in renames.items()}
                # appends INHERIT the table's stats/bloom pins when the
                # options don't repeat them: tasks then keep computing
                # per-file metadata in flight, so pruning doesn't silently
                # degrade as unadorned appends accumulate (review r8; the
                # same fallback rule as the merge path)
                if not self._stats_cols:
                    self._stats_cols = list(cur.get("stats_cols") or [])
                if not self._bloom_cols:
                    self._bloom_cols = list(cur.get("bloom_cols") or [])
                self._stats_cols = [self._l2p.get(c, c) for c in self._stats_cols]
                self._bloom_cols = [self._l2p.get(c, c) for c in self._bloom_cols]

    def write(self, iterator):
        import pyarrow.parquet as pq

        os.makedirs(self._path, exist_ok=True)
        commits: list[_FileCommit] = []
        writer, fpath, rows = None, None, 0
        bloom_vals: dict[str, set] = {c: set() for c in self._bloom_cols}

        def close_current():
            nonlocal writer, fpath, rows
            writer.close()
            stats = S._file_stats(fpath, self._stats_cols) if self._stats_cols else None
            blooms = {}
            for c, vals in bloom_vals.items():
                blooms[c] = S._bloom_filter(vals, S._bloom_m_for(rows))
                vals.clear()
            commits.append(
                _FileCommit(file=fpath, rows=rows, stats=stats, blooms=blooms or None)
            )
            writer, fpath, rows = None, None, 0

        def chunks(batch):
            # slice WITHIN a batch too: one task often receives a single
            # large Arrow batch, and rolling only at batch boundaries
            # would never split it
            if not self._max_rows:
                yield batch
                return
            off = 0
            while off < batch.num_rows:
                take = min(self._max_rows - rows if writer else self._max_rows,
                           batch.num_rows - off)
                yield batch.slice(off, take)
                off += take

        def physical(batch):
            if not self._l2p:
                return batch
            import pyarrow as pa

            names = [self._l2p.get(n, n) for n in batch.schema.names]
            return pa.RecordBatch.from_arrays(list(batch.columns), names=names)

        try:
            for whole in iterator:
                for batch in chunks(physical(whole)):
                    if writer is None:
                        fpath = os.path.join(self._path, f"part-{uuid.uuid4().hex}.parquet")
                        writer = pq.ParquetWriter(fpath, batch.schema)
                    writer.write_batch(batch)
                    rows += batch.num_rows
                    for c in self._bloom_cols:
                        if c in batch.schema.names:
                            bloom_vals[c].update(
                                v for v in batch.column(c).to_pylist() if v is not None
                            )
                    if self._max_rows and rows >= self._max_rows:
                        close_current()
        finally:
            if writer is not None:
                close_current()
        if not commits:  # empty partition: no file, nothing to commit
            return _FileCommit()
        if len(commits) == 1:
            return commits[0]
        # the commit-message contract is one message per task; fold the
        # rolled files into one message the driver flattens
        return _MultiFileCommit(parts=commits)

    def commit(self, messages) -> None:
        self._publish_files(messages)

    def _publish_files(self, messages, txn_id: str | None = None) -> None:
        new = [m for m in _flatten_commits(messages) if m.file]
        files = [m.file for m in new]
        with S.Txn(self._path) as t:
            t.add(
                files,
                stats={m.file: m.stats for m in new if m.stats},
                blooms={m.file: m.blooms for m in new if m.blooms},
            )
            if t.stamp(txn_id) is not None:
                return  # redelivered micro-batch: drop its files, publish nothing
            if self._overwrite:
                # the ledger survives OVERWRITE too (Delta's txnAppId
                # semantics): exactly-once identity belongs to the WRITERS,
                # not the content (caught by the writer-protocol property
                # test). A lost race re-lists over the newer version.
                t.reset()
                t.remove(lambda f: True)
                t.set(stats_cols=self._stats_cols, bloom_cols=self._bloom_cols)
                t.commit("write", rebase=lambda nm: True)
            else:
                # appends commute: a lost race re-derives the union
                # against the interleaved writer's version
                self._fit_append(t, t.m, files)
                t.commit("write", rebase=lambda nm: self._fit_append(t, nm, files))

    def _fit_append(self, t, prev: dict, files: list[str]) -> bool:
        """Check this append against ``prev`` and set what it derives
        from it: the schema-drift flag and the union of stats/bloom
        pins."""
        import pyarrow.parquet as pq

        if not prev:  # a fresh table: this append defines it
            S._bootstrap_guard(self._path, "snapshot Data Source append")
            t.set(stats_cols=self._stats_cols, bloom_cols=self._bloom_cols)
            return True
        # files under ANY col=val dir (the _p= bucket layout OR a generic
        # hive partition layout adopted via snapshot()): appending flat
        # root files would publish a MIXED-DEPTH file list that basePath
        # reads reject ("Conflicting directory structures") — breaking
        # read_snapshot AND the CDF reader (review r8: the guard
        # previously checked only _p=).
        layer = S._partition_layer(prev, self._path)
        if files and layer:
            kind, hint = (
                ("a bucketed merge table",
                 "append via apply_changes")
                if layer[0] == S.BUCKET_COL
                else ("a hive-partitioned table",
                      "append via the partition-aware library writers")
            )
            raise ValueError(
                f"{self._path} is {kind} ({'='.join(layer)} layout); flat "
                f"Data Source appends would mix directory depths — {hint}"
            )
        mixed = bool(prev.get("mixed_schema"))
        if not mixed and prev["files"] and files:
            # one footer read decides whether this append evolves the
            # schema; readers then (and only then) pay mergeSchema
            old_s = pq.read_schema(prev["files"][0])
            new_s = pq.read_schema(files[0])
            mixed = {f.name: str(f.type) for f in old_s} != {
                f.name: str(f.type) for f in new_s
            }
        t.set(
            mixed_schema=mixed,
            stats_cols=sorted(set(prev.get("stats_cols") or []) | set(self._stats_cols)),
            bloom_cols=sorted(set(prev.get("bloom_cols") or []) | set(self._bloom_cols)),
        )
        return True

    def abort(self, messages) -> None:
        _drop_files(messages)


def _drop_files(messages) -> None:
    for m in _flatten_commits(messages):
        if m.file:
            try:
                os.remove(m.file)
            except OSError:
                pass


class _SnapshotStreamWriter(_SnapshotWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("snapshot")`` — the streaming twin of the
    batch writer, with EXACTLY-ONCE micro-batch publication through the
    manifest txn ledger (the Delta txnAppId/txnVersion idea,
    sinks/snapshots.py ``txns``; same machinery as `operators/merge.py`'s
    additive merges and the s09 corpus proof):

    - each micro-batch appends task-written files under one ledger key
      ``snapshot_stream:<appid>:<batchId>``;
    - Structured Streaming redelivers a micro-batch when the sink commit
      succeeded but the checkpoint offset commit did not (the crash
      window s08 exercises). On redelivery the ledger already records the
      batch's key, so ``commit`` deletes the replay attempt's files and
      publishes NOTHING — additive appends stay exactly-once without the
      sink being idempotent per row;
    - ``appid`` (option, default "stream") namespaces the ledger key so
      independent queries appending to one table don't collide. Ledger
      entries are pruned by ``vacuum`` alongside the versions they
      produced (retention already property-tested).
    """

    def __init__(self, options: dict, overwrite: bool, schema=None) -> None:
        _SnapshotWriter.__init__(self, options, overwrite, schema)
        self._appid = options.get("appid") or "stream"

    # NOTE (r7): Delta-style in-sink autoCompact is architecturally
    # impossible here — a Python Data Source's driver-side commit runs
    # in Spark's ISOLATED plan-data-source worker, which has no
    # SparkSession and cannot launch jobs (verified: getActiveSession()
    # is None there). The equivalent is `snapshots.compact_small_files`
    # on a cadence or post-drain — the same content-preserving,
    # ledger-carrying bin-packing, run where a session exists; Delta
    # itself runs autoCompact as a separate post-commit job too.

    def _txn_key(self, batch_id: int) -> str:
        return f"snapshot_stream:{self._appid}:{int(batch_id)}"

    def commit(self, messages, batchId: int) -> None:
        self._publish_files(messages, txn_id=self._txn_key(batchId))

    def abort(self, messages, batchId: int) -> None:
        _drop_files(messages)


class SnapshotSource(DataSource):
    """``spark.read.format("snapshot")`` / ``df.write.format("snapshot")``.

    Read options: ``path`` (table dir, required), ``version`` (time
    travel; default latest). Each input partition reads one file.

    Write options: ``path`` (required), ``stats_cols`` /
    ``bloom_cols`` (comma-separated: record per-file [min, max] stats /
    bloom bitsets in the manifest for planning-time pruning). Modes:
    ``overwrite`` publishes a version listing only this write's files;
    ``append`` carries the previous version's files + metadata forward.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        opts = {k.lower(): v for k, v in self.options.items()}
        v = opts.get("version")
        ts = opts.get("timestampasof")
        if ts is not None and v is None:
            v = S.as_of(self.options["path"], _epoch(ts))
        # resolve=False (metadata-only): the recorded schema, footers
        # only for an evolved version or one with no usable record
        m = S.read_manifest(
            self.options["path"], int(v) if v is not None else None, resolve=False
        )
        return _version_schema(m)

    def reader(self, schema: StructType) -> _SnapshotReader:
        opts = {k.lower(): v for k, v in self.options.items()}
        opts["path"] = self.options["path"]
        return _SnapshotReader(opts, schema)

    def writer(self, schema: StructType, overwrite: bool) -> _SnapshotWriter:
        opts = {k.lower(): v for k, v in self.options.items()}
        opts["path"] = self.options["path"]
        return _SnapshotWriter(opts, overwrite, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> _SnapshotStreamWriter:
        opts = {k.lower(): v for k, v in self.options.items()}
        opts["path"] = self.options["path"]
        return _SnapshotStreamWriter(opts, overwrite, schema)

    def streamReader(self, schema: StructType) -> _SnapshotStreamReader:
        opts = {k.lower(): v for k, v in self.options.items()}
        opts["path"] = self.options["path"]
        return _SnapshotStreamReader(opts, schema)


def register(spark) -> None:
    """Register for this session (idempotent, thread-safe, pins the
    calling thread's JVM active session — see
    session.register_python_source for both subtleties)."""
    from ..session import register_python_source

    register_python_source(spark, SnapshotSource, "_snapshot_source_registered")


@dataclass
class _AppendPartition(InputPartition):
    files: list = field(default_factory=list)
    dv: dict = field(default_factory=dict)


class _SnapshotStreamReader(DataSourceStreamReader):
    """``readStream.format("snapshot")`` — Delta's streaming-source shape
    for append-only versioned tables: offsets are manifest versions, and
    each micro-batch reads exactly the files ADDED in its version range
    (the streaming sink's appends, overwrite_versioned bootstraps, …).

    Delta-parity semantics:

    - default start is version 0, so the FIRST batch is the whole
      existing table (Delta's initial snapshot); ``startingVersion`` /
      ``startingTimestamp`` begin later;
    - a range that REMOVED files (an overwrite/compaction/merge rewrote
      the table) is not append-only and raises, unless
      ``ignoreChanges=true`` — then only the added files stream, exactly
      Delta's ignoreChanges contract (rewritten rows may re-emit or be
      skipped; downstream must key-dedup). For row-level deltas use
      ``readStream.format("snapshot_cdf")`` instead.
    """

    def __init__(self, options: dict, schema: StructType) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        self._path = options["path"]
        self._ignore_changes = str(options.get("ignorechanges", "")).lower() == "true"
        # the planner's schema is LOGICAL; files carry physical names.
        # The column mapping is PINNED AT STREAM START (a rename
        # mid-stream needs a restart, like Delta's columnMapping streams)
        import pyarrow as pa

        logical = to_arrow_schema(schema)
        renames = {}
        if S.latest_version(self._path):
            # resolve=False: only mapping + layout are needed (review r8)
            m0 = S.read_manifest(self._path, resolve=False)
            renames, _dropped = S.mapping_of(m0)
            _hive_layout_guard(self._path, m0)  # same leaf-read limit as batch
        inv = {log: phys for phys, log in renames.items()}
        self._schema_arrow = pa.schema([f.with_name(inv.get(f.name, f.name)) for f in logical])
        self._logical_names = list(logical.names)
        start = options.get("startingversion")
        start_ts = options.get("startingtimestamp")
        if start is not None and start_ts is not None:
            raise ValueError("pass either startingVersion or startingTimestamp, not both")
        if start is not None:
            self._start = int(start)
        elif start_ts is not None:
            try:
                self._start = S.as_of(self._path, _epoch(start_ts))
            except LookupError:
                # pre-history timestamp: Delta streams the whole table
                # from the earliest version; "everything since yesterday"
                # on a table created today must not crash (review r8)
                self._start = 0
        else:
            self._start = 0  # initial snapshot: the whole table is batch 0

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": S.latest_version(self._path) or 0}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return [_AppendPartition()]
        m_old = S.read_manifest(self._path, v0, resolve=False) if v0 > 0 else {"files": []}
        m_new = S.read_manifest(self._path, v1, resolve=False)
        # a deletion-vector change on a file both versions list is a
        # row-level REMOVAL without file churn — same append-only breach
        # as a removed file (Delta raises likewise without ignoreChanges)
        removed, added, dv_changed = S.changed_files(m_old, m_new)
        if (removed or dv_changed) and not self._ignore_changes:
            raise ValueError(
                f"{self._path}: versions {v0}->{v1} removed {len(removed)} "
                f"file(s) and changed deletion vectors on {len(dv_changed)} "
                "— the table is not append-only over this range. Stream "
                "row-level deltas with format('snapshot_cdf'), or set "
                "ignoreChanges=true to stream only added files."
            )
        added = sorted(added)
        end_dv = S.read_dv(m_new)  # ref-based; no shard resolution needed
        dv = {f: end_dv[f] for f in added if f in end_dv}
        return [
            _AppendPartition(files=[f], dv={f: dv[f]} if f in dv else {}) for f in added
        ] or [_AppendPartition()]

    def read(self, partition: _AppendPartition):
        if not partition.files:
            return
        import pyarrow.parquet as pq

        for f in partition.files:
            yield from _mask_align(
                pq.read_table(f), partition.dv.get(f),
                self._schema_arrow, self._logical_names,
            ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; manifests are immutable
