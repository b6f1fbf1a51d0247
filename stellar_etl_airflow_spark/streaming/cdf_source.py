"""Streaming Change Data Feed: a Spark 4 Python Data Source
(``pyspark.sql.datasource``, SPARK-44076) that tails a versioned merge
table's manifest log and emits row-level changes per micro-batch —
``spark.readStream.format("snapshot_cdf")``.

Delta Lake exposes the same capability as
``spark.readStream.format("delta").option("readChangeFeed", ...)``; the
reference's downstream consumers (dbt models re-built after every
10-minute batch) are exactly the audience: instead of re-reading the
full state table each cycle, a streaming consumer receives only the
net per-key deltas each published version introduced.

Scale shape (the reason this is a partition-based
``DataSourceStreamReader``, not the driver-side Simple variant):

- the DRIVER only diffs manifests — offsets are ``{"version": N}`` and
  planning a batch is a JSON read + file-list symmetric difference,
  independent of table size;
- each churned BUCKET becomes one ``InputPartition``; EXECUTORS read
  that bucket's old+new files (pyarrow) and classify rows with a
  pandas outer merge on the pinned merge keys — the same
  bucket-fits-in-memory contract as the merge that wrote the files;
- untouched buckets never appear in any partition, so a batch touching
  3 of 64 buckets streams 3 buckets' worth of rows.

Classification matches :mod:`..operators.cdf` (net between the batch's
version endpoints): ``insert`` / ``delete`` / ``update_preimage`` /
``update_postimage`` in ``_change_type``, plus ``_commit_version``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.cdf import CHANGE_TYPE_COL, COMMIT_VERSION_COL
from ..sinks import snapshots as S
from ..sources.snapshot_source import _epoch, _version_schema

FORMAT_NAME = "snapshot_cdf"


@dataclass
class _ChurnPartition(InputPartition):
    old_files: list = field(default_factory=list)
    new_files: list = field(default_factory=list)
    keys: tuple = ()
    cols: tuple = ()  # output data columns, in schema order
    types: tuple = ()  # matching Spark simpleString() types
    version: int = 0


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self._path = options["path"]
        self._schema = schema
        keys = options.get("keys")
        if keys:
            self._keys = tuple(k.strip() for k in keys.split(","))
        else:
            props = S.load_table_props(self._path) or {}
            self._keys = tuple(props.get("keys") or ())
        if not self._keys:
            raise ValueError(
                f"{self._path}: no merge keys pinned and no 'keys' option"
            )
        start = options.get("startingversion") or options.get("startingVersion")
        start_ts = options.get("startingtimestamp") or options.get("startingTimestamp")
        if start is not None and start_ts is not None:
            raise ValueError("pass either startingVersion or startingTimestamp, not both")
        if start is not None:
            self._start = int(start)
        elif start_ts is not None:
            # Delta's startingTimestamp: the base is the table state AS OF
            # the timestamp; the feed emits changes after it
            self._start = S.as_of(self._path, _epoch(start_ts))
        else:  # Delta default: changes from now on
            self._start = S.latest_version(self._path) or 0

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": S.latest_version(self._path) or 0}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return [_ChurnPartition()]  # empty batch (API wants >=1)
        m_old = S.read_manifest(self._path, v0, resolve=False) if v0 > 0 else {"files": []}
        m_new = S.read_manifest(self._path, v1, resolve=False)
        # the streaming CDF reader diffs FILE sets and reads raw bytes:
        # deletion vectors (row churn with no file churn, or masked rows
        # of a file it reads) and column mapping would be silently
        # misread — both are metadata-only table states this reader does
        # not support (the batch operators/cdf.read_changes does). Guard
        # loudly (review r7). BOTH endpoints must be mapping-free (review
        # r8): a batch spanning a mapping-materializing compact (old
        # manifest mapped, new one reset to identity) would otherwise
        # pass and outer-merge files whose physical names disagree —
        # null keys, garbage rows.
        removed, added, dv_changed = S.changed_files(m_old, m_new)
        masked_old = set((m_old.get("dv") or {}).get("counts") or {})
        masked_new = set((m_new.get("dv") or {}).get("counts") or {})
        if (
            dv_changed or masked_old & set(removed) or masked_new & set(added)
            or m_new.get("renames") or m_new.get("dropped_cols")
            or m_old.get("renames") or m_old.get("dropped_cols")
        ):
            raise ValueError(
                f"{self._path}: version range {v0}->{v1} involves deletion "
                "vectors or column mapping, which the snapshot_cdf STREAM "
                "does not decode; use operators.cdf.read_changes (batch) "
                "for these tables"
            )
        base = m_new.get("base") or self._path
        buckets: dict[tuple, _ChurnPartition] = {}
        data_fields = [
            f
            for f in self._schema.fields
            if f.name not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
        ]
        cols = tuple(f.name for f in data_fields)
        types = tuple(f.dataType.simpleString() for f in data_fields)
        def bucket(f: str) -> tuple:
            dirs = tuple(S._partition_dirs(f, base) or ())  # flat: one partition
            hive = [f"{k}={v}" for k, v in dirs if k != S.BUCKET_COL]
            if hive:
                # hive `col=val` dirs carry DATA columns the leaf-file
                # pyarrow reads here cannot recover (the DataFrame path
                # uses basePath discovery for exactly this) — refuse
                # instead of silently dropping the column (review r8)
                raise ValueError(
                    f"{self._path}: data files live under hive partition "
                    f"dirs ({hive[0]}); the snapshot_cdf STREAM reads leaf "
                    "files and would drop that column — use "
                    "operators.cdf.read_changes (batch) for this layout"
                )
            return dirs

        for f in sorted(removed):
            b = buckets.setdefault(
                bucket(f),
                _ChurnPartition(keys=self._keys, cols=cols, types=types, version=v1),
            )
            b.old_files.append(f)
        for f in sorted(added):
            b = buckets.setdefault(
                bucket(f),
                _ChurnPartition(keys=self._keys, cols=cols, types=types, version=v1),
            )
            b.new_files.append(f)
        return list(buckets.values()) or [_ChurnPartition()]

    def read(self, partition: _ChurnPartition):
        if not partition.old_files and not partition.new_files:
            return iter(())
        return iter(_classify_bucket(partition))

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the checkpoint; manifests immutable


def _types_mapper(t):
    """Arrow -> pandas NULLABLE dtypes for integrals and booleans: the
    default to_pandas would NaN-fill int64 columns to float64 across
    the outer merge, silently corrupting values above 2^53 and making
    distinct int64s that collapse to one double compare equal — a
    suppressed real update (review r8)."""
    import pandas as pd
    import pyarrow as pa

    m = {
        pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(),
        pa.bool_(): pd.BooleanDtype(),
    }
    return m.get(t)


def _read_pandas(files: list, cols: tuple):
    """One pandas frame over the listed files, aligned to ``cols``
    (missing columns — older schemas — null-filled). Array cells become
    tuples (hashable, elementwise-comparable — raw ndarrays break both
    ``==`` and truth testing in the classifier). A file carrying a
    column OUTSIDE ``cols`` means the schema evolved after stream
    start: raise (Delta fails the stream on schema change too) rather
    than silently dropping the new column's changes."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    known = set(cols) | {"_p"}
    for f in files:
        tbl = pq.read_table(f)
        extra = [c for c in tbl.schema.names if c not in known]
        if extra:
            raise ValueError(
                f"{f}: columns {extra} were added after stream start; "
                "restart the stream to pick up the evolved schema"
            )
        frames.append(tbl.to_pandas(types_mapper=_types_mapper))
    if not frames:
        return pd.DataFrame({c: [] for c in cols})
    out = pd.concat(frames, ignore_index=True)
    for c in cols:
        if c not in out.columns:
            out[c] = None
    out = out[list(cols)]
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(
                lambda v: tuple(v) if isinstance(v, (np.ndarray, list)) else v
            )
    return out


def _coerce(v, spark_type: str):
    """pandas outer merges NaN-fill; Spark's Python-source row
    verification wants exact types back."""
    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        return v.tolist()
    if v is None or (not isinstance(v, (list, tuple, dict)) and pd.isna(v)):
        return None
    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if spark_type in ("float", "double"):
        return float(v)
    if spark_type == "boolean":
        return bool(v)
    if spark_type.startswith("array"):
        return list(v)
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    if hasattr(v, "item"):  # residual numpy scalar
        return v.item()
    return v


def _classify_bucket(p: _ChurnPartition):
    """Executor-side: outer-merge one bucket's old vs new rows on the
    merge keys, yield (cols..., _change_type, _commit_version) tuples.
    Classification is VECTORIZED (review r8): the left/right/changed
    masks are columnwise boolean algebra; Python touches only the rows
    that actually emit."""
    import pandas as pd

    cols = list(p.cols)
    keys = list(p.keys)
    typ = dict(zip(p.cols, p.types))
    val_cols = [c for c in cols if c not in keys]
    old = _read_pandas(p.old_files, p.cols)
    new = _read_pandas(p.new_files, p.cols)
    m = old.merge(
        new, on=keys, how="outer", suffixes=("__o", "__n"), indicator=True
    )

    def _row(r: dict, side: str):
        return [_coerce(r[k], typ[k]) for k in keys] + [
            _coerce(r[f"{c}__{side}"], typ[c]) for c in val_cols
        ]

    mm = m["_merge"]
    for r in m[mm == "right_only"].to_dict("records"):
        yield (*_row(r, "n"), "insert", p.version)
    for r in m[mm == "left_only"].to_dict("records"):
        yield (*_row(r, "o"), "delete", p.version)
    if val_cols:
        eq_all = pd.Series(True, index=m.index)
        for c in val_cols:
            o, n = m[f"{c}__o"], m[f"{c}__n"]
            # nullable dtypes compare to pd.NA where either side is
            # null — fillna(False) keeps the null!=value case a change
            eq_all &= ((o.isna() & n.isna()) | (o == n).fillna(False))
        for r in m[(mm == "both") & ~eq_all].to_dict("records"):
            yield (*_row(r, "o"), "update_preimage", p.version)
            yield (*_row(r, "n"), "update_postimage", p.version)


class SnapshotCDFSource(DataSource):
    """``spark.readStream.format("snapshot_cdf")`` over a versioned
    merge table. Options: ``path`` (table dir, required), ``keys``
    (csv; default = the table's pinned merge keys),
    ``startingVersion`` (default: latest at stream start — only new
    changes).

    SEMANTICS NOTE vs Delta: ``startingVersion=N`` here names the BASE
    snapshot — the feed emits changes of versions AFTER N (N+1, N+2,
    ...). Delta's option is inclusive (changes committed AT N and
    later); pass ``N-1`` here for Delta's behavior. Same for
    ``startingTimestamp``: the as-of version at the timestamp is the
    base, its own changes are not re-emitted."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        path = self.options["path"]
        # resolve=False: metadata only — the recorded schema, footers only
        # for an evolved version or one with no usable record
        m = S.read_manifest(path, resolve=False)
        base = _version_schema(m)
        return StructType(
            base.fields
            + [
                StructField(CHANGE_TYPE_COL, StringType()),
                StructField(COMMIT_VERSION_COL, LongType()),
            ]
        )

    def streamReader(self, schema: StructType) -> _CDFStreamReader:
        # normalize option keys (Spark lowercases them)
        opts = {k.lower(): v for k, v in self.options.items()}
        opts["path"] = self.options["path"]
        return _CDFStreamReader(schema, opts)


def register(spark) -> None:
    """Register for this session (idempotent, thread-safe, pins the
    calling thread's JVM active session — see
    session.register_python_source for both subtleties)."""
    from ..session import register_python_source

    register_python_source(spark, SnapshotCDFSource, "_snapshot_cdf_source_registered")
