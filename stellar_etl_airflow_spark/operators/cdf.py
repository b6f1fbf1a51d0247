"""Change Data Feed over versioned merge tables: row-level changes
between two published versions, read from the manifests alone.

Delta Lake's CDF (``readChangeFeed`` + ``_change_type``) gives
downstream incremental consumers the per-key deltas a merge applied
without diffing whole table snapshots. The reference pipeline has the
same consumer shape: staging tables feed dbt models that want "what
changed since the last run", currently answered by re-reading full
state tables (dag_stellar_dbt_*.py schedule full rebuilds downstream
of every batch).

The snapshot log already contains everything needed: versions are FILE
LISTS and merges rewrite only touched buckets, so the symmetric
difference of two manifests' file lists IS the churn. ``read_changes``
reads ONLY those files (removed ∪ added — cost ∝ rewritten buckets,
never table size), full-outer-joins old vs new on the table's pinned
merge keys, and classifies each key:

- in new only                       -> ``insert``
- in old only                       -> ``delete``
- in both, any non-key col differs  -> ``update_preimage`` (old row)
                                       + ``update_postimage`` (new row)
- in both, identical                -> no rows (bucket rewrites carry
                                       untouched keys; they are not
                                       changes)

Changes are NET between the two versions (a key inserted then deleted
in the range yields nothing); loop consecutive versions for a
per-commit feed. The join shuffles only churned rows on the same keys
the merge already bucketed by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import snapshots as S
from ..sinks.snapshots import BUCKET_COL, load_table_props

#: change-type column name, matching Delta CDF's reader contract
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: tuple[str, ...] | None = None,
) -> DataFrame:
    """Net row-level changes applied between ``from_version`` (exclusive
    base state) and ``to_version`` (inclusive, default latest), with
    ``_change_type`` in {insert, delete, update_preimage,
    update_postimage} and ``_commit_version`` = ``to_version``.

    ``keys`` defaults to the merge keys pinned in the table's props
    (:func:`~stellar_etl_airflow_spark.operators.merge.apply_changes`);
    pass explicitly for tables versioned by plain overwrites."""
    if keys is None:
        props = load_table_props(path) or {}
        keys = tuple(props.get("keys") or ())
    if not keys:
        raise ValueError(f"{path}: no merge keys pinned and none passed")
    to_version = to_version if to_version is not None else S.latest_version(path)
    m_old = S.read_manifest(path, from_version)
    m_new = S.read_manifest(path, to_version)
    # a file BOTH versions list whose deletion vector changed holds
    # row-level churn without file churn (merge-on-read deletes): read
    # it on both sides — each side's VISIBLE rows, under its own vectors
    # — and the net-diff classifier below handles the rest (rows
    # untouched by the vector appear identically on both sides and net out)
    removed, added, dv_changed = S.changed_files(m_old, m_new)
    old_only, new_only = removed + dv_changed, added + dv_changed
    old_df = S._read_physical(spark, m_old, old_only) if old_only else None
    new_df = S._read_physical(spark, m_new, new_only) if new_only else None
    # column mapping: physical names never change (rename/drop are
    # metadata-only), so BOTH versions' files share physical names and
    # the diff is emitted under the TO version's logical schema — a
    # column renamed inside the range appears under its new name, a
    # column dropped inside the range disappears (Delta CDF's behavior
    # for columnMapping tables)
    if old_df is not None:
        old_df = S.to_logical(old_df, m_new)
    if new_df is not None:
        new_df = S.to_logical(new_df, m_new)
    if old_df is None and new_df is None:  # no churn in the range
        empty = S.read_snapshot(spark, path, to_version).limit(0)
        if BUCKET_COL in empty.columns:  # internal layout col, like the churn path
            empty = empty.drop(BUCKET_COL)
        return empty.withColumn(CHANGE_TYPE_COL, F.lit("insert")).withColumn(
            COMMIT_VERSION_COL, F.lit(to_version)
        ).limit(0)
    if old_df is None:
        old_df = new_df.limit(0)
    if new_df is None:
        new_df = old_df.limit(0)
    # additive schema evolution: align columns by name, null-filling the
    # side that predates a column
    for c in new_df.columns:
        if c not in old_df.columns:
            old_df = old_df.withColumn(c, F.lit(None).cast(new_df.schema[c].dataType))
    for c in old_df.columns:
        if c not in new_df.columns:
            new_df = new_df.withColumn(c, F.lit(None).cast(old_df.schema[c].dataType))
    cols = [c for c in new_df.columns if c != BUCKET_COL]
    val_cols = [c for c in cols if c not in keys]
    kl = list(keys)

    # presence must come from the join, not value nullability: a row of
    # all-null values is still present. Tag each side before joining.
    o = old_df.select(*cols, F.lit(True).alias("_o_present")).alias("o")
    n = new_df.select(*cols, F.lit(True).alias("_n_present")).alias("n")
    j = o.join(n, kl, "full_outer")
    o_present = F.coalesce(F.col("o._o_present"), F.lit(False))
    n_present = F.coalesce(F.col("n._n_present"), F.lit(False))
    # null-safe struct compare: one expression, no per-column logic
    o_row = F.struct(*[F.col(f"o.{c}").alias(c) for c in val_cols])
    n_row = F.struct(*[F.col(f"n.{c}").alias(c) for c in val_cols])
    changed = ~o_row.eqNullSafe(n_row)

    inserts = j.where(n_present & ~o_present).select(
        *kl, *[F.col(f"n.{c}").alias(c) for c in val_cols],
        F.lit("insert").alias(CHANGE_TYPE_COL),
    )
    deletes = j.where(o_present & ~n_present).select(
        *kl, *[F.col(f"o.{c}").alias(c) for c in val_cols],
        F.lit("delete").alias(CHANGE_TYPE_COL),
    )
    pre = j.where(o_present & n_present & changed).select(
        *kl, *[F.col(f"o.{c}").alias(c) for c in val_cols],
        F.lit("update_preimage").alias(CHANGE_TYPE_COL),
    )
    post = j.where(o_present & n_present & changed).select(
        *kl, *[F.col(f"n.{c}").alias(c) for c in val_cols],
        F.lit("update_postimage").alias(CHANGE_TYPE_COL),
    )
    out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
    return out.withColumn(COMMIT_VERSION_COL, F.lit(int(to_version)))
