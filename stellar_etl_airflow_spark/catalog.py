"""Warehouse catalog: registers every stored table as a temp view so the
SQL surface (sql_insert_job templates, ad-hoc spark.sql, the view library)
resolves bare table names — the engine's analog of the reference's
project.dataset namespace.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators.ingest import Warehouse
from .operators.jobs import list_tables
from .sinks.writer import PART_COL


def load_warehouse(spark: SparkSession, wh: Warehouse, include_meta: bool = False) -> list[str]:
    """Register all warehouse tables (and optionally _meta.batch_runs) as
    temp views. Returns the registered names."""
    names = []
    for t in list_tables(wh):
        df = spark.read.parquet(wh.path(t))
        if PART_COL in df.columns:
            df = df.drop(PART_COL)
        df.createOrReplaceTempView(t)
        names.append(t)
    if include_meta:
        spark.read.parquet(wh.meta_path()).createOrReplaceTempView("batch_runs")
        names.append("batch_runs")
    return names


def register_snapshot_table(
    spark: SparkSession, name: str, path: str, version: int | None = None
) -> None:
    """Register a versioned snapshot table under a bare SQL name —
    ``spark.sql("SELECT ... FROM name")`` then resolves through the
    snapshot Data Source (manifest pruning, pushFilters, time travel via
    ``version``). The catalog twin of ``load_warehouse`` for
    manifest-backed tables; the internal bucket column is hidden like
    PART_COL is for directory tables."""
    from .sinks.snapshots import BUCKET_COL
    from .sources import snapshot_source

    snapshot_source.register(spark)
    reader = spark.read.format(snapshot_source.FORMAT_NAME).option("path", path)
    if version is not None:
        reader = reader.option("version", str(version))
    df = reader.load()
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    df.createOrReplaceTempView(name)
