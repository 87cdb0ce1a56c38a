"""Legacy-layout migration (A34).

The reference migrates pre-DuckLake workspaces by enumerating old
views, moving parquet dirs, and re-inserting into the new catalog
(reference: internal/migration/migration.go:38-160, 355-444). The Spark
equivalent is a one-off distributed copy: read the legacy parquet
(whatever its layout), re-derive the tp_* columns that the new layout
requires, and land the rows through collect's landing (``collect.land``)
so they are validated, hive-partitioned, catalog-registered and indexed
like any collected rows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.catalog import Catalog
from tailpipe_spark.collect import land
from tailpipe_spark.enrich import enrich_tp


def migrate_legacy_table(
    spark: SparkSession,
    catalog: Catalog,
    legacy_path: str,
    table: str,
    partition: str = "migrated",
    timestamp_col: str = "tp_timestamp",
    index_expr: str | None = None,
) -> int:
    """Copy a legacy parquet directory into the workspace as ``table``.

    Returns rows migrated; rows without a timestamp are dropped. The
    read is one distributed scan; the write re-partitions into the
    engine layout — no driver-side row handling. ``index_expr`` is any
    Spark expression, as the legacy layout may need (a partition
    config's ``tp_index`` accepts only a column name).
    """
    from tailpipe_spark.session import configure_runtime

    configure_runtime(spark)
    df = spark.read.parquet(legacy_path)
    if timestamp_col not in df.columns:
        raise ValueError(
            f"legacy data needs timestamp column {timestamp_col!r} "
            f"(available: {df.columns})"
        )
    if timestamp_col != "tp_timestamp":
        df = df.withColumn("tp_timestamp", F.col(timestamp_col))
    df = enrich_tp(df, table=table, partition=partition, index_expr=index_expr)

    with catalog.writer_lock(f"migrate {table}"):
        catalog.backup_metadata()
        return land(
            catalog, table, df, ("tp_timestamp",), "migrate",
            {"table": table, "from": legacy_path},
        ).rows_written
