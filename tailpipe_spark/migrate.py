"""Legacy-layout migration (A34).

The reference migrates pre-DuckLake workspaces by enumerating old
views, moving parquet dirs, and re-inserting into the new catalog
(reference: internal/migration/migration.go:38-160, 355-444). The Spark
equivalent is a one-off distributed copy: read the legacy parquet
(whatever its layout), re-derive the tp_* columns that the new layout
requires, and append through the standard writer so the data lands
hive-partitioned and catalog-registered.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tailpipe_spark import writer
from tailpipe_spark.catalog import Catalog
from tailpipe_spark.enrich import enrich_tp
from tailpipe_spark.schema import to_type_string


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

    Returns rows migrated. The read is one distributed scan; the write
    re-partitions into the engine layout — no driver-side row handling.
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
    df = df.filter(F.col("tp_timestamp").isNotNull())

    catalog.backup_metadata()
    out_schema = {f.name: to_type_string(f.dataType) for f in df.schema.fields}
    catalog.ensure_table(table, out_schema)
    from pyspark.sql import Observation

    obs = Observation()
    new_files = writer.append(
        catalog, table, df.observe(obs, F.count(F.lit(1)).alias("n"))
    )
    migrated = obs.get["n"]
    catalog.record_snapshot(
        "migrate", {"table": table, "from": legacy_path, "rows": migrated}
    )
    # keep the file index fresh the way collect does: a stale index
    # makes every time-bounded query scan the whole table
    catalog.merge_file_index(table, new_files)
    return migrated
