"""Partitioned Parquet writer.

Physical layout = the reference's DuckLake partition key
``(tp_partition, tp_index, year(tp_timestamp), month(tp_timestamp))``
(reference: internal/database/ducklake_table.go:38-41), materialized as
hive columns tp_partition/tp_index/tp_year/tp_month.

Appends go straight to partition dirs — no global shuffle; Spark writes
one file per task per partition, and the compactor merges small files
later (same split as the reference: fast ingest, async compaction).
Range deletes rewrite partition keys through the compactor
(compact.delete_range).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from tailpipe_spark.catalog import PARTITION_COLS, Catalog
from tailpipe_spark.enrich import with_partition_columns


def append(catalog: Catalog, table: str, df: DataFrame) -> list[str]:
    """Append enriched rows (must carry tp_* columns) to the table.

    Writes to a staging dir, then moves each file into its partition
    dir — so the exact new-file list is known and returned (paths
    relative to the table dir) for O(new files) index maintenance
    (catalog.merge_file_index), mirroring the reference's per-insert
    transactional file metadata (internal/database/file_metadata.go:
    42-52). Spark part-file names embed a job UUID, so moves never
    collide with existing files."""
    out = with_partition_columns(df)
    staged = catalog.new_staging_dir(f"{table}.append")
    out.write.partitionBy(*PARTITION_COLS).mode("overwrite").parquet(staged)
    base = catalog.table_dir(table)
    moved: list[str] = []
    for root, _dirs, names in os.walk(staged):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, n), staged)
            dst = os.path.join(base, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(root, n), dst)
            moved.append(rel)
    shutil.rmtree(staged, ignore_errors=True)
    return moved
