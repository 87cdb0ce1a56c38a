"""tp_* common-column enrichment.

Reference semantics (SURVEY.md §1.2; reference:
internal/database/read_json_query.go:29-66 and
internal/config/partition.go:188-231):

- ``tp_timestamp`` (timestamp, required) must already be mapped by the
  table/format config; everything derives from it.
- ``tp_date`` is ALWAYS derived — ``date_trunc('day', tp_timestamp)``
  guarded on NULL — never taken from the source.
- ``tp_index`` is ALWAYS overwritten from partition config (a validated
  bare column name / expression, default literal 'default'); source
  values are ignored.
- ``tp_partition`` / ``tp_table`` are constants for the ingest run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_INDEX = "default"


def enrich_tp(
    df: DataFrame,
    table: str,
    partition: str,
    index_expr: str | None = None,
) -> DataFrame:
    """Add/overwrite the engine-owned tp_* columns.

    ``df`` must already expose ``tp_timestamp``. ``index_expr`` is a SQL
    expression (typically a bare column name) evaluated per row; when
    None the literal 'default' is used, matching the reference.
    """
    if "tp_timestamp" not in df.columns:
        raise ValueError("enrich_tp requires a mapped tp_timestamp column")
    ts = F.col("tp_timestamp").cast("timestamp")
    idx = (
        F.expr(index_expr).cast("string")
        if index_expr
        else F.lit(DEFAULT_INDEX)
    )
    return (
        df.withColumn("tp_timestamp", ts)
        .withColumn(
            "tp_date", F.when(ts.isNotNull(), F.date_trunc("day", ts).cast("date"))
        )
        .withColumn("tp_index", idx)
        .withColumn("tp_partition", F.lit(partition))
        .withColumn("tp_table", F.lit(table))
    )


def with_partition_columns(df: DataFrame) -> DataFrame:
    """Materialize tp_year/tp_month for the physical layout.

    The reference partitions by ``year(tp_timestamp), month(tp_timestamp)``
    as expressions (reference: internal/database/ducklake_table.go:38-41);
    Spark cannot partition a write by an expression, so these become real
    (hidden) columns — query_cli.filter_conditions maps tp_timestamp
    ranges onto them so partition pruning still fires.
    """
    ts = F.col("tp_timestamp")
    return df.withColumn("tp_year", F.year(ts)).withColumn("tp_month", F.month(ts))
