"""Structured Streaming ingest + windowed aggregation.

The reference's collection is incremental batch with persisted
per-partition state (SURVEY.md §1.1 'Stream'); the Spark-native
equivalent offers both:

- ``collect(...)`` (batch, tailpipe_spark.collect) with watermark state
  — the drop-in semantics match
- ``stream_collect`` here: ``readStream`` over a landing directory, with
  Spark's offset log as the checkpoint, and each micro-batch handed to
  ``collect`` through ``foreachBatch``. So a streamed row is mapped,
  validated, written, snapshotted and indexed exactly as a batch row is,
  under the same writer lock, and the table reads like a batch one.

Windowed aggregations use event-time watermarks so late data is bounded
and state is evicted — the 100 TB-stream answer to the reference's
"query after collect" model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tailpipe_spark.catalog import Catalog
from tailpipe_spark.collect import collect, load_state, save_state
from tailpipe_spark.config import PartitionConfig, TableConfig


def stream_collect(
    spark: SparkSession,
    catalog: Catalog,
    table: TableConfig,
    partition: PartitionConfig,
    source_dir: str,
    source_schema: T.StructType,
    timestamp_source: str = "tp_timestamp",
    fmt: str = "json",
    trigger_available_now: bool = True,
):
    """Stream JSONL/CSV chunks from ``source_dir`` into the table.

    Returns the StreamingQuery. With ``trigger_available_now`` the query
    drains everything currently in the directory and stops — the
    incremental-batch collection mode of the reference; without it the
    stream runs continuously, picking up new chunk files as plugins
    drop them.

    Exactly-once per chunk file: the checkpoint skips files already
    read, and a micro-batch Spark replays (its commit was lost after
    the rows landed) is skipped by its id, recorded in the partition's
    collection state after the landing — the order
    ``collect_incremental`` keeps for ``ingested_files``.
    """
    reader = spark.readStream.schema(source_schema)
    src = reader.json(source_dir) if fmt == "json" else reader.csv(source_dir)
    checkpoint = f"{catalog.metadata_dir}/checkpoints/{table.name}.{partition.name}"

    def land_batch(batch: DataFrame, batch_id: int) -> None:
        done = load_state(catalog, table.name, partition.name).get("stream_batches", {})
        if done.get(checkpoint, -1) >= batch_id:
            return
        collect(spark, catalog, table, partition, source_df=batch,
                timestamp_source=timestamp_source)
        state = load_state(catalog, table.name, partition.name)
        state.setdefault("stream_batches", {})[checkpoint] = batch_id
        save_state(catalog, table.name, partition.name, state)

    w = (
        src.writeStream.foreachBatch(land_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "tp_timestamp",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a watermark
    (works on both streaming and batch frames)."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(win.alias("w"), *(group_cols or []))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    key: str,
    ts_col: str = "tp_timestamp",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows via ``F.session_window`` — the
    streaming-native twin of operators.sessionize."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
