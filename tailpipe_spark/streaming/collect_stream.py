"""Windowed aggregation over streaming or batch frames.

The reference's collection is incremental batch with persisted
per-partition state (SURVEY.md §1.1 'Stream'), which
``collect_incremental`` (tailpipe_spark.collect) reproduces. Windowed
aggregations use event-time watermarks so late data is bounded and
state is evicted — the 100 TB-stream answer to the reference's "query
after collect" model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    ts_col: str = "tp_timestamp",
    window: str = "1 hour",
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark (works on
    both streaming and batch frames)."""
    win = F.window(F.col(ts_col), window)
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
