"""Structured-Streaming registry entries.

These run REAL streaming queries (readStream file source → watermarked
windowed aggregation → memory sink) drained with trigger(availableNow)
so the final state is deterministic, then return the drained result as
a DataFrame. The oracle is the equivalent batch SQL — hash-matching it
is the engine's streaming==batch semantics proof (the unified-model
claim Structured Streaming makes; reference parity: tailpipe's
incremental collection produces the same table a batch collect would,
internal/collection_state).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.queries import QuerySpec


def _read_stream(spark, path: str):
    """readStream over a parquet table with NTZ timestamps normalized
    to TIMESTAMP: watermarks/event time REQUIRE TimestampType, so a
    table written as TIMESTAMP_NTZ (Spark's own NTZ writes, pandas
    ``timestamp[us]``) would otherwise fail with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — the streaming twin of
    read_table's batch-side safety net. Session tz is pinned UTC, so
    the cast is value-identical."""
    from pyspark.sql.types import TimestampNTZType

    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(_stream_dir(path))
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            src = src.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return src


@functools.lru_cache(maxsize=64)
def _stream_dir(path: str) -> str:
    """The file streaming source requires a DIRECTORY of data files (it
    forces basePath to the stream path and does not recurse into
    nested table dirs); testdata tables are single parquet files,
    generated bench sets are directories of part files. Expose either
    through a temp dir of flat symlinks — no data copy, cached per
    source path.

    The source path MUST be made absolute before linking: the symlink
    targets live under /tmp, so a relative sf_dir (e.g. `.bench/sf1`)
    would produce links relative to the temp dir — broken, and the file
    stream source then lists ZERO files and every streaming entry
    silently returns 0 rows (exactly how the r9 sf1 sweep regressed
    when invoked with a relative path)."""
    import os
    import tempfile

    path = os.path.abspath(path)
    d = tempfile.mkdtemp(prefix="tp_stream_src_")
    if os.path.isdir(path):
        for n in sorted(os.listdir(path)):
            if n.endswith(".parquet"):
                os.symlink(os.path.join(path, n), os.path.join(d, n))
    else:
        os.symlink(path, os.path.join(d, os.path.basename(path)))
    return d


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window event counts per event_type, computed by a
    streaming query over the events table (availableNow drain, complete
    output mode so every window is present in the final state). The
    memory sink holds only the aggregated windows — bounded state, never
    the stream."""
    from tailpipe_spark.session import configure_runtime
    from tailpipe_spark.streaming.collect_stream import windowed_counts

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    src = _read_stream(spark, path)
    out = windowed_counts(
        src, ts_col="ts", window="1 hour", watermark="1 hour",
        group_cols=["event_type"],
    )
    name = "q_stream_window_counts_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .select("window_start", "window_end", "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


STREAM_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (F.session_window) computed by a
    streaming query with availableNow + complete mode — the
    streaming-native twin of operators.sessionize, value-checked against
    the same recursive gaps-and-islands SQL shape used by q_sessionize.
    Session count + event sum per user over a 30-minute gap."""
    from tailpipe_spark.session import configure_runtime
    from tailpipe_spark.streaming.collect_stream import session_windows

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    src = _read_stream(spark, path)
    sessions = session_windows(
        src, key="user_id", ts_col="ts", gap="30 minutes", watermark="1 hour"
    )
    name = "q_stream_sessionize_sink"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # summarize per user: session count and total events — a stable
    # schema the batch oracle reproduces with gaps-and-islands
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


STREAM_SESSIONIZE_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, ts,
         -- Spark's session_window is [start, last+gap): an event at
         -- exactly last+gap starts a NEW session, hence >=
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0
         END AS new_session
  FROM ordered)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM flagged
GROUP BY user_id
ORDER BY user_id
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer dimension (the standard lookup/enrich pattern — at scale
    the static side is broadcast per micro-batch, the stream never
    shuffles on the join key), then aggregates revenue-weighted counts
    per market segment."""
    from tailpipe_spark.session import configure_runtime, read_table

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    src = _read_stream(spark, path)
    dim = read_table(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = src.join(
        F.broadcast(dim), src.user_id == dim.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    )
    name = "q_stream_static_join_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("c_mktsegment")


STREAM_STATIC_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over (user_id,
    event_type) inside the stream, then counts per event_type — equal
    to batch COUNT(DISTINCT user_id). Local drain keeps full dedup
    state; a production stream bounds it with
    dropDuplicatesWithinWatermark (streaming/stateful.py carries the
    TTL variant)."""
    from tailpipe_spark.session import configure_runtime

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    src = _read_stream(spark, path)
    agg = (
        src.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )
    name = "q_stream_dedup_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("event_type")


STREAM_DEDUP_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each click
    joins the same user's purchases within the following hour. Both
    sides are watermarked so the state store can evict rows once the
    join window passes — THE capability that distinguishes streaming
    joins from a static join (unbounded state otherwise). availableNow
    drain == the equivalent batch time-range self-join, hash-checked."""
    from tailpipe_spark.session import configure_runtime

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    clicks = (
        _read_stream(spark, path)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"), F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _read_stream(spark, path)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"), F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.buy_ts > clicks.click_ts)
        & (purchases.buy_ts <= clicks.click_ts + F.expr("INTERVAL 1 HOUR")),
    ).select(clicks.user_id, "click_id", "buy_id")
    name = "q_stream_stream_join_sink"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .orderBy("user_id")
    )


STREAM_STREAM_JOIN_SQL = """
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_attributed
FROM (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts AS buy_ts FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.buy_ts > c.click_ts
 AND p.buy_ts <= c.click_ts + INTERVAL 1 HOUR
GROUP BY c.user_id
ORDER BY c.user_id
"""


def q_rollup_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate read path (streaming/rollup.py): hourly
    buckets materialized for history (< boundary) unioned with the same
    aggregation over the raw tail — the result must equal aggregating
    all raw rows, which is exactly what the oracle does. The streaming
    maintenance side (foreachBatch bucket upsert) is pytest-covered;
    this entry value-checks the union-boundary semantics."""
    from tailpipe_spark.session import read_table
    from tailpipe_spark.streaming.rollup import BUCKET_COL, bucketize, continuous_read

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    ]
    boundary = "2024-01-20 00:00:00"
    rollup = bucketize(
        ev.filter(F.col("ts") < F.lit(boundary).cast("timestamp")),
        "ts", "1 hour", ["event_type"], aggs,
    )
    out = continuous_read(
        ev, rollup, "ts", "1 hour", ["event_type"], aggs, boundary
    )
    return out.select(
        F.col(BUCKET_COL), "event_type", "n_events", "value_milli"
    ).orderBy(BUCKET_COL, "event_type")


ROLLUP_CONTINUOUS_SQL = """
SELECT date_trunc('hour', ts) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""


def q_rollup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store-safe rollup maintenance driven end-to-end
    (streaming/rollup.py): an availableNow maintenance stream
    materializes daily buckets into generation dirs committed by an
    atomic pointer-file replace (single PUT on an object store, where a
    directory rename is copy+delete), then ``read_manifest_rollup``
    loads ONLY the pointed partitions. The write→commit→read round trip
    must equal aggregating the raw table directly, which is what the
    oracle does. Fixed-point value sum (functions/exact.py discipline)
    keeps the compare exact."""
    import atexit
    import shutil
    import tempfile

    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        maintain_rollup,
        read_manifest_rollup,
    )

    root = tempfile.mkdtemp(prefix="tp_rollup_manifest_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = _read_stream(spark, f"{sf_dir}/events.parquet")
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    ]
    q = maintain_rollup(
        src, f"{root}/rollup", "ts", "1 day", ["event_type"], aggs,
        checkpoint=f"{root}/ck", watermark="3650 days",
    )
    q.awaitTermination()
    out = read_manifest_rollup(spark, f"{root}/rollup")
    return out.select(
        F.col(BUCKET_COL), "event_type", "n_events", "value_milli"
    ).orderBy(BUCKET_COL, "event_type")


ROLLUP_MANIFEST_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""


def q_stream_budget_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom arbitrary-state operator (streaming/stateful.py
    budget_alerts_stream): per-user budget-crossing alerts whose
    emission depends on the whole history — summarized per user. With
    strictly positive values, crossings-per-user equals
    floor(total_milli / budget), which the oracle computes exactly from
    the same fixed-point longs; max(cross_n) must equal the count
    (monotone totals), so both are value-checked."""
    from tailpipe_spark.session import configure_runtime
    from tailpipe_spark.streaming.stateful import budget_alerts_stream

    configure_runtime(spark)
    path = f"{sf_dir}/events.parquet"
    src = _read_stream(spark, path)
    alerts = budget_alerts_stream(
        src, "user_id", "value", "ts", budget_milli=1_000_000
    )
    name = "q_stream_budget_alerts_sink"
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.max("cross_n").alias("max_level"),
        )
        .orderBy("user_id")
    )


STREAM_BUDGET_SQL = """
WITH totals AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS total_milli
  FROM events GROUP BY user_id)
SELECT user_id,
       total_milli // 1000000 AS n_alerts,
       total_milli // 1000000 AS max_level
FROM totals
WHERE total_milli // 1000000 >= 1
ORDER BY user_id
"""


SPECS = [
    QuerySpec(
        "q_stream_window_counts", q_stream_window_counts, STREAM_WINDOW_SQL,
        "streaming hourly window counts (availableNow drain) == batch SQL",
    ),
    QuerySpec(
        "q_stream_budget_alerts", q_stream_budget_alerts, STREAM_BUDGET_SQL,
        "arbitrary-state budget-crossing alerts == exact fixed-point totals",
    ),
    QuerySpec(
        "q_rollup_continuous", q_rollup_continuous, ROLLUP_CONTINUOUS_SQL,
        "continuous aggregate: materialized history buckets ∪ fresh tail == full agg",
    ),
    QuerySpec(
        "q_rollup_manifest", q_rollup_manifest, ROLLUP_MANIFEST_SQL,
        "manifest-layout rollup write→atomic-commit→pruned-read == full agg",
    ),
    QuerySpec(
        "q_stream_sessionize", q_stream_sessionize, STREAM_SESSIONIZE_SQL,
        "streaming session_window sessionization == batch gaps-and-islands",
    ),
    QuerySpec(
        "q_stream_static_join", q_stream_static_join, STREAM_STATIC_JOIN_SQL,
        "stream-static broadcast enrichment join == batch join",
    ),
    QuerySpec(
        "q_stream_dedup", q_stream_dedup, STREAM_DEDUP_SQL,
        "streaming dropDuplicates == batch COUNT(DISTINCT)",
    ),
    QuerySpec(
        "q_stream_stream_join", q_stream_stream_join, STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream interval join == batch time-range self-join",
    ),
]
