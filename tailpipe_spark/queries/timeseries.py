"""Time-series / log-analytics queries over the ``events`` table, plus
the ingest-path operator semantics from SURVEY.md §2.a (tp_* enrichment,
validation, filters, struct construction) expressed as oracle-checkable
queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tailpipe_spark.functions.exact import dsum, dwindow_sum, oracle_dsum
from tailpipe_spark.operators.asof import asof_join
from tailpipe_spark.operators.sessionize import merge_intervals, session_stats
from tailpipe_spark.queries import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tailpipe_spark.session import read_table

    return read_table(spark, f"{sf_dir}/{name}.parquet")


# --- window function suite (A8 + §2.b window surface) ---

def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wmove = w.rowsBetween(-4, 0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.rank().over(Window.partitionBy("user_id").orderBy(F.col("event_type"))).alias(
            "type_rank"
        ),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
        dwindow_sum("value", wsum).alias("running_value"),
        dwindow_sum("value", wmove).alias("moving5_value"),
    ).orderBy("user_id", "rn")


Q_WINDOW_SQL = """
SELECT event_id, user_id, ts,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank,
       LAG(event_id) OVER w AS prev_event_id,
       LEAD(event_id) OVER w AS next_event_id,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
         AS running_value,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
            OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
         AS moving5_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, rn
"""


# --- hourly time-bucket rollup (batch analog of tumbling windows) ---

def q_time_bucket_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


Q_TIME_BUCKET_SQL = f"""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


# --- sessionization (gap-based) ---

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return session_stats(e, "user_id", "ts", gap_seconds=1800).orderBy("user_id")


Q_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS span_sec
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(span_sec) AS max_span_sec
FROM per_session GROUP BY user_id ORDER BY user_id
"""


# --- interval union (gaps-and-islands merge) ---

def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping event intervals (each event opens
    a deterministic (event_id % 900 + 60)-second window), reduced to
    per-user coverage stats. The operator is one keyed shuffle + two
    window passes — no interval self-join (operators/sessionize.py
    merge_intervals)."""
    e = _t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") % 900 + 60) * F.lit(1_000_000)
        ).alias("end_us"),
    )
    merged = merge_intervals(iv, "user_id", "start_us", "end_us")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("island_end") - F.col("island_start")).alias(
                "covered_us"
            ),
            F.max(F.col("island_end") - F.col("island_start")).alias(
                "max_island_us"
            ),
            F.sum("n_rows").alias("n_events"),
        )
        .orderBy("user_id")
    )


Q_INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + (event_id % 900 + 60) * 1000000 AS end_us
  FROM events),
flagged AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN MAX(end_us) OVER w IS NULL
                   OR start_us > MAX(end_us) OVER w
              THEN 1 ELSE 0 END AS brk
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY start_us ASC, end_us ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
islands AS (
  SELECT user_id, start_us, end_us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY start_us ASC, end_us ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged),
per_island AS (
  SELECT user_id, island, MIN(start_us) AS s, MAX(end_us) AS e,
         COUNT(*) AS c
  FROM islands GROUP BY 1, 2)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(e - s) AS BIGINT) AS covered_us,
       CAST(MAX(e - s) AS BIGINT) AS max_island_us,
       CAST(SUM(c) AS BIGINT) AS n_events
FROM per_island GROUP BY user_id ORDER BY user_id
"""


# --- as-of join (DuckDB ASOF JOIN parity) ---

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    logins = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_event_id")
    )
    out = asof_join(
        purchases,
        logins,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
        value_cols=["click_event_id"],
    )
    return out.select(
        "event_id", "user_id", "ts", "asof_click_ts", "click_event_id"
    ).orderBy("event_id")


Q_ASOF_SQL = """
SELECT p.event_id, p.user_id, p.ts,
       l.ts AS asof_click_ts, l.event_id AS click_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') l
  ON p.user_id = l.user_id AND p.ts >= l.ts
ORDER BY p.event_id
"""


# --- time-range join (interval join, bucket-accelerated) ---

def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events following each error within 5 minutes, same user.

    r8 plan: this is a self range-join aggregated per driving row, so
    it takes the ``following_window_agg`` rewrite (operators/
    range_join.py) — one scan, one shuffle, a value-range window frame
    — instead of the generic two-bucket explode join (two scans, three
    shuffles incl. the per-error groupBy). Results are identical
    (inner-join semantics restored by the ``n_following > 0`` filter);
    measured 0.667 → 0.568 s min-of-9 interleaved at the 10× set.

    r11 sf10 A/B (SCALE_PROOF §q_range_join): the early-filtered
    two-bucket SMJ wins 13% single-node (3.15 vs 3.63 s) but shuffles
    2× the bytes (its probe side explodes into 2 buckets) and AQE
    runtime-broadcasts its ~1.7M-row error side at sf10 unless pinned
    to merge (measured 8 GB driver OOM) — so the 1×-shuffle window
    frame stays the product plan; the trade is recorded, not guessed.

    r14 final A/B — profile CLOSED: the user semi-reduce removes zero
    rows (100% of users are error-bearing at sf0.1 and sf10) and the
    time-bloom prefilter (80% window-input reduction, values identical)
    measured 4.32 s vs this plan's 2.68 s at sf10 — the per-execution
    bloom build + second scan outweigh the smaller sort
    (SCALE_PROOF §range-join-bloom).
    Every structural lever is now measured; the residual vs DuckDB is
    the JVM sort constant on a 10M-row window, amortized by fan-out."""
    from tailpipe_spark.operators.range_join import following_window_agg

    e = _t(spark, sf_dir, "events")
    agg = following_window_agg(
        e.select("event_id", "user_id", "ts", "event_type"),
        time_col="ts",
        span_seconds=300,
        by=["user_id"],
        aggs={
            "n_following": F.count(F.lit(1)),
            "first_next_id": F.min("event_id"),
        },
        strict_after=True,
    )
    return (
        agg.filter((F.col("event_type") == "error") & (F.col("n_following") > 0))
        .select(
            F.col("event_id").alias("err_id"), "n_following", "first_next_id"
        )
        .orderBy("err_id")
    )


Q_RANGE_JOIN_SQL = """
SELECT e.event_id AS err_id, COUNT(*) AS n_following,
       MIN(f.event_id) AS first_next_id
FROM events e
JOIN events f
  ON f.user_id = e.user_id
 AND f.ts > e.ts
 AND f.ts <= e.ts + INTERVAL 300 SECOND
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY err_id
"""


# --- JSON extraction (§2.b JSON functions; events.props is a json string) ---

def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # Tiered extraction (functions/json_fast.py): validating-regex fast
    # path for flat documents, try_variant_get fallback for everything
    # else. r8 measurement at the 10x bench set (1M events): variant
    # 0.41-0.56 s vs hybrid 0.32-0.35 s; above the 0.23 s parse-free
    # scan floor that halves the extraction cost. The fallback's try_*
    # forms keep malformed input null-tolerant (r7 ADVICE) where r7's
    # plain parse_json threw.
    #
    # This entry measures the RAW-STRING path because the driver's
    # testdata stores props as a string. Tables the engine collects
    # itself declare the column `json`-typed and store variant binary
    # (parsed once at ingest, the reference's json storage type) —
    # probing that is 9.4x faster at sf10 (0.444 s vs this plan's
    # 4.19 s; SCALE_PROOF §json-ingest, functions/json_fast.py
    # variant_get_int).
    from tailpipe_spark.functions.json_fast import json_get_int

    k = json_get_int("props", "k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
"""


# --- JSON extraction over the engine's OWN storage type: props collected
#     as `json` (variant binary, parsed once at ingest) ---

def _fixture_signature(path: str) -> str:
    """Size+mtime signature of a parquet fixture (file or directory) —
    cache invalidation key for engine-collected copies of it."""
    import os

    total, mtime = 0, 0.0
    if os.path.isdir(path):
        for root, _d, names in os.walk(path):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                total += st.st_size
                mtime = max(mtime, st.st_mtime)
    else:
        st = os.stat(path)
        total, mtime = st.st_size, st.st_mtime
    # realpath: a provisioned twin dir serves the same fixture through a
    # symlink — same bytes, same workspace (no duplicate ingest)
    return f"{os.path.realpath(path)}|{total}|{int(mtime)}"


def _events_ingest_workspace(spark: SparkSession, sf_dir: str, tag: str, columns):
    """Collect the events fixture through the ENGINE once per sf_dir
    with the given column config (the reference parses/derives typed
    columns AT CONVERSION — internal/database/ducklake_table.go:77-79,
    read_json_query.go:25-87). The collected workspace is cached under
    ``<repo>/.vcache`` keyed by the fixture's size+mtime signature AND
    the column config, so the one-time ingest cost never rides a
    per-query measurement; rebuilds happen only when the fixture or the
    declared mapping changes. The one-time build wall is recorded in
    ``_BUILD_SECS`` inside the workspace — the bench fairness receipt
    (r14 verdict ask #5): any artifact quoting a probe wall over this
    storage can print the ingest cost next to it. Returns the Catalog
    holding the ingested ``events`` table."""
    import hashlib
    import os
    import shutil
    import time

    from tailpipe_spark.catalog import Catalog

    src = f"{sf_dir}/events.parquet"
    sig = _fixture_signature(src) + "|" + repr(columns)
    digest = hashlib.sha1(sig.encode()).hexdigest()[:16]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ws = os.path.join(repo_root, ".vcache", f"events_{tag}_{digest}")
    sig_path = os.path.join(ws, "_SIG")
    try:
        with open(sig_path) as fh:
            if fh.read() == sig and os.path.exists(
                os.path.join(ws, "_BUILD_SECS")
            ):
                return Catalog(ws)
    except OSError:
        pass
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import PartitionConfig, TableConfig

    tmp = f"{ws}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cat = Catalog(tmp)
    table = TableConfig(name="events", columns=list(columns), map_fields=[])
    t0 = time.time()
    collect(
        spark,
        cat,
        table,
        PartitionConfig("events", "default"),
        source_df=_t(spark, sf_dir, "events"),
    )
    build_secs = time.time() - t0
    with open(os.path.join(tmp, "_SIG"), "w") as fh:
        fh.write(sig)
    with open(os.path.join(tmp, "_BUILD_SECS"), "w") as fh:
        fh.write(f"{build_secs:.3f}")
    shutil.rmtree(ws, ignore_errors=True)
    os.rename(tmp, ws)
    return Catalog(ws)


def _variant_columns():
    from tailpipe_spark.config import ColumnConfig

    return [
        ColumnConfig(name="event_id", type="bigint"),
        ColumnConfig(name="event_type", type="varchar"),
        ColumnConfig(name="props", type="json"),
        ColumnConfig(name="tp_timestamp", type="timestamp", source="ts"),
    ]


def _shredded_columns():
    from tailpipe_spark.config import ColumnConfig

    return [
        ColumnConfig(name="event_id", type="bigint"),
        ColumnConfig(name="event_type", type="varchar"),
        ColumnConfig(name="props", type="json"),
        # declared shredded column: the hot field extracted ONCE at
        # conversion into a typed int column (config-expressible as a
        # plain transform). Same extraction semantics as the stored-
        # variant probe — try_variant_get over the parse — so values
        # are identical by construction; the query then scans a typed
        # parquet column and never touches a parser at all.
        ColumnConfig(
            name="k",
            type="integer",
            transform="try_variant_get(try_parse_json(props), '$.k', 'int')",
        ),
        ColumnConfig(name="tp_timestamp", type="timestamp", source="ts"),
    ]


def _variant_events_catalog(spark: SparkSession, sf_dir: str):
    """Events with ``props`` declared ``json``: tokenized at ingest
    (collect.apply_table_mapping → try_parse_json), stored as variant
    binary — the reference's json storage type."""
    return _events_ingest_workspace(spark, sf_dir, "v", _variant_columns())


def _shredded_events_catalog(spark: SparkSession, sf_dir: str):
    """Events with the hot field ``k`` ADDITIONALLY shredded to a typed
    int column at ingest (declared transform column). props stays
    variant so the stored table is a superset of the variant layout —
    the file-size fairness point from SCALE_PROOF §json-ingest holds."""
    return _events_ingest_workspace(spark, sf_dir, "s", _shredded_columns())


#: registry entries whose input is an ingest-cached .vcache workspace —
#: bench.py prints each one's one-time build wall (its workspace's
#: _BUILD_SECS) next to the probe wall so the amortized cost is always
#: on the receipt (r14 verdict ask #5)
INGEST_CACHED_ENTRIES = {
    "q_json_extract_variant": _variant_events_catalog,
    "q_json_extract_shredded": _shredded_events_catalog,
}


def ingest_build_walls(spark: SparkSession, sf_dir: str, names) -> dict:
    """One-time ingest build wall (seconds) for each ingest-cached entry
    in ``names`` — builds the workspace if absent so the number is the
    real cost for this fixture, measured once when built."""
    import os

    out = {}
    for n in names:
        builder = INGEST_CACHED_ENTRIES.get(n)
        if builder is None:
            continue
        cat = builder(spark, sf_dir)
        try:
            with open(os.path.join(cat.workspace, "_BUILD_SECS")) as fh:
                out[n] = float(fh.read())
        except (OSError, ValueError):
            out[n] = None
    return out


def q_json_extract_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME extraction+agg as q_json_extract, but over the engine's
    own ``json`` storage type: props is variant binary (parsed ONCE at
    collect), so the probe navigates the stored binary instead of
    re-tokenizing every string per query. sf10 A/B (10M events,
    min-of-5, value-identical): stored-variant probe 0.444 s vs raw
    string re-parse 4.19 s — 9.4x (SCALE_PROOF §json-ingest). The
    oracle runs DuckDB's string-path extraction over the RAW fixture;
    values are identical because ingest is a pure parse."""
    from tailpipe_spark.functions.json_fast import variant_get_int

    cat = _variant_events_catalog(spark, sf_dir)
    e = cat.read_table(spark, "events")
    k = variant_get_int("props", "k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_json_extract_shredded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME extraction+agg as q_json_extract, over the engine's
    DECLARED-SHREDDED storage: the hot field ``k`` is extracted once at
    collect into a typed int column (a config transform column on top
    of the ``json`` storage type), so the query scans a plain parquet
    int column — no parser, no variant probe, column-pruned at the
    scan. This is arm (c) of the SCALE_PROOF §json-ingest A/B (sf10:
    0.320 s vs 0.444 s stored-variant probe vs 4.19 s per-query string
    parse); landed as a registry entry per the r14 verdict ask #4. The
    oracle runs DuckDB's string-path extraction over the RAW fixture;
    values are identical because the shred is the same try_variant_get
    the stored-variant probe applies, just applied at conversion."""
    cat = _shredded_events_catalog(spark, sf_dir)
    e = cat.read_table(spark, "events")
    return (
        e.select("event_type", "k")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- tp_* enrichment (A6/A7 + collector_synthetic tp columns) ---

def q_tp_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror of the conversion SELECT the reference generates
    (reference: internal/database/read_json_query.go:25-87): source cols
    pass through, tp_timestamp mapped from the event time, tp_date
    derived (never trusted from source), tp_index forced from config,
    tp_partition/tp_table constants."""
    from tailpipe_spark.enrich import enrich_tp

    e = _t(spark, sf_dir, "events")
    enriched = enrich_tp(
        e.withColumn("tp_timestamp", F.col("ts")),
        table="events",
        partition="events_default",
        index_expr="cast(user_id as string)",
    )
    return enriched.select(
        "event_id",
        "tp_timestamp",
        "tp_date",
        "tp_index",
        "tp_partition",
        "tp_table",
    ).orderBy("event_id")


Q_TP_ENRICH_SQL = """
SELECT event_id,
       ts AS tp_timestamp,
       CASE WHEN ts IS NOT NULL THEN CAST(DATE_TRUNC('day', ts) AS DATE) END AS tp_date,
       CAST(user_id AS VARCHAR) AS tp_index,
       'events_default' AS tp_partition,
       'events' AS tp_table
FROM events
ORDER BY event_id
"""


# --- required-column validation (A11: per-column null counts) ---

def q_validate_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.validate import null_count_report

    e = _t(spark, sf_dir, "events")
    return null_count_report(
        e, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).orderBy("column_name")


Q_VALIDATE_SQL = """
SELECT 'event_id' AS column_name, COUNT(*) FILTER (WHERE event_id IS NULL) AS null_count FROM events
UNION ALL SELECT 'ts', COUNT(*) FILTER (WHERE ts IS NULL) FROM events
UNION ALL SELECT 'user_id', COUNT(*) FILTER (WHERE user_id IS NULL) FROM events
UNION ALL SELECT 'event_type', COUNT(*) FILTER (WHERE event_type IS NULL) FROM events
UNION ALL SELECT 'value', COUNT(*) FILTER (WHERE value IS NULL) FROM events
UNION ALL SELECT 'props', COUNT(*) FILTER (WHERE props IS NULL) FROM events
ORDER BY column_name
"""


# --- query-time filters (A9/A10/A17: from/to + LIKE-rewritten filters) ---

def q_cli_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.query_cli import apply_query_filters

    e = _t(spark, sf_dir, "events").withColumn("tp_timestamp", F.col("ts")).withColumn(
        "tp_index", F.col("user_id").cast("string")
    )
    out = apply_query_filters(
        e,
        time_from="2024-01-05T00:00:00",
        time_to="2024-01-20T00:00:00",
        index_patterns=["1*"],
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("event_id").alias("first_id"))
        .orderBy("event_type")
    )


Q_CLI_FILTERS_SQL = """
SELECT event_type, COUNT(*) AS n, MIN(event_id) AS first_id
FROM events
WHERE (ts IS NULL OR ts >= TIMESTAMP '2024-01-05 00:00:00')
  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
  AND CAST(user_id AS VARCHAR) LIKE '1%'
GROUP BY event_type ORDER BY event_type
"""


# --- ingest filter with modulo predicate (partition_tests.bats parity) ---

def q_ingest_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.config import validate_filter_expression

    filt = "event_id % 2 = 0 AND value > 50"
    validate_filter_expression(filt)
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.expr(filt))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .orderBy("event_type")
    )


Q_INGEST_FILTER_SQL = f"""
SELECT event_type, COUNT(*) AS n, {oracle_dsum('value')} AS total_value
FROM events
WHERE event_id % 2 = 0 AND value > 50
GROUP BY event_type ORDER BY event_type
"""


# --- struct construction with null-parent semantics (A5) ---

def q_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    missing = F.get_json_object(F.col("props"), "$.missing").cast("int")
    detail = F.when(missing.isNull(), F.lit(None)).otherwise(
        F.struct(missing.alias("m"), F.col("value").alias("v"))
    )
    built = e.select(
        "event_id",
        F.struct(F.col("event_type").alias("etype"), k.alias("k")).alias("meta"),
        detail.alias("detail"),
    )
    return built.select(
        "event_id",
        F.col("meta.etype").alias("etype"),
        F.col("meta.k").alias("k"),
        F.col("detail").isNull().alias("detail_is_null"),
        F.col("detail.m").alias("detail_m"),
    ).orderBy("event_id")


Q_STRUCT_SQL = """
WITH built AS (
  SELECT event_id,
         {'etype': event_type,
          'k': CAST(json_extract_string(props, '$.k') AS INTEGER)} AS meta,
         CASE WHEN CAST(json_extract_string(props, '$.missing') AS INTEGER) IS NULL
              THEN NULL
              ELSE {'m': CAST(json_extract_string(props, '$.missing') AS INTEGER),
                    'v': value} END AS detail
  FROM events)
SELECT event_id, meta.etype AS etype, meta.k AS k,
       detail IS NULL AS detail_is_null, detail.m AS detail_m
FROM built ORDER BY event_id
"""


# --- deterministic row numbering (A8) ---

def q_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.orderBy(F.col("event_id").asc())
    return (
        e.select(F.row_number().over(w).alias("row_id"), "event_id", "event_type")
        .filter(F.col("row_id") % 100 == 1)
        .orderBy("row_id")
    )


Q_ROW_NUMBERING_SQL = """
SELECT row_id, event_id, event_type FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY event_id ASC) AS row_id, event_id, event_type
  FROM events)
WHERE row_id % 100 = 1
ORDER BY row_id
"""


def q_trend_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over day index — exact
    integer-sum formulation (operators/trend.py), bit-replayable in any
    SQL engine unlike native regr_slope's streaming double sums."""
    from tailpipe_spark.operators.trend import linear_trend

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
    )
    return linear_trend(ev, ["event_type"], "day", "value").orderBy("event_type")


def _trend_sql() -> str:
    from tailpipe_spark.operators.trend import oracle_linear_trend_sql

    inner = oracle_linear_trend_sql(
        "(SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, value FROM events)",
        ["event_type"],
        "day",
        "value",
    )
    return inner + " ORDER BY event_type"


def q_ewma_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EWMA (sequential recurrence → applyInPandas, the
    grouped Arrow path) reduced to the last smoothed value per group.

    Hash-checked: pandas ``ewm(adjust=False)`` is bit-identical to the
    fold ``acc = (1-a)*acc + a*x`` (verified empirically over 5000
    random values), and DuckDB's ``list_reduce`` replays that exact
    fold in float64 — the oracle's literals are CAST to DOUBLE because
    bare SQL ``0.3`` is DECIMAL and ``1 - 0.3`` would fold to a
    *different* double than the engine's ``1 - alpha``. The recurrence
    is additionally pinned against a hand-rolled reference in
    tests/test_operators.py."""
    from tailpipe_spark.operators.trend import ewma

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    sm = ewma(ev, ["event_type"], "ts", "value", alpha=0.3)
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        sm.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("event_type", "ts", "ewma")
        .orderBy("event_type")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user the
    earliest qualifying time of each stage, where a stage only counts
    after the previous stage's time. Three user-keyed aggregations —
    Spark reuses the user_id exchange across them — and a final tiny
    stage-count rollup. No window over the full event stream, no
    per-user UDF."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("1_view").alias("stage"), "n")
        .unionByName(
            t2.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("2_click").alias("stage"), "n"
            )
        )
        .unionByName(
            t3.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("3_purchase").alias("stage"), "n"
            )
        )
    )
    return counts.orderBy("stage")


Q_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id),
t2 AS (
  SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
SELECT stage, n FROM (
  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM t1
  UNION ALL
  SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM t2
  UNION ALL
  SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM t3)
ORDER BY stage
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted as retained in each later week they were active. Two
    aggregations (first activity per user; distinct user-week pairs)
    joined on user — the standard product-analytics rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.weekofyear("ts").alias("wk")
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_wk"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_wk", "offset_wk")
    )


Q_COHORT_SQL = """
WITH ev AS (SELECT user_id, CAST(weekofyear(ts) AS INTEGER) AS wk FROM events),
cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
active AS (SELECT DISTINCT user_id, wk FROM ev)
SELECT cohort_wk, wk - cohort_wk AS offset_wk,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN cohort USING (user_id)
GROUP BY cohort_wk, wk - cohort_wk
ORDER BY cohort_wk, offset_wk
"""


# EWMA oracle: replay the engine's exact float64 fold. The DOUBLE casts
# are load-bearing (bare 0.3 is DECIMAL; 1-0.3 folded in decimal is a
# different double than the engine's 1-alpha). Order within ties is
# (ts, event_id, value) — the same total order ewma()'s stable sort
# produces for this projection.
Q_EWMA_SQL = """
WITH ordered AS (
  SELECT event_type, ts, event_id, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id, value) AS rn
  FROM events
), g AS (
  SELECT event_type,
         arg_max(ts, rn) AS ts,
         list(value ORDER BY rn) AS vals
  FROM ordered GROUP BY event_type
)
SELECT event_type, ts,
       list_reduce(vals, (acc, x) ->
         (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc
         + CAST(0.3 AS DOUBLE) * x) AS ewma
FROM g ORDER BY event_type
"""


SPECS = [
    QuerySpec("q_trend_linear", q_trend_linear, _trend_sql(), "per-group OLS trend via exact integer sums (deterministic regr_slope twin)"),
    QuerySpec("q_funnel", q_funnel, Q_FUNNEL_SQL, "ordered funnel analysis: stage-gated min-time aggregations"),
    QuerySpec("q_cohort_retention", q_cohort_retention, Q_COHORT_SQL, "cohort retention matrix by first-activity week"),
    QuerySpec("q_ewma_last", q_ewma_last, Q_EWMA_SQL, "per-group EWMA recurrence via grouped applyInPandas (list_reduce fold oracle, bit-exact)"),
    QuerySpec("q_window_functions", q_window_functions, Q_WINDOW_SQL, "row_number/rank/lag/lead/running+moving sums"),
    QuerySpec("q_time_bucket_hourly", q_time_bucket_hourly, Q_TIME_BUCKET_SQL, "tumbling-window rollup (batch)"),
    QuerySpec("q_sessionize", q_sessionize, Q_SESSIONIZE_SQL, "gap-based sessionization"),
    QuerySpec("q_interval_merge", q_interval_merge, Q_INTERVAL_MERGE_SQL, "per-key overlapping-interval union (gaps-and-islands, no self-join)"),
    QuerySpec("q_asof_join", q_asof_join, Q_ASOF_SQL, "as-of join (union+window plan vs DuckDB ASOF JOIN)"),
    QuerySpec("q_range_join", q_range_join, Q_RANGE_JOIN_SQL, "interval range join (bucketed equi-join plan)"),
    QuerySpec("q_json_extract", q_json_extract, Q_JSON_SQL, "JSON field extraction + agg"),
    QuerySpec("q_json_extract_variant", q_json_extract_variant, Q_JSON_SQL, "same extraction over the engine's json storage type: variant binary parsed once at ingest (9.4x vs per-query string parse at sf10)"),
    QuerySpec("q_json_extract_shredded", q_json_extract_shredded, Q_JSON_SQL, "same extraction over the engine's declared-shredded storage: hot field extracted once at ingest into a typed int column (scan-only probe, ~13x vs per-query string parse at sf10)"),
    QuerySpec("q_tp_enrichment", q_tp_enrichment, Q_TP_ENRICH_SQL, "tp_* enrichment semantics (A6/A7)"),
    QuerySpec("q_validate_nulls", q_validate_nulls, Q_VALIDATE_SQL, "required-column null report (A11)"),
    QuerySpec("q_cli_filters", q_cli_filters, Q_CLI_FILTERS_SQL, "--from/--to/--index filters (A10/A17)"),
    QuerySpec("q_ingest_filter", q_ingest_filter, Q_INGEST_FILTER_SQL, "partition filter expr with lexical guard (A9)"),
    QuerySpec("q_struct_roundtrip", q_struct_roundtrip, Q_STRUCT_SQL, "struct construction w/ null-parent (A5)"),
    QuerySpec("q_row_numbering", q_row_numbering, Q_ROW_NUMBERING_SQL, "row numbering (A8)"),
]
