"""Collection pipeline: source files → format parse → column mapping →
tp_* enrichment → landing → state update.

Spark shape of the reference's collect lifecycle (SURVEY.md §3.2):
plugins/gRPC become format readers (sources/), the converter's generated
SQL becomes a declarative DataFrame plan, and the persisted collection
state JSON keeps the resume watermark (reference:
internal/config/partition.go:105-108).

``land`` is the only way rows enter a table: validation, the schema
gate, the observed append, the snapshot and the file-index merge, with
parse, map, validate and write fused into one Spark job. Batch collect
and ``migrate.migrate_legacy_table`` both land through it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.catalog import Catalog
from tailpipe_spark.config import PartitionConfig, TableConfig
from tailpipe_spark.enrich import enrich_tp
from tailpipe_spark.query_cli import filter_conditions
from tailpipe_spark.schema import columns_for_table, to_type_string
from tailpipe_spark.validate import validate_required
from tailpipe_spark import compact, writer


@dataclass
class CollectResult:
    table: str
    partition: str
    rows_written: int
    rows_dropped: int
    null_columns: list[str]
    from_time: str | None = None
    to_time: str | None = None


def legacy_json_storage(catalog, table: TableConfig) -> bool:
    """True when an EXISTING table stores its ``json``-declared columns
    as strings (a workspace collected before ``json`` became a variant
    storage type). Detection: the manifest's frozen type for a
    json-declared column reads ``varchar`` — exactly what the legacy
    engine recorded (StringType → ``varchar`` in to_type_string).
    Without this gate a new collect would append variant-typed files
    into a string-typed table; string and variant parquet cannot merge,
    so every later scan of the table would fail (ADVICE r13). Legacy
    tables keep string storage for their lifetime; new tables always
    get variant. A one-time rewrite (recollect with --overwrite into a
    fresh table) upgrades a legacy table."""
    try:
        existing = catalog.table_schema(table.name)
    except KeyError:
        return False  # new table → variant storage
    return any(
        existing.get(c.name) == "varchar"
        for c in table.columns
        if c.type == "json"
    )


def apply_table_mapping(
    df: DataFrame, table: TableConfig, json_as_variant: bool = True
) -> DataFrame:
    """Projection/rename (A3), transform expressions (A4), null_if, and
    map_fields auto-mapping — the reference's per-column select clause
    (reference: internal/database/read_json_query.go:105-178)."""
    import fnmatch

    from tailpipe_spark.schema import parse_type

    declared = {c.name for c in table.columns}
    sources_used = {c.source for c in table.columns if c.source}
    cols = []
    for c in table.columns:
        if c.transform:
            col = F.expr(c.transform)
        elif c.source:
            col = F.col(c.source) if c.source in df.columns else F.lit(None)
        else:
            # declared column absent from this chunk → typed NULL (the
            # reference emits NULL for unmapped declared columns)
            col = F.col(c.name) if c.name in df.columns else F.lit(None)
        if c.type:
            from pyspark.sql import types as T

            target = parse_type(c.type)
            if isinstance(target, T.VariantType):
                if json_as_variant:
                    # json-typed column: tokenize ONCE here, store
                    # variant binary (the reference's json storage
                    # type, ducklake_table.go:77-79). try_* keeps
                    # malformed input null-tolerant, matching the
                    # validation contract.
                    col = F.try_parse_json(col.cast("string"))
                else:
                    # legacy workspace: the table already holds this
                    # column as string parquet — keep storing string
                    # (see legacy_json_storage)
                    col = col.cast("string")
            else:
                col = col.cast(target)
        null_if = c.null_if if c.null_if is not None else table.null_if
        if null_if is not None:
            col = F.when(col.cast("string") == F.lit(null_if), None).otherwise(col)
        cols.append(col.alias(c.name))
    for f in df.columns:
        if f in declared or f in sources_used:
            continue
        if any(fnmatch.fnmatch(f, pat) for pat in table.map_fields):
            col = F.col(f)
            if table.null_if is not None:
                col = F.when(
                    col.cast("string") == F.lit(table.null_if), None
                ).otherwise(col)
            cols.append(col.alias(f))
    return df.select(*cols)


def _ts_bound(existing: str | None, batch: datetime | None, pick) -> str | None:
    """Combine the persisted bound with this batch's, keeping it
    monotonic (pick = max for the watermark, min for earliest)."""
    if batch is None:
        return existing
    if existing is None:
        return str(batch)
    return str(pick(datetime.fromisoformat(existing), batch))


def load_state(catalog: Catalog, table: str, partition: str) -> dict:
    p = catalog.state_path(table, partition)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def save_state(catalog: Catalog, table: str, partition: str, state: dict) -> None:
    p = catalog.state_path(table, partition)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)


@dataclass
class Landed:
    rows_written: int
    rows_dropped: int
    null_columns: list[str]
    min_ts: datetime | None  # over the rows written
    max_ts: datetime | None


def land(
    catalog: Catalog,
    table: str,
    df: DataFrame,
    required: tuple[str, ...],
    op: str,
    detail: dict,
) -> Landed:
    """Append the enriched rows of ``df`` that have every ``required``
    column, in one Spark job: the validation report, the row count and
    the time bounds are observed on the unfiltered frame as the write
    crosses it (no second scan). Then the ``op`` snapshot (``detail``
    plus the rows written) and the file-index merge of exactly the new
    files, O(new files) footer reads (the reference updates file
    metadata per insert, internal/database/file_metadata.go:42-52)."""
    check = validate_required(df, list(required))  # A11/A12
    # freeze/verify table schema in the catalog (A15 + schema-change gate)
    catalog.ensure_table(
        table, {f.name: to_type_string(f.dataType) for f in df.schema.fields}
    )
    # a file-sink log left by an older streaming landing makes Spark read
    # the dir through it, hiding every file landed here; only the log
    # goes, the data files it logged stay and list like any other
    shutil.rmtree(os.path.join(catalog.table_dir(table), "_spark_metadata"), ignore_errors=True)
    obs = Observation()
    rows = df.observe(obs, *check.observed)
    new_files = writer.append(
        catalog, table, rows if check.keep is None else rows.filter(check.keep)
    )
    metrics = obs.get
    catalog.record_snapshot(op, {**detail, "rows": metrics["n"]})
    catalog.merge_file_index(table, new_files)
    return Landed(
        rows_written=metrics["n"],
        rows_dropped=check.dropped(metrics),
        null_columns=check.null_columns(metrics),
        min_ts=metrics["mn"],
        max_ts=metrics["mx"],
    )


def collect_incremental(
    spark: SparkSession,
    catalog: Catalog,
    table: TableConfig,
    partition: PartitionConfig,
    **collect_kwargs,
) -> CollectResult:
    """File-level incremental collection: only source files not yet
    ingested (or whose mtime changed) are read — the chunk-tracking
    side of the reference's collection state, where each plugin chunk
    is consumed exactly once. Complements the time-watermark ``resume``.
    """
    from tailpipe_spark.sources.file_source import FileSource

    if partition.source is None:
        raise ValueError("collect_incremental needs a partition file source")
    src = FileSource(partition.source)
    files = src.list_files(spark)
    state = load_state(catalog, table.name, partition.name)
    seen: dict[str, float] = state.get("ingested_files", {})
    fresh = [f for f in files if seen.get(f.path) != f.mtime]
    if not fresh:
        return CollectResult(
            table=table.name,
            partition=partition.name,
            rows_written=0,
            rows_dropped=0,
            null_columns=[],
        )
    df = src.read(spark, only_paths=[f.path for f in fresh])
    res = collect(
        spark, catalog, table, partition, source_df=df, **collect_kwargs
    )
    state = load_state(catalog, table.name, partition.name)
    state["ingested_files"] = {
        **seen,
        **{f.path: f.mtime for f in fresh},
    }
    save_state(catalog, table.name, partition.name, state)
    return res


def collect(
    spark: SparkSession,
    catalog: Catalog,
    table: TableConfig,
    partition: PartitionConfig,
    source_df: DataFrame | None = None,
    time_from: datetime | None = None,
    time_to: datetime | None = None,
    overwrite: bool = False,
    timestamp_source: str = "tp_timestamp",
    required: tuple[str, ...] = ("tp_timestamp",),
    resume: bool = False,
) -> CollectResult:
    """Run one collection. ``source_df`` is the parsed source (from
    sources.FileSource / read_with_format); ``timestamp_source`` names
    the source column mapped to tp_timestamp.

    ``resume=True`` continues from the persisted watermark: rows at or
    before the last collected tp_timestamp are skipped — the reference's
    collection-state semantics (reference: internal/config/
    partition.go:105-108). An explicit ``time_from`` wins over resume.

    Runs under the workspace writer lock (Catalog.writer_lock): a
    second live ``collect``/``compact`` on the same workspace is
    refused with RuntimeError instead of racing the manifest — the
    reference's single-writer discipline (duck_db.go:62-63)."""
    with catalog.writer_lock(f"collect {table.name}.{partition.name}"):
        return _collect_impl(
            spark, catalog, table, partition, source_df, time_from,
            time_to, overwrite, timestamp_source, required, resume,
        )


def _collect_impl(
    spark: SparkSession,
    catalog: Catalog,
    table: TableConfig,
    partition: PartitionConfig,
    source_df: DataFrame | None,
    time_from: datetime | None,
    time_to: datetime | None,
    overwrite: bool,
    timestamp_source: str,
    required: tuple[str, ...],
    resume: bool,
) -> CollectResult:
    if source_df is None:
        from tailpipe_spark.sources.file_source import FileSource

        if partition.source is None:
            raise ValueError("partition has no source and no source_df given")
        source_df = FileSource(partition.source).read(spark)

    catalog.backup_metadata()

    if resume and time_from is None:
        st = load_state(catalog, table.name, partition.name)
        if st.get("watermark"):
            # strictly-after the watermark: bump by one microsecond
            from datetime import timedelta

            time_from = datetime.fromisoformat(st["watermark"]) + timedelta(
                microseconds=1
            )

    if overwrite and (time_from or time_to):
        # --overwrite: delete range then re-collect (A19); a table not
        # collected yet has no keys, so nothing is deleted
        compact.delete_range(
            catalog, spark, table.name, partition.name, time_from, time_to
        )

    df = (
        apply_table_mapping(
            source_df,
            table,
            json_as_variant=not legacy_json_storage(catalog, table),
        )
        if table.columns or table.map_fields != ["*"]
        else source_df
    )

    if timestamp_source != "tp_timestamp":
        df = df.withColumn("tp_timestamp", F.col(timestamp_source))
    elif "tp_timestamp" not in df.columns:
        raise ValueError(
            "no tp_timestamp: set timestamp_source or map it in the table config"
        )

    if partition.filter:
        df = df.filter(F.expr(partition.filter))  # A9 (validated at config parse)

    df = enrich_tp(
        df,
        table=table.name,
        partition=partition.name,
        index_expr=partition.tp_index,
    )
    for cond in filter_conditions(time_from, time_to, layout=False):  # A10
        df = df.filter(F.expr(cond))

    landed = land(
        catalog, table.name, df, required, "collect",
        {"table": table.name, "partition": partition.name},
    )
    state = load_state(catalog, table.name, partition.name)
    state.update(
        {
            "last_collected_at": time.time(),
            # monotonic: a backfill of an older range must not move the
            # resume watermark backward (or a later resume re-ingests)
            "watermark": _ts_bound(state.get("watermark"), landed.max_ts, max),
            "earliest": _ts_bound(state.get("earliest"), landed.min_ts, min),
            "rows_total": state.get("rows_total", 0) + landed.rows_written,
        }
    )
    save_state(catalog, table.name, partition.name, state)
    return CollectResult(
        table=table.name,
        partition=partition.name,
        rows_written=landed.rows_written,
        rows_dropped=landed.rows_dropped,
        null_columns=landed.null_columns,
        from_time=str(time_from) if time_from else None,
        to_time=str(time_to) if time_to else None,
    )
