"""Compaction: overlap detection → time-ordered rewrite → small-file
merge (+ optional reindex), mirroring the reference's compactor
(reference: internal/database/compact.go:80-435,
internal/database/partition_key.go:96-170).

Spark shape:
- the partition keys and their file stats (rows, bytes, min/max
  tp_timestamp) come from the table's file list, ``Catalog.files``: a
  fresh file index answers without a footer or data read (A20/A22)
- the interval-overlap sweep is pure Python on those stats (A21)
- a partition key is only rewritten when it has overlapping or
  too-many-small files, so compaction is idempotent; each rewritten
  key ends time-sorted (or z-ordered), so Parquet min/max row-group
  skipping prunes time ranges inside a month partition (A23/A24)
- every rewritten key is written by one job with no exchange. Keys
  that fit in one output file go in batches (at most ``max_chunk_rows``
  rows, and bytes sized like Spark's scan splits); a bigger key is cut
  into time windows of at most ``max_chunk_rows`` rows and
  ``TARGET_FILE_BYTES`` bytes, >=1h long (the reference's 5M-row insert
  guardrail). Each batch and each window is one scan coalesced to one
  task, so a key's rows meet without a shuffle; the scans are unioned,
  sorted by key and time within each task, and written by one
  partitioned write, one file per key per batch or window (the
  reference merges small files as a file operation, compact.go:80-88).
  Spark's fixed cost per job and per stage dominates a small key's
  rewrite, so the whole set costs about what one key used to.
- every rewrite reads with Catalog.spark_schema: no schema-inference
  job, and each hive value comes back verbatim from its path
- every rewrite stages outside the table, and once it has succeeded
  commits through ``_swap_and_reindex``: swap in the key dirs (or the
  whole table dir), record the snapshot, re-index what was swapped
- a range delete (A18) is the same rewrite over the keys holding
  doomed rows, with a row filter keeping the survivors: it batches,
  windows, swaps and re-indexes exactly as compaction does
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import unquote

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tailpipe_spark.catalog import PARTITION_COLS, Catalog
from tailpipe_spark.query_cli import sql_ts

TARGET_FILE_BYTES = 128 * 1024 * 1024

# bucket_rewrite warns when the projected per-(hive dir x bucket) file
# falls under this: sub-8MB shards pay more in per-file open/footer cost
# than the deleted exchanges save single-node (measured at sf0.1)
MIN_BUCKET_CELL_BYTES = 8 * 1024 * 1024


@dataclass
class FileStat:
    path: str
    rows: int
    bytes: int
    min_ts: object
    max_ts: object


@dataclass
class PartitionKey:
    """One leaf dir of the hive layout: the values Spark reads back
    from its path, and the path itself. Hive dir names percent-escape
    special characters (tp_index='a:b' is ``tp_index=a%3Ab``), so the
    path is kept as found, never rebuilt from the values."""

    tp_partition: str
    tp_index: str | None
    tp_year: int
    tp_month: int
    relpath: str
    #: the file-index entries of the files in this key dir
    entries: list[dict] = field(default_factory=list, repr=False, compare=False)


def _hive_value(v: str) -> str | None:
    return None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)


def enumerate_partition_keys(catalog: Catalog, table: str) -> list[PartitionKey]:
    """A20: the hive layout's partition keys, by relpath: each key dir in
    the table's file list, with its values parsed from the path."""
    by_dir: dict[str, list[dict]] = {}
    for e in catalog.files(table):
        by_dir.setdefault(os.path.dirname(e["path"]), []).append(e)
    keys = []
    for rel, files in sorted(by_dir.items()):
        parts = dict(p.split("=", 1) for p in rel.split(os.sep) if "=" in p)
        if set(parts) >= set(PARTITION_COLS):
            try:
                keys.append(
                    PartitionKey(
                        _hive_value(parts["tp_partition"]),
                        _hive_value(parts["tp_index"]),
                        int(parts["tp_year"]),
                        int(parts["tp_month"]),
                        rel,
                        sorted(files, key=lambda e: e["path"]),
                    )
                )
            except ValueError:
                continue  # foreign dir in the tree; not a partition key
    return keys


def file_stats(catalog: Catalog, table: str, key: PartitionKey) -> list[FileStat]:
    """A22: per-file stats of one key, from its file-index entries (no
    footer or data read). A file with any stat-less row group has no
    range in the index, so it is treated as unranged rather than given a
    partial (overlap-missing) one."""
    base = catalog.table_dir(table)
    out = []
    for e in key.entries:
        # the index keeps naive-UTC ISO strings, which sql_ts reads as UTC
        lo, hi = (v and datetime.fromisoformat(v) for v in (e["min_ts"], e["max_ts"]))
        out.append(FileStat(os.path.join(base, e["path"]), e["rows"], e["bytes"], lo, hi))
    return out


def find_overlaps(stats: list[FileStat]) -> list[list[FileStat]]:
    """A21: sweep sorted time ranges; group files whose [min,max]
    intervals overlap (reference: partition_key.go:96-170)."""
    ranged = [s for s in stats if s.min_ts is not None and s.max_ts is not None]
    ranged.sort(key=lambda s: (s.min_ts, s.max_ts))
    groups: list[list[FileStat]] = []
    cur: list[FileStat] = []
    cur_max = None
    for s in ranged:
        if cur and s.min_ts <= cur_max:
            cur.append(s)
            cur_max = max(cur_max, s.max_ts)
        else:
            if len(cur) > 1:
                groups.append(cur)
            cur = [s]
            cur_max = s.max_ts
    if len(cur) > 1:
        groups.append(cur)
    return groups


MAX_CHUNK_ROWS = 5_000_000  # reference: internal/database/compact.go:16-19


def _ceil_hour(ts):
    from datetime import timedelta

    floored = ts.replace(minute=0, second=0, microsecond=0)
    return floored + timedelta(hours=1) if ts != floored else ts


def chunk_windows(
    stats: list[FileStat], max_rows: int, max_bytes: int = TARGET_FILE_BYTES
) -> list[tuple]:
    """Split a partition's rewrite into bounded time windows, each one
    output file, so a hot partition never becomes one giant file or task
    (reference chunks inserts at 5M rows / >=1h windows —
    internal/database/compact.go:416-435). A window closes once its
    files, in time order, reach ``max_rows`` rows or ``max_bytes``
    bytes, at the next whole hour; windows are cut from file stats, so
    files that all span one time range stay one window. Returns
    [(lo, hi)] half-open windows; None = unbounded end."""
    total = sum(s.rows for s in stats)
    total_bytes = sum(s.bytes for s in stats)
    ranged = sorted(
        (s for s in stats if s.min_ts is not None and s.max_ts is not None),
        key=lambda s: (s.min_ts, s.max_ts),
    )
    if (total <= max_rows and total_bytes <= max_bytes) or not ranged:
        return [(None, None)]
    windows: list[tuple] = []
    lo, acc, acc_bytes, bound = None, 0, 0, None
    for s in ranged:
        acc += s.rows
        acc_bytes += s.bytes
        bound = s.max_ts if bound is None else max(bound, s.max_ts)
        if acc >= max_rows or acc_bytes >= max_bytes:
            hi = _ceil_hour(bound)
            if lo is not None and hi <= lo:
                continue  # keep windows >= 1h: fold into the next chunk
            windows.append((lo, hi))
            lo, acc, acc_bytes, bound = hi, 0, 0, None
    windows.append((lo, None))
    return windows


def bucket_rewrite(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    bucket_by: list[str],
    num_buckets: int | None = None,
    sort_by: list[str] | None = None,
    force: bool = False,
) -> dict:
    """Rewrite a cataloged table into a BUCKETED physical layout — the
    co-located-join answer at cluster scale (reference analog: the
    physical-layout rewrites of internal/database/compact.go:264-435;
    DuckDB never shuffles single-node, bucketing is Spark's translation
    of that co-location).

    Whole-table staged rewrite, read with ``Catalog.spark_schema``:
    write ``bucketBy(N, keys).sortBy(...)`` into ``catalog.staging_dir``
    (via a throwaway external saveAsTable — Spark's bucketed writer is
    only reachable through the table API), commit it through
    ``_swap_and_reindex``, and only then record the layout + revision
    (``set_table_layout``): a crash never leaves a layout over plain
    files. ``read_table`` then serves the scan through a
    session-catalog registration carrying the bucket spec, so a join
    of two same-bucketed tables plans with ZERO Exchange on the fact
    sides (pinned in tests/test_bucketed_layout.py).

    The pre-write ``repartition(N, keys)`` aligns task hashing with
    bucket hashing (both Murmur3 mod N), so each task holds exactly
    one bucket → one file per bucket per hive partition instead of
    tasks×buckets shards.

    ``num_buckets=None`` auto-sizes: table bytes / 256 MB rounded UP
    to a power of two (floor 4) — pick the SAME count on both sides of
    an intended join (the CLI's ``--bucket-by key:N`` pins it).

    Small-scale guard: bucketing multiplies the file count by ``hive
    dirs × N``, and sub-MB shards cost more per-file open/footer time
    than the exchanges save (at sf0.1, 2,656 ~0.3 MB lineitem files gave
    q05 parity). When the projected per-cell file size falls under
    ``MIN_BUCKET_CELL_BYTES`` the rewrite WARNS with the numbers and
    the remedies; ``force=True`` silences it. The rewrite still runs: a
    small workspace may be about to grow into the layout.

    Runs under the workspace writer lock (see compact_table);
    reentrant when reached through compact_table or collect.
    """
    with catalog.writer_lock(f"bucket_rewrite {table}"):
        return _bucket_rewrite_locked(
            spark, catalog, table, bucket_by, num_buckets, sort_by, force
        )


def _bucket_rewrite_locked(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    bucket_by: list[str],
    num_buckets: int | None,
    sort_by: list[str] | None,
    force: bool,
) -> dict:
    files = catalog.files(table)
    bytes_ = sum(e["bytes"] for e in files)
    rows = sum(e["rows"] for e in files)
    if num_buckets is None:
        n = max(1, -(-bytes_ // TARGET_FILE_BYTES // 2))  # ceil(bytes/256MB)
        num_buckets = max(4, 1 << (n - 1).bit_length())
    hive_dirs = max(1, len({os.path.dirname(e["path"]) for e in files}))
    cell = bytes_ / max(1, hive_dirs * int(num_buckets))
    if not force and cell < MIN_BUCKET_CELL_BYTES:
        import warnings

        warnings.warn(
            f"bucket_rewrite({table!r}, N={num_buckets}) fragments "
            f"{bytes_ >> 20} MB across {hive_dirs} hive dirs x "
            f"{num_buckets} buckets = ~{cell / (1 << 20):.2f} MB per "
            f"file — below the {MIN_BUCKET_CELL_BYTES >> 20} MB floor "
            "where per-file open cost erases the exchange savings at "
            "single-node scale (measured: q05 parity at sf0.1 vs a 2-"
            "Exchange win at size). Use fewer buckets (--bucket-by "
            "key:N), a coarser partition layout (e.g. yearly), or "
            "force=True to acknowledge a layout the table will grow "
            "into.",
            UserWarning,
            stacklevel=2,
        )
    sort_by = list(sort_by or bucket_by)
    # read the files by path: a session-catalog registration of the
    # current layout may still list the files a delete has replaced
    tdir = catalog.table_dir(table)
    df = spark.read.schema(catalog.spark_schema(table)).option("basePath", tdir).parquet(tdir)
    staged = catalog.new_staging_dir(f"{table}.bucket")
    tmp_name = f"tp_bucket_stage_{table}_{os.path.basename(staged).replace('.', '_').replace('-', '_')}"
    spark.sql(f"DROP TABLE IF EXISTS `{tmp_name}`")
    (
        df.repartition(int(num_buckets), *[F.col(c) for c in bucket_by])
        .write.bucketBy(int(num_buckets), *bucket_by)
        .sortBy(*sort_by)
        .partitionBy(*PARTITION_COLS)
        .option("path", staged)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(tmp_name)
    )
    spark.sql(f"DROP TABLE `{tmp_name}`")  # external: files stay
    _swap_and_reindex(
        catalog, table, {"": staged}, "bucket",
        {"table": table, "bucket_by": list(bucket_by), "num_buckets": int(num_buckets)},
    )
    rev = catalog.set_table_layout(table, bucket_by, num_buckets, sort_by)
    return {
        "table": table,
        "bucket_by": list(bucket_by),
        "num_buckets": int(num_buckets),
        "layout_rev": rev,
        "rows": rows,
    }


def compact_table(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    reindex_expr: str | None = None,
    small_file_bytes: int = 32 * 1024 * 1024,
    max_chunk_rows: int = MAX_CHUNK_ROWS,
    zorder_by: list[str] | None = None,
) -> dict:
    """Compact every partition key that needs it. Returns a summary.

    A key needs compaction when it has time-overlapping files or >1
    file under ``small_file_bytes``. With ``reindex_expr`` every key is
    rewritten and rows move to their newly-computed tp_index (A25).
    With ``zorder_by`` (2-4 columns) rewritten chunks are clustered on
    the interleaved z-value instead of tp_timestamp alone, so Spark's
    row-group stats prune on every listed column (plans/zorder.py); the
    file index keeps only tp_timestamp stats.

    Rewrites stage into ``catalog.staging_dir`` (never inside the table
    tree — a crash must not leave tmp dirs a reader would scan). Every
    key is rewritten by one Spark write: keys that fit in one output file
    go one task per batch of at most ``max_chunk_rows`` rows, and a
    bigger key one task per time window of at most ``max_chunk_rows``
    rows and ``TARGET_FILE_BYTES`` bytes, >=1h long. ``chunk_jobs`` in
    the summary is the number of write jobs: 1, or 0 when no key needed
    compaction. A reindex stages the whole table. The staged dirs
    replace the old ones through ``_swap_and_reindex`` after the write,
    so staging holds a copy of every rewritten key at that point.

    A table with a recorded bucketed layout is STICKY: its compaction
    routes through :func:`bucket_rewrite` with the manifest's spec (a
    plain time-ordered rewrite would silently destroy the bucket
    clustering the layout promises to readers).

    Runs under the workspace writer lock (Catalog.writer_lock, shared
    pidfile+flock protocol with collect and the streaming rollup): a
    second live writer on this workspace is refused, never raced.
    """
    with catalog.writer_lock(f"compact {table}"):
        return _compact_table_locked(
            spark, catalog, table, reindex_expr, small_file_bytes,
            max_chunk_rows, zorder_by,
        )


def _compact_table_locked(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    reindex_expr: str | None,
    small_file_bytes: int,
    max_chunk_rows: int,
    zorder_by: list[str] | None,
) -> dict:
    lay = catalog.table_layout(table)
    if lay and reindex_expr is None:
        return bucket_rewrite(
            spark, catalog, table, lay["bucket_by"], lay["num_buckets"], lay["sort_by"]
        )

    keys = enumerate_partition_keys(catalog, table)

    if reindex_expr is not None:
        df = catalog.read_table(spark, table)
        rows_total = catalog.row_count(table)
        new = (
            df.withColumn("tp_index", F.expr(reindex_expr).cast("string"))
            .repartitionByRange("tp_partition", "tp_index", "tp_year", "tp_month", "tp_timestamp")
            .sortWithinPartitions("tp_timestamp")
        )
        staged = catalog.new_staging_dir(f"{table}.reindex")
        new.write.partitionBy(*PARTITION_COLS).mode("overwrite").parquet(staged)
        _swap_and_reindex(
            catalog, table, {"": staged}, "compact", {"table": table, "reindex": True}
        )
        if lay:  # the reindex wrote plain files; restore the promised layout
            bucket_rewrite(
                spark, catalog, table, lay["bucket_by"], lay["num_buckets"], lay["sort_by"]
            )
        return {"keys_rewritten": len(keys), "files_merged": 0, "rows": rows_total}

    todo: list[tuple[PartitionKey, list[FileStat], int]] = []
    merged_files, rows_total = 0, 0
    for key in keys:
        stats = file_stats(catalog, table, key)
        n_small = sum(s.bytes < small_file_bytes for s in stats)
        if not find_overlaps(stats) and n_small <= 1:
            continue
        rows = sum(s.rows for s in stats)
        merged_files += len(stats)
        rows_total += rows
        todo.append((key, stats, rows))
    chunk_jobs = _rewrite_keys(
        spark, catalog, table, todo, max_chunk_rows, zorder_by,
        "compact", {"table": table, "keys": len(todo), "files": merged_files},
    )
    return {
        "keys_rewritten": len(todo),
        "files_merged": merged_files,
        "rows": rows_total,
        "chunk_jobs": chunk_jobs,
    }


def delete_range(
    catalog: Catalog,
    spark: SparkSession,
    table: str,
    partition: str,
    time_from=None,
    time_to=None,
) -> int:
    """Delete rows of one tp_partition within [time_from, time_to]
    (reference: internal/database/cleanup.go:14-51). Returns rows
    deleted.

    A delete is a compaction of the keys that hold doomed rows, with a
    row filter keeping the survivors. One aggregation job counts the
    doomed rows per key of the partition; the keys with any go through
    compaction's one-write rewrite, swap and re-index, and come out
    time-sorted. A table with a bucketed layout is then re-bucketed
    on the manifest's spec, since the rewritten keys hold plain files.

    Runs under the workspace writer lock (see compact_table).
    """
    with catalog.writer_lock(f"delete {table}"):
        return _delete_range_locked(
            catalog, spark, table, partition, time_from, time_to
        )


def _delete_range_locked(
    catalog: Catalog,
    spark: SparkSession,
    table: str,
    partition: str,
    time_from,
    time_to,
) -> int:
    keys = [
        k for k in enumerate_partition_keys(catalog, table)
        if k.tp_partition == partition
    ]
    if not keys:
        return 0
    bounds = [
        f"tp_timestamp {op} {sql_ts(t)}"
        for op, t in ((">=", time_from), ("<=", time_to))
        if t is not None
    ]
    cond = F.expr(" AND ".join(bounds)) if bounds else F.lit(True)
    base = catalog.table_dir(table)
    counts = (
        spark.read.schema(catalog.spark_schema(table))
        .option("basePath", base)
        .parquet(*[os.path.join(base, k.relpath) for k in keys])
        .filter(cond)
        .groupBy(*PARTITION_COLS)
        .count()
        .collect()
    )
    # the manifest schema reads the values back as the keys carry them
    doomed = {tuple(r[c] for c in PARTITION_COLS): r["count"] for r in counts}
    n = sum(doomed.values())
    if n == 0:
        return 0
    todo = []
    for key in keys:
        gone = doomed.get((key.tp_partition, key.tp_index, key.tp_year, key.tp_month))
        if gone:
            stats = file_stats(catalog, table, key)
            todo.append((key, stats, sum(s.rows for s in stats) - gone))
    _rewrite_keys(
        spark, catalog, table, todo, MAX_CHUNK_ROWS, None,
        "delete", {"table": table, "partition": partition, "rows": n},
        keep=~cond,
    )
    lay = catalog.table_layout(table)
    if lay:
        bucket_rewrite(
            spark, catalog, table, lay["bucket_by"], lay["num_buckets"], lay["sort_by"]
        )
    return n


def _rewrite_keys(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    todo: list[tuple[PartitionKey, list[FileStat], int]],
    max_chunk_rows: int,
    zorder_by: list[str] | None,
    op: str,
    detail: dict,
    keep: Column | None = None,
) -> int:
    """Rewrite each ``(key, file stats, rows it keeps)`` of ``todo`` into
    staging, keeping the rows ``keep`` holds for (all when None), then
    commit them together through :func:`_swap_and_reindex`, recording
    snapshot ``op`` with ``detail``. Returns the number of write jobs:
    1, or 0 when ``todo`` is empty.

    Every key is rewritten by one write job (:func:`_rewrite_units`).
    Keys that fit in one output file go in batches (:func:`_batches`);
    a bigger key is cut into its :func:`chunk_windows`, each a unit of
    its own. A key left with no rows goes to a batch, where the
    partitioned write leaves no dir for it and the swap drops it."""
    if not todo:
        _swap_and_reindex(catalog, table, {}, op, detail)
        return 0
    small: list[tuple[PartitionKey, int, int]] = []  # (key, rows, bytes)
    units: list[tuple[list[PartitionKey], tuple]] = []  # (keys, window)
    for key, stats, rows in todo:
        windows = chunk_windows(stats, max_chunk_rows, TARGET_FILE_BYTES)
        if rows == 0 or len(windows) == 1:
            small.append((key, rows, sum(s.bytes for s in stats)))
        else:
            units += [([key], w) for w in windows]
    if small:
        batches = _batches(small, max_chunk_rows, _batch_bytes(spark, small))
        units += [([k for k, _, _ in b], (None, None)) for b in batches]
    root = catalog.new_staging_dir(f"{table}.{op}")
    try:
        _rewrite_units(
            spark, catalog.table_dir(table), units,
            catalog.spark_schema(table), zorder_by, root, keep,
        )
        staged: dict[str, str | None] = {}
        for key, _, rows in todo:
            d = os.path.join(root, key.relpath)
            if not os.path.isdir(d):
                if rows:
                    raise RuntimeError(f"rewrite wrote no {key.relpath} for its {rows} rows")
                d = None
            staged[key.relpath] = d
        _swap_and_reindex(catalog, table, staged, op, detail)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 1


def _batch_bytes(spark: SparkSession, small: list[tuple[PartitionKey, int, int]]) -> int:
    """The byte cap of one batch, sized the way Spark sizes scan splits
    (``FilePartition.maxSplitBytes``): the keys' bytes spread over the
    cores, but never under one file-open cost, so a tiny table is one
    scan and one task, and never over one output file's worth. The
    spread rounds up, so it never asks for one batch more than cores."""
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    spread = -(-sum(b for _, _, b in small) // spark.sparkContext.defaultParallelism)
    return min(TARGET_FILE_BYTES, max(open_cost, spread))


def _batches(small: list[tuple[PartitionKey, int, int]], max_rows: int, max_bytes: int):
    """Group single-file ``(key, rows, bytes)`` entries, in order, into
    batches: ceil(bytes / ``max_bytes``) slices of even bytes. When a
    slice of more than one key would pass ``max_rows`` rows, the rows
    bind instead: the count becomes the fewest batches under
    ``max_rows`` (or the byte slices, if more), cut at even row
    boundaries, or filled in order when that even cut passes the cap."""

    def fits(batches):
        return all(len(b) == 1 or sum(r for _, r, _ in b) <= max_rows for b in batches)

    batches = _cut(small, max(1, -(-sum(b for _, _, b in small) // max_bytes)), 2)
    if fits(batches):
        return batches
    fewest = _fill(small, max_rows)
    by_rows = _cut(small, max(len(fewest), len(batches)), 1)
    return by_rows if fits(by_rows) else fewest


def _cut(small: list[tuple[PartitionKey, int, int]], n: int, w: int):
    """Cut ``small`` in order into at most ``n`` slices of even total
    ``entry[w]``, each entry going to the slice that holds its middle,
    so near-equal entries spread evenly instead of leaving a straggler."""
    total = max(1, sum(e[w] for e in small))
    starts = itertools.accumulate((e[w] for e in small), initial=0)
    cuts = [min(n - 1, (done + e[w] // 2) * n // total) for done, e in zip(starts, small)]
    groups = itertools.groupby(zip(cuts, small), lambda c: c[0])
    return [[e for _, e in g] for _, g in groups]


def _fill(small: list[tuple[PartitionKey, int, int]], max_rows: int):
    """Cut ``small`` in order, closing each batch before it would pass
    ``max_rows`` rows: the fewest batches under that cap."""
    batches, rows = [], 0
    for entry in small:
        if not batches or rows + entry[1] > max_rows:
            batches.append([])
            rows = 0
        batches[-1].append(entry)
        rows += entry[1]
    return batches


def _rewrite_units(
    spark: SparkSession,
    base: str,
    units: list[tuple[list[PartitionKey], tuple]],
    schema: StructType,
    zorder_by: list[str] | None,
    root: str,
    keep: Column | None,
) -> None:
    """Rewrite every ``(keys, (lo, hi))`` unit of ``units`` with one
    partitioned write into ``root``: each unit's key dirs, cut to the
    half-open time window ``[lo, hi)`` (None: unbounded; the first
    window also keeps NULL ``tp_timestamp`` rows), land as one
    time-sorted (or z-ordered) file per key.

    A unit is one scan coalesced to one task, so all of a key's rows in
    the window meet in one task without a shuffle; the units are
    unioned, so the write is one job of one stage with one task per
    unit. A z-order takes its scaling bounds per key within each unit,
    so per key and window; the unit is one partition already, so the
    window aggregate needs no exchange. A task with no rows writes no
    file."""
    if zorder_by:
        from tailpipe_spark.plans.zorder import with_zvalue
    scans = []
    for keys, (lo, hi) in units:
        df = (
            spark.read.schema(schema)
            .option("basePath", base)
            .parquet(*[os.path.join(base, k.relpath) for k in keys])
        )
        if keep is not None:
            df = df.filter(keep)
        if lo is not None:
            df = df.filter(F.expr(f"tp_timestamp >= {sql_ts(lo)}"))
        if hi is not None:
            cond = F.expr(f"tp_timestamp < {sql_ts(hi)}")
            if lo is None:
                cond = cond | F.col("tp_timestamp").isNull()
            df = df.filter(cond)
        df = df.coalesce(1)
        if zorder_by:
            df = with_zvalue(df, zorder_by, over=list(PARTITION_COLS))
        scans.append(df)
    df = functools.reduce(lambda a, b: a.union(b), scans)
    if zorder_by:
        out = df.sortWithinPartitions(*PARTITION_COLS, "__z").drop("__z")
    else:
        out = df.sortWithinPartitions(*PARTITION_COLS, "tp_timestamp")
    with _union_keeps_partitions(spark):
        out.write.partitionBy(*PARTITION_COLS).mode("append").parquet(root)


@contextlib.contextmanager
def _union_keeps_partitions(spark: SparkSession):
    """Plan a union of coalesced scans as one partition per scan. Spark
    otherwise gives a union of children with the same partitioning that
    partitioning, and every ``coalesce(1)`` is the single partition, so
    all units would be zipped into one task."""
    conf = "spark.sql.unionOutputPartitioning"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def _replace_dirs(
    catalog: Catalog, table: str, moves: list[tuple[str, str | None]]
) -> None:
    """Replace each ``(dir, staged)`` of ``moves`` — a key dir or the
    whole table dir — by its staged rewrite (None: drop it, and the
    parents it leaves empty). Each old dir moves aside into staging
    before the new one moves in, so a crash between the two renames
    leaves the old files in staging rather than deleting them."""
    base = catalog.table_dir(table)
    old = catalog.new_staging_dir(f"{table}.replaced")
    for i, (dst, new) in enumerate(moves):
        os.replace(dst, os.path.join(old, str(i)))
        if new is not None:
            os.replace(new, dst)
            continue
        parent = os.path.dirname(dst)
        while parent != base and not os.listdir(parent):
            os.rmdir(parent)
            parent = os.path.dirname(parent)
    shutil.rmtree(old)


def _swap_and_reindex(
    catalog: Catalog,
    table: str,
    staged: dict[str, str | None],
    op: str,
    detail: dict,
) -> None:
    """The one commit of every rewrite: replace each dir of ``staged``
    (a key relpath, or ``""`` for the whole table dir) by its staged
    rewrite (None: the key held no rows and goes away), record snapshot
    ``op`` with ``detail``, then re-index exactly what was swapped. Runs
    only after every rewrite succeeded, so a failed write leaves the
    table as it was."""
    base = catalog.table_dir(table)
    if staged:
        _replace_dirs(
            catalog, table,
            [(os.path.join(base, rel) if rel else base, new)
             for rel, new in sorted(staged.items())],
        )
    catalog.record_snapshot(op, detail)
    if staged:
        catalog.refresh_partition_index(table, list(staged))
