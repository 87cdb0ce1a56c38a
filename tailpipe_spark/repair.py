"""Corrupt-file detection and quarantine (A37).

The reference detects "invalid parquet" errors, renames the file with an
``.invalid`` suffix, and retries the operation (reference:
internal/database/duck_db_error.go:25-80). Spark-side the equivalent is:

- proactive: validate parquet footers driver-side (cheap metadata read)
  and move unreadable files to ``<name>.invalid`` before they poison a
  scan;
- reactive: a query that trips on a corrupt file quarantines the
  offending files and runs again (``cli.cmd_query``'s retry loop).
"""

from __future__ import annotations

import os
import re
import time

from tailpipe_spark.catalog import Catalog, FooterInfo

INVALID_SUFFIX = ".invalid"


def _footer_readable(path: str) -> bool:
    """True when at least one footer backend can parse the file.

    MUST go through FooterInfo, not bare pyarrow: pyarrow <18 rejects
    footers carrying logical types it doesn't know — concretely VARIANT,
    which the engine writes for ``json``-typed columns — with
    ``OSError: Thrift LogicalType that is not recognized``. Treating
    that as corruption would quarantine every valid variant-bearing
    file and silently drop the table's rows; FooterInfo falls back to
    DuckDB's ``parquet_metadata()`` for exactly that class. A file both
    backends reject is genuinely corrupt."""
    try:
        FooterInfo(path)
        return True
    except Exception:  # noqa: BLE001 — any dual-backend failure = corrupt
        return False


def quarantine_invalid_files(catalog: Catalog, table: str) -> list[str]:
    """Move unreadable parquet files OUT of the data tree (Spark's file
    listing ignores extensions, so an in-place rename would still be
    scanned) into ``<workspace>/quarantine/<table>/…``; returns the
    quarantined paths. The keys that lost a file are re-indexed, so the
    file index stays fresh and bounded queries keep pruning.

    The sweep runs under the workspace writer lock: it records a
    snapshot and rewrites the index sidecar, and a concurrent writer's
    snapshot or index append must not be lost to it (the query process
    that calls it is otherwise a reader)."""
    base = catalog.table_dir(table)
    qdir = os.path.join(catalog.workspace, "quarantine", table)
    moved = []
    keys = set()
    with catalog.writer_lock(f"quarantine {table}"):
        for rel in catalog._listing(table):
            if _footer_readable(os.path.join(base, rel)):
                continue
            # unique suffix: a later corrupt file with the same name
            # must not overwrite previously quarantined evidence
            dst = os.path.join(qdir, f"{rel}.{int(time.time() * 1000)}{INVALID_SUFFIX}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(base, rel), dst)
            moved.append(dst)
            keys.add(os.path.dirname(rel))
        if moved:
            catalog.record_snapshot(
                "quarantine", {"table": table, "files": [os.path.basename(m) for m in moved]}
            )
            catalog.refresh_partition_index(table, sorted(keys))
    return moved


_OOM_MARKERS = (
    "java.lang.OutOfMemoryError",
    "GC overhead limit exceeded",
    "Not enough memory to build and broadcast",
    "Total memory usage during row decode exceeds",
    "SparkOutOfMemoryError",
    "Unable to acquire",  # TaskMemoryManager page acquisition
)


def classify_engine_error(err: BaseException) -> str:
    """Error taxonomy for operational handling — the Spark analog of the
    reference's typed DuckDB errors (invalid parquet, OOM —
    internal/database/convertor_convert.go:268-275, duck_db_error.go):
    'oom' | 'corrupt_parquet' | 'missing_table' | 'unknown'."""
    msg = str(err)
    if any(m in msg for m in _OOM_MARKERS):
        return "oom"
    if any(m in msg for m in _CORRUPT_MARKERS):
        return "corrupt_parquet"
    if "TABLE_OR_VIEW_NOT_FOUND" in msg:
        return "missing_table"
    return "unknown"


_SIZE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
                "tb": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-string ('128mb', '64k', '134217728b', '1g') → bytes."""
    m = re.fullmatch(r"(\d+)\s*([a-z]*)", v.strip().lower())
    if not m or m.group(2) not in _SIZE_SUFFIX:
        raise ValueError(f"unparseable byte size {v!r}")
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]


#: retries of an OOM-shaped failure in ``run_with_oom_retry``
OOM_RETRIES = 2


def run_with_oom_retry(spark, action):
    """Run ``action()``; on an OOM-shaped failure, retry up to
    ``OOM_RETRIES`` times with smaller units of work — halve
    ``files.maxPartitionBytes`` and double ``shuffle.partitions`` per
    attempt (the reference reacts to DuckDB
    conversion OOM by shrinking the conversion chunk; Spark's lever is
    task granularity). Conf is restored afterwards."""
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions")
    }
    try:
        for attempt in range(OOM_RETRIES + 1):
            try:
                return action()
            except Exception as e:  # noqa: BLE001 — inspect then re-raise
                if attempt >= OOM_RETRIES or classify_engine_error(e) != "oom":
                    raise
                cur_bytes = _parse_bytes(
                    spark.conf.get("spark.sql.files.maxPartitionBytes")
                )
                cur_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
                spark.conf.set(
                    "spark.sql.files.maxPartitionBytes",
                    str(max(1 << 20, cur_bytes // 2)),
                )
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(min(10000, cur_parts * 2))
                )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


_CORRUPT_MARKERS = (
    "is not a Parquet file",
    "Could not read footer",
    "CANNOT_READ_FILE_FOOTER",
    "FAILED_READ_FILE",
    "Parquet file is corrupted",
)


def is_corrupt_parquet_error(err: BaseException) -> bool:
    msg = str(err)
    return any(m in msg for m in _CORRUPT_MARKERS)
