"""Workspace catalog: a JSON manifest over hive-partitioned Parquet.

The reference keeps a DuckLake SQLite catalog (tables, columns, data
files, partition values, snapshots — reference:
internal/database/duck_db.go:270-291, partition_key.go:40-64). Here the
same roles are played by:

- directory layout ``data/<table>/tp_partition=…/tp_index=…/tp_year=…/
  tp_month=…/*.parquet`` (self-describing, Spark-native partition
  discovery and pruning)
- ``metadata/manifest.json``: table schemas + snapshot log
- ``metadata/file_index/<table>.jsonl``: the table's file list, with
  each file's rows, bytes and min-max stats read from its footer once,
  at write time (A30); ``Catalog.files`` serves it

The manifest is the schema: it holds each table's columns in write
order with their frozen types, and ``spark_schema`` makes that the read
schema of every scan and rewrite, as DuckLake plans from its
``ducklake_column`` table. No read pays a schema-inference job.

Single-writer discipline per workspace (the reference runs one DuckDB
connection; we serialize manifest writes with an atomic rename).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

PARTITION_COLS = ("tp_partition", "tp_index", "tp_year", "tp_month")
#: the hive columns as the layout writes them (enrich.with_partition_columns)
HIVE_FIELDS = [
    StructField("tp_partition", StringType()),
    StructField("tp_index", StringType()),
    StructField("tp_year", IntegerType()),
    StructField("tp_month", IntegerType()),
]


def _column_types(entry: dict) -> dict[str, str]:
    """A manifest entry's column → type map, in write order."""
    types = entry["type_strings"]
    return {c: types[c] for c in entry.get("columns", types)}


def _footer_jsonable(v):
    import datetime as _dt
    from datetime import timezone

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, (int, float, str, bool)):
        return v
    return None  # unindexable type -> treated as no-stats


class FooterInfo:
    """Parquet footer metadata behind one tolerant reader.

    pyarrow is the primary backend; when it cannot parse the footer at
    all — a logical type newer than the installed pyarrow, concretely
    VARIANT written by Spark for ``json``-typed table columns (pyarrow
    <18 raises ``OSError: Thrift LogicalType that is not recognized``
    for the WHOLE file) — the same num_rows + per-column min/max/nulls
    are read through DuckDB's ``parquet_metadata()`` at the same
    O(footer) cost. Raw stat values keep pyarrow's types (tz-aware UTC
    datetimes for timestamps, int/float/str otherwise) so compaction's
    datetime arithmetic and the file index see one representation
    regardless of backend.

    Parquet writers may store TRUNCATED min/max for long strings, so
    string stats are RANGE bounds only, never an exact-equality prune.
    Today's consumers touch only numeric/temporal stats, which parquet
    never truncates."""

    def __init__(self, path: str):
        try:
            import pyarrow.parquet as pq

            md = pq.read_metadata(path)
            self.num_rows = md.num_rows
            self.num_row_groups = md.num_row_groups
            self._md = md
            self._duck = None
        except OSError:
            self._md = None
            self.num_rows, self.num_row_groups, self._duck = _duck_footer(path)

    def nano_timestamp_cols(self) -> list[str]:
        """Columns stored as parquet timestamp[ns], which Spark reads as
        long nanos and ``session.read_table`` converts. The arrow schema
        is built only here, so footer reads that never ask pay nothing.
        [] on the DuckDB backend: a footer pyarrow cannot parse has no
        arrow schema either."""
        if self._md is None:
            return []
        import pyarrow as pa

        try:
            schema = self._md.schema.to_arrow_schema()
        except pa.ArrowException:
            return []
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]

    def col_stats(self, name: str):
        """(min, max, null_count) raw-typed for one top-level column
        across all row groups, or None when any row group lacks usable
        stats (a stat-less group poisons the file — a partial range
        would under-report overlaps)."""
        if self._md is None:
            return self._duck.get(name)
        md = self._md
        lo = hi = None
        nulls = 0
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            col = next(
                (
                    group.column(i)
                    for i in range(group.num_columns)
                    if group.column(i).path_in_schema == name
                ),
                None,
            )
            stats = col.statistics if col is not None else None
            if stats is None or not stats.has_min_max:
                return None
            nulls += stats.null_count or 0
            mn, mx = stats.min, stats.max
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        return lo, hi, int(nulls)


def _duck_stat_value(physical_type: str, s: str):
    """One DuckDB-rendered stat string back to pyarrow's raw type,
    keyed by the parquet PHYSICAL type (unambiguous, carried in the
    same metadata row). Raises ValueError on anything unconvertible."""
    import datetime as _dt

    if physical_type in ("INT32", "INT64"):
        try:
            return int(s)
        except ValueError:
            # logical DATE renders as "YYYY-MM-DD", TIMESTAMP as a full
            # timestamp string. The length-10 key holds only while they
            # are the engine's ONLY logical types on INT32/64: a logical
            # TIME or decimal-on-int needs its own branch here.
            s = str(s)
            if len(s) == 10:
                return _dt.date.fromisoformat(s)
            return _dt.datetime.fromisoformat(s)
    if physical_type in ("FLOAT", "DOUBLE"):
        return float(s)
    if physical_type == "BOOLEAN":
        return str(s).lower() == "true"
    if physical_type == "INT96":
        return _dt.datetime.fromisoformat(str(s))
    return str(s)  # BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY: UTF8 rendering


def _duck_footer(path: str):
    """(num_rows, num_row_groups, {column: (min, max, nulls) | None})
    via DuckDB.

    Only TOP-LEVEL leaf columns get stats (a shredded variant's
    subcolumn paths contain ', ' and never match a column name — their
    stats are meaningless for file skipping anyway)."""
    import duckdb

    con = duckdb.connect()
    try:
        n_rows, n_groups = con.execute(
            "SELECT num_rows, num_row_groups FROM parquet_file_metadata(?)",
            [path],
        ).fetchone()
        rows = con.execute(
            "SELECT path_in_schema, type, stats_min_value, stats_max_value,"
            " stats_null_count FROM parquet_metadata(?)",
            [path],
        ).fetchall()
    finally:
        con.close()
    per_col: dict[str, list] = {}
    for name, typ, mn, mx, nc in rows:
        per_col.setdefault(name, []).append((typ, mn, mx, nc))
    stats: dict[str, tuple | None] = {}
    for name, groups in per_col.items():
        if len(groups) < int(n_groups):
            stats[name] = None
            continue
        lo = hi = None
        nulls = 0
        ok = True
        for typ, mn, mx, nc in groups:
            if mn is None or mx is None:
                ok = False
                break
            try:
                mn, mx = _duck_stat_value(typ, mn), _duck_stat_value(typ, mx)
            except (ValueError, TypeError):
                ok = False
                break
            nulls += int(nc or 0)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        stats[name] = (lo, hi, nulls) if ok else None
    return int(n_rows), int(n_groups), stats


def _footer_col_stats(md: "FooterInfo", name: str):
    """JSON-able min/max/null_count for the file index, or None."""
    raw = md.col_stats(name)
    if raw is None:
        return None
    jlo, jhi = _footer_jsonable(raw[0]), _footer_jsonable(raw[1])
    if jlo is None or jhi is None:
        return None
    return {"min": jlo, "max": jhi, "nulls": raw[2]}


class Catalog:
    def __init__(self, workspace: str):
        self.workspace = workspace
        os.makedirs(self.metadata_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self.cleanup_staging()

    # --- paths ---
    @property
    def data_dir(self) -> str:
        return os.path.join(self.workspace, "data")

    @property
    def metadata_dir(self) -> str:
        return os.path.join(self.workspace, "metadata")

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.metadata_dir, "manifest.json")

    def table_dir(self, table: str) -> str:
        return os.path.join(self.data_dir, table)

    def state_path(self, table: str, partition: str) -> str:
        return os.path.join(self.metadata_dir, f"state_{table}.{partition}.json")

    @property
    def staging_dir(self) -> str:
        """Scratch area for rewrite jobs (compaction, range delete).

        Lives OUTSIDE ``data/``: Spark's file listing is extension- and
        suffix-blind, so any tmp output inside a table tree would be
        scanned as data (and ``tp_month=8.tmp`` breaks partition-key
        parsing). A crash mid-rewrite leaves droppings here, not in the
        table; they are swept on the next Catalog open."""
        return os.path.join(self.workspace, "staging")

    def new_staging_dir(self, hint: str) -> str:
        os.makedirs(self.staging_dir, exist_ok=True)
        d = os.path.join(
            self.staging_dir, f"{hint}.{int(time.time() * 1000)}.{os.getpid()}"
        )
        os.makedirs(d)
        return d

    #: staging dirs older than this are crash droppings; younger ones
    #: may belong to a live rewrite in another process (a `query` must
    #: not sweep the staging of a concurrent `compact`)
    STAGING_TTL_SECONDS = 24 * 3600

    def cleanup_staging(self) -> None:
        if not os.path.isdir(self.staging_dir):
            return
        cutoff = time.time() - self.STAGING_TTL_SECONDS
        for name in os.listdir(self.staging_dir):
            p = os.path.join(self.staging_dir, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue

    # --- single-writer discipline ---
    def writer_lock(self, owner: str):
        """Reentrant single-writer section for this workspace's
        metadata — the batch twin of streaming/rollup.py's pidfile+
        flock discipline (shared protocol: tailpipe_spark.locking).
        The reference is single-writer by construction
        (SetMaxOpenConns(1), duck_db.go:62-63); the Spark engine's
        manifest is read-modify-write JSON, so two concurrent
        ``collect``/``compact`` runs on one workspace could lose an
        update. Mutating verbs take this lock for their run: a second
        LIVE writer is refused loudly (RuntimeError), a stale lock
        from a crashed writer is stolen, and nesting (collect →
        post-collect compaction) re-enters without deadlock."""
        from tailpipe_spark.locking import writer_lock

        return writer_lock(os.path.join(self.metadata_dir, "writer.lock"), owner)

    # --- manifest ---
    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"tables": {}, "snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _store(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def ensure_table(self, name: str, type_strings: dict[str, str]) -> None:
        """Create-table-if-not-exists (A15). Existing tables must match
        (schema evolution is an error — SURVEY.md §1.4). ``_store`` sorts
        keys, so the write order of ``type_strings`` is kept as the
        ``columns`` list, backfilled here for entries that predate it."""
        m = self._load()
        existing = m["tables"].get(name)
        if existing is None:
            m["tables"][name] = {
                "type_strings": type_strings,
                "columns": list(type_strings),
                "created_at": time.time(),
            }
            self._store(m)
            os.makedirs(self.table_dir(name), exist_ok=True)
            return
        if existing["type_strings"] != type_strings:
            from tailpipe_spark.schema import SchemaChangeError

            changes = {
                c: (existing["type_strings"].get(c, "<absent>"), t)
                for c, t in type_strings.items()
                if existing["type_strings"].get(c) != t
            }
            raise SchemaChangeError(changes)
        if "columns" not in existing:
            existing["columns"] = list(type_strings)
            self._store(m)

    def list_tables(self) -> list[str]:
        """A28."""
        return sorted(self._load()["tables"])

    def _entry(self, name: str) -> dict:
        t = self._load()["tables"].get(name)
        if t is None:
            raise KeyError(f"table {name!r} does not exist")
        return t

    def table_schema(self, name: str) -> dict[str, str]:
        """A29: column → engine type string, in write order."""
        return _column_types(self._entry(name))

    def table_schemas(self) -> dict[str, dict[str, str]]:
        """Every table's column→type map in ONE manifest read (shell
        completion calls this per keystroke)."""
        return {
            name: _column_types(t) for name, t in self._load()["tables"].items()
        }

    def spark_schema(self, table: str) -> StructType:
        """The read schema of ``table`` from the manifest alone (A29): data
        columns in write order, then the hive columns. A read given it
        plans without an inference job and takes each hive value verbatim
        from its path (``tp_index=0123`` stays a string) whatever partition
        type inference says. Without a recorded order, a footer gives it."""
        from tailpipe_spark.schema import parse_type

        t = self._entry(table)
        types = t["type_strings"]
        order = t.get("columns") or self._file_columns(table) or types
        fields = [
            StructField(c, parse_type(types[c]))
            for c in order
            if c not in PARTITION_COLS
        ]
        return StructType(fields + HIVE_FIELDS)

    def _file_columns(self, table: str) -> list[str] | None:
        """Column order of one data file of ``table`` (None: no files),
        through DuckDB, since pyarrow cannot open files holding VARIANT."""
        import duckdb

        sql = "DESCRIBE SELECT * FROM read_parquet(?, hive_partitioning=false)"
        for rel in self._listing(table):
            with duckdb.connect() as con:
                path = os.path.join(self.table_dir(table), rel)
                return [r[0] for r in con.execute(sql, [path]).fetchall()]
        return None

    def record_snapshot(self, op: str, detail: dict | None = None) -> int:
        """Append a snapshot to the manifest. Every writer records one
        under the writer lock, so this write also drops the manifest-
        embedded ``file_index`` a pre-sidecar workspace still carries:
        nothing reads it, yet every ``_load``/``_store`` parsed it."""
        m = self._load()
        for t in m["tables"].values():
            t.pop("file_index", None)
        snap_id = len(m["snapshots"]) + 1
        m["snapshots"].append(
            {"id": snap_id, "op": op, "ts": time.time(), **(detail or {})}
        )
        self._store(m)
        return snap_id

    def expire_snapshots(self, keep_latest: int = 1) -> int:
        """A26: all-but-latest snapshot expiry (metadata only — data GC
        is the compactor's merge/delete)."""
        m = self._load()
        n = max(0, len(m["snapshots"]) - keep_latest)
        m["snapshots"] = m["snapshots"][len(m["snapshots"]) - keep_latest :]
        self._store(m)
        return n

    def set_table_layout(
        self,
        name: str,
        bucket_by: list[str],
        num_buckets: int,
        sort_by: list[str] | None = None,
    ) -> int:
        """Record a bucketed physical layout for ``name`` in the
        manifest (the compactor writes the files; this is the metadata
        half). ``layout_rev`` bumps every rewrite so readers can tell a
        stale session-catalog registration from the current files."""
        m = self._load()
        if name not in m["tables"]:
            raise KeyError(f"table {name!r} does not exist")
        t = m["tables"][name]
        rev = int(t.get("layout", {}).get("layout_rev", 0)) + 1
        t["layout"] = {
            "bucket_by": list(bucket_by),
            "num_buckets": int(num_buckets),
            "sort_by": list(sort_by or bucket_by),
            "layout_rev": rev,
        }
        self._store(m)
        return rev

    def table_layout(self, name: str) -> dict | None:
        """The recorded bucketed layout, or None for plain layout."""
        return self._load()["tables"].get(name, {}).get("layout")

    def row_count(self, name: str) -> int:
        """Exact table row count WITHOUT a Spark job: the sum of the
        per-file footer counts in ``files``, so a fresh index answers it
        with no footer read at all. Operators that take a
        ``corpus_size``-style hint (dedup.ngram_jaccard_pairs, bloom
        auto-sizing) should be fed from here when their input is a
        cataloged table — it replaces a full count() job over the
        table with a manifest lookup."""
        return sum(int(e["rows"]) for e in self.files(name))

    def backup_metadata(self) -> str:
        """A27: timestamped manifest backup before collect/compact."""
        backups = os.path.join(self.metadata_dir, "backups")
        os.makedirs(backups, exist_ok=True)
        dst = os.path.join(backups, f"manifest.{int(time.time() * 1000)}.json")
        if os.path.exists(self.manifest_path):
            shutil.copy2(self.manifest_path, dst)
        return dst

    # --- file/row stats (A30) ---
    def file_stats(self, table: str) -> dict:
        files = self.files(table)
        return {"table": table, "files": len(files), "bytes": sum(e["bytes"] for e in files),
                "rows": sum(e["rows"] for e in files)}

    # --- the file index: a table's file list ------------------------
    #
    # Like DuckLake's ``ducklake_data_file`` table (reference: internal/
    # database/duck_db.go:270-291), one entry per data file — path, rows,
    # bytes, tp_timestamp min/max + null_count — recorded at write time.
    # Compaction, delete, bucket_rewrite and the table stats read it
    # through ``files``, bounded queries through ``pruned_files``;
    # one listing (``_listing``) checks it, and a stale index is never
    # trusted. Two routines write it: ``merge_file_index`` appends what
    # a landing wrote, and ``refresh_partition_index`` re-indexes what a
    # rewrite replaced (some key dirs, or the whole table). It is a JSONL
    # sidecar, not part of manifest.json, so an append costs O(new
    # entries), not an O(index) JSON rewrite (~100 MB at 1M files). Reads
    # dedupe last-wins by path.

    def _index_path(self, table: str) -> str:
        return os.path.join(self.metadata_dir, "file_index", f"{table}.jsonl")

    def load_file_index(self, table: str) -> list | None:
        """Current file index from the JSONL sidecar (last-wins per
        path), or None when never built.

        A torn FINAL line (crash mid-_append_index) is tolerated: the
        parsed prefix is returned, which the listing then finds stale
        like any other. A torn line anywhere BUT the end means real
        corruption; that returns None (stale/missing index -> degrade,
        never raise)."""
        p = self._index_path(table)
        if os.path.exists(p):
            by_path = {}
            with open(p) as f:
                lines = f.readlines()
            for i, line in enumerate(lines):
                line = line.strip()
                if not line:
                    continue
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    if i == len(lines) - 1:
                        break  # torn trailing append; keep parsed prefix
                    return None  # mid-file corruption: index unusable
                if not isinstance(e, dict) or "path" not in e:
                    # valid JSON but not an index entry (e.g. a bare
                    # number): same contract as mid-file corruption
                    if i == len(lines) - 1:
                        break
                    return None
                by_path[e["path"]] = e
            return list(by_path.values())
        return None

    def _store_index(self, table: str, entries: list) -> None:
        """Atomic full rewrite of the sidecar."""
        p = self._index_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in entries)
        os.replace(tmp, p)

    def _append_index(self, table: str, entries: list) -> None:
        with open(self._index_path(table), "a") as f:
            f.writelines(json.dumps(e) + "\n" for e in entries)

    def _index_entry(self, tdir: str, relpath: str) -> dict:
        """One file-index entry from a single footer read."""
        p = os.path.join(tdir, relpath)
        md = FooterInfo(p)
        ts = _footer_col_stats(md, "tp_timestamp")
        return {
            "path": relpath,
            "bytes": os.path.getsize(p),
            "rows": md.num_rows,
            "min_ts": ts["min"] if ts else None,
            "max_ts": ts["max"] if ts else None,
            "null_ts": ts["nulls"] if ts else None,
        }

    def _listing(self, table: str, keys: list[str] | None = None) -> dict[str, int]:
        """Path (relative to the table dir) → bytes of every parquet file
        of ``table``, or only of those under the ``keys`` subdirectories,
        in path order. The one directory walk behind the file index."""
        tdir = self.table_dir(table)
        tops = [tdir] if keys is None else [os.path.join(tdir, k) for k in keys]
        out = {}
        for top in tops:
            for root, dirs, names in os.walk(top):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(".parquet"):
                        p = os.path.join(root, n)
                        out[os.path.relpath(p, tdir)] = os.path.getsize(p)
        return out

    def _fresh_index(self, table: str) -> tuple[list | None, dict[str, int]]:
        """(the file index, or None when it is missing or STALE — the
        on-disk (path, bytes) set no longer matches it; the listing)."""
        listed = self._listing(table)
        index = self.load_file_index(table)
        if index is None or {(e["path"], e["bytes"]) for e in index} != set(listed.items()):
            return None, listed
        return index, listed

    def files(self, table: str) -> list[dict]:
        """The table's data files as file-index entries (``path`` under
        the table dir, ``rows``, ``bytes``, naive-UTC ISO ``min_ts``/
        ``max_ts``, ``null_ts``): the index when fresh, else the same
        entries read from the listed footers, not stored."""
        index, listed = self._fresh_index(table)
        if index is not None:
            return index
        tdir = self.table_dir(table)
        return [self._index_entry(tdir, rel) for rel in listed]

    def merge_file_index(self, table: str, added: list[str]) -> int:
        """Merge newly written files into the existing index, reading
        ONLY their footers — the append path knows exactly which files
        it wrote, so a collect into a table with a million existing
        files must not pay a million footer reads (the reference
        updates file metadata transactionally per insert: reference
        internal/database/file_metadata.go:42-52).

        ``added``: file paths absolute or relative to the table dir.
        Returns the number of entries appended, or with no index yet
        the count of a whole-table ``refresh_partition_index``."""
        if not os.path.exists(self._index_path(table)):
            return self.refresh_partition_index(table)
        tdir = self.table_dir(table)
        rels = [
            os.path.relpath(p, tdir) if os.path.isabs(p) else p for p in added
        ]
        fresh = [self._index_entry(tdir, rel) for rel in sorted(rels)]
        # O(new entries) appended lines; reads dedupe last-wins by
        # path. The existing index is deliberately NOT loaded here —
        # that read alone is O(table) and was measurable at 4k files.
        self._append_index(table, fresh)
        return len(fresh)

    def refresh_partition_index(self, table: str, key_relpaths: list[str] | None = None) -> int:
        """The one re-index: drop the index rows under the given
        partition subdirectories (relative to the table dir) and
        footer-read just the files now under them, so a key-dir rewrite
        costs O(files in the rewritten keys), not O(table). No keys, a
        key naming the table dir itself, or no index yet: the whole
        table. Returns the number of entries in the index."""
        whole = key_relpaths is None or "." in map(os.path.normpath, key_relpaths)
        existing = None if whole else self.load_file_index(table)
        if existing is None:
            kept, key_relpaths = [], None
        else:
            prefixes = tuple(k.rstrip(os.sep) + os.sep for k in key_relpaths)
            kept = [e for e in existing if not e["path"].startswith(prefixes)]
        tdir = self.table_dir(table)
        # a key dir that is gone (partition fully deleted) lists nothing
        for rel in self._listing(table, key_relpaths):
            kept.append(self._index_entry(tdir, rel))
        self._store_index(table, kept)
        return len(kept)

    def pruned_files(self, table, time_from=None, time_to=None):
        """File subset that can satisfy the given bounds per the
        manifest index, or ``None`` when the index is missing or STALE
        (the on-disk file set no longer matches — callers must fall
        back to a full scan, never trust a stale index).

        Conservative by construction: files without timestamp stats and
        files containing null timestamps are always kept
        (the query layer's lower bound keeps NULL rows, query_cli.py)."""
        from datetime import datetime

        from tailpipe_spark.query_cli import naive_utc

        # Index timestamps are naive UTC; relative CLI bounds (``T-7d``)
        # arrive tz-aware — normalize or the < compare raises TypeError.
        time_from = naive_utc(time_from)
        time_to = naive_utc(time_to)
        index, _listed = self._fresh_index(table)
        if index is None:
            return None
        tdir = self.table_dir(table)
        keep = []
        for e in index:
            # no usable ts stats, or null rows: the ts test keeps the file
            if e["min_ts"] is not None and e["null_ts"] == 0:
                if time_from is not None and datetime.fromisoformat(e["max_ts"]) < time_from:
                    continue
                if time_to is not None and datetime.fromisoformat(e["min_ts"]) >= time_to:
                    continue
            keep.append(os.path.join(tdir, e["path"]))
        return keep

    # --- spark registration (A16) ---
    def register_views(
        self,
        spark: SparkSession,
        filters: list[str] | None = None,
        time_from=None,
        time_to=None,
    ) -> list[str]:
        """Register one temp view per table, with optional baked-in
        SQL filter conjuncts (reference: internal/database/views.go:14-34;
        ``query_cli.filter_conditions`` builds the CLI's). ``time_from``
        / ``time_to`` only narrow the files each scan lists (see
        read_table); the filters decide which rows the view holds.
        Layout columns tp_year/tp_month are hidden so ``select *``
        matches the reference's schema."""
        from pyspark.sql import functions as F

        names = self.list_tables()
        for t in names:
            df = self.read_table(spark, t, time_from=time_from, time_to=time_to)
            for flt in filters or []:
                df = df.filter(F.expr(flt))
            df.drop("tp_year", "tp_month").createOrReplaceTempView(t)
        return names

    def read_table(
        self,
        spark: SparkSession,
        table: str,
        time_from=None,
        time_to=None,
    ) -> DataFrame:
        """Table scan with ``spark_schema``; with time bounds the manifest
        file index (when fresh) restricts the scan to intersecting files
        — the predicate itself is still applied by the query layer,
        skipping is a conservative superset. No file left is an empty scan."""
        schema = self.spark_schema(table)
        paths = None
        if time_from is not None or time_to is not None:
            paths = self.pruned_files(table, time_from, time_to)
        elif self.table_layout(table):
            # bucketed layout: serve the scan through a session-catalog
            # external table so Catalyst sees the bucket spec (a plain
            # path read discards it and joins re-shuffle). Time-pruned
            # reads keep the path branch — file-subset scans can't
            # carry a bucket spec, and pruning is about scan size, not
            # join co-location.
            return self._read_bucketed(spark, table)
        tdir = self.table_dir(table)
        reader = spark.read.schema(schema).option("basePath", tdir)
        return reader.parquet(tdir) if paths is None else reader.parquet(*paths)

    def _bucketed_reg_name(self, table: str, rev: int) -> str:
        import hashlib

        ws = hashlib.md5(self.workspace.encode()).hexdigest()[:8]
        return f"tp_bucketed_{ws}_{table}_r{rev}"

    def _read_bucketed(self, spark: SparkSession, table: str) -> DataFrame:
        """Scan a bucketed-layout table THROUGH the session catalog.

        Spark only honors a bucket spec on tables it knows from its
        catalog — ``spark.read.parquet(path)`` has nowhere to carry
        "these files are hash-clustered by key into N buckets", so the
        planner re-shuffles joins on the bucket key. We register an
        external table (columns from ``spark_schema``, partition + bucket
        spec from the manifest layout) once per layout revision and return
        ``spark.table(...)``: a join of two same-bucketed tables then
        plans as a zero-Exchange SortMergeJoin — each task reads bucket
        i of both sides (pinned in tests/test_bucketed_layout.py). The
        registration is metadata-only and idempotent; stale revisions
        are dropped (DROP TABLE on an external table keeps the files).
        """
        lay = self.table_layout(table)
        rev = int(lay["layout_rev"])
        reg = self._bucketed_reg_name(table, rev)
        if not spark.catalog.tableExists(reg):
            from tailpipe_spark.schema import ddl

            bucket_cols = ", ".join(f"`{c}`" for c in lay["bucket_by"])
            sort_cols = ", ".join(f"`{c}`" for c in lay["sort_by"])
            # drop registrations of older layout revisions first
            prefix = self._bucketed_reg_name(table, 0)[: -len("_r0")]
            for row in spark.sql(f"SHOW TABLES LIKE '{prefix}_r*'").collect():
                if row.tableName != reg:
                    spark.sql(f"DROP TABLE IF EXISTS `{row.tableName}`")
            spark.sql(
                f"CREATE TABLE `{reg}` ({ddl(self.spark_schema(table))}) "
                f"USING parquet "
                f"PARTITIONED BY (tp_partition, tp_index, tp_year, tp_month) "
                f"CLUSTERED BY ({bucket_cols}) SORTED BY ({sort_cols}) "
                f"INTO {int(lay['num_buckets'])} BUCKETS "
                f"LOCATION '{self.table_dir(table)}'"
            )
            spark.sql(f"MSCK REPAIR TABLE `{reg}`")
        # DELIBERATELY no size stats on the registration: without them
        # the table reports defaultSizeInBytes, so the planner never
        # broadcasts a bucketed fact table. Measured at sf10, NOSCAN
        # stats put q12's unfiltered 15M-row orders under the broadcast
        # threshold: a 9.5 s broadcast build where the co-located SMJ
        # takes ~2 s. Fact tables are bucketed because they are too big
        # to ship.
        return spark.table(reg)
