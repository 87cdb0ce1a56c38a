"""SparkSession construction + test-table registration.

The reference engine opens a single in-process DuckDB connection
(reference: internal/database/duck_db.go:38-104); our equivalent is one
SparkSession on the master ``build_session`` is given, by default
``local[$SPARK_GRAFT_CPUS]``, with settings that hold on a
multi-executor cluster too: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to cores,
Arrow enabled for the few pandas-UDF paths.
"""

from __future__ import annotations

import functools
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from tailpipe_spark.catalog import Catalog, FooterInfo

#: tables the driver generates under /root/testdata/sf*/ (TESTDATA.md)
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def active_cpus() -> int:
    """Cores this process may use: ``$SPARK_GRAFT_CPUS`` when it is a
    positive integer, else the box's count. A malformed value falls
    back instead of raising, so a bad env var never stops a session."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        cpus = 0
    return cpus if cpus > 0 else (os.cpu_count() or 8)


def build_session(
    app_name: str = "tailpipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned SparkSession.

    The builder always sets the master: ``master``, or with None
    ``local[$SPARK_GRAFT_CPUS]`` (the box's core count when that is
    unset), which also sizes the default shuffle partitions. On a
    cluster, pass the cluster's master URL; the other settings hold
    there too.
    """
    cpus = active_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd: ~30% smaller files than snappy at similar decode speed —
        # at 100 TB the scan is IO-bound, so ratio wins
        .config("spark.sql.parquet.compression.codec", "zstd")
        # cap rows per written file (the reference chunks conversion at
        # 5M rows — internal/database/compact.go:16-19); bounds both
        # file sizes and the memory of any single write task
        .config("spark.sql.files.maxRecordsPerFile", "5000000")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Runtime-settable conf we need even on a session we didn't build
    (the correctness driver hands us its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's testdata stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long nanos and convert (lossless here: the
    # data has microsecond resolution).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # tp_index is VARCHAR by contract (SURVEY.md §1.2); don't let hive
    # partition discovery re-type `tp_index=0` as int. Workspace scans
    # carry their types in Catalog.spark_schema; this covers the rest.
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    # int64-micros timestamps carry footer min/max stats (INT96 doesn't);
    # the file index and row-group time pruning depend on them
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # The driver's testdata stores parquet timestamp[us] WITHOUT the
    # isAdjustedToUTC flag; Spark 4's default infers those as
    # TIMESTAMP_NTZ, which unix_micros()/time arithmetic reject at
    # analysis. The data is UTC by contract (TESTDATA.md) — read it as
    # plain TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Sorted bucket scan: bucket_rewrite writes each bucket pre-sorted
    # by its SORTED BY keys, one file per bucket per hive cell (task
    # hashing is aligned with bucket hashing), so a bucketed table's
    # scan may report that order and a co-located SortMergeJoin runs
    # sort-free — measured at sf10: the lineitem⋈orders merge drops
    # 4.08 -> 2.11 s; the bucketed-twin oracle sweep pins the values.
    # It affects only scans of bucketed tables, which in this engine
    # are the registrations Catalog._read_bucketed makes.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")


def footers(path: str) -> tuple[FooterInfo, ...] | None:
    """Footers of the parquet file ``path`` or of every parquet file
    under the directory ``path``, in file-name order, read through
    ``catalog.FooterInfo`` (the engine's one footer reader). The cache
    is keyed on each file's (path, size, mtime), so a rewritten table
    is re-read with no invalidation call. None when the path holds no
    parquet file or any of them cannot be read: a partial footer set
    would under-report rows and ranges."""
    key = _listing(path)
    return _read_footers(key) if key else None


def _listing(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(file, size, mtime_ns)`` of the parquet file ``path`` or of
    every parquet file under the directory ``path``, in file-name order:
    what a cache of anything read from ``path`` is keyed on. None when a
    file cannot be stat'ed."""
    files = (
        sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if os.path.isdir(path)
        else [path]
    )
    try:
        stats = [os.stat(f) for f in files]
    except OSError:
        return None
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in zip(files, stats))


@functools.lru_cache(maxsize=256)
def _read_footers(files: tuple) -> tuple[FooterInfo, ...] | None:
    try:
        return tuple(FooterInfo(f) for f, _size, _mtime in files)
    except Exception:  # noqa: BLE001 — unreadable/non-parquet: no knowledge
        return None


def _reraise(err: OSError) -> None:
    raise err


def input_bytes(path: str) -> int | None:
    """Bytes of the parquet files at or under ``path``, from a size
    listing. Follows symlinks: a provisioned layout dir links its tables
    into a workspace, and sizing must see the bytes behind them. None
    when the tree cannot be listed."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    seen: set[str] = set()
    try:
        for root, dirs, names in os.walk(path, onerror=_reraise, followlinks=True):
            real = os.path.realpath(root)
            if real in seen:  # symlink cycle: do not descend again
                dirs.clear()
                continue
            seen.add(real)
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, n))
    except OSError:
        return None
    return total


#: only inputs this small ever get the map-parallelism repartition; a
#: real table is orders of magnitude larger and never pays the shuffle
_REPARTITION_MAX_BYTES = 512 * 1024 * 1024


def parquet_row_count(path: str) -> int | None:
    """Exact row count from parquet footer metadata — driver-side I/O
    only, no Spark job. Used as a ``corpus_size`` hint so operators
    whose plan depends on corpus scale (hot-gram cap guard, auto-LSH
    flip) don't pay a count job. None when the path isn't parquet."""
    fs = footers(path)
    return sum(f.num_rows for f in fs) if fs else None


def parquet_column_range(path: str, col: str) -> tuple | None:
    """(min, max) of a column across a parquet file/dir from footer
    stats — driver-side I/O only, no Spark job. None when any row
    group lacks stats for the column (callers must then assume the
    full domain). Used to PROVE properties like 'all ids fit in 32
    bits' before enabling packed-key plan variants."""
    stats = [f.col_stats(col) for f in footers(path) or () if f.num_row_groups]
    if not stats or None in stats:
        return None
    return min(st[0] for st in stats), max(st[1] for st in stats)


def _provisioned_bucketed_ws(path: str) -> tuple[str, str] | None:
    """(workspace, table) when ``path`` resolves — typically via a
    provisioned-layout symlink — into an engine workspace's
    ``data/<table>`` tree whose manifest records a bucketed layout.

    This is how a provisioned physical layout TRAVELS WITH THE DATA: a
    bench/sf dir whose fact entries are links into a ``compact
    --bucket-by``-rewritten workspace serves those scans through the
    catalog's bucket-spec registration, so same-key joins plan with the
    fact-side Exchanges deleted. A plain fixture dir resolves to itself
    (parent is not ``data/``) and costs one realpath; nothing is cached,
    so relinking takes effect at once."""
    real = os.path.realpath(path)
    parent = os.path.dirname(real)
    if os.path.basename(parent) != "data":
        return None
    ws = os.path.dirname(parent)
    if not os.path.isfile(os.path.join(ws, "metadata", "manifest.json")):
        return None
    return ws, os.path.basename(real)


#: (applicationId, path, parallelize) → (the path's ``_listing``, its
#: DataFrame). A hit needs the same listing, so a table rewritten in
#: place is read again, never served the old file list; without the
#: cache every query pays a directory listing and JVM schema inference.
_DF_CACHE: dict[tuple[str, str, bool], tuple[tuple, DataFrame]] = {}


def tune_scan_splits(spark: SparkSession, total_bytes: int | None) -> None:
    """Size ``spark.sql.files.maxPartitionBytes`` to ~2 scan splits per
    core for the ACTIVE dataset, clamped to [4 MB, 128 MB].

    The 128 MB default never splits a single-file table and packs a
    small workspace's files into a handful of scan tasks, so local
    interactive queries ran their scan+map pipelines on 1-2 cores of 32
    (measured 30-40% of q01/q03-shaped wall). Past the clamp — any real
    cluster-scale dataset — the standard default applies unchanged.
    ``None`` (unknown size) keeps the session default."""
    if total_bytes is None:
        return
    cores = spark.sparkContext.defaultParallelism or 8
    mpb = max(4 << 20, min(128 << 20, total_bytes // (cores * 2)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))


def read_table(spark: SparkSession, path: str, *, parallelize: bool = False) -> DataFrame:
    """Read a parquet table, transparently converting nano-timestamp
    columns (unreadable by Spark's vectorized reader) to TimestampType.

    The DataFrame (file listing + schema) is memoized per (application,
    path) and served only while the path's parquet files keep their
    names, sizes and mtimes."""
    app = spark.sparkContext.applicationId
    key = (app, path, parallelize)
    listing = _listing(path)
    if listing is not None:
        cached_listing, cached = _DF_CACHE.get(key, (None, None))
        if cached_listing == listing:
            return cached
    # entries from terminated applications are dead weight — evict them
    # when a new application shows up
    for k in [k for k in _DF_CACHE if k[0] != app]:
        del _DF_CACHE[k]
    configure_runtime(spark)
    # provisioned bucketed layout: serve the scan through the owning
    # catalog's bucket-spec registration so same-key joins co-locate
    # (fact-side Exchanges deleted). Only engages when the path
    # resolves into a workspace data tree AND the manifest records a
    # bucketed layout for the table; every other path reads plain.
    prov = _provisioned_bucketed_ws(path)
    if prov is not None:
        ws, table = prov
        cat = Catalog(ws)
        if table in cat.list_tables() and cat.table_layout(table):
            df = cat.read_table(spark, table)
            if listing is not None:
                _DF_CACHE[key] = (listing, df)
            return df
    df = spark.read.parquet(path)
    fs = footers(path)
    for c in fs[0].nano_timestamp_cols() if fs else ():
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"CAST(`{c}` DIV 1000 AS BIGINT)")))
    # Safety net for sessions whose first read predated configure_runtime
    # (the NTZ inference conf is read at plan time, but a cached plan or a
    # driver-created session can still surface TIMESTAMP_NTZ): cast to
    # TIMESTAMP. With session tz pinned to UTC this is value-identical.
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    # Row-group-bound parallelism fix, OPT-IN for CPU-heavy consumers: a
    # small table written as a handful of row groups caps the scan AND
    # every fused map stage at that many tasks — a 12-hash MinHash over
    # a one-row-group file runs single-core on a 32-core box. One
    # round-robin shuffle of a few MB buys full map parallelism there,
    # but for plain scan→agg plans the shuffle costs more than the
    # single-task scan, so callers choose. Large tables (many row
    # groups at any real scale) never take this path even when asked.
    if parallelize and fs:
        # full core count, NOT capped by shuffle.partitions: opt-in
        # consumers are CPU-heavy map pipelines (gram explode, signature
        # folds) whose input bytes say nothing about their map cost
        # (measured 7.4→4.8 s at 10× bench scale from this cap alone)
        par = spark.sparkContext.defaultParallelism
        nbytes = input_bytes(path)
        groups = sum(f.num_row_groups for f in fs)
        if groups < par and nbytes is not None and nbytes <= _REPARTITION_MAX_BYTES:
            df = df.repartition(par)
    if listing is not None:
        _DF_CACHE[key] = (listing, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table from ``sf_dir`` as DataFrames."""
    configure_runtime(spark)
    return {t: read_table(spark, f"{sf_dir}/{t}.parquet") for t in TEST_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view (like the reference's
    per-table views over the DuckLake catalog, reference:
    internal/database/views.go:14-34) and return the DataFrames."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
