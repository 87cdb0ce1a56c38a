"""Continuous aggregates (hypertable-style rollups).

A rollup table holds pre-aggregated buckets (e.g. hourly counts) for
history, maintained incrementally by a streaming job; queries read
``rollup ∪ fresh``: materialized buckets before the boundary, plus the
same aggregation computed on the raw tail at query time. This is the
timescale/druid "continuous aggregate" pattern re-expressed Spark-first:

- maintenance is Structured Streaming ``foreachBatch`` writing the
  merged buckets of each touched date to a fresh generation dir and
  then atomically replacing a ``_MANIFEST.json`` pointer (idempotent
  per bucket — a replayed micro-batch re-points, never double-counts);
- the read path is one lazy plan: a manifest-pruned scan of the rollup
  (only buckets < boundary) unioned with a windowed agg over the raw
  tail (only files >= boundary survive pushdown/data skipping), so
  query cost is bounded by bucket count + tail size, not history size.

The boundary MUST be bucket-aligned; a mid-bucket boundary would split
one bucket across both sides and double-count. ``continuous_read``
enforces it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.locking import acquire_writer_lock, release_writer_lock

#: canonical rollup schema columns produced by bucketize()
BUCKET_COL = "bucket_start"

#: pointer file naming each bucket date's live partition dir
MANIFEST_NAME = "_MANIFEST.json"

#: live generation count past which a batch folds the rollup into one
#: generation, so a read stays a bounded number of ``spark.read`` calls
MAX_GENERATIONS = 32


def _load_manifest(rollup_path: str) -> dict | None:
    import json
    import os

    try:
        with open(os.path.join(rollup_path, MANIFEST_NAME)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _commit_manifest(rollup_path: str, manifest: dict) -> None:
    """Single-file atomic replace: ``os.replace`` on POSIX; on an
    object store this maps to one PUT of the manifest object, which is
    atomic per-object (readers see the old or the new manifest, never
    a torn one). That atomicity is the rollup's commit point."""
    import json
    import os

    path = os.path.join(rollup_path, MANIFEST_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, path)


def read_manifest_rollup(
    spark: SparkSession,
    rollup_path: str,
    min_bucket_date: str | None = None,
    max_bucket_date: str | None = None,
) -> DataFrame:
    """Read a rollup: load ONLY the partition directories the manifest
    points at — no directory listing of the data root at all, which on
    an object store replaces O(files) LIST calls with one GET of the
    pointer file (the same trick Iceberg's and Delta's metadata layers
    play).

    ``min/max_bucket_date`` prune at the MANIFEST level (ISO date
    strings compare lexicographically), so a bounded read plans scans
    for only the covered partitions regardless of history size."""
    import os
    from functools import reduce

    manifest = _load_manifest(rollup_path)
    if not manifest or not manifest.get("partitions"):
        raise ValueError(f"no manifest rollup at {rollup_path!r}")
    parts = {
        d: rel
        for d, rel in manifest["partitions"].items()
        if (min_bucket_date is None or d >= min_bucket_date)
        and (max_bucket_date is None or d <= max_bucket_date)
    }
    if not parts:
        raise ValueError(
            f"manifest at {rollup_path!r} has no partitions in "
            f"[{min_bucket_date}, {max_bucket_date}]"
        )
    # group leaves by generation dir so partition inference (basePath)
    # restores bucket_date; one read per generation, unioned lazily
    by_gen: dict[str, list[str]] = {}
    for rel in parts.values():
        gen_rel = rel.rsplit("/bucket_date=", 1)[0]
        by_gen.setdefault(gen_rel, []).append(os.path.join(rollup_path, rel))
    reads = [
        spark.read.option("basePath", os.path.join(rollup_path, gen)).parquet(*leaves)
        for gen, leaves in sorted(by_gen.items())
    ]
    return reduce(DataFrame.unionByName, reads)


def vacuum_manifest_rollup(rollup_path: str) -> list[str]:
    """Delete partition directories no longer referenced by the current
    manifest (superseded generations, debris from a crash between the
    generation write and the manifest commit). Returns removed paths.

    Takes the same writer lock as maintenance — a vacuum racing a live
    writer could otherwise delete a generation written but not yet
    committed. On an object store, run vacuum only after in-flight
    readers of the PREVIOUS manifest have drained (a reader holds no
    lease; a grace period keyed to your query timeout is the usual
    contract — same as Iceberg's ``expire_snapshots``)."""
    import os
    import shutil

    lock_path = f"{rollup_path.rstrip('/')}.__writer.lock"
    acquire_writer_lock(lock_path, "vacuum")
    try:
        manifest = _load_manifest(rollup_path) or {}
        referenced = set(manifest.get("partitions", {}).values())
        data_root = os.path.join(rollup_path, "data")
        removed: list[str] = []
        if not os.path.isdir(data_root):
            return removed
        for gen in sorted(os.listdir(data_root)):
            gen_abs = os.path.join(data_root, gen)
            if not os.path.isdir(gen_abs):
                continue
            for leaf in sorted(os.listdir(gen_abs)):
                rel = f"data/{gen}/{leaf}"
                if leaf.startswith("bucket_date=") and rel not in referenced:
                    shutil.rmtree(os.path.join(gen_abs, leaf))
                    removed.append(rel)
            if not any(
                n.startswith("bucket_date=") for n in os.listdir(gen_abs)
            ):  # generation fully superseded (keep _SUCCESS debris out of the way)
                shutil.rmtree(gen_abs)
        return removed
    finally:
        release_writer_lock(lock_path)


def _compact_manifest_locked(spark: SparkSession, rollup_path: str) -> str | None:
    """Rewrite ALL live partitions into one fresh generation and point
    the manifest wholly at it. Caller must hold the writer lock.

    Why: every batch that touches an existing date creates a new
    generation, so a long-maintained rollup accumulates one
    ``spark.read`` per live generation on the read path (and
    ``unionByName`` across generations is exposed to schema drift
    between them). Compaction restores the single-read
    steady state; superseded generations stay readable until
    :func:`vacuum_manifest_rollup` reclaims them."""
    import os

    manifest = _load_manifest(rollup_path)
    if not manifest or not manifest.get("partitions"):
        return None
    gens = {rel.rsplit("/bucket_date=", 1)[0] for rel in manifest["partitions"].values()}
    if len(gens) <= 1:
        return None
    df = read_manifest_rollup(spark, rollup_path)
    gen_rel = f"data/compact-{manifest['version']}"
    gen_abs = os.path.join(rollup_path, gen_rel)
    attempt = 0
    while os.path.exists(gen_abs):  # never reuse a dir a live manifest may reference
        attempt += 1
        gen_rel = f"data/compact-{manifest['version']}-r{attempt}"
        gen_abs = os.path.join(rollup_path, gen_rel)
    df.write.mode("overwrite").partitionBy("bucket_date").parquet(gen_abs)
    manifest["partitions"] = {
        name.split("=", 1)[1]: f"{gen_rel}/{name}"
        for name in sorted(os.listdir(gen_abs))
        if name.startswith("bucket_date=")
    }
    manifest["version"] += 1
    _commit_manifest(rollup_path, manifest)
    return gen_rel


def _check_aligned(boundary, window: str) -> None:
    import re
    from datetime import datetime, timezone

    m = re.match(r"^(\d+)\s+(hour|minute|day)s?$", window.strip())
    if not m:
        raise ValueError(f"unsupported rollup window {window!r}")
    qty, unit = int(m.group(1)), m.group(2)
    b = boundary if isinstance(boundary, datetime) else datetime.fromisoformat(boundary)
    sec = {"minute": 60, "hour": 3600, "day": 86400}[unit] * qty
    # naive datetimes are session-UTC; .timestamp() would apply local tz
    epoch = b.replace(tzinfo=b.tzinfo or timezone.utc).timestamp()
    if epoch % sec != 0:
        raise ValueError(
            f"boundary {b.isoformat()} is not aligned to the {window} bucket "
            "grid; a straddled bucket would be double-counted"
        )


def bucketize(
    df: DataFrame,
    ts_col: str,
    window: str,
    group_cols: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Aggregate raw rows into (bucket_start, *group_cols, *aggs)."""
    w = F.window(F.col(ts_col), window)
    return (
        df.groupBy(w.start.alias(BUCKET_COL), *group_cols)
        .agg(*aggs)
    )


def maintain_rollup(
    stream: DataFrame,
    rollup_path: str,
    ts_col: str,
    window: str,
    group_cols: list[str],
    aggs: list[Column],
    checkpoint: str,
    watermark: str = "1 hour",
):
    """Streaming maintenance: each micro-batch emits only the buckets
    it UPDATED (``update`` output mode, so watermark eviction bounds
    the agg state — ``complete`` mode never evicts and re-emits all
    history every batch), merges them against the already-materialized
    rows of the touched bucket dates, and re-points exactly those dates.

    State is O(open buckets within the watermark); each batch's sink
    work is O(touched bucket dates), not O(history): the merge reads
    only the touched partitions the manifest names.

    **Storage contract.** Each batch writes its merged partitions to a
    fresh generation dir under ``<rollup_path>/data/`` and then
    atomically replaces the ``_MANIFEST.json`` pointer file (a
    single-object PUT — atomic on object stores too, where a directory
    "rename" is copy+delete). Readers use :func:`read_manifest_rollup`;
    superseded generations are garbage but never visible, reclaimed by
    :func:`vacuum_manifest_rollup`. Past ``MAX_GENERATIONS`` live
    generations a batch folds them into one.

    The rollup assumes a SINGLE maintaining stream per ``rollup_path``
    at a time: two simultaneous writers would race each other's
    manifest commits. That discipline is enforced by a per-batch
    ``<rollup_path>.__writer.lock`` pidfile, held only while a batch's
    merge+commit runs: a second stream that tries to upsert while a
    writer is alive fails fast instead of corrupting the rollup; a lock
    left by a CRASHED writer (dead pid) is stolen; a SEQUENTIAL replay
    under a fresh checkpoint — the documented disaster-recovery path —
    is untouched. The lock is advisory (O_EXCL creation is atomic, pid
    liveness is same-host): it catches the realistic misconfiguration,
    two pipelines on one host pointed at one rollup; cross-host mutual
    exclusion needs the storage layer. foreachBatch runs on the driver,
    so the lock scheme involves no executor coordination.
    """

    lock_path = f"{rollup_path.rstrip('/')}.__writer.lock"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.withColumn("bucket_date", F.to_date(F.col(BUCKET_COL)))
        if not rows.take(1):
            return
        acquire_writer_lock(lock_path, f"checkpoint {checkpoint!r}")
        try:
            _upsert_manifest_locked(rows, batch_id)
        finally:
            release_writer_lock(lock_path)

    def _upsert_manifest_locked(rows: DataFrame, batch_id: int) -> None:
        import hashlib
        import os

        spark = rows.sparkSession
        manifest = _load_manifest(rollup_path) or {"version": 0, "partitions": {}}
        tag = hashlib.md5(checkpoint.encode()).hexdigest()[:8]
        # NEVER reuse (or delete) an existing generation dir: a replayed
        # micro-batch (crash after the manifest commit but before the
        # checkpoint acked the batch) would otherwise rmtree a generation
        # the LIVE manifest still references — readers would follow the
        # pointer into deleted files, and a failed rerun would leave the
        # manifest referencing nothing. Instead the replay writes a fresh
        # attempt-suffixed generation and re-commits; the superseded one
        # stays readable until vacuum_manifest_rollup reclaims it.
        gen_rel = f"data/{tag}-{batch_id}"
        gen_abs = os.path.join(rollup_path, gen_rel)
        attempt = 0
        while os.path.exists(gen_abs):
            attempt += 1
            gen_rel = f"data/{tag}-{batch_id}-r{attempt}"
            gen_abs = os.path.join(rollup_path, gen_rel)
        merged = rows
        if manifest["partitions"]:
            touched = sorted(
                r["bucket_date"].isoformat()
                for r in rows.select("bucket_date").distinct().collect()
            )
            keys = [BUCKET_COL] + list(group_cols)
            current = {
                d: rel for d, rel in manifest["partitions"].items() if d in touched
            }
            if current:
                # read ONLY the touched partitions (manifest-pruned —
                # O(touched), not O(history)), drop the keys this batch
                # replaces, keep the siblings
                existing = read_manifest_rollup(
                    spark, rollup_path, min(current), max(current)
                ).filter(F.col("bucket_date").cast("string").isin(list(current)))
                merged = existing.join(
                    rows.select(*keys).distinct(), keys, "left_anti"
                ).unionByName(rows)
        (
            merged.write.mode("overwrite")
            .partitionBy("bucket_date")
            .parquet(gen_abs)
        )
        for name in sorted(os.listdir(gen_abs)):
            if name.startswith("bucket_date="):
                manifest["partitions"][name.split("=", 1)[1]] = f"{gen_rel}/{name}"
        manifest["version"] += 1
        # the commit point: one atomic pointer replace; a crash before
        # this line leaves an unreferenced generation (vacuum reclaims
        # it) and readers keep seeing the previous consistent state
        _commit_manifest(rollup_path, manifest)
        # self-compaction: bound the live generation count so the read
        # path stays O(1) spark.reads instead of O(batches-that-touched-
        # existing-dates). Already holding the writer lock.
        live_gens = {
            rel.rsplit("/bucket_date=", 1)[0]
            for rel in manifest["partitions"].values()
        }
        if len(live_gens) > MAX_GENERATIONS:
            _compact_manifest_locked(spark, rollup_path)

    agg = bucketize(
        stream.withWatermark(ts_col, watermark), ts_col, window, group_cols, aggs
    )
    return (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def continuous_read(
    raw: DataFrame,
    rollup: DataFrame,
    ts_col: str,
    window: str,
    group_cols: list[str],
    aggs: list[Column],
    boundary,
) -> DataFrame:
    """rollup(buckets < boundary) ∪ bucketize(raw >= boundary).

    One lazy plan; the rollup side prunes on bucket_start, the raw side
    pushes the timestamp bound to the scan."""
    _check_aligned(boundary, window)
    b = F.lit(boundary).cast("timestamp")
    hist = rollup.filter(F.col(BUCKET_COL) < b)
    fresh = bucketize(raw.filter(F.col(ts_col) >= b), ts_col, window, group_cols, aggs)
    return hist.select(fresh.columns).unionByName(fresh)
