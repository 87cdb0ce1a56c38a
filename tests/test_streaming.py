import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
from tailpipe_spark.streaming import session_windows, windowed_counts


def test_windowed_counts_batch(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 10, 5), "a"), (datetime(2024, 1, 1, 10, 55), "a"),
         (datetime(2024, 1, 1, 11, 5), "b")],
        ["tp_timestamp", "k"],
    )
    out = windowed_counts(df, window="1 hour", group_cols=["k"]).collect()
    got = {(r["window_start"].hour, r["k"]): r["n_events"] for r in out}
    assert got == {(10, "a"): 2, (11, "b"): 1}


def test_session_windows_batch(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 10, 0), 1), (datetime(2024, 1, 1, 10, 10), 1),
         (datetime(2024, 1, 1, 12, 0), 1)],
        ["tp_timestamp", "user"],
    )
    out = session_windows(df, "user", gap="30 minutes").collect()
    assert len(out) == 2  # two sessions: 10:00-10:10 and 12:00
    ns = sorted(r["n_events"] for r in out)
    assert ns == [1, 2]


def _stream_table():
    return TableConfig(
        name="events",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )


def _counts(spark, workspace):
    """(unbounded, time-bounded) row counts through Catalog.read_table."""
    bounded = workspace.read_table(
        spark, "events", time_from=datetime(2024, 1, 1), time_to=datetime(2025, 1, 1)
    )
    return workspace.read_table(spark, "events").count(), bounded.count()


def test_landing_clears_a_file_sink_log(spark, workspace, tmp_path):
    """A table dir that an older streaming file sink wrote holds its
    ``_spark_metadata`` log, through which Spark reads the dir. The next
    landing deletes the log, so its own files are read too, and the
    sink's files stay."""
    import os

    from tailpipe_spark.catalog import PARTITION_COLS
    from tailpipe_spark.collect import collect
    from tailpipe_spark.sources.formats import read_jsonl

    def rows(path, ids):
        path.write_text("\n".join(
            json.dumps({"id": i, "time": "2024-05-01T00:00:00"}) for i in ids
        ))
        return read_jsonl(spark, [str(path)])

    part = PartitionConfig("events", "default")
    # the old sink's files: landed once, then streamed back into the
    # table dir through a parquet file sink
    collect(spark, workspace, _stream_table(), part, source_df=rows(tmp_path / "a.jsonl", [1, 2]))
    tdir = workspace.table_dir("events")
    old = str(tmp_path / "old")
    os.rename(tdir, old)
    schema = workspace.spark_schema("events")
    q = (
        spark.readStream.schema(schema).parquet(old)
        .writeStream.format("parquet").option("path", tdir)
        .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
        .partitionBy(*PARTITION_COLS).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert os.path.isdir(os.path.join(tdir, "_spark_metadata"))

    collect(spark, workspace, _stream_table(), part, source_df=rows(tmp_path / "b.jsonl", [3]))
    assert not os.path.exists(os.path.join(tdir, "_spark_metadata"))
    assert _counts(spark, workspace) == (3, 3)


def test_rollup_maintenance_and_continuous_read(spark, tmp_path):
    """foreachBatch bucket upsert is idempotent under replay, and
    rollup ∪ fresh equals the full batch aggregation."""
    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        continuous_read,
        maintain_rollup,
        read_manifest_rollup,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [
        (i, f"2024-01-0{1 + i % 3}T0{i % 8}:15:00", "a" if i % 2 else "b", float(i))
        for i in range(48)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df.write.parquet(str(src_dir / "batch1"))

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    ]
    rollup_path = str(tmp_path / "rollup")

    def run_maintenance(checkpoint):
        stream = spark.readStream.schema(
            spark.read.parquet(str(src_dir / "batch1")).schema
        ).parquet(str(src_dir / "batch1"))
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"], aggs,
            checkpoint=str(tmp_path / checkpoint),
        )
        q.awaitTermination()

    run_maintenance("ck1")
    once = sorted(
        map(str, read_manifest_rollup(spark, rollup_path).drop("bucket_date").collect())
    )
    # replay with a FRESH checkpoint (worst case: everything reprocessed)
    run_maintenance("ck2")
    twice = read_manifest_rollup(spark, rollup_path).drop("bucket_date")
    assert once == sorted(map(str, twice.collect()))

    raw = spark.read.parquet(str(src_dir / "batch1"))
    got = continuous_read(
        raw, twice, "ts", "1 hour", ["event_type"], aggs, "2024-01-02 00:00:00"
    )
    want = (
        raw.groupBy(
            F.window("ts", "1 hour").start.alias(BUCKET_COL), "event_type"
        ).agg(*aggs)
    )
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_rollup_leaves_session_overwrite_mode_alone(spark, tmp_path):
    """Maintenance sets no session conf: partitionOverwriteMode reads the
    same before and after the run, both in the caller's session and in
    the clone of it that Structured Streaming runs each batch in."""
    from tailpipe_spark.streaming.rollup import maintain_rollup, read_manifest_rollup

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2}T0{i}:15:00", "a") for i in range(4)],
        "event_id long, ts_s string, event_type string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(src)
    rollup_path = str(tmp_path / "rollup")
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(conf, "static")
    try:
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"],
            [F.count(F.lit(1)).alias("n_events")], checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination()
        assert spark.conf.get(conf) == "static"
        batch_session = q._jsq.streamingQuery().sparkSessionForStream()
        assert batch_session.conf().get(conf) == "static"
    finally:
        spark.conf.unset(conf)
    total = read_manifest_rollup(spark, rollup_path).agg(F.sum("n_events"))
    assert total.collect()[0][0] == 4


def test_rollup_rejects_unaligned_boundary(spark):
    import pytest as _pytest

    from tailpipe_spark.streaming.rollup import _check_aligned

    with _pytest.raises(ValueError, match="aligned"):
        _check_aligned("2024-01-02 00:30:00", "1 hour")
    _check_aligned("2024-01-02 07:00:00", "1 hour")


def test_rollup_update_mode_preserves_untouched_buckets(spark, tmp_path):
    """A second batch touching only one bucket date must not clobber
    the other dates' buckets (update-mode merge, r6 ADVICE: complete
    mode re-emitted all history and never evicted state)."""
    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        maintain_rollup,
        read_manifest_rollup,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(str(src_dir / name))

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    ]
    rollup_path = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src_dir / "*"))
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"], aggs,
            checkpoint=ck,
        )
        q.awaitTermination()

    write_batch("b1", [
        (1, "2024-01-01T03:15:00", "a", 1.0),
        (2, "2024-01-01T03:45:00", "a", 2.0),
        (3, "2024-01-02T05:15:00", "b", 3.0),
    ])
    run()
    # second batch touches ONLY 2024-01-02 (and a new bucket there)
    write_batch("b2", [
        (4, "2024-01-02T05:30:00", "b", 4.0),
        (5, "2024-01-02T06:10:00", "a", 5.0),
    ])
    run()
    got = sorted(
        (str(r[BUCKET_COL]), r["event_type"], r["n_events"], r["value_milli"])
        for r in read_manifest_rollup(spark, rollup_path).collect()
    )
    assert got == [
        ("2024-01-01 03:00:00", "a", 2, 3000),   # untouched date survives
        ("2024-01-02 05:00:00", "b", 2, 7000),   # updated bucket merged
        ("2024-01-02 06:00:00", "a", 1, 5000),   # new bucket added
    ]


def test_rollup_single_writer_guard(spark, tmp_path):
    """Two streams maintaining the same rollup_path SIMULTANEOUSLY
    would race each other's manifest commits. The per-batch pidfile lock
    refuses an upsert while another writer is alive, steals a stale
    lock left by a crashed writer, and never blocks the documented
    sequential fresh-checkpoint replay (that path is pinned by
    test_rollup_maintenance_and_continuous_read)."""
    import os

    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import maintain_rollup, read_manifest_rollup

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(str(src_dir / name))

    aggs = [F.count(F.lit(1)).alias("n_events")]
    rollup_path = str(tmp_path / "rollup")
    lock_path = rollup_path + ".__writer.lock"

    def run(ck):
        stream = spark.readStream.schema(schema).parquet(str(src_dir / "*"))
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"], aggs,
            checkpoint=ck,
        )
        q.awaitTermination()

    write_batch("b1", [(1, "2024-01-01T03:15:00", "a", 1.0)])
    run(str(tmp_path / "ck_owner"))
    assert not os.path.exists(lock_path), "lock must be released after a batch"

    # a LIVE concurrent writer (lock held by a running pid — ours): the
    # merge batch must refuse rather than race the commit
    write_batch("b2", [(2, "2024-01-01T03:45:00", "a", 2.0)])
    with open(lock_path, "w") as f:
        f.write(f"{os.getpid()}\nsomeone-elses-checkpoint\n")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="single writer"):
        run(str(tmp_path / "ck_intruder"))
    got = sorted(
        (r["event_type"], r["n_events"])
        for r in read_manifest_rollup(spark, rollup_path).collect()
    )
    assert got == [("a", 1)], "refused batch must not touch the rollup"

    # a STALE lock (crashed writer, dead pid): stolen, batch proceeds
    with open(lock_path, "w") as f:
        f.write("999999999\ncrashed-checkpoint\n")
    run(str(tmp_path / "ck_owner"))
    assert not os.path.exists(lock_path)
    got = sorted(
        (r["event_type"], r["n_events"])
        for r in read_manifest_rollup(spark, rollup_path).collect()
    )
    assert got == [("a", 2)]


def test_writer_lock_eperm_means_alive(tmp_path, monkeypatch):
    """EPERM from os.kill(pid, 0) means the pid EXISTS under another
    uid — the canonical pidfile reading is ALIVE. The r9 inversion
    treated it as dead and stole a live cross-uid lock; this pins the
    fix: acquisition must REFUSE, and the lock file must survive."""
    import os

    from tailpipe_spark.locking import acquire_writer_lock

    lock_path = str(tmp_path / "r.__writer.lock")
    with open(lock_path, "w") as f:
        f.write("12345\nother-uid-writer\n")

    real_kill = os.kill

    def fake_kill(pid, sig):
        if pid == 12345 and sig == 0:
            raise PermissionError(1, "Operation not permitted")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill)
    with pytest.raises(RuntimeError, match="live writer"):
        acquire_writer_lock(lock_path, "intruder")
    with open(lock_path) as f:
        assert f.readline().strip() == "12345", "live lock must not be stolen"


def test_writer_lock_steal_serialized_under_guard(tmp_path, monkeypatch):
    """The acquire protocol runs under an flock on a persistent sidecar
    guard, so two contenders that both saw a dead-pid lock serialize:
    the second's liveness check happens only AFTER the first finished
    steal+recreate, sees the first's live pid, and refuses (the r9
    TOCTOU had the second unlink the first's fresh lock). Simulated by
    re-entering acquisition from inside the first steal's window."""
    import os

    from tailpipe_spark.locking import acquire_writer_lock, release_writer_lock

    lock_path = str(tmp_path / "r.__writer.lock")
    with open(lock_path, "w") as f:
        f.write("999999999\ncrashed-writer\n")

    # contender 1 steals the stale lock and now holds a live one
    acquire_writer_lock(lock_path, "contender-1")
    with open(lock_path) as f:
        assert int(f.readline()) == os.getpid()
    # contender 2 (same host, this pid is alive) must refuse, not steal
    with pytest.raises(RuntimeError, match="live writer"):
        acquire_writer_lock(lock_path, "contender-2")
    with open(lock_path) as f:
        assert int(f.readline()) == os.getpid(), "fresh lock must survive"
    release_writer_lock(lock_path)
    assert not os.path.exists(lock_path)
    assert os.path.exists(lock_path + ".guard"), (
        "guard sidecar is persistent by design (flock on an unlinked/"
        "recreated path is itself racy)"
    )


def test_rollup_manifest_layout_end_to_end(spark, tmp_path):
    """Generation dirs + an atomically-replaced pointer file instead of
    directory renames — the object-store-safe commit (a single-object
    PUT is atomic where S3 rename is copy+delete).
    Pins: read equals the full batch aggregation, fresh-checkpoint
    replay is idempotent, a second batch only repoints the touched
    date (untouched pointers keep their old generation), manifest-level
    min/max pruning works, and vacuum reclaims superseded leaves
    without disturbing live ones."""
    import os

    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        MANIFEST_NAME,
        _load_manifest,
        continuous_read,
        maintain_rollup,
        read_manifest_rollup,
        vacuum_manifest_rollup,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(str(src_dir / name))

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    ]
    rollup_path = str(tmp_path / "rollup")
    os.makedirs(rollup_path)

    def run(ck):
        stream = spark.readStream.schema(schema).parquet(str(src_dir / "*"))
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"], aggs,
            checkpoint=str(tmp_path / ck),
        )
        q.awaitTermination()

    rows1 = [
        (i, f"2024-01-0{1 + i % 3}T0{i % 8}:15:00", "a" if i % 2 else "b", float(i))
        for i in range(48)
    ]
    write_batch("b1", rows1)
    run("ck1")

    def snap():
        return sorted(
            map(str, read_manifest_rollup(spark, rollup_path).drop("bucket_date").collect())
        )

    raw = spark.read.parquet(str(src_dir / "*"))
    want = raw.groupBy(
        F.window("ts", "1 hour").start.alias(BUCKET_COL), "event_type"
    ).agg(*aggs)
    assert snap() == sorted(map(str, want.collect()))

    # fresh-checkpoint replay (disaster recovery): same result
    run("ck2")
    assert snap() == sorted(map(str, want.collect()))

    # second batch touches ONLY 2024-01-01: untouched dates keep their
    # generation pointers, the touched date moves to a new one
    before = dict(_load_manifest(rollup_path)["partitions"])
    write_batch("b2", [(100, "2024-01-01T03:45:00", "a", 10.0)])
    run("ck2")
    after = _load_manifest(rollup_path)["partitions"]
    assert after["2024-01-02"] == before["2024-01-02"]
    assert after["2024-01-03"] == before["2024-01-03"]
    assert after["2024-01-01"] != before["2024-01-01"]
    assert not os.path.exists(
        os.path.join(rollup_path, MANIFEST_NAME + ".tmp")
    ), "manifest commit must leave no temp file"

    raw = spark.read.parquet(str(src_dir / "*"))
    want = raw.groupBy(
        F.window("ts", "1 hour").start.alias(BUCKET_COL), "event_type"
    ).agg(*aggs)
    assert snap() == sorted(map(str, want.collect()))

    # manifest-level pruning: bounded read sees only the asked dates
    pruned = read_manifest_rollup(
        spark, rollup_path, min_bucket_date="2024-01-02", max_bucket_date="2024-01-02"
    )
    assert set(
        r["d"] for r in pruned.select(
            F.col("bucket_date").cast("string").alias("d")
        ).distinct().collect()
    ) == {"2024-01-02"}

    # vacuum: superseded generations reclaimed, live data intact
    removed = vacuum_manifest_rollup(rollup_path)
    assert removed, "replaced generations should be reclaimed"
    live = set(_load_manifest(rollup_path)["partitions"].values())
    assert not live & set(removed)
    assert snap() == sorted(map(str, want.collect()))

    # composes with continuous_read like any rollup DataFrame
    got = continuous_read(
        raw,
        read_manifest_rollup(spark, rollup_path),
        "ts", "1 hour", ["event_type"], aggs, "2024-01-02 00:00:00",
    )
    assert sorted(map(str, got.drop("bucket_date").collect())) == sorted(
        map(str, want.collect())
    )


def test_rollup_manifest_compaction(spark, tmp_path, monkeypatch):
    """Every batch that touches an existing date adds a generation, so
    the read path accumulates one spark.read per live generation. Past
    MAX_GENERATIONS live generations a batch folds them into ONE, with
    data equal to the full aggregation; vacuum then reclaims the
    superseded generations without changing what a read returns."""
    import os

    import pyspark.sql.functions as F

    from tailpipe_spark.streaming import rollup
    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        _load_manifest,
        maintain_rollup,
        read_manifest_rollup,
        vacuum_manifest_rollup,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(str(src_dir / name))

    aggs = [F.count(F.lit(1)).alias("n_events")]
    rollup_path = str(tmp_path / "rollup")
    os.makedirs(rollup_path)

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src_dir / "*"))
        q = maintain_rollup(
            stream, rollup_path, "ts", "1 hour", ["event_type"], aggs,
            checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination()

    def live_gens():
        parts = _load_manifest(rollup_path)["partitions"]
        return {rel.rsplit("/bucket_date=", 1)[0] for rel in parts.values()}

    def snap():
        return sorted(
            map(str, read_manifest_rollup(spark, rollup_path).drop("bucket_date").collect())
        )

    def want():
        raw = spark.read.parquet(str(src_dir / "*"))
        return sorted(map(str, raw.groupBy(
            F.window("ts", "1 hour").start.alias(BUCKET_COL), "event_type"
        ).agg(*aggs).collect()))

    # batch 1 covers three dates; batch 2 touches only one → 2 live gens
    write_batch("b1", [
        (i, f"2024-01-0{1 + i % 3}T03:15:00", "a", 1.0) for i in range(6)
    ])
    run()
    write_batch("b2", [(100, "2024-01-01T05:45:00", "b", 2.0)])
    run()
    assert len(live_gens()) == 2
    assert snap() == want()

    # self-compaction: threshold 1 folds the manifest back to one
    # generation on a batch that touches an existing date
    monkeypatch.setattr(rollup, "MAX_GENERATIONS", 1)
    write_batch("b3", [(200, "2024-01-02T07:45:00", "b", 3.0)])
    run()
    assert len(live_gens()) == 1
    assert snap() == want(), "compaction must not change the data"
    removed = vacuum_manifest_rollup(rollup_path)
    assert removed, "superseded generations reclaimed after compaction"
    assert snap() == want()


def test_rollup_manifest_orphan_generation_invisible(spark, tmp_path):
    """A crash AFTER the generation write but BEFORE the manifest
    commit leaves an unreferenced generation: readers never see it,
    vacuum reclaims it."""
    import os

    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import (
        maintain_rollup,
        read_manifest_rollup,
        vacuum_manifest_rollup,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    spark.createDataFrame(
        [(1, "2024-01-01T03:15:00", "a", 1.0)],
        "event_id long, ts_s string, event_type string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
        "event_id", "ts", "event_type", "value"
    ).write.parquet(str(src_dir / "b1"))

    rollup_path = str(tmp_path / "rollup")
    os.makedirs(rollup_path)
    stream = spark.readStream.schema(schema).parquet(str(src_dir / "*"))
    q = maintain_rollup(
        stream, rollup_path, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    baseline = sorted(map(str, read_manifest_rollup(spark, rollup_path).collect()))

    # simulate the crash: an orphan generation full of wrong data
    orphan = os.path.join(rollup_path, "data", "deadbeef-7", "bucket_date=2024-01-01")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet at all")

    assert sorted(map(str, read_manifest_rollup(spark, rollup_path).collect())) == baseline
    removed = vacuum_manifest_rollup(rollup_path)
    assert "data/deadbeef-7/bucket_date=2024-01-01" in removed
    assert not os.path.exists(os.path.join(rollup_path, "data", "deadbeef-7"))
    assert sorted(map(str, read_manifest_rollup(spark, rollup_path).collect())) == baseline


def test_rollup_manifest_replay_never_deletes_committed_generation(spark, tmp_path):
    """A replayed micro-batch (same checkpoint → same tag, same
    batch_id — the crash window is after the manifest commit but
    before the checkpoint acked the batch) must NOT delete the
    generation dir the LIVE manifest references: readers following the
    committed pointer would hit missing files, and a failed rerun
    would leave the manifest referencing nothing. The rerun writes an
    attempt-suffixed fresh generation and re-commits; the superseded
    one stays readable until vacuum."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.rollup import (
        BUCKET_COL,
        _commit_manifest,
        _load_manifest,
        maintain_rollup,
        read_manifest_rollup,
        vacuum_manifest_rollup,
    )

    rollup_path = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    tag = hashlib.md5(ck.encode()).hexdigest()[:8]

    # the "previous attempt": a generation dir at exactly the path this
    # checkpoint's batch 0 would pick, already referenced by a committed
    # manifest (i.e. the crash happened after the commit)
    committed_rel = f"data/{tag}-0/bucket_date=2023-12-31"
    committed_leaf = os.path.join(rollup_path, committed_rel)
    spark.createDataFrame(
        [("2023-12-31 05:00:00", "a", 7)], "bs string, event_type string, n_events long"
    ).withColumn(BUCKET_COL, F.col("bs").cast("timestamp")).drop("bs").select(
        BUCKET_COL, "event_type", "n_events"
    ).write.parquet(committed_leaf)
    _commit_manifest(
        rollup_path, {"version": 1, "partitions": {"2023-12-31": committed_rel}}
    )
    committed_files = sorted(os.listdir(committed_leaf))

    # the replay: same checkpoint identity, batch 0 again
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01T03:15:00", "a", 1.0)],
        "event_id long, ts_s string, event_type string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
        "event_id", "ts", "event_type", "value"
    ).write.parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(str(src_dir / "*"))
    q = maintain_rollup(
        stream, rollup_path, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
        checkpoint=ck,
    )
    q.awaitTermination()

    # the committed generation is bit-untouched; the rerun landed in an
    # attempt-suffixed generation and the manifest points there
    assert sorted(os.listdir(committed_leaf)) == committed_files
    parts = _load_manifest(rollup_path)["partitions"]
    assert parts["2023-12-31"] == committed_rel
    assert parts["2024-01-01"].startswith(f"data/{tag}-0-r1/")

    got = sorted(
        map(
            str,
            read_manifest_rollup(spark, rollup_path)
            .select(F.col(BUCKET_COL).cast("string"), "event_type", "n_events")
            .collect(),
        )
    )
    assert got == sorted(
        map(
            str,
            spark.createDataFrame(
                [("2023-12-31 05:00:00", "a", 7), ("2024-01-01 03:00:00", "a", 1)],
                f"{BUCKET_COL} string, event_type string, n_events long",
            ).collect(),
        )
    )
    # everything is referenced: vacuum reclaims nothing
    assert vacuum_manifest_rollup(rollup_path) == []


def test_budget_alerts_string_key(spark, tmp_path):
    """Key output field derives its type from the input column — a
    string key must round-trip, not null out (r6 ADVICE)."""
    import pyspark.sql.functions as F

    from tailpipe_spark.streaming.stateful import budget_alerts_stream

    src = tmp_path / "events"
    spark.createDataFrame(
        [("alice", "2024-01-01T00:00:00", 0.6), ("alice", "2024-01-01T01:00:00", 0.7),
         ("bob", "2024-01-01T02:00:00", 2.5)],
        "user string, ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("user string, value double, ts timestamp").parquet(
        str(src)
    )
    alerts = budget_alerts_stream(stream, "user", "value", "ts", budget_milli=1000)
    q = (
        alerts.writeStream.format("memory").queryName("budget_str_key")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["user"], r["cross_n"]) for r in spark.table("budget_str_key").collect())
    assert got == [("alice", 1), ("bob", 1), ("bob", 2)]


def test_stream_dir_resolves_relative_source_paths(tmp_path):
    """_stream_dir's symlinks live under /tmp, so a RELATIVE source path
    must be absolutized before linking — otherwise the targets resolve
    relative to the temp dir, every link is dangling, the file stream
    source lists zero files, and streaming entries silently return 0
    rows (the r9 sf1 sweep regression: the harness was invoked with
    `.bench/sf1`)."""
    import os

    from tailpipe_spark.queries.streaming_q import _stream_dir

    table = tmp_path / "events.parquet"
    table.mkdir()
    (table / "part-00000.parquet").write_bytes(b"x")
    rel = os.path.relpath(table, os.getcwd())
    assert not os.path.isabs(rel)

    d = _stream_dir(rel)
    links = os.listdir(d)
    assert links, "no symlinks created"
    for n in links:
        p = os.path.join(d, n)
        assert os.path.islink(p)
        assert os.path.exists(p), f"dangling symlink: {p} -> {os.readlink(p)}"
