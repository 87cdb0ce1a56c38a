"""Batch writer-lock discipline (r13 verdict ask #4): collect/compact
take the workspace pidfile+flock lock that streaming rollup pioneered,
so two concurrent writers on one workspace refuse instead of racing
the manifest's read-modify-write (the reference is single-writer by
construction: duck_db.go:62-63, SetMaxOpenConns(1))."""

import json
import os

import pytest

from tailpipe_spark.collect import collect
from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig


def _chunk(spark, tmp_path, name, ids):
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / f"{name}.jsonl"
    p.write_text(
        "\n".join(
            json.dumps({"id": i, "time": "2024-05-01T00:00:00"}) for i in ids
        )
    )
    return read_jsonl(spark, [str(p)])


def _table(name):
    return TableConfig(
        name=name,
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )


def _lock_path(workspace):
    return os.path.join(workspace.metadata_dir, "writer.lock")


def test_collect_refuses_live_concurrent_writer(spark, workspace, tmp_path, monkeypatch):
    """A second collect while another LIVE process holds the workspace
    writer lock must refuse loudly — not interleave manifest updates."""
    with open(_lock_path(workspace), "w") as f:
        f.write("12345\nconcurrent-collect\n")
    real_kill = os.kill

    def fake_kill(pid, sig):
        if pid == 12345 and sig == 0:
            return None  # alive
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill)
    with pytest.raises(RuntimeError, match="live writer"):
        collect(spark, workspace, _table("wl"), PartitionConfig("wl", "default"),
                source_df=_chunk(spark, tmp_path, "a", [1, 2]))
    # the refused collect must not have touched the manifest
    assert "wl" not in workspace.list_tables()
    # and the live lock survives
    with open(_lock_path(workspace)) as f:
        assert f.readline().strip() == "12345"


def test_collect_steals_stale_lock_and_releases(spark, workspace, tmp_path):
    """A lock left by a CRASHED writer (dead pid) is stolen; the
    collect proceeds and releases the lock afterwards."""
    with open(_lock_path(workspace), "w") as f:
        f.write("999999999\ncrashed-collect\n")
    res = collect(spark, workspace, _table("wl2"), PartitionConfig("wl2", "default"),
                  source_df=_chunk(spark, tmp_path, "b", [1, 2, 3]))
    assert res.rows_written == 3
    assert not os.path.exists(_lock_path(workspace))


def test_sequential_collect_then_compact_reenter_cleanly(spark, workspace, tmp_path):
    """Same-process sequencing (and nesting: compact_table routes
    bucketed tables through bucket_rewrite, which re-takes the lock)
    must not deadlock or refuse against our own pid."""
    from tailpipe_spark.compact import compact_table

    collect(spark, workspace, _table("wl3"), PartitionConfig("wl3", "default"),
            source_df=_chunk(spark, tmp_path, "c", [1, 2]))
    collect(spark, workspace, _table("wl3"), PartitionConfig("wl3", "default"),
            source_df=_chunk(spark, tmp_path, "d", [3, 4]))
    summary = compact_table(spark, workspace, "wl3")
    assert summary is not None
    assert workspace.read_table(spark, "wl3").count() == 4
    assert not os.path.exists(_lock_path(workspace))


def test_no_manifest_update_lost_across_writers(spark, workspace, tmp_path, monkeypatch):
    """The lost-update scenario the lock exists for: writer A loads the
    manifest, writer B's full collect lands between A's load and store,
    then A stores — without the lock B's table entry vanishes. With the
    lock, B cannot even start while A runs: simulate by asserting the
    lock file exists (and names us) DURING A's collect via the append
    hook, then verify both tables survive sequential runs."""
    from tailpipe_spark import writer as writer_mod

    seen = {}
    real_append = writer_mod.append

    def spying_append(catalog, table, df):
        with open(_lock_path(workspace)) as f:
            seen["pid"] = int(f.readline())
        return real_append(catalog, table, df)

    # collect.py references the writer MODULE (`writer.append(...)`),
    # so patching the module attribute reaches it
    monkeypatch.setattr(writer_mod, "append", spying_append)
    collect(spark, workspace, _table("wlA"), PartitionConfig("wlA", "default"),
            source_df=_chunk(spark, tmp_path, "e", [1]))
    assert seen["pid"] == os.getpid(), "lock must be held across the write"
    collect(spark, workspace, _table("wlB"), PartitionConfig("wlB", "default"),
            source_df=_chunk(spark, tmp_path, "f", [2]))
    assert set(workspace.list_tables()) >= {"wlA", "wlB"}


def test_quarantine_refuses_live_concurrent_writer(spark, workspace, tmp_path):
    """The quarantine sweep records a snapshot and rewrites the index
    sidecar, so it takes the writer lock: with the lock held by a live
    process it raises and moves nothing."""
    from tailpipe_spark.repair import quarantine_invalid_files

    collect(spark, workspace, _table("wq"), PartitionConfig("wq", "default"),
            source_df=_chunk(spark, tmp_path, "a", [1, 2]))
    files = sorted(workspace._listing("wq"))
    victim = os.path.join(workspace.table_dir("wq"), files[0])
    with open(victim, "wb") as f:
        f.write(b"not a parquet file at all")
    snapshots = len(workspace._load()["snapshots"])
    with open(_lock_path(workspace), "w") as f:
        f.write(f"{os.getpid()}\nconcurrent-collect\n")
    try:
        with pytest.raises(RuntimeError, match="live writer"):
            quarantine_invalid_files(workspace, "wq")
    finally:
        os.unlink(_lock_path(workspace))
    assert sorted(workspace._listing("wq")) == files
    assert not os.path.exists(os.path.join(workspace.workspace, "quarantine"))
    assert len(workspace._load()["snapshots"]) == snapshots
