import json

import pytest

from tailpipe_spark.repair import quarantine_invalid_files
from tailpipe_spark.synthetic import (
    parse_synthetic_spec,
    run_synthetic_collect,
    synthetic_df,
)


def test_quarantine_corrupt_parquet(spark, workspace, tmp_path):
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text(json.dumps({"id": 1, "time": "2024-05-01T00:00:00"}))
    table = TableConfig(
        name="q",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("q", "default"),
            source_df=read_jsonl(spark, [str(p)]))

    # plant a corrupt file inside a partition dir
    import os

    part_dir = None
    for root, _d, names in os.walk(workspace.table_dir("q")):
        if any(n.endswith(".parquet") for n in names):
            part_dir = root
            break
    bad = os.path.join(part_dir, "part-corrupt.parquet")
    with open(bad, "wb") as f:
        f.write(b"this is not parquet at all")

    moved = quarantine_invalid_files(workspace, "q")
    assert len(moved) == 1 and moved[0].endswith(".invalid")
    # table reads cleanly afterwards
    assert workspace.read_table(spark, "q").count() == 1
    # quarantine recorded in snapshot log
    snaps = workspace._load()["snapshots"]
    assert snaps[-1]["op"] == "quarantine"


def test_quarantine_keeps_the_file_index_fresh(spark, workspace, tmp_path):
    """Quarantining a corrupt file re-indexes its key: the index still
    matches the tree, so bounded reads keep pruning, and it no longer
    lists the file."""
    import os

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(
        json.dumps({"id": i, "time": f"2024-0{i}-01T00:00:00"}) for i in (4, 5)
    ))
    table = TableConfig(
        name="qi",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("qi", "default"),
            source_df=read_jsonl(spark, [str(p)]))
    victim = sorted(workspace.pruned_files("qi"))[0]
    with open(victim, "wb") as f:
        f.write(b"this is not parquet at all")

    assert len(quarantine_invalid_files(workspace, "qi")) == 1
    kept = workspace.pruned_files("qi")
    assert kept is not None and victim not in kept and len(kept) == 1
    assert workspace.row_count("qi") == 1
    assert not os.path.exists(victim)


def test_variant_table_survives_quarantine(spark, workspace, tmp_path):
    """A collected ``json``-typed (VARIANT parquet) table must NOT be
    quarantined: pyarrow <18 rejects VARIANT footers with OSError, and a
    bare-pyarrow corruption test would classify every such valid file as
    corrupt and silently drop the table's rows. Footer validation goes
    through FooterInfo's DuckDB fallback instead (ADVICE r13)."""
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "v.jsonl"
    p.write_text(
        "\n".join(
            json.dumps({"id": i, "props": '{"k": %d}' % i,
                        "time": "2024-05-01T00:00:00"})
            for i in range(3)
        )
    )
    table = TableConfig(
        name="vq",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="props", type="json"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("vq", "default"),
            source_df=read_jsonl(spark, [str(p)]))

    # precondition: the variant footer really is pyarrow-unreadable here
    # (if a future pyarrow gains VARIANT this test still passes — the
    # sweep must leave the files alone either way)
    moved = quarantine_invalid_files(workspace, "vq")
    assert moved == []
    assert workspace.read_table(spark, "vq").count() == 3

    # and a genuinely corrupt file in the SAME variant table still goes
    import os

    part_dir = next(
        root for root, _d, names in os.walk(workspace.table_dir("vq"))
        if any(n.endswith(".parquet") for n in names)
    )
    with open(os.path.join(part_dir, "part-bad.parquet"), "wb") as f:
        f.write(b"junk")
    moved = quarantine_invalid_files(workspace, "vq")
    assert len(moved) == 1
    assert workspace.read_table(spark, "vq").count() == 3


def test_parse_synthetic_spec():
    s = parse_synthetic_spec("synthetic_50cols_2000000rows_10000chunk_100ms")
    assert (s.cols, s.rows, s.chunk_size, s.interval_ms) == (50, 2000000, 10000, 100)
    assert parse_synthetic_spec("not_a_spec") is None


def test_synthetic_df_templates(spark):
    df = synthetic_df(spark, cols=13, rows=100)
    assert df.count() == 100
    # 12 templates cycle; col_12 repeats template 0 (varchar)
    types = dict(df.dtypes)
    assert types["col_0"] == "string" and types["col_12"] == "string"
    assert types["col_1"] == "int" and types["col_2"] == "double"
    assert types["col_3"] == "boolean" and types["col_5"] == "timestamp"
    assert types["col_9"].startswith("struct")
    # deterministic across invocations
    a = df.orderBy("id").limit(3).collect()
    b = synthetic_df(spark, 13, 100).orderBy("id").limit(3).collect()
    assert a == b


def test_run_synthetic_collect_pipeline(spark, workspace, tmp_path):
    from tailpipe_spark.synthetic import SyntheticSpec

    out = run_synthetic_collect(
        spark, workspace, SyntheticSpec(6, 500, 100, 0), str(tmp_path / "chunks")
    )
    assert out["rows"] == 500
    assert out["chunks"] >= 5
    df = workspace.read_table(spark, out["table"])
    assert df.count() == 500


def _corrupt_workspace(spark, workspace, tmp_path):
    """A one-row table ``qr`` with a corrupt part file planted next to
    its good file."""
    import glob
    import os

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text(json.dumps({"id": 7, "time": "2024-05-01T00:00:00"}))
    table = TableConfig(
        name="qr",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("qr", "default"),
            source_df=read_jsonl(spark, [str(p)]))
    part_dir = os.path.dirname(
        glob.glob(workspace.table_dir("qr") + "/**/*.parquet", recursive=True)[0]
    )
    with open(os.path.join(part_dir, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file at all")


def _quarantined(workspace):
    import glob

    return glob.glob(workspace.workspace + "/quarantine/**/*.invalid", recursive=True)


def test_query_retries_after_quarantine(spark, workspace, tmp_path, capsys):
    """The reference retries an operation after renaming the invalid
    file (duck_db_error.go:25-80): ``query`` quarantines the planted
    file, runs again, and prints the good rows once."""
    from tailpipe_spark.cli import main

    _corrupt_workspace(spark, workspace, tmp_path)
    rc = main(["--workspace", workspace.workspace, "query", "select id from qr"])
    assert rc == 0
    assert capsys.readouterr().out.strip().splitlines() == ["id", "7"]
    assert len(_quarantined(workspace)) == 1


def test_retry_gives_up_when_nothing_to_quarantine(spark, workspace, tmp_path):
    """An error that is not an invalid-parquet one ends the loop at
    once: it is raised as is, and nothing is quarantined, not even the
    corrupt file that is there."""
    from tailpipe_spark.cli import main

    _corrupt_workspace(spark, workspace, tmp_path)
    with pytest.raises(Exception, match="unrelated failure"):
        main(["--workspace", workspace.workspace, "query",
              "select raise_error('unrelated failure')"])
    assert _quarantined(workspace) == []


def test_classify_engine_error():
    from tailpipe_spark.repair import classify_engine_error

    assert classify_engine_error(Exception("java.lang.OutOfMemoryError: heap")) == "oom"
    assert classify_engine_error(
        Exception("FAILED_READ_FILE ... is not a Parquet file")
    ) == "corrupt_parquet"
    assert classify_engine_error(
        Exception("[TABLE_OR_VIEW_NOT_FOUND] t missing")
    ) == "missing_table"
    assert classify_engine_error(Exception("boom")) == "unknown"


def test_oom_retry_shrinks_work_units_then_restores(spark):
    from tailpipe_spark.repair import run_with_oom_retry

    before_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def action():
        seen.append(
            (spark.conf.get("spark.sql.files.maxPartitionBytes"),
             spark.conf.get("spark.sql.shuffle.partitions"))
        )
        if len(seen) == 1:
            raise Exception("SparkOutOfMemoryError: Unable to acquire 65536 bytes")
        return "done"

    assert run_with_oom_retry(spark, action) == "done"
    assert len(seen) == 2
    # retry ran with smaller scan units and more reducers
    assert int(seen[1][1]) == 2 * int(seen[0][1])
    # conf restored afterwards
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before_bytes
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts


def test_oom_retry_reraises_other_errors(spark):
    import pytest

    from tailpipe_spark.repair import run_with_oom_retry

    with pytest.raises(ValueError, match="nope"):
        run_with_oom_retry(spark, lambda: (_ for _ in ()).throw(ValueError("nope")))


def test_parse_bytes_suffixes():
    from tailpipe_spark.repair import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128mb") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("64kb") == 64 << 10
    assert _parse_bytes("1g") == 1 << 30
    import pytest

    with pytest.raises(ValueError):
        _parse_bytes("weird")


def test_synthetic_chunk_count_exact(spark, tmp_path):
    """Range partitioning by chunk id: exactly ceil(rows/chunk) files,
    each holding the requested rows (hash partitioning collided chunk
    ids into shared files)."""
    from tailpipe_spark.synthetic import synthetic_df, write_jsonl_chunks

    df = synthetic_df(spark, 3, 1000)
    chunks = write_jsonl_chunks(df, str(tmp_path / "out"), 100)
    assert len(chunks) == 10
    sizes = [sum(1 for _ in open(c)) for c in chunks]
    assert sizes == [100] * 10
