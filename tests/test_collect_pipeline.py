"""End-to-end collect → query pipeline tests (the Spark equivalent of
the reference's acceptance suite: write config → collect → query →
assert golden output; see SURVEY.md §5)."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tailpipe_spark.collect import collect, load_state
from tailpipe_spark.compact import compact_table, delete_range, enumerate_partition_keys
from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
from tailpipe_spark.schema import SchemaChangeError


@pytest.fixture()
def metrics_chunks(tmp_path):
    """server_metrics-style jsonl chunks (core_formats.bats:95-146)."""
    rows = [
        {"server_id": f"srv-{i % 3}", "cpu": 10.0 * i, "time": f"2024-05-{(i % 27) + 1:02d}T10:00:00"}
        for i in range(10)
    ]
    p = tmp_path / "exec1_0.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def _metrics_table():
    return TableConfig(
        name="server_metrics",
        columns=[
            ColumnConfig(name="server_id", type="varchar", required=True),
            ColumnConfig(name="cpu", type="double"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )


def test_collect_end_to_end(spark, workspace, metrics_chunks):
    from tailpipe_spark.sources.formats import read_jsonl

    src = read_jsonl(spark, [metrics_chunks])
    res = collect(
        spark,
        workspace,
        _metrics_table(),
        PartitionConfig("server_metrics", "default"),
        source_df=src,
        required=("tp_timestamp", "server_id"),
    )
    assert res.rows_written == 10
    assert res.rows_dropped == 0

    # registered view answers the acceptance query
    workspace.register_views(spark)
    out = spark.sql(
        "select server_id, count(*) as n from server_metrics group by server_id order by server_id"
    ).collect()
    assert [(r["server_id"], r["n"]) for r in out] == [
        ("srv-0", 4), ("srv-1", 3), ("srv-2", 3),
    ]
    # tp_* columns present; layout cols hidden from the view
    cols = spark.table("server_metrics").columns
    assert "tp_date" in cols and "tp_partition" in cols
    assert "tp_year" not in cols

    # collection state watermark persisted
    st = load_state(workspace, "server_metrics", "default")
    assert st["rows_total"] == 10 and st["watermark"]


def test_collect_json_column_stored_as_variant(spark, workspace, tmp_path):
    """A ``json``-typed column is tokenized ONCE at collect and stored
    as variant binary (the reference's DuckDB json storage type,
    ducklake_table.go:77-79); queries then navigate the binary via
    variant_get_int without re-parsing — measured 9.4x at 10M rows
    (SCALE_PROOF §json-ingest). Malformed documents store NULL (try_
    semantics), like the validation contract elsewhere."""
    from pyspark.sql import types as T

    from tailpipe_spark.functions.json_fast import variant_get_int
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [
        {"id": 1, "props": '{"k": 7, "tag": "a"}', "time": "2024-05-01T00:00:00"},
        {"id": 2, "props": '{"k": -3, "nested": {"x": 1}}', "time": "2024-05-01T01:00:00"},
        {"id": 3, "props": "not json at all", "time": "2024-05-01T02:00:00"},
        {"id": 4, "props": None, "time": "2024-05-01T03:00:00"},
    ]
    p = tmp_path / "j.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="jlogs",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="props", type="json"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    res = collect(
        spark,
        workspace,
        table,
        PartitionConfig("jlogs", "default"),
        source_df=read_jsonl(spark, [str(p)]),
    )
    assert res.rows_written == 4
    workspace.register_views(spark)
    view = spark.table("jlogs")
    assert isinstance(view.schema["props"].dataType, T.VariantType)
    got = {
        r["id"]: r["k"]
        for r in view.select("id", variant_get_int("props", "k").alias("k")).collect()
    }
    assert got == {1: 7, 2: -3, 3: None, 4: None}
    # catalog type string round-trips as "json"
    assert workspace.table_schema("jlogs")["props"] == "json"


def test_legacy_string_json_table_keeps_string_storage(spark, workspace, tmp_path):
    """Migration gate (ADVICE r13): a workspace whose json-declared
    column was collected by the pre-variant engine holds STRING parquet
    and a manifest type of ``varchar``. A new collect with the same
    ``json`` declaration must keep appending string (variant and string
    files cannot merge in one scan) rather than corrupting the table or
    raising SchemaChangeError at the upgrade boundary."""
    from pyspark.sql import types as T

    from tailpipe_spark.sources.formats import read_jsonl

    def chunk(path, ids):
        path.write_text(
            "\n".join(
                json.dumps({"id": i, "props": '{"k": %d}' % i,
                            "time": "2024-05-01T00:00:00"})
                for i in ids
            )
        )
        return read_jsonl(spark, [str(path)])

    def cfg(props_type):
        return TableConfig(
            name="legacyj",
            columns=[
                ColumnConfig(name="id", type="bigint"),
                ColumnConfig(name="props", type=props_type),
                ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
            ],
            map_fields=[],
        )

    # legacy collect: the old engine stored json as string → declared
    # varchar reproduces its on-disk layout and manifest entry exactly
    collect(spark, workspace, cfg("varchar"),
            PartitionConfig("legacyj", "default"),
            source_df=chunk(tmp_path / "l1.jsonl", [1, 2]))
    assert workspace.table_schema("legacyj")["props"] == "varchar"

    # upgraded engine, same user config now meaning variant: must detect
    # the legacy layout and keep string
    collect(spark, workspace, cfg("json"),
            PartitionConfig("legacyj", "default"),
            source_df=chunk(tmp_path / "l2.jsonl", [3, 4]))
    workspace.register_views(spark)
    view = spark.table("legacyj")
    assert isinstance(view.schema["props"].dataType, T.StringType)
    assert view.count() == 4


def test_footer_backends_agree(spark, tmp_path):
    """FooterInfo's DuckDB fallback (used when pyarrow can't parse a
    footer carrying VARIANT) must report the SAME num_rows, row-group
    count and raw-typed column stats as the pyarrow primary —
    compaction's datetime arithmetic and the jsonable file index both
    consume them."""
    from tailpipe_spark.catalog import FooterInfo, _duck_footer

    df = spark.createDataFrame(
        [(i, datetime(2024, 5, 1 + i, 12, 0, 0), float(i)) for i in range(5)],
        "id long, tp_timestamp timestamp, v double",
    )
    (tmp_path / "plain").mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "plain"))
    pfile = next(
        str(f) for f in (tmp_path / "plain").iterdir()
        if f.name.endswith(".parquet")
    )
    fi = FooterInfo(pfile)
    assert fi._md is not None  # pyarrow path on a plain file
    duck_rows, duck_groups, duck_stats = _duck_footer(pfile)
    assert duck_rows == fi.num_rows == 5
    assert duck_groups == fi.num_row_groups >= 1
    for col in ("id", "tp_timestamp", "v"):
        pa = fi.col_stats(col)
        dk = duck_stats[col]
        assert pa is not None and dk is not None
        assert pa == dk, f"{col}: pyarrow {pa} vs duckdb {dk}"


def test_collect_drops_invalid_rows(spark, workspace, tmp_path):
    p = tmp_path / "c.jsonl"
    p.write_text(
        "\n".join(
            [
                json.dumps({"server_id": "a", "time": "2024-05-01T00:00:00"}),
                json.dumps({"server_id": None, "time": "2024-05-01T00:00:00"}),
                json.dumps({"server_id": "b", "time": None}),
            ]
        )
    )
    from tailpipe_spark.sources.formats import read_jsonl

    res = collect(
        spark,
        workspace,
        _metrics_table(),
        PartitionConfig("server_metrics", "default"),
        source_df=read_jsonl(spark, [str(p)]),
        required=("tp_timestamp", "server_id"),
    )
    assert res.rows_written == 1
    assert res.rows_dropped == 2
    assert set(res.null_columns) == {"server_id", "tp_timestamp"}


def test_collect_partition_filter_and_index(spark, workspace, tmp_path):
    rows = [{"id": i, "time": "2024-05-01T00:00:00"} for i in range(10)]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    from tailpipe_spark.sources.formats import read_jsonl

    table = TableConfig(
        name="t",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    res = collect(
        spark,
        workspace,
        table,
        PartitionConfig("t", "evens", filter="id % 2 = 0", tp_index="id"),
        source_df=read_jsonl(spark, [str(p)]),
    )
    # exactly half of 10 rows (partition_tests.bats parity)
    assert res.rows_written == 5
    df = workspace.read_table(spark, "t")
    assert df.filter(F.col("tp_index") == "0").count() == 1
    assert set(r["tp_partition"] for r in df.select("tp_partition").distinct().collect()) == {"evens"}


def test_schema_change_is_error(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    a = tmp_path / "a.jsonl"
    a.write_text(json.dumps({"id": 1, "time": "2024-05-01T00:00:00"}))
    table = TableConfig(
        name="t2",
        columns=[ColumnConfig(name="tp_timestamp", type="timestamp", source="time")],
        map_fields=["*"],
    )
    part = PartitionConfig("t2", "default")
    collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(a)]))

    b = tmp_path / "b.jsonl"
    b.write_text(json.dumps({"id": "not-a-number", "time": "2024-05-02T00:00:00"}))
    with pytest.raises(SchemaChangeError):
        collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(b)]))


def test_overwrite_range_recollect(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [{"id": i, "time": f"2024-05-{i+1:02d}T00:00:00"} for i in range(6)]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="t3",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("t3", "default")
    src = read_jsonl(spark, [str(p)])
    collect(spark, workspace, table, part, source_df=src)
    assert workspace.file_stats("t3")["rows"] == 6

    # overwrite a sub-range: deletes then re-collects only that window
    res = collect(
        spark, workspace, table, part, source_df=src,
        time_from=datetime(2024, 5, 2), time_to=datetime(2024, 5, 4),
        overwrite=True,
    )
    assert res.rows_written == 3
    assert workspace.file_stats("t3")["rows"] == 6  # no duplicates


def test_delete_range(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [{"id": i, "time": f"2024-{m:02d}-01T00:00:00"} for i, m in enumerate([1, 2, 3])]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="t4",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("t4", "default")
    collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(p)]))
    n = delete_range(
        workspace, spark, "t4", "default",
        datetime(2024, 2, 1), datetime(2024, 2, 28),
    )
    assert n == 1
    assert workspace.file_stats("t4")["rows"] == 2


def test_compaction_merges_small_files(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    table = TableConfig(
        name="t5",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("t5", "default")
    # several collects → several small overlapping files in one month
    for batch in range(3):
        rows = [
            {"id": batch * 10 + i, "time": f"2024-05-{i+1:02d}T0{batch}:00:00"}
            for i in range(5)
        ]
        p = tmp_path / f"c{batch}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(p)]))

    keys = enumerate_partition_keys(workspace, "t5")
    assert len(keys) == 1
    before = workspace.file_stats("t5")
    assert before["files"] >= 3

    summary = compact_table(spark, workspace, "t5")
    after = workspace.file_stats("t5")
    assert summary["keys_rewritten"] == 1
    assert after["rows"] == before["rows"] == 15
    assert after["files"] < before["files"]
    # data intact and time-ordered within the file
    df = workspace.read_table(spark, "t5")
    assert df.count() == 15

    # idempotent: second run rewrites nothing
    assert compact_table(spark, workspace, "t5")["keys_rewritten"] == 0


def test_compaction_reindex(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [{"id": i, "time": "2024-05-01T00:00:00"} for i in range(4)]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="t6",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("t6", "default"),
            source_df=read_jsonl(spark, [str(p)]))
    df = workspace.read_table(spark, "t6")
    assert set(r["tp_index"] for r in df.select("tp_index").distinct().collect()) == {"default"}

    summary = compact_table(spark, workspace, "t6", reindex_expr="id")
    assert summary["rows"] == 4
    df = workspace.read_table(spark, "t6")
    assert set(r["tp_index"] for r in df.select("tp_index").distinct().collect()) == {"0", "1", "2", "3"}


def test_collect_incremental_file_state(spark, workspace, tmp_path):
    import os
    import time as _time

    from tailpipe_spark.collect import collect_incremental
    from tailpipe_spark.config import FormatConfig, SourceConfig

    land = tmp_path / "land"
    land.mkdir()
    (land / "c0.jsonl").write_text(
        "\n".join(json.dumps({"id": i, "time": "2024-05-01T00:00:00"}) for i in range(4))
    )
    table = TableConfig(
        name="inc",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig(
        "inc", "default",
        source=SourceConfig(paths=[str(land / "*.jsonl")], format=FormatConfig(type="jsonl")),
    )
    r1 = collect_incremental(spark, workspace, table, part)
    assert r1.rows_written == 4
    # nothing new: no-op, no spark job needed
    r2 = collect_incremental(spark, workspace, table, part)
    assert r2.rows_written == 0
    # a new chunk appears: only it is ingested
    (land / "c1.jsonl").write_text(json.dumps({"id": 9, "time": "2024-05-02T00:00:00"}))
    r3 = collect_incremental(spark, workspace, table, part)
    assert r3.rows_written == 1
    assert workspace.file_stats("inc")["rows"] == 5
    # a file is rewritten (mtime changes): re-ingested
    _time.sleep(0.02)
    (land / "c1.jsonl").write_text(json.dumps({"id": 10, "time": "2024-05-03T00:00:00"}))
    os.utime(land / "c1.jsonl")
    r4 = collect_incremental(spark, workspace, table, part)
    assert r4.rows_written == 1
    assert workspace.file_stats("inc")["rows"] == 6


def test_backfill_keeps_watermark_monotonic(spark, workspace, tmp_path):
    from tailpipe_spark.sources.formats import read_jsonl

    table = _metrics_table()
    part = PartitionConfig("server_metrics", "default")
    new = tmp_path / "new.jsonl"
    new.write_text(json.dumps(
        {"server_id": "a", "cpu": 1.0, "time": "2024-06-15T12:00:00"}))
    collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(new)]),
            required=("tp_timestamp",))
    wm1 = load_state(workspace, "server_metrics", "default")["watermark"]

    # backfill an OLDER range: the resume watermark must not move back
    old = tmp_path / "old.jsonl"
    old.write_text(json.dumps(
        {"server_id": "a", "cpu": 2.0, "time": "2024-01-01T00:00:00"}))
    collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(old)]),
            required=("tp_timestamp",))
    st = load_state(workspace, "server_metrics", "default")
    assert st["watermark"] == wm1
    assert st["earliest"].startswith("2024-01-01")

    # a resume after the backfill ingests nothing old twice
    res = collect(spark, workspace, table, part,
                  source_df=read_jsonl(spark, [str(old)]),
                  required=("tp_timestamp",), resume=True)
    assert res.rows_written == 0


def test_collect_does_not_walk_table_footers(spark, workspace, metrics_chunks):
    """Row accounting must ride the write job (Observation), not scan
    every parquet footer in the table before and after each append."""
    from tailpipe_spark.sources.formats import read_jsonl

    calls = []
    orig = type(workspace).file_stats
    type(workspace).file_stats = lambda self, t: calls.append(t) or orig(self, t)
    try:
        res = collect(
            spark, workspace, _metrics_table(),
            PartitionConfig("server_metrics", "default"),
            source_df=read_jsonl(spark, [metrics_chunks]),
            required=("tp_timestamp", "server_id"),
        )
    finally:
        type(workspace).file_stats = orig
    assert res.rows_written == 10
    assert calls == []


def test_compaction_chunks_large_partitions(spark, workspace, tmp_path):
    """A hot partition rewrites as bounded time windows, one file each,
    not one giant file (reference chunks at 5M rows / >=1h windows)."""
    from tailpipe_spark.compact import chunk_windows, file_stats
    from tailpipe_spark.sources.formats import read_jsonl

    table = TableConfig(
        name="t7",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("t7", "default")
    # 3 overlapping batches spread over distinct hours of one month
    for batch in range(3):
        rows = [
            {"id": batch * 100 + i, "time": f"2024-05-01T{2*batch + i % 2:02d}:30:00"}
            for i in range(40)
        ]
        p = tmp_path / f"b{batch}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(p)]))

    before = workspace.file_stats("t7")["rows"]
    (key,) = enumerate_partition_keys(workspace, "t7")
    windows = chunk_windows(file_stats(workspace, "t7", key), 50)
    assert len(windows) >= 2
    summary = compact_table(spark, workspace, "t7", max_chunk_rows=50)
    assert summary["keys_rewritten"] == 1
    assert len(_key_files(workspace, "t7")[key.relpath]) == len(windows)
    assert workspace.file_stats("t7")["rows"] == before == 120
    # no tmp droppings inside the table tree, staging swept
    import os
    for root, dirs, _files in os.walk(workspace.table_dir("t7")):
        assert not any(d.endswith(".tmp") for d in dirs)
    assert workspace.file_stats("t7")["rows"] == workspace.read_table(spark, "t7").count()


def test_stale_staging_swept_on_open(workspace):
    import os

    from tailpipe_spark.catalog import Catalog

    d = workspace.new_staging_dir("t.crashed")
    (open(os.path.join(d, "leftover.parquet"), "w")).close()
    assert os.path.isdir(d)
    Catalog(workspace.workspace)  # reopen: FRESH staging must survive
    assert os.path.isdir(d)       # (a live rewrite in another process)
    old = 1_000_000.0
    os.utime(d, (old, old))
    Catalog(workspace.workspace)  # stale (past TTL) staging is swept
    assert not os.path.isdir(d)


def test_delete_range_with_escaped_partition_values(spark, workspace, tmp_path):
    """Hive layout percent-escapes special chars in dir names
    (tp_index='a:b' -> tp_index=a%3Ab); delete_range must match dirs by
    unescaped value, not rebuild paths from raw strings."""
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [
        {"id": i, "idx": "a:b", "time": f"2024-{m:02d}-01T00:00:00"}
        for i, m in enumerate([1, 2, 3])
    ]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="t_esc",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="idx", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("t_esc", "default", tp_index="idx")
    collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(p)]))
    assert workspace.file_stats("t_esc")["rows"] == 3

    n = delete_range(
        workspace, spark, "t_esc", "default",
        datetime(2024, 2, 1), datetime(2024, 2, 28),
    )
    assert n == 1
    df = workspace.read_table(spark, "t_esc")
    assert df.count() == 2
    assert {r["tp_index"] for r in df.select("tp_index").collect()} == {"a:b"}


def test_collect_all_rows_invalid_writes_nothing(spark, workspace, tmp_path):
    """Empty valid set: the observed write resolves (no metric hang),
    zero rows land, and the watermark stays unset."""
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text(json.dumps({"server_id": "a", "time": None}))
    res = collect(
        spark, workspace, _metrics_table(),
        PartitionConfig("server_metrics", "default"),
        source_df=read_jsonl(spark, [str(p)]),
        required=("tp_timestamp",),
    )
    assert res.rows_written == 0 and res.rows_dropped == 1
    st = load_state(workspace, "server_metrics", "default")
    assert st.get("watermark") is None
    assert st["rows_total"] == 0


def test_collect_drops_and_reports_corrupt_jsonl_rows(spark, workspace, tmp_path):
    """A malformed JSONL line yields an all-null row (Spark PERMISSIVE
    mode); its null tp_timestamp must be counted, reported, and the row
    deleted before insert — the reference's invalid-row contract
    (convertor_validate.go) extended to parse failures."""
    import json

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "corrupt.jsonl"
    p.write_text(
        json.dumps({"server_id": "s1", "time": "2024-05-01T00:00:00"})
        + "\nTHIS IS NOT JSON AT ALL\n"
        + json.dumps({"server_id": "s2", "time": "2024-05-02T00:00:00"})
    )
    table = TableConfig(
        name="corrupt_t",
        columns=[
            ColumnConfig(name="server_id", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    res = collect(
        spark, workspace, table, PartitionConfig("corrupt_t", "default"),
        source_df=read_jsonl(spark, [str(p)]),
    )
    assert res.rows_written == 2
    assert res.rows_dropped == 1
    assert "tp_timestamp" in res.null_columns
    back = workspace.read_table(spark, "corrupt_t")
    assert sorted(r["server_id"] for r in back.collect()) == ["s1", "s2"]


def _idx_table(name):
    return TableConfig(
        name=name,
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="idx", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )


def _collect_rows(spark, workspace, tmp_path, name, batches):
    """One collect per batch of (id, idx, time) rows, tp_index = idx."""
    from tailpipe_spark.sources.formats import read_jsonl

    part = PartitionConfig(name, "default", tp_index="idx")
    for b, rows in enumerate(batches):
        p = tmp_path / f"{name}_{b}.jsonl"
        p.write_text("\n".join(
            json.dumps({"id": i, "idx": idx, "time": t}) for i, idx, t in rows
        ))
        collect(spark, workspace, _idx_table(name), part,
                source_df=read_jsonl(spark, [str(p)]))


def _key_files(workspace, table):
    """{key relpath: sorted parquet file paths} for every key dir."""
    import os

    from tailpipe_spark.compact import enumerate_partition_keys as keys_of

    base = workspace.table_dir(table)
    out = {}
    for k in keys_of(workspace, table):
        d = os.path.join(base, k.relpath)
        out[k.relpath] = sorted(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )
    return out


def _key_facts(spark, workspace, table):
    rows = (
        workspace.read_table(spark, table)
        .groupBy("tp_index", "tp_year", "tp_month")
        .agg(F.count("*").alias("n"), F.min("tp_timestamp").alias("lo"),
             F.max("tp_timestamp").alias("hi"))
        .collect()
    )
    return {(r.tp_index, r.tp_year, r.tp_month): (r.n, r.lo, r.hi) for r in rows}


def _assert_index_fresh(workspace, table):
    """The maintained index equals a full rebuild."""
    by_path = lambda idx: sorted(idx, key=lambda e: e["path"])  # noqa: E731
    maintained = by_path(workspace.load_file_index(table))
    workspace.refresh_partition_index(table)
    assert maintained == by_path(workspace.load_file_index(table))


def test_compaction_batches_small_keys(spark, workspace, tmp_path):
    """Every small key is rewritten by one write, into one time-sorted
    file per key; an already-compact key is left byte-for-byte alone."""
    import pyarrow.parquet as pq

    batches = [
        [
            (b * 100 + d, idx, f"2024-{m:02d}-{3 * d + b + 1:02d}T00:00:00")
            for m in (1, 2, 3) for idx in ("a:b", "x") for d in range(3)
        ]
        for b in range(3)
    ]
    batches[0].append((999, "x", "2024-04-01T00:00:00"))  # a single file
    _collect_rows(spark, workspace, tmp_path, "t_batch", batches)
    files = _key_files(workspace, "t_batch")
    assert len(files) == 7
    assert any("tp_index=a%3Ab" in k for k in files)
    compact_key = "tp_partition=default/tp_index=x/tp_year=2024/tp_month=4"
    assert len(files[compact_key]) == 1
    untouched = open(files[compact_key][0], "rb").read()
    facts = _key_facts(spark, workspace, "t_batch")

    summary = compact_table(spark, workspace, "t_batch")
    assert summary["keys_rewritten"] == 6
    assert summary["files_merged"] == 18
    assert summary["chunk_jobs"] == 1
    after = _key_files(workspace, "t_batch")
    assert set(after) == set(files)
    for key, paths in after.items():
        assert len(paths) == 1, key
        ts = pq.read_table(paths[0], columns=["tp_timestamp"]).column(0).to_pylist()
        assert ts == sorted(ts), key
    assert after[compact_key] == files[compact_key]
    assert open(after[compact_key][0], "rb").read() == untouched
    assert _key_facts(spark, workspace, "t_batch") == facts
    _assert_index_fresh(workspace, "t_batch")
    assert compact_table(spark, workspace, "t_batch")["keys_rewritten"] == 0


def _jobs_and_stages(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result, the jobs
    it launched and the stage infos of those jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return out, jobs, stages


def test_batched_compaction_is_one_job_of_one_stage(spark, workspace, tmp_path):
    """Rewriting many small keys launches one Spark job with one stage:
    each batch is a coalesced scan, so no exchange splits the job."""
    _collect_rows(spark, workspace, tmp_path, "t_onejob", [
        [(10 * b + i, idx, f"2024-0{m}-0{i + 1}T0{b}:00:00")
         for m in (1, 2) for idx in ("a", "b", "c") for i in range(3)]
        for b in range(3)
    ])
    facts = _key_facts(spark, workspace, "t_onejob")
    summary, jobs, stages = _jobs_and_stages(
        spark, "compact-one-job", lambda: compact_table(spark, workspace, "t_onejob")
    )
    assert summary["keys_rewritten"] == 6 and summary["chunk_jobs"] == 1
    assert len(jobs) == 1 and len(stages) == 1
    assert _key_facts(spark, workspace, "t_onejob") == facts


def test_compaction_spreads_batches_over_cores(spark, workspace, tmp_path):
    """With a one-byte file-open cost the batch byte cap is the keys'
    bytes over the cores, so eight equal small keys form several batches:
    still one job, one task per batch, and one time-sorted file per key."""
    import pyarrow.parquet as pq

    _collect_rows(spark, workspace, tmp_path, "t_spread", [
        [(100 * b + i, f"k{k}", f"2024-05-0{i + 1}T0{b}:00:00")
         for k in range(8) for i in range(4)]
        for b in range(2)
    ])
    facts = _key_facts(spark, workspace, "t_spread")
    conf = "spark.sql.files.openCostInBytes"
    spark.conf.set(conf, "1")
    try:
        summary, jobs, stages = _jobs_and_stages(
            spark, "compact-spread", lambda: compact_table(spark, workspace, "t_spread")
        )
    finally:
        spark.conf.unset(conf)
    assert summary["keys_rewritten"] == 8 and summary["chunk_jobs"] == 1
    assert len(jobs) == 1 and len(stages) == 1
    assert stages[0].numTasks >= 2
    after = _key_files(workspace, "t_spread")
    assert len(after) == 8
    for key, paths in after.items():
        assert len(paths) == 1, key
        ts = pq.read_table(paths[0], columns=["tp_timestamp"]).column(0).to_pylist()
        assert ts == sorted(ts), key
    assert _key_facts(spark, workspace, "t_spread") == facts
    _assert_index_fresh(workspace, "t_spread")


def test_batches_spread_near_equal_keys_over_cores():
    """Sixteen keys of 5.8-6.2 MB under a cap of a quarter of their bytes
    make four batches of four keys, not a fifth batch of a straggler; a
    row cap that needs more batches raises the count, and no batch
    passes it."""
    from tailpipe_spark.compact import _batches

    sizes = [int((5.8 + 0.4 * (7 * i % 16) / 15) * 1e6) for i in range(16)]
    cap = -(-sum(sizes) // 4)
    small = [(f"k{i}", 1000, b) for i, b in enumerate(sizes)]
    got = list(_batches(small, 10**9, cap))
    assert [len(b) for b in got] == [4, 4, 4, 4]
    assert [e for b in got for e in b] == small
    capped = list(_batches(small, 3000, cap))
    assert len(capped) == 6
    assert all(sum(r for _, r, _ in b) <= 3000 for b in capped)


def test_batches_take_the_fewest_batches_when_rows_bind():
    """When the row cap binds, the keys go in the fewest batches that keep
    under it: 16 keys of 1,000 rows under 2,500 rows make 8 batches of 2,
    whatever the byte cap asks for."""
    from tailpipe_spark.compact import _batches

    small = [(f"k{i}", 1000, 6_000_000) for i in range(16)]
    for cap in (10**12, -(-sum(b for _, _, b in small) // 4)):
        got = list(_batches(small, 2500, cap))
        assert [len(b) for b in got] == [2] * 8
        assert [e for b in got for e in b] == small
    # a key left with no rows still rides in a batch, not one of its own
    tail = small[:3] + [("gone", 0, 6_000_000)]
    got = list(_batches(tail, 2500, 10**12))
    assert len(got) == 2 and len(got[-1]) > 1


def test_delete_range_rewrites_small_keys_in_one_write(spark, workspace, tmp_path):
    """A delete over small keys goes through the batched rewrite: the
    survivors of each key land in one time-sorted file, and a key left
    with no rows is dropped."""
    import os

    import pyarrow.parquet as pq

    _collect_rows(spark, workspace, tmp_path, "t_delb", [
        [(10 * b + i, idx, f"2024-05-{d:02d}T0{b}:00:00")
         for idx, days in (("gone", (10, 11)), ("part", (2, 10, 20)), ("late", (11, 25)))
         for i, d in enumerate(days)]
        for b in range(2)
    ])
    n = delete_range(
        workspace, spark, "t_delb", "default",
        datetime(2024, 5, 10), datetime(2024, 5, 11, 23, 59, 59),
    )
    assert n == 2 * (2 + 1 + 1)
    counts = workspace.read_table(spark, "t_delb").groupBy("tp_index").count().collect()
    assert {r["tp_index"]: r["count"] for r in counts} == {"part": 4, "late": 2}
    base = workspace.table_dir("t_delb")
    assert not os.path.exists(os.path.join(base, "tp_partition=default/tp_index=gone"))
    for key, paths in _key_files(workspace, "t_delb").items():
        assert len(paths) == 1, key
        ts = pq.read_table(paths[0], columns=["tp_timestamp"]).column(0).to_pylist()
        assert ts == sorted(ts), key
    _assert_index_fresh(workspace, "t_delb")
    assert not os.listdir(workspace.staging_dir)


def test_compaction_mixes_windowed_and_batched_keys(spark, workspace, tmp_path):
    """Under a small max_chunk_rows the oversized key is cut into time
    windows while the rest batch, and one Spark job writes them all; a
    key whose files hold no rows is dropped without error."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark.compact import chunk_windows, enumerate_partition_keys, file_stats

    batches = [
        [(b * 100 + i, "big", f"2024-05-01T{2 * b + i % 2:02d}:30:00") for i in range(40)]
        + [(b * 100 + 50 + i, idx, f"2024-05-0{i + 1}T0{b}:00:00")
           for idx in ("s1", "s2") for i in range(4)]
        for b in range(3)
    ]
    _collect_rows(spark, workspace, tmp_path, "t_mix", batches)
    base = workspace.table_dir("t_mix")
    big = "tp_partition=default/tp_index=big/tp_year=2024/tp_month=5"
    # a key of two zero-row files (small, so it needs compaction)
    empty = "tp_partition=default/tp_index=empty/tp_year=2024/tp_month=5"
    src = _key_files(workspace, "t_mix")[big][0]
    os.makedirs(os.path.join(base, empty))
    for n in ("part-0.parquet", "part-1.parquet"):
        pq.write_table(pq.read_table(src).slice(0, 0), os.path.join(base, empty, n))
    workspace.refresh_partition_index("t_mix")
    big_key = next(
        k for k in enumerate_partition_keys(workspace, "t_mix") if k.relpath == big
    )
    n_windows = len(chunk_windows(file_stats(workspace, "t_mix", big_key), 50))
    assert n_windows >= 2
    facts = _key_facts(spark, workspace, "t_mix")

    summary, jobs, _ = _jobs_and_stages(
        spark, "compact-mix",
        lambda: compact_table(spark, workspace, "t_mix", max_chunk_rows=50),
    )
    assert summary["keys_rewritten"] == 4
    assert summary["chunk_jobs"] == 1
    assert len(jobs) == 1
    after = _key_files(workspace, "t_mix")
    assert empty not in after
    assert not os.path.exists(os.path.join(base, "tp_partition=default/tp_index=empty"))
    assert len(after[big]) == n_windows
    for key in set(after) - {big}:
        assert len(after[key]) == 1, key
    assert _key_facts(spark, workspace, "t_mix") == facts
    _assert_index_fresh(workspace, "t_mix")
    assert not os.listdir(workspace.staging_dir)


def test_compaction_keeps_partition_values_verbatim(spark, workspace, tmp_path):
    """Partition values are read as strings even when the session infers
    partition column types, so a leading-zero account id survives."""
    import os

    acct = "012345678901"
    _collect_rows(spark, workspace, tmp_path, "t_acct", [
        [(b * 10 + i, acct, f"2024-05-0{i + 1}T0{b}:00:00") for i in range(3)]
        for b in range(2)
    ])
    key = f"tp_partition=default/tp_index={acct}/tp_year=2024/tp_month=5"
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(conf, "true")
    try:
        assert compact_table(spark, workspace, "t_acct")["keys_rewritten"] == 1
    finally:
        spark.conf.set(conf, "false")
    assert list(_key_files(workspace, "t_acct")) == [key]
    assert os.listdir(os.path.join(workspace.table_dir("t_acct"), "tp_partition=default")) == [
        f"tp_index={acct}"
    ]
    df = workspace.read_table(spark, "t_acct")
    assert {r.tp_index for r in df.select("tp_index").collect()} == {acct}
    assert df.count() == 6


def test_batched_zorder_matches_single_key_rewrite(spark, workspace, tmp_path):
    """A batched z-order rewrite gives each key the row order that
    zorder_rewrite gives that key's rows alone (per-key scaling bounds)."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark.plans.zorder import zorder_rewrite

    cols = ["tp_timestamp", "id"]
    _collect_rows(spark, workspace, tmp_path, "t_z", [
        # ids run against time; y's far-off ids would flatten x's to
        # one z-level under table-wide bounds
        [(100 - 5 * i - b + (10**9 if idx == "y" else 0), idx,
          f"2024-0{m}-{2 * i + b + 1:02d}T00:00:00")
         for m in (1, 2) for idx in ("x", "y") for i in range(4)]
        for b in range(3)
    ])
    base = workspace.table_dir("t_z")
    expected = {
        key: [r.id for r in zorder_rewrite(
            spark.read.parquet(os.path.join(base, key)), cols, 1
        ).collect()]
        for key in _key_files(workspace, "t_z")
    }
    summary = compact_table(spark, workspace, "t_z", zorder_by=cols)
    assert summary["keys_rewritten"] == 4 and summary["chunk_jobs"] == 1
    for key, paths in _key_files(workspace, "t_z").items():
        assert len(paths) == 1, key
        assert pq.read_table(paths[0], columns=["id"]).column(0).to_pylist() == expected[key]


def test_windowed_zorder_matches_per_window_rewrite(spark, workspace, tmp_path):
    """A windowed key under zorder_by comes out one file per window, each
    in the row order zorder_rewrite gives that window's rows alone
    (per-window scaling bounds), written by one job of one stage."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark.compact import chunk_windows, file_stats
    from tailpipe_spark.plans.zorder import zorder_rewrite
    from tailpipe_spark.query_cli import sql_ts

    cols = ["tp_timestamp", "id"]
    _collect_rows(spark, workspace, tmp_path, "t_zw", [
        # ids run against time; the last file's far-off ids would flatten
        # the first window's to one z-level under key-wide bounds
        [(100 - 3 * i + (10**9 if b == 2 else 0), "w",
          f"2024-05-01T{2 * b + i % 2:02d}:{i:02d}:00") for i in range(40)]
        for b in range(3)
    ])
    (key,) = enumerate_partition_keys(workspace, "t_zw")
    windows = chunk_windows(file_stats(workspace, "t_zw", key), 50)
    assert len(windows) == 2
    key_df = spark.read.parquet(os.path.join(workspace.table_dir("t_zw"), key.relpath))
    expected = []
    for lo, hi in windows:
        w = key_df
        if lo is not None:
            w = w.filter(F.expr(f"tp_timestamp >= {sql_ts(lo)}"))
        if hi is not None:
            w = w.filter(F.expr(f"tp_timestamp < {sql_ts(hi)}"))
        expected.append([r.id for r in zorder_rewrite(w, cols, 1).collect()])
    facts = _key_facts(spark, workspace, "t_zw")

    summary, jobs, stages = _jobs_and_stages(
        spark, "compact-zorder-windows",
        lambda: compact_table(spark, workspace, "t_zw", max_chunk_rows=50, zorder_by=cols),
    )
    assert summary["chunk_jobs"] == 1
    assert len(jobs) == 1 and len(stages) == 1
    files = sorted(
        (pq.read_table(p) for p in _key_files(workspace, "t_zw")[key.relpath]),
        key=lambda t: min(t.column("tp_timestamp").to_pylist()),
    )
    assert [t.column("id").to_pylist() for t in files] == expected
    assert _key_facts(spark, workspace, "t_zw") == facts


def test_compaction_cuts_windows_at_target_file_bytes(spark, workspace, tmp_path, monkeypatch):
    """A key over the output file size, though under the row cap, comes
    out as one time-sorted file per window, written by one job."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark import compact

    _collect_rows(spark, workspace, tmp_path, "t_bytes", [
        [(10 * b + i, "b", f"2024-05-01T{b:02d}:{5 * i:02d}:00") for i in range(10)]
        for b in range(5)
    ])
    (key,) = enumerate_partition_keys(workspace, "t_bytes")
    stats = compact.file_stats(workspace, "t_bytes", key)
    # two files reach the cap, one does not: windows of 2, 2 and 1 files
    cap = max(s.bytes for s in stats) + 1
    windows = compact.chunk_windows(stats, compact.MAX_CHUNK_ROWS, cap)
    assert len(windows) == 3
    facts = _key_facts(spark, workspace, "t_bytes")

    monkeypatch.setattr(compact, "TARGET_FILE_BYTES", cap)
    summary = compact.compact_table(spark, workspace, "t_bytes")
    assert summary["keys_rewritten"] == 1 and summary["chunk_jobs"] == 1
    paths = _key_files(workspace, "t_bytes")[key.relpath]
    assert sorted(pq.read_metadata(p).num_rows for p in paths) == [10, 20, 20]
    for p in paths:
        ts = pq.read_table(p, columns=["tp_timestamp"]).column(0).to_pylist()
        assert ts == sorted(ts), p
    assert _key_facts(spark, workspace, "t_bytes") == facts
    _assert_index_fresh(workspace, "t_bytes")
    assert not os.listdir(workspace.staging_dir)


def test_delete_range_rewrites_keys_like_compaction(spark, workspace, tmp_path, monkeypatch):
    """A delete sends the keys holding doomed rows through compaction's
    rewrite: an oversized key keeps its time windows and comes out
    time-sorted, an oversized key left empty is dropped with no empty
    file behind, a null tp_index (hive's default-partition dir) is
    matched, and an untouched key keeps its files."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark import compact

    def rows(idx, days_by_batch):
        return [
            [(100 * b + i, idx, f"2024-05-{d:02d}T{i:02d}:00:00")
             for i, d in enumerate(days)]
            for b, days in enumerate(days_by_batch)
        ]

    keys = {
        "big": rows("big", [[7 * b + 1 + i % 7 for i in range(13)] for b in range(3)]),
        "big_gone": rows("big_gone", [[6 + 3 * b + i % 3 for i in range(8)] for b in range(3)]),
        None: rows(None, [[1, 2, 12, 13]]),
        "keep": rows("keep", [[1, 2, 3]]),
    }
    batches = [sum((k[b] for k in keys.values() if b < len(k)), []) for b in range(3)]
    _collect_rows(spark, workspace, tmp_path, "t_del", batches)
    base = workspace.table_dir("t_del")
    before = _key_files(workspace, "t_del")
    kept_key = "tp_partition=default/tp_index=keep/tp_year=2024/tp_month=5"
    kept_bytes = [open(p, "rb").read() for p in before[kept_key]]

    doomed = lambda t: "2024-05-05" <= t[:10] <= "2024-05-17"  # noqa: E731
    want = {}
    for idx, bs in keys.items():
        left = [r for b in bs for r in b if not doomed(r[2])]
        if left:
            want[idx] = len(left)
    monkeypatch.setattr(compact, "MAX_CHUNK_ROWS", 20)
    n = compact.delete_range(
        workspace, spark, "t_del", "default",
        datetime(2024, 5, 5), datetime(2024, 5, 17, 23, 59, 59),
    )
    assert n == sum(len(b) for bs in keys.values() for b in bs) - sum(want.values())

    counts = workspace.read_table(spark, "t_del").groupBy("tp_index").count().collect()
    assert {r["tp_index"]: r["count"] for r in counts} == want
    assert not os.path.exists(os.path.join(base, "tp_partition=default/tp_index=big_gone"))
    after = _key_files(workspace, "t_del")
    assert after[kept_key] == before[kept_key]
    assert [open(p, "rb").read() for p in after[kept_key]] == kept_bytes
    big = "tp_partition=default/tp_index=big/tp_year=2024/tp_month=5"
    assert len(after[big]) == 2  # one file per time window
    for paths in after.values():
        for p in paths:
            ts = pq.read_table(p, columns=["tp_timestamp"]).column(0).to_pylist()
            assert ts and ts == sorted(ts), p
    _assert_index_fresh(workspace, "t_del")
    assert not os.listdir(workspace.staging_dir)


def test_delete_range_bounds_are_utc_under_local_zone(spark, workspace, tmp_path, monkeypatch):
    """Delete bounds are naive UTC whatever the process's local zone:
    under New York time a one-hour delete removes exactly that UTC
    hour's rows."""
    import time

    stamps = [f"2024-03-01T{h:02d}:{m:02d}:00" for h in range(24) for m in (0, 30)]
    _collect_rows(spark, workspace, tmp_path, "t_tz", [
        [(i, "a", t) for i, t in enumerate(stamps)]
    ])
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        n = delete_range(
            workspace, spark, "t_tz", "default",
            datetime(2024, 3, 1, 12), datetime(2024, 3, 1, 12, 59, 59),
        )
    finally:
        monkeypatch.undo()
        time.tzset()
    assert n == 2
    left = workspace.read_table(spark, "t_tz").select(
        F.date_format("tp_timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias("t")
    ).collect()
    assert sorted(r["t"] for r in left) == [t for t in stamps if not t.startswith("2024-03-01T12")]


def test_windowed_compaction_writes_no_empty_files(spark, workspace, tmp_path):
    """When the last window cut lands on the last file, the window after
    it holds no rows and its task writes no file, so no checksum is left
    over and the file index stays usable."""
    import os

    import pyarrow.parquet as pq

    from tailpipe_spark.compact import chunk_windows, file_stats

    _collect_rows(spark, workspace, tmp_path, "t_win", [
        [(10 * h + i, "a", f"2024-05-01T{h:02d}:{5 * i:02d}:00") for i in range(10)]
        for h in range(2)
    ])
    (key,) = enumerate_partition_keys(workspace, "t_win")
    windows = chunk_windows(file_stats(workspace, "t_win", key), 10)
    assert len(windows) == 3 and windows[-1][1] is None  # last window: no file
    before = workspace.read_table(spark, "t_win").count()

    compact_table(spark, workspace, "t_win", max_chunk_rows=10)
    paths = [p for ps in _key_files(workspace, "t_win").values() for p in ps]
    assert [pq.read_metadata(p).num_rows for p in paths] == [10, 10]
    key_dir = os.path.dirname(paths[0])
    assert sorted(n for n in os.listdir(key_dir) if n.endswith(".parquet.crc")) == sorted(
        f".{os.path.basename(p)}.crc" for p in paths
    )  # no checksum of an unwritten file
    assert workspace.read_table(spark, "t_win").count() == before == 20
    assert workspace.pruned_files(
        "t_win", datetime(2024, 5, 1), datetime(2024, 5, 2)
    ) is not None
    _assert_index_fresh(workspace, "t_win")


def test_table_emptied_by_delete_stays_queryable(spark, workspace, tmp_path):
    """A delete of every row leaves an empty table dir and an empty
    index. The table reads as an empty scan with its manifest schema,
    bounded or not, and the workspace's other views still register."""
    rows = [(i, "a", f"2024-0{m}-01T00:00:00") for i, m in enumerate([1, 2, 3])]
    _collect_rows(spark, workspace, tmp_path, "gone", [rows])
    _collect_rows(spark, workspace, tmp_path, "kept", [rows])
    assert delete_range(workspace, spark, "gone", "default") == 3
    assert workspace.load_file_index("gone") == []

    for bounds in ({}, {"time_from": datetime(2024, 1, 1), "time_to": datetime(2024, 4, 1)}):
        workspace.register_views(spark, **bounds)
        assert spark.sql("select count(*) n from gone").collect()[0]["n"] == 0
        assert spark.sql("select count(*) n from kept").collect()[0]["n"] == 3
    assert spark.table("gone").columns == spark.table("kept").columns


def test_compaction_reads_no_footer_of_indexed_files(spark, workspace, tmp_path, monkeypatch):
    """With a fresh file index, compaction plans from the index alone: it
    opens no footer of a file that was in the table before the call. The
    re-index of the rewritten keys reads only the files it wrote."""
    import os

    from tailpipe_spark import catalog as catalog_mod

    _collect_rows(spark, workspace, tmp_path, "t_idx", [
        [(10 * b + i, idx, f"2024-0{m}-0{i + 1}T00:00:00")
         for m in (1, 2) for idx in ("a", "b") for i in range(3)]
        for b in range(2)
    ])
    old = {os.path.realpath(p) for ps in _key_files(workspace, "t_idx").values() for p in ps}
    assert len(old) == 8 and workspace.pruned_files("t_idx") is not None
    facts = _key_facts(spark, workspace, "t_idx")
    opened = []
    init = catalog_mod.FooterInfo.__init__

    def counting(self, path):
        opened.append(os.path.realpath(path))
        init(self, path)

    monkeypatch.setattr(catalog_mod.FooterInfo, "__init__", counting)
    summary = compact_table(spark, workspace, "t_idx")
    monkeypatch.undo()
    assert summary["keys_rewritten"] == 4 and summary["files_merged"] == 8
    assert len(opened) == 4  # the four rewritten files, read by the re-index
    assert not set(opened) & old
    assert _key_facts(spark, workspace, "t_idx") == facts
    _assert_index_fresh(workspace, "t_idx")


def test_compaction_merges_a_file_dropped_behind_the_index(spark, workspace, tmp_path):
    """A parquet file copied into a key dir from outside the engine makes
    the index stale. Compaction then takes the key's stats from the
    footers, merges the file and keeps its rows, and the rewritten key is
    indexed again."""
    import os
    import shutil

    _collect_rows(spark, workspace, tmp_path, "t_drop", [
        [(i, "a", f"2024-05-01T0{i}:00:00") for i in range(4)]
    ])
    ((key, paths),) = _key_files(workspace, "t_drop").items()
    shutil.copy(paths[0], os.path.join(os.path.dirname(paths[0]), "dropped.parquet"))
    assert workspace.pruned_files("t_drop") is None
    assert workspace.row_count("t_drop") == 8

    summary = compact_table(spark, workspace, "t_drop")
    assert summary["keys_rewritten"] == 1 and summary["files_merged"] == 2
    assert len(_key_files(workspace, "t_drop")[key]) == 1
    assert workspace.read_table(spark, "t_drop").count() == 8
    assert workspace.pruned_files("t_drop") is not None
    _assert_index_fresh(workspace, "t_drop")


def test_whole_table_rewrites_keep_index_fresh(spark, workspace, tmp_path):
    """A reindex compaction and a bucket_rewrite each commit a whole-table
    swap whose index equals a full rebuild, and record one snapshot."""
    import os

    from tailpipe_spark.compact import bucket_rewrite

    _collect_rows(spark, workspace, tmp_path, "t_whole", [
        [(10 * b + i, idx, f"2024-0{m}-0{i + 1}T00:00:00")
         for m in (1, 2) for idx in ("a", "b") for i in range(3)]
        for b in range(2)
    ])
    facts = _key_facts(spark, workspace, "t_whole")
    snaps = len(workspace._load()["snapshots"])
    compact_table(spark, workspace, "t_whole", reindex_expr="idx")
    _assert_index_fresh(workspace, "t_whole")
    bucket_rewrite(spark, workspace, "t_whole", ["id"], 2, force=True)
    _assert_index_fresh(workspace, "t_whole")
    assert workspace.table_layout("t_whole")["num_buckets"] == 2
    ops = [s["op"] for s in workspace._load()["snapshots"][snaps:]]
    assert ops == ["compact", "bucket"]
    assert _key_facts(spark, workspace, "t_whole") == facts
    assert not os.listdir(workspace.staging_dir)


def test_quarantine_keeps_index_equal_to_a_rebuild(spark, workspace, tmp_path):
    """Quarantining corrupt files re-indexes the dirs that lost one, a
    file at the table dir's top included: the index equals a full
    rebuild."""
    import os

    from tailpipe_spark.repair import quarantine_invalid_files

    _collect_rows(spark, workspace, tmp_path, "t_q", [
        [(10 * b + i, idx, f"2024-05-0{i + 1}T00:00:00") for idx in ("a", "b") for i in range(3)]
        for b in range(2)
    ])
    compact_table(spark, workspace, "t_q")
    victim = sorted(workspace.pruned_files("t_q"))[0]
    with open(victim, "wb") as f:
        f.write(b"this is not parquet at all")
    with open(os.path.join(workspace.table_dir("t_q"), "top.parquet"), "wb") as f:
        f.write(b"nor is this")

    assert len(quarantine_invalid_files(workspace, "t_q")) == 2
    assert workspace.pruned_files("t_q") is not None
    _assert_index_fresh(workspace, "t_q")


def test_index_written_with_companion_stats_stays_fresh(spark, workspace, tmp_path):
    """A workspace indexed when entries carried companion ``cols`` stats
    and the manifest named them in ``indexed_columns`` keeps a fresh
    index: it prunes the same files by time and compacts the same keys,
    and the re-index of a rewritten key writes its entries without
    ``cols``."""
    import os

    _collect_rows(spark, workspace, tmp_path, "t_old", [
        [(i, idx, f"2024-05-0{i + 1}T00:00:00") for idx in ("a", "b") for i in range(3)],
        [(10 + i, "a", f"2024-05-0{i + 4}T00:00:00") for i in range(2)],
    ])
    since = datetime(2024, 5, 4)
    pruned = workspace.pruned_files("t_old", since)
    assert len(pruned) == 1
    old = [
        {**e, "cols": {"id": {"min": e["rows"], "max": e["rows"], "nulls": 0}}}
        for e in workspace.load_file_index("t_old")
    ]
    workspace._store_index("t_old", old)
    manifest = workspace._load()
    manifest["tables"]["t_old"]["indexed_columns"] = ["id"]
    workspace._store(manifest)

    assert workspace.pruned_files("t_old", since) == pruned
    summary = compact_table(spark, workspace, "t_old")
    assert summary["keys_rewritten"] == 1 and summary["files_merged"] == 2
    index = workspace.load_file_index("t_old")
    assert len(workspace.pruned_files("t_old", since)) == 1
    rewritten = os.path.relpath(os.path.dirname(pruned[0]), workspace.table_dir("t_old"))
    by_key = {os.path.dirname(e["path"]): "cols" in e for e in index}
    assert by_key == {rewritten: False, rewritten.replace("tp_index=a", "tp_index=b"): True}
