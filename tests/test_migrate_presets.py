import json

import pytest

from tailpipe_spark.config import (
    ConfigValidationError,
    FORMAT_PRESETS,
    FormatConfig,
    register_format_preset,
    resolve_format,
)
from tailpipe_spark.migrate import migrate_legacy_table


def test_builtin_presets_resolve():
    assert resolve_format("delimited.tsv_default").delimiter == "\t"
    assert resolve_format("grok.syslog").type == "grok"
    assert resolve_format("grok.apache_common").pattern.startswith("%{IPORHOST")
    inline = FormatConfig(type="jsonl")
    assert resolve_format(inline) is inline
    with pytest.raises(ConfigValidationError):
        resolve_format("nope.preset")


def test_register_custom_preset():
    register_format_preset(
        "regex.kv", FormatConfig(type="regex", pattern=r"(?P<k>\w+)=(?P<v>\w+)")
    )
    assert resolve_format("regex.kv").type == "regex"
    del FORMAT_PRESETS["regex.kv"]


def test_apache_common_preset_parses(spark, tmp_path):
    from tailpipe_spark.sources.formats import read_grok

    p = tmp_path / "access.log"
    p.write_text(
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326\n'
        "garbage line\n"
    )
    df = read_grok(spark, [str(p)], resolve_format("grok.apache_common"))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["method"] == "GET" and rows[0]["status"] == 200
    assert rows[0]["client"] == "127.0.0.1"


def test_migrate_legacy_table(spark, workspace, tmp_path):
    from datetime import datetime

    legacy = spark.createDataFrame(
        [(i, datetime(2023, (i % 12) + 1, 1), f"m{i}") for i in range(20)],
        ["id", "event_time", "msg"],
    )
    legacy_dir = str(tmp_path / "legacy")
    legacy.write.parquet(legacy_dir)

    n = migrate_legacy_table(
        spark, workspace, legacy_dir, "migrated_logs",
        timestamp_col="event_time", index_expr="cast(id % 2 as string)",
    )
    assert n == 20
    df = workspace.read_table(spark, "migrated_logs")
    assert df.count() == 20
    assert set(r["tp_index"] for r in df.select("tp_index").distinct().collect()) == {"0", "1"}
    # landed in the hive layout with month partitions
    from tailpipe_spark.compact import enumerate_partition_keys

    keys = enumerate_partition_keys(workspace, "migrated_logs")
    assert len({(k.tp_year, k.tp_month) for k in keys}) == 12


def test_migrate_into_collected_table_keeps_index_fresh(spark, workspace, tmp_path):
    """A migrate into a table that collect already indexed merges the
    files it appended, so time-bounded reads keep pruning by the index."""
    from datetime import datetime

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(
        json.dumps({"id": i, "time": f"2024-0{m}-01T00:00:00"})
        for i, m in enumerate([1, 2])
    ))
    table = TableConfig(
        name="logs",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("logs", "default"),
            source_df=read_jsonl(spark, [str(p)]))
    assert workspace.pruned_files("logs") is not None

    legacy_dir = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(10, datetime(2024, 3, 1)), (11, datetime(2024, 4, 1))],
        "id bigint, tp_timestamp timestamp",
    ).write.parquet(legacy_dir)
    assert migrate_legacy_table(spark, workspace, legacy_dir, "logs") == 2

    def index():
        return sorted(workspace.load_file_index("logs"), key=lambda e: e["path"])

    assert workspace.pruned_files("logs") is not None
    live = index()
    assert len(live) == workspace.file_stats("logs")["files"]
    workspace.refresh_partition_index("logs")
    assert live == index()


def test_migrate_cli_verb(spark, workspace, tmp_path, capsys, monkeypatch):
    """A34 CLI wiring: tailpipe-spark migrate <legacy_dir> <table>."""
    from datetime import datetime

    legacy = tmp_path / "legacy"
    spark.createDataFrame(
        [(1, datetime(2024, 3, 1)), (2, datetime(2024, 4, 1))], ["id", "event_time"]
    ).write.parquet(str(legacy))

    from tailpipe_spark import cli

    monkeypatch.setattr(cli, "_build_spark", lambda args=None: spark)
    rc = cli.main([
        "--workspace", workspace.workspace,
        "migrate", str(legacy), "moved", "--timestamp-col", "event_time",
    ])
    assert rc == 0
    assert "migrated 2 rows" in capsys.readouterr().out
    assert workspace.file_stats("moved")["rows"] == 2
