"""The manifest is the read schema: ``Catalog.spark_schema`` must equal
what Spark infers from the files of every kind of table the engine
writes (the check is the ``assert_manifest_schema`` fixture), so
reading with it changes no column, order, type or nullability."""

import json
from datetime import datetime

from tailpipe_spark.collect import collect
from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
from tailpipe_spark.sources.formats import read_jsonl


def _collect_jsonl(spark, catalog, tmp_path, table, rows, tag="0"):
    p = tmp_path / f"{table.name}_{tag}.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return collect(spark, catalog, table, PartitionConfig(table.name, "default"),
                   source_df=read_jsonl(spark, [str(p)]))


def test_collected_tables_read_with_their_file_schema(
    spark, workspace, tmp_path, assert_manifest_schema
):
    """Declared scalar types, an inferred camelCase nested struct, json
    stored as VARIANT, and legacy json stored as varchar."""
    trail = TableConfig(
        name="trail",
        columns=[
            ColumnConfig(name="n", type="integer"),
            ColumnConfig(name="amount", type="decimal(12,2)"),
            ColumnConfig(name="ok", type="boolean"),
            ColumnConfig(name="props", type="json"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
    )
    _collect_jsonl(spark, workspace, tmp_path, trail, [
        {"n": 1, "amount": "3.50", "ok": True, "props": '{"k": 1}',
         "time": "2024-05-01T00:00:00", "eventName": "Login",
         "userIdentity": {"accountId": "111", "sessionContext": {
             "mfaAuthenticated": "true"}}, "tags": ["a", "b"]},
    ])
    legacy = TableConfig(
        name="legacyj",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="props", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    _collect_jsonl(spark, workspace, tmp_path, legacy, [
        {"id": 1, "props": '{"k": 1}', "time": "2024-05-01T00:00:00"},
    ])
    for t in ("trail", "legacyj"):
        assert_manifest_schema(workspace, t)
    ident = workspace.spark_schema("trail")["userIdentity"].dataType
    assert ident.names == ["accountId", "sessionContext"]
    # the view reads the nested names as they were written
    workspace.register_views(spark)
    row = spark.sql("select userIdentity.sessionContext.mfaAuthenticated m from trail")
    assert row.collect()[0]["m"] == "true"


def test_migrated_table_reads_with_its_file_schema(
    spark, workspace, tmp_path, assert_manifest_schema
):
    from tailpipe_spark.migrate import migrate_legacy_table

    legacy_dir = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(i, datetime(2023, i + 1, 1), f"m{i}", 1.5 * i) for i in range(3)],
        "id int, event_time timestamp, msg string, score double",
    ).write.parquet(legacy_dir)
    assert migrate_legacy_table(
        spark, workspace, legacy_dir, "migrated", timestamp_col="event_time"
    ) == 3

    assert_manifest_schema(workspace, "migrated")
    assert workspace.read_table(spark, "migrated").schema == workspace.spark_schema("migrated")


def test_entry_without_column_order_reads_in_file_order(
    spark, workspace, tmp_path, assert_manifest_schema
):
    """A manifest entry written before the column order was kept reads
    its columns in the files' order, and the next collect records it."""
    table = TableConfig(
        name="ordered",
        columns=[
            ColumnConfig(name="zeta", type="varchar"),
            ColumnConfig(name="alpha", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    rows = [{"zeta": "z", "alpha": 1, "time": "2024-05-01T00:00:00"}]
    _collect_jsonl(spark, workspace, tmp_path, table, rows)
    written = workspace.read_table(spark, "ordered").columns
    assert written[:2] == ["zeta", "alpha"]

    m = workspace._load()
    del m["tables"]["ordered"]["columns"]
    workspace._store(m)
    assert list(workspace._load()["tables"]["ordered"]["type_strings"])[0] == "alpha"
    assert workspace.read_table(spark, "ordered").columns == written
    assert_manifest_schema(workspace, "ordered")

    _collect_jsonl(spark, workspace, tmp_path, table, rows, tag="1")
    entry = workspace._load()["tables"]["ordered"]
    assert entry["columns"][:2] == ["zeta", "alpha"]
    assert list(workspace.table_schema("ordered"))[:2] == ["zeta", "alpha"]
