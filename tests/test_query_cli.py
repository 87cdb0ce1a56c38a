from datetime import datetime, timezone

from pyspark.sql import functions as F

from tailpipe_spark.query_cli import (
    apply_query_filters,
    filter_conditions,
    parse_time,
    wildcard_to_like,
)


def test_parse_time_absolute_and_relative():
    assert parse_time("2024-05-01T10:00:00") == datetime(2024, 5, 1, 10)
    now = datetime(2024, 5, 8, tzinfo=timezone.utc)
    assert parse_time("T-7d", now) == datetime(2024, 5, 1, tzinfo=timezone.utc)
    assert parse_time("T-2h", now) == datetime(2024, 5, 7, 22, tzinfo=timezone.utc)


def test_wildcard_rewrite():
    assert wildcard_to_like("aws_*") == "aws!_%"  # literal _ escaped
    assert wildcard_to_like("*prod*") == "%prod%"


def test_apply_query_filters_null_kept_on_lower_bound(spark):
    df = spark.createDataFrame(
        [(1, datetime(2024, 5, 1), "a"), (2, None, "b"), (3, datetime(2023, 1, 1), "c")],
        ["id", "tp_timestamp", "tp_index"],
    )
    out = apply_query_filters(df, time_from="2024-01-01T00:00:00")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2]  # NULL kept, old row dropped


def test_apply_index_patterns(spark):
    df = spark.createDataFrame(
        [(1, "prod-1"), (2, "dev-1"), (3, "prod-2")],
        ["id", "tp_index"],
    )
    out = apply_query_filters(df, index_patterns=["prod*"])
    assert sorted(r["id"] for r in out.collect()) == [1, 3]
    out2 = apply_query_filters(df, index_patterns=["prod*", "dev*"])
    assert out2.count() == 3  # OR-combined


def test_partition_predicate_linearization(spark):
    df = spark.createDataFrame(
        [(2023, 12), (2024, 1), (2024, 5), (2025, 1)],
        ["tp_year", "tp_month"],
    )
    (pred,) = [
        c for c in filter_conditions(datetime(2024, 1, 15), datetime(2024, 6, 1))
        if "tp_year" in c
    ]
    got = sorted(
        (r["tp_year"], r["tp_month"]) for r in df.filter(F.expr(pred)).collect()
    )
    # Jan 2024 kept (contains the from-boundary), Dec 2023 and 2025 pruned
    assert got == [(2024, 1), (2024, 5)]


def test_pruning_reaches_scan(spark, workspace, tmp_path):
    """Partition-pruned read: only matching tp_year/tp_month dirs scanned."""
    import json as _json

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [{"id": m, "time": f"2024-{m:02d}-15T00:00:00"} for m in range(1, 7)]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(_json.dumps(r) for r in rows))
    table = TableConfig(
        name="pt",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("pt", "default"),
            source_df=read_jsonl(spark, [str(p)]))

    df = workspace.read_table(spark, "pt")
    out = df
    for cond in filter_conditions(datetime(2024, 2, 1), datetime(2024, 3, 31)):
        out = out.filter(F.expr(cond))
    assert sorted(r["id"] for r in out.collect()) == [2, 3]
    # the physical plan must show partition pruning on tp_year/tp_month
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "tp_year" in plan and "tp_month" in plan


def test_parse_time_offset_converts_to_utc():
    from datetime import datetime

    from tailpipe_spark.query_cli import parse_time

    t = parse_time("2026-08-13T00:00:00+02:00")
    assert t == datetime(2026, 8, 12, 22, 0, 0) and t.tzinfo is None


def test_wildcard_to_like_escapes_literals():
    from tailpipe_spark.query_cli import wildcard_to_like

    assert wildcard_to_like("a_b") == "a!_b"
    assert wildcard_to_like("50%*") == "50!%%"
    assert wildcard_to_like("a!b") == "a!!b"
    assert wildcard_to_like("x*y") == "x%y"


def test_query_session_sizes_scan_splits(spark):
    """tune_scan_splits sizes maxPartitionBytes to ~2 splits/core of
    the active dataset, clamped [4MB, 128MB]; unknown keeps default."""
    from tailpipe_spark.session import tune_scan_splits

    cores = spark.sparkContext.defaultParallelism
    tune_scan_splits(spark, 60 * 1024 * 1024)  # small workspace
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) == max(
        4 << 20, min(128 << 20, (60 << 20) // (cores * 2))
    )
    tune_scan_splits(spark, 10 << 40)  # 10 TB: clamp to the default
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) == 128 << 20
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
