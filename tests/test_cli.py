import json
import os

import pytest

from tailpipe_spark.cli import main, render


@pytest.fixture()
def populated_workspace(spark, workspace, tmp_path):
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [
        {"server_id": f"srv-{i % 2}", "cpu": float(i), "time": f"2024-05-0{i+1}T00:00:00"}
        for i in range(4)
    ]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    table = TableConfig(
        name="server_metrics",
        columns=[
            ColumnConfig(name="server_id", type="varchar"),
            ColumnConfig(name="cpu", type="double"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("server_metrics", "default"),
            source_df=read_jsonl(spark, [str(p)]))
    return workspace


def test_cli_query_csv(populated_workspace, capsys):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "query",
        "select server_id, count(*) as n from server_metrics group by server_id order by server_id",
    ])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["server_id,n", "srv-0,2", "srv-1,2"]


def test_cli_query_from_filter(populated_workspace, capsys):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "query", "select count(*) as n from server_metrics",
        "--from", "2024-05-03T00:00:00",
    ])
    assert rc == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == "2"


def test_cli_query_missing_table(populated_workspace, capsys):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "query", "select * from nope",
    ])
    assert rc == 1
    assert "no data has been collected" in capsys.readouterr().err


def test_cli_list_tables(populated_workspace, capsys):
    rc = main(["--workspace", populated_workspace.workspace, "list", "tables"])
    assert rc == 0
    data = json.loads(capsys.readouterr().out)
    assert data[0]["table"] == "server_metrics"
    assert data[0]["rows"] == 4


def test_cli_connect_emits_bootstrap(populated_workspace, spark, capsys, tmp_path):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "connect", "--dialect", "pyspark", "--from", "2024-05-02T00:00:00",
        "--out-dir", str(tmp_path / "init"),
    ])
    assert rc == 0
    path = capsys.readouterr().out.strip()
    src = open(path).read()
    assert "register_views" in src and populated_workspace.workspace in src
    # the bootstrap runs in a live session and bakes in --from like the
    # SQL dialects do: the 2024-05-01 row is gone, layout cols hidden
    exec(compile(src, path, "exec"), {})
    rows = spark.sql("select cpu from server_metrics order by cpu").collect()
    assert [r["cpu"] for r in rows] == [1.0, 2.0, 3.0]
    assert "tp_year" not in spark.table("server_metrics").columns


def _run_sql_script(spark, src: str) -> None:
    """Run an init script the way ``spark-sql -i`` does: statement by
    statement, comment lines dropped."""
    for chunk in src.split(";"):
        stmt = "\n".join(
            l for l in chunk.splitlines() if not l.strip().startswith("--")
        ).strip()
        if stmt:
            spark.sql(stmt)


def test_cli_connect_sql_script_runs_in_sql_session(
    populated_workspace, spark, capsys, tmp_path
):
    """The default (SQL) init script must be executable by a plain SQL
    client — spark-sql -i equivalent: run each statement via spark.sql
    and query the view it registered (reference: cmd/connect.go:94-172)."""
    rc = main([
        "--workspace", populated_workspace.workspace,
        "connect", "--from", "2024-05-02T00:00:00",
        "--out-dir", str(tmp_path / "init"),
    ])
    assert rc == 0
    path = capsys.readouterr().out.strip()
    assert path.endswith(".sql")
    src = open(path).read()
    _run_sql_script(spark, src)
    rows = spark.sql(
        "select server_id, cpu from server_metrics order by cpu"
    ).collect()
    # --from dropped the 2024-05-01 row; layout cols are hidden
    assert [r["cpu"] for r in rows] == [1.0, 2.0, 3.0]
    assert "tp_year" not in spark.table("server_metrics").columns
    # the implied partition bound is baked in for external pruning
    assert "tp_year * 12" in src


def test_connect_sql_views_match_query_filters_at_subsecond_bounds(
    spark, workspace, tmp_path
):
    """The spark-sql init script bakes the same time bounds as
    ``tailpipe query --from/--to``, down to the microsecond."""
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.connect import write_init_script
    from tailpipe_spark.query_cli import apply_query_filters
    from tailpipe_spark.sources.formats import read_jsonl

    stamps = ["00.000", "00.250", "00.500", "00.750", "01.000"]
    p = tmp_path / "ticks.jsonl"
    p.write_text("\n".join(
        json.dumps({"id": i, "time": f"2024-03-01T10:00:{s}"})
        for i, s in enumerate(stamps)
    ))
    table = TableConfig(
        name="ticks",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("ticks", "default"),
            source_df=read_jsonl(spark, [str(p)]))

    tf, tt = "2024-03-01T10:00:00.250", "2024-03-01T10:00:00.750"
    src = open(write_init_script(
        workspace, str(tmp_path / "init"), dialect="sql", time_from=tf, time_to=tt,
    )).read()
    _run_sql_script(spark, src)
    try:
        via_view = sorted(r["id"] for r in spark.table("ticks").collect())
    finally:
        spark.catalog.dropTempView("ticks")
    via_query = sorted(
        r["id"]
        for r in apply_query_filters(workspace.read_table(spark, "ticks"), tf, tt).collect()
    )
    assert via_view == via_query == [1, 2, 3]


def test_query_filters_match_across_cli_and_connect_dialects(
    spark, workspace, tmp_path, capsys, monkeypatch
):
    """One filter, every path: ``tailpipe query``, apply_query_filters
    and the spark-sql and pyspark init scripts keep the same rows under
    a non-UTC process zone, for a literal ``_`` and a pattern holding
    ``'`` and ``\\``. The DuckDB init script runs too (in UTC) and its
    ``a_*`` LIKE matches."""
    import time

    import duckdb

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.connect import write_init_script
    from tailpipe_spark.query_cli import apply_query_filters
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [
        (1, "2024-03-01T12:00:00", "a_1"),
        (2, "2024-03-01T12:30:00", "aX1"),  # `_` is literal: no match
        (3, "2024-03-01T13:00:00", "o'b\\1"),
        (4, "2024-03-01T10:00:00", "a_2"),  # before --from
        (5, "2024-03-01T15:00:00", "o'b\\2"),  # after --to
    ]
    p = tmp_path / "idx.jsonl"
    p.write_text("\n".join(
        json.dumps({"id": i, "time": t, "idx": x}) for i, t, x in rows
    ))
    table = TableConfig(
        name="idx_t",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="idx", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table,
            PartitionConfig("idx_t", "default", tp_index="idx"),
            source_df=read_jsonl(spark, [str(p)]))
    tf, tt = "2024-03-01T11:00:00", "2024-03-01T14:00:00"
    patterns = ["a_*", "o'b*"]
    expected = [1, 3]

    def script(dialect):
        path = write_init_script(
            workspace, str(tmp_path / "init"), dialect=dialect,
            time_from=tf, time_to=tt, index_patterns=patterns,
        )
        return open(path).read()

    def view_ids():
        try:
            return sorted(r["id"] for r in spark.table("idx_t").collect())
        finally:
            spark.catalog.dropTempView("idx_t")

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        capsys.readouterr()
        argv = ["--workspace", workspace.workspace, "query",
                "select id from idx_t order by id", "--from", tf, "--to", tt]
        for pat in patterns:
            argv += ["--index", pat]
        assert main(argv) == 0
        spark.catalog.dropTempView("idx_t")
        via_cli = [int(x) for x in capsys.readouterr().out.split()[1:]]
        via_apply = sorted(
            r["id"] for r in apply_query_filters(
                workspace.read_table(spark, "idx_t"), tf, tt, patterns
            ).collect()
        )
        _run_sql_script(spark, script("sql"))
        via_sql = view_ids()
        exec(compile(script("pyspark"), "init.py", "exec"), {})
        via_pyspark = view_ids()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert via_cli == via_apply == via_sql == via_pyspark == expected

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(script("duckdb"))
        via_duckdb = [r[0] for r in con.execute(
            'SELECT id FROM "idx_t" ORDER BY id'
        ).fetchall()]
    finally:
        con.close()
    assert via_duckdb == expected


def test_cli_connect_json_envelope(populated_workspace, capsys, tmp_path):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "connect", "--output", "json", "--out-dir", str(tmp_path / "init"),
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out)
    assert res["init_script_path"].endswith(".sql")
    assert "error" not in res


def test_render_formats(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    csv = render(df.orderBy("id"), "csv")
    assert csv.splitlines()[0] == "id,name"
    assert csv.splitlines()[2] == "2,"
    js = json.loads(render(df.orderBy("id"), "json"))
    assert js[1]["name"] is None
    tbl = render(df.orderBy("id"), "table")
    assert "id" in tbl.splitlines()[0]


def test_cli_collect_with_config(spark, tmp_path, capsys):
    # end-to-end through the config file path
    rows = [{"id": i, "time": "2024-05-01T00:00:00"} for i in range(6)]
    data = tmp_path / "in.jsonl"
    data.write_text("\n".join(json.dumps(r) for r in rows))
    cfg = {
        "tables": [
            {
                "name": "t",
                "map_fields": [],
                "columns": [
                    {"name": "id", "type": "bigint"},
                    {"name": "tp_timestamp", "type": "timestamp", "source": "time"},
                ],
            }
        ],
        "partitions": [
            {
                "table": "t",
                "name": "evens",
                "filter": "id % 2 = 0",
                "source": {
                    "paths": [str(data)],
                    "format": {"type": "jsonl"},
                },
            }
        ],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    ws = tmp_path / "ws"
    rc = main([
        "--workspace", str(ws),
        "collect", "t.evens", "--config", str(cfg_path), "--no-compact",
    ])
    assert rc == 0
    assert "collected t.evens: 3 rows" in capsys.readouterr().out


def test_render_streams_without_collect(spark, monkeypatch):
    """A huge result must flow through toLocalIterator pages, never a
    full driver-side collect (reference A32 streams row-by-row)."""
    from pyspark.sql import DataFrame

    from tailpipe_spark import cli

    df = spark.range(0, 5000).selectExpr("id", "id * 2 as dbl")
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(AssertionError("collect() called")),
    )
    monkeypatch.setattr(cli, "PAGE_SIZE", 500)
    chunks = list(cli.render_stream(df, "csv"))
    # header + ceil(5000/500) pages — page size respected
    assert len(chunks) == 1 + 10
    assert chunks[0] == "id,dbl"
    assert all(len(c.split("\n")) == 500 for c in chunks[1:])
    rows = [line for c in chunks[1:] for line in c.split("\n")]
    assert len(rows) == 5000 and rows[0] == "0,0"


def test_render_stream_lazy_first_page(spark, monkeypatch):
    """The first page is available without draining the iterator."""
    from tailpipe_spark import cli

    df = spark.range(0, 100000).selectExpr("id")
    monkeypatch.setattr(cli, "PAGE_SIZE", 100)
    gen = cli.render_stream(df, "table")
    header = next(gen)
    rule = next(gen)
    first = next(gen)
    assert header.strip() == "id" and set(rule) <= {"-", "+"}
    assert first.strip() == "0"
    gen.close()


def test_cli_query_no_sql_opens_shell(populated_workspace, capsys, monkeypatch):
    """`query` with no SQL drops into the interactive shell (reference:
    cmd/query.go:100-104) and the REPL survives prompt → statement →
    `.timing` → Ctrl-C, exiting cleanly on `.exit`."""
    feed = iter(
        [
            "select 17 as seventeen;",
            ".timing on",
            KeyboardInterrupt,  # Ctrl-C at the prompt: buffer reset, shell lives
            "select 21 as twentyone;",
            ".exit",
        ]
    )

    def fake_input(prompt=""):
        item = next(feed)
        if item is KeyboardInterrupt:
            raise KeyboardInterrupt
        return item

    monkeypatch.setattr("builtins.input", fake_input)
    rc = main(["--workspace", populated_workspace.workspace, "query"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "17" in out
    assert "21" in out
    assert "Time:" in out  # .timing on applied to the post-interrupt query


def test_cli_connect_filter_rejects_statements(populated_workspace, capsys, tmp_path):
    """connect --filter runs through the same lexical guard as partition
    filters (reference: internal/config/partition.go:139-186)."""
    rc = main([
        "--workspace", populated_workspace.workspace,
        "connect", "--filter", "1=1; drop table server_metrics",
        "--out-dir", str(tmp_path / "conn"),
    ])
    err = capsys.readouterr().err
    assert rc == 1
    assert "only plain expressions" in err
    # a plain predicate still passes
    rc = main([
        "--workspace", populated_workspace.workspace,
        "connect", "--filter", "tp_index = 'web-01'",
        "--out-dir", str(tmp_path / "conn"),
    ])
    assert rc == 0


def test_cli_compact_zorder(populated_workspace, capsys):
    rc = main([
        "--workspace", populated_workspace.workspace,
        "compact", "server_metrics", "--zorder", "tp_timestamp,cpu",
    ])
    assert rc == 0
    assert "compacted server_metrics" in capsys.readouterr().out
    # table still queryable and complete after the z-order rewrite
    rc = main([
        "--workspace", populated_workspace.workspace,
        "query", "select count(*) as n from server_metrics",
    ])
    assert rc == 0
    assert capsys.readouterr().out.strip().splitlines()[-1] == "4"


def test_connect_duckdb_dialect_executes(populated_workspace, tmp_path, capsys):
    """The duckdb-dialect init script must be directly sourceable by
    DuckDB and expose the same filtered view surface (the reference's
    own connect contract)."""
    import duckdb

    from tailpipe_spark.connect import write_init_script

    path = write_init_script(
        populated_workspace, str(tmp_path), dialect="duckdb",
        time_from="2024-05-02T00:00:00",
    )
    con = duckdb.connect()
    con.execute(open(path).read())
    rows = con.execute(
        "SELECT server_id, cpu FROM server_metrics ORDER BY cpu"
    ).fetchall()
    # --from drops the 2024-05-01 row, keeps the other three
    assert [r[0] for r in rows] == ["srv-1", "srv-0", "srv-1"]
    cols = [d[0] for d in con.execute("SELECT * FROM server_metrics").description]
    assert "tp_year" not in cols and "tp_month" not in cols


def _indexed_table(spark, workspace, tmp_path, idx):
    """Collect one row into table ``indexed`` with the tp_index ``idx``."""
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "n.jsonl"
    p.write_text(json.dumps(
        {"id": 1, "idx": idx, "time": "2024-03-01T12:00:00"}
    ))
    table = TableConfig(
        name="indexed",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="idx", type="varchar"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table,
            PartitionConfig("indexed", "default", tp_index="idx"),
            source_df=read_jsonl(spark, [str(p)]))


def test_connect_sql_view_types_hive_columns_from_manifest(spark, workspace, tmp_path):
    """The spark-sql init script reads tp_index as a string even in a
    session where partition type inference is on (Spark's default),
    so a numeric-looking index still matches its --index pattern."""
    from tailpipe_spark.connect import write_init_script

    _indexed_table(spark, workspace, tmp_path, "012345678901")
    src = open(write_init_script(
        workspace, str(tmp_path / "init"), dialect="sql", index_patterns=["0123*"],
    )).read()
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        _run_sql_script(spark, src)
        view = spark.table("indexed")
        assert dict(view.dtypes)["tp_index"] == "string"
        assert [(r["id"], r["tp_index"]) for r in view.collect()] == [
            (1, "012345678901")
        ]
    finally:
        spark.conf.set(conf, before)
        spark.catalog.dropTempView("indexed")


def test_connect_duckdb_view_types_hive_columns(spark, workspace, tmp_path, capsys):
    """The DuckDB init script reads an all-digit tp_index as VARCHAR, not
    as the BIGINT DuckDB's hive autocast picks, so an --index pattern
    binds and keeps the rows the CLI keeps."""
    import duckdb

    from tailpipe_spark.connect import write_init_script

    _indexed_table(spark, workspace, tmp_path, "123456789012")
    assert main([
        "--workspace", workspace.workspace,
        "query", "select count(*) as n from indexed", "--index", "1234*",
    ]) == 0
    via_cli = int(capsys.readouterr().out.strip().splitlines()[-1])
    path = write_init_script(
        workspace, str(tmp_path / "init"), dialect="duckdb", index_patterns=["1234*"],
    )
    con = duckdb.connect()
    try:
        con.execute(open(path).read())
        rows = con.execute(
            "SELECT typeof(tp_index), tp_index, count(*) FROM indexed GROUP BY ALL"
        ).fetchall()
    finally:
        con.close()
    assert rows == [("VARCHAR", "123456789012", via_cli)]
    assert via_cli == 1


def _duckdb_count(workspace, tmp_path, sql, **filters):
    """``sql``'s single value over the DuckDB connect views."""
    import duckdb

    from tailpipe_spark.connect import write_init_script

    path = write_init_script(workspace, str(tmp_path / "init"), dialect="duckdb", **filters)
    con = duckdb.connect()
    try:
        con.execute(open(path).read())
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


def _cli_count(workspace, capsys, table, *flags):
    assert main([
        "--workspace", workspace.workspace,
        "query", f"select count(*) as n from {table}", *flags,
    ]) == 0
    return int(capsys.readouterr().out.strip().splitlines()[-1])


def test_connect_duckdb_view_reads_default_partition_dirs(spark, workspace, tmp_path, capsys):
    """A NULL-timestamp row lands in a ``__HIVE_DEFAULT_PARTITION__``
    tp_year/tp_month dir; the time-bounded DuckDB views still bind and
    count the rows the CLI counts."""
    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(json.dumps({"id": i, "time": t}) for i, t in enumerate(
        ["2024-05-01T00:00:00", "2024-05-02T00:00:00", None]
    )))
    table = TableConfig(
        name="gappy",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("gappy", "default"),
            source_df=read_jsonl(spark, [str(p)]), required=())
    # --from keeps the NULL-timestamp row, --to drops it
    for to, want in ((None, 3), ("2024-06-01", 2)):
        flags = ["--from", "2024-04-01"] + (["--to", to] if to else [])
        via_cli = _cli_count(workspace, capsys, "gappy", *flags)
        via_duckdb = _duckdb_count(
            workspace, tmp_path, "SELECT count(*) FROM gappy",
            time_from="2024-04-01", time_to=to,
        )
        assert via_duckdb == via_cli == want


def test_connect_duckdb_view_decodes_escaped_hive_values(spark, workspace, tmp_path, capsys):
    """Spark percent-escapes ``'`` and ``\\`` in the tp_index dir name
    (``o%27b%5C1``); the DuckDB views read the value back decoded, so an
    --index pattern keeps the rows the CLI keeps."""
    _indexed_table(spark, workspace, tmp_path, "o'b\\1")
    tdir = workspace.table_dir("indexed")
    assert os.listdir(os.path.join(tdir, "tp_partition=default")) == ["tp_index=o%27b%5C1"]
    via_cli = _cli_count(workspace, capsys, "indexed", "--index", "o'b*")
    got = _duckdb_count(
        workspace, tmp_path, "SELECT list(tp_index) FROM indexed", index_patterns=["o'b*"]
    )
    assert got == ["o'b\\1"]
    assert via_cli == 1


def test_register_views_keeps_the_session_zone(spark, populated_workspace):
    """Registering views (the pyspark connect bootstrap) leaves the
    caller's session timezone alone, and its time bounds select the same
    rows under New York time as under UTC."""
    from datetime import datetime

    from tailpipe_spark.query_cli import filter_conditions

    tf, tt = datetime(2024, 5, 1, 21), datetime(2024, 5, 2, 1)
    zone = "spark.sql.session.timeZone"
    before = spark.conf.get(zone)
    rows = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set(zone, tz)
            populated_workspace.register_views(
                spark, filter_conditions(tf, tt), time_from=tf, time_to=tt
            )
            assert spark.conf.get(zone) == tz
            rows[tz] = [r["cpu"] for r in spark.table("server_metrics").collect()]
    finally:
        spark.conf.set(zone, before)
        spark.catalog.dropTempView("server_metrics")
    assert rows["America/New_York"] == rows["UTC"] == [1.0]


def test_connect_duckdb_view_bounds_are_utc_under_session_zone(
    populated_workspace, tmp_path, capsys
):
    """A DuckDB session in another TimeZone keeps the rows the CLI
    keeps: the init script compares the time bounds in UTC."""
    import duckdb

    from tailpipe_spark.connect import write_init_script

    tf, tt = "2024-05-01T21:00:00", "2024-05-02T01:00:00"
    assert main([
        "--workspace", populated_workspace.workspace,
        "query", "select count(*) as n from server_metrics",
        "--from", tf, "--to", tt,
    ]) == 0
    via_cli = int(capsys.readouterr().out.strip().splitlines()[-1])
    path = write_init_script(
        populated_workspace, str(tmp_path), dialect="duckdb",
        time_from=tf, time_to=tt,
    )
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'America/New_York'")
        con.execute(open(path).read())
        via_duckdb = con.execute("SELECT count(*) FROM server_metrics").fetchone()[0]
    finally:
        con.close()
    assert via_duckdb == via_cli == 1
