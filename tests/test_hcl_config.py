"""HCL config surface: parser unit tests + an end-to-end collect through
a reference-shaped .tpc config (mirrors the acceptance fixture in
reference tests/acceptance/test_files/table_block.bats:25-48; the
strptime transform is adapted to Spark's to_timestamp)."""

import json

import pytest

from tailpipe_spark.config import ConfigValidationError
from tailpipe_spark.config_io import load_config, load_hcl_text
from tailpipe_spark.hcl import HclParseError, HclRef, parse_hcl


def test_parse_blocks_attrs_values():
    root = parse_hcl(
        """
# comment
format "delimited" "t" {
  delimiter = ","   // trailing comment
  header = true
}
partition "logs" "p1" {
  filter = "status = 'ok'"
  tp_index = "host"
  source "file" {
    format = format.delimited.t
    paths = ["/a", "/b"]
  }
}
"""
    )
    fmt = root.find("format")[0]
    assert fmt.labels == ["delimited", "t"]
    assert fmt.attrs == {"delimiter": ",", "header": True}
    part = root.find("partition")[0]
    assert part.attrs["filter"] == "status = 'ok'"
    src = part.find("source")[0]
    assert src.labels == ["file"]
    assert src.attrs["format"] == HclRef(("format", "delimited", "t"))
    assert src.attrs["paths"] == ["/a", "/b"]


def test_parse_numbers_bools_null_escapes():
    root = parse_hcl('a = 3\nb = -1.5\nc = false\nd = null\ne = "x\\"y\\n"')
    assert root.attrs == {"a": 3, "b": -1.5, "c": False, "d": None, "e": 'x"y\n'}


@pytest.mark.parametrize(
    "bad",
    ["a = ", "block {", 'x = [1, ', "= 3", 'table "t" { a }'],
)
def test_parse_errors(bad):
    with pytest.raises(HclParseError):
        parse_hcl(bad)


def test_load_hcl_maps_to_config_objects():
    cfg = load_hcl_text(
        """
format "delimited" "csvx" { delimiter = "," }
table "web" {
  format = format.delimited.csvx
  column "tp_timestamp" { source = "timestamp"  type = "timestamp" }
  column "status" { type = "integer"  required = true }
  column "is_err" { type = "boolean"  transform = "status >= 500" }
}
partition "web" "local" {
  filter = "status < 600"
  source "file" { paths = ["/logs/"]  file_layout = "%{DATA}.csv" }
}
"""
    )
    t = cfg["tables"]["web"]
    assert [c.name for c in t.columns] == ["tp_timestamp", "status", "is_err"]
    assert t.columns[2].transform == "status >= 500"
    assert t.map_fields == []  # declared schema maps nothing implicitly
    p = cfg["partitions"][0]
    assert (p.table, p.name) == ("web", "local")
    assert p.filter == "status < 600"
    # source format falls back to the table's format reference
    assert p.source.format.delimiter == ","
    assert p.source.file_layout == "%{DATA}.csv"


def test_load_hcl_validates_filter_and_transform():
    with pytest.raises(ConfigValidationError):
        load_hcl_text('partition "t" "p" { filter = "1=1; drop table x" }')
    with pytest.raises(ConfigValidationError):
        load_hcl_text(
            'table "t" { column "c" { transform = "reflect(\'a\',\'b\')" } }'
        )


def test_config_dir_merges_files(tmp_path):
    (tmp_path / "formats.tpc").write_text(
        'format "delimited" "m" { delimiter = ";" }'
    )
    (tmp_path / "tables.tpc").write_text(
        'table "t1" { column "tp_timestamp" { type = "timestamp" } }\n'
        'partition "t1" "p" { source "file" { format = format.delimited.m paths = ["/x"] } }'
    )
    cfg = load_config(str(tmp_path))
    assert set(cfg["tables"]) == {"t1"}
    assert cfg["partitions"][0].source.format.delimiter == ";"


def test_reference_fixture_collects_end_to_end(spark, workspace, tmp_path):
    """The table_block.bats shape: delimited format, transform columns
    (doubling, CASE categorization, LIKE booleans), collected end-to-end
    through the config surface."""
    csv = tmp_path / "transform_data.csv"
    csv.write_text(
        "timestamp,raw_value,status_code,user_agent,ip_address\n"
        "2024-05-01T10:00:00,21,200,Mozilla (Windows NT),192.168.0.9\n"
        "2024-05-01T11:00:00,40,404,Mozilla (Macintosh),10.1.2.3\n"
        "2024-05-01T12:00:00,7,503,curl/8.0,8.8.8.8\n"
    )
    tpc = tmp_path / "table_transform.tpc"
    tpc.write_text(
        f"""
format "delimited" "transform_test" {{
  delimiter = ","
}}

table "transform_test" {{
  format = format.delimited.transform_test

  column "tp_timestamp" {{
    source = "timestamp"
    type = "timestamp"
  }}

  column "value_doubled" {{
    type = "integer"
    transform = "raw_value * 2"
  }}

  column "status_category" {{
    type = "varchar"
    transform = "CASE WHEN status_code < 300 THEN 'success' WHEN status_code < 400 THEN 'redirect' WHEN status_code < 500 THEN 'client_error' ELSE 'server_error' END"
  }}

  column "browser" {{
    type = "varchar"
    transform = "CASE WHEN user_agent LIKE '%Windows%' THEN 'Windows' WHEN user_agent LIKE '%Macintosh%' THEN 'Mac' ELSE 'Other' END"
  }}

  column "is_internal" {{
    type = "boolean"
    transform = "ip_address LIKE '192.168.%' OR ip_address LIKE '10.%' OR ip_address LIKE '172.16.%'"
  }}
}}

partition "transform_test" "local" {{
  source "file" {{
    format = format.delimited.transform_test
    paths = ["{tmp_path}"]
    file_layout = "transform_data.csv"
  }}
}}
"""
    )
    cfg = load_config(str(tpc))
    part = cfg["partitions"][0]
    table = cfg["tables"]["transform_test"]

    from tailpipe_spark.collect import collect
    from tailpipe_spark.sources.file_source import FileSource

    src_df = FileSource(part.source).read(spark)
    res = collect(spark, workspace, table, part, source_df=src_df)
    assert res.rows_written == 3

    workspace.register_views(spark)
    rows = {
        r["value_doubled"]: (r["status_category"], r["browser"], r["is_internal"])
        for r in spark.sql(
            "select value_doubled, status_category, browser, is_internal "
            "from transform_test"
        ).collect()
    }
    assert rows == {
        42: ("success", "Windows", True),
        80: ("client_error", "Mac", True),
        14: ("server_error", "Other", False),
    }


def test_uri_source_lists_via_hadoop_fs(spark, tmp_path):
    """file:// is the mocked FS scheme: the same Hadoop-FS listing path
    that s3a:// takes on a real cluster (glob + dir scan + file_layout)."""
    from tailpipe_spark.config import FormatConfig, SourceConfig
    from tailpipe_spark.sources.file_source import FileSource

    d = tmp_path / "logs"
    d.mkdir()
    (d / "app-2024-05.jsonl").write_text('{"id": 1, "time": "2024-05-01T00:00:00"}\n')
    (d / "app-2024-06.jsonl").write_text('{"id": 2, "time": "2024-06-01T00:00:00"}\n')
    (d / "ignore.txt").write_text("nope\n")

    src = FileSource(
        SourceConfig(
            paths=[f"file://{d}"],
            file_layout="app-%{YEAR:year}-%{MONTHNUM:month}.jsonl",
            format=FormatConfig(type="jsonl"),
        )
    )
    files = src.list_files(spark)
    assert [f.layout_fields["month"] for f in files] == ["05", "06"]
    assert all(f.mtime > 0 for f in files)

    df = src.read(spark)
    rows = {r["id"]: r["month"] for r in df.select("id", "month").collect()}
    assert rows == {1: "05", 2: "06"}

    # glob form through the same Hadoop listing
    g = FileSource(
        SourceConfig(paths=[f"file://{d}/app-*.jsonl"], format=FormatConfig(type="jsonl"))
    )
    assert len(g.list_files(spark)) == 2


def test_cloud_source_config_round_trip():
    """s3a config surface: URI paths + credential options parse from HCL."""
    from tailpipe_spark.config_io import load_hcl_text

    cfg = load_hcl_text(
        """
partition "aws_logs" "prod" {
  source "file" {
    format = format.jsonl.default
    paths = ["s3a://my-bucket/cloudtrail/*.jsonl"]
    file_layout = "%{DATA}.jsonl"
    options {
      fs.s3a.endpoint = "s3.eu-central-1.amazonaws.com"
      fs.s3a.access.key = "AKIA_TEST"
    }
  }
}
"""
    )
    src = cfg["partitions"][0].source
    assert src.paths == ["s3a://my-bucket/cloudtrail/*.jsonl"]
    assert src.options["fs.s3a.endpoint"] == "s3.eu-central-1.amazonaws.com"


def test_duplicate_partition_and_bad_names_rejected(tmp_path):
    with pytest.raises(ConfigValidationError, match="duplicate partition"):
        load_hcl_text(
            'partition "t" "p" { filter = "a > 1" }\n'
            'partition "t" "p" { filter = "a > 2" }'
        )
    with pytest.raises(ConfigValidationError, match="invalid table name"):
        load_hcl_text('partition "bad.name" "p" { filter = "a > 1" }')
    (tmp_path / "a.tpc").write_text('partition "t" "p" { filter = "a > 1" }')
    (tmp_path / "b.tpc").write_text('partition "t" "p" { filter = "a > 2" }')
    with pytest.raises(ConfigValidationError, match="duplicate partition"):
        load_config(str(tmp_path))


def test_duplicate_partition_across_json_files_rejected(tmp_path):
    part = '{"partitions": [{"table": "t", "name": "p", "filter": "a > 1"}]}'
    (tmp_path / "a.json").write_text(part)
    (tmp_path / "b.json").write_text(part)
    with pytest.raises(ConfigValidationError, match="duplicate partition"):
        load_config(str(tmp_path))


@pytest.mark.parametrize("config, refused", [
    ({"tables": [{"name": "../evil"}]}, "invalid table name"),
    ({"partitions": [{"table": "../evil", "name": "p"}]}, "invalid table name"),
    ({"partitions": [{"table": "t", "name": "../evil"}]}, "invalid partition name"),
    ({"tables": [{"name": "t"}, {"name": "t"}]}, "duplicate table"),
    ({"partitions": [{"table": "t", "name": "p"}] * 2}, "duplicate partition"),
])
def test_json_config_runs_the_hcl_checks(config, refused):
    """The JSON mirror refuses what the HCL builder refuses: a name that
    is not a bare identifier (names become paths under the workspace)
    and a table or partition defined twice. A JSON table that declares
    columns maps no source field implicitly, as an HCL one does."""
    from tailpipe_spark.config_io import load_json_text

    with pytest.raises(ConfigValidationError, match=refused):
        load_json_text(json.dumps(config))
    hcl = load_hcl_text('table "t" {\n column "id" { type = "bigint" }\n}')["tables"]["t"]
    js = load_json_text(json.dumps(
        {"tables": [{"name": "t", "columns": [{"name": "id", "type": "bigint"}]}]}
    ))["tables"]["t"]
    assert js.map_fields == hcl.map_fields == []


def test_cli_introspection_verbs(tmp_path, capsys):
    from tailpipe_spark import cli

    tpc = tmp_path / "conf.tpc"
    tpc.write_text(
        """
format "delimited" "semi" { delimiter = ";" }
table "web" { column "tp_timestamp" { type = "timestamp" } }
partition "web" "prod" {
  filter = "status < 600"
  source "file" { format = format.delimited.semi paths = ["/logs/"] }
}
"""
    )
    ws = str(tmp_path / "ws")

    assert cli.main(["--workspace", ws, "list", "partitions", "--config", str(tpc)]) == 0
    parts = json.loads(capsys.readouterr().out)
    assert parts[0]["table"] == "web" and parts[0]["name"] == "prod"
    assert parts[0]["source"]["format"]["delimiter"] == ";"

    assert cli.main(["--workspace", ws, "list", "formats", "--config", str(tpc)]) == 0
    fmts = json.loads(capsys.readouterr().out)
    assert "delimited.semi" in fmts and "jsonl.default" in fmts

    assert cli.main(["--workspace", ws, "show", "partition", "web.prod",
                     "--config", str(tpc)]) == 0
    shown = json.loads(capsys.readouterr().out)
    assert shown["filter"] == "status < 600"

    assert cli.main(["--workspace", ws, "show", "table", "web",
                     "--config", str(tpc)]) == 0
    t = json.loads(capsys.readouterr().out)
    assert t["columns"][0]["name"] == "tp_timestamp"

    assert cli.main(["--workspace", ws, "show", "format", "grok.syslog",
                     "--config", str(tpc)]) == 0
    g = json.loads(capsys.readouterr().out)
    assert g["type"] == "grok"

    # reference: `tailpipe source show <name>` (cmd/source.go:111-113)
    assert cli.main(["--workspace", ws, "show", "source", "web.prod",
                     "--config", str(tpc)]) == 0
    s = json.loads(capsys.readouterr().out)
    assert s["partition"] == "web.prod"
    assert s["paths"] == ["/logs/"]
    assert s["format"]["delimiter"] == ";"
    assert cli.main(["--workspace", ws, "show", "source", "nope",
                     "--config", str(tpc)]) == 1


def test_config_dir_cross_file_references(tmp_path):
    """Format defined in a LATER-sorted file resolves from an earlier
    one: the whole dir parses before references resolve (reference:
    internal/parse/load_config.go loads the config dir as one unit)."""
    (tmp_path / "a_partitions.tpc").write_text(
        'partition "t" "p" {\n'
        '  source "file" { format = format.delimited.zzz paths = ["/x"] }\n'
        "}\n"
        'table "t" { format = format.delimited.zzz }\n'
    )
    (tmp_path / "z_formats.tpc").write_text(
        'format "delimited" "zzz" { delimiter = "|" }'
    )
    cfg = load_config(str(tmp_path))
    assert cfg["partitions"][0].source.format.delimiter == "|"


def test_unknown_attrs_rejected():
    with pytest.raises(ConfigValidationError, match="unknown attribute"):
        load_hcl_text('format "delimited" "x" { delimter = "," }')  # typo
    with pytest.raises(ConfigValidationError, match="unknown attribute"):
        load_hcl_text('table "t" { formt = format.jsonl.default }')
    with pytest.raises(ConfigValidationError, match="unknown attribute"):
        load_hcl_text(
            'partition "t" "p" { source "file" { paths = ["/x"] file_layot = "x" } }'
        )
    with pytest.raises(ConfigValidationError, match="duplicate format"):
        load_hcl_text(
            'format "delimited" "dup" { delimiter = "," }\n'
            'format "delimited" "dup" { delimiter = ";" }'
        )
