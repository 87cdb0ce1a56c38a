import json
import textwrap

import pytest

from tailpipe_spark.config import FormatConfig
from tailpipe_spark.sources.formats import (
    read_delimited,
    read_grok,
    read_jsonl,
    read_regex,
)
from tailpipe_spark.sources.grok import compile_grok


@pytest.fixture()
def jsonl_file(tmp_path):
    p = tmp_path / "chunk_0.jsonl"
    rows = [
        {"server_id": "srv-1", "cpu": 10.5, "ok": True, "ts": "2024-05-01T10:00:00"},
        {"server_id": "srv-2", "cpu": 93.1, "ok": False, "ts": "2024-05-01T10:01:00"},
        {"server_id": "srv-1", "cpu": 55.0, "ok": True, "ts": "2024-05-01T10:02:00"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_read_jsonl(spark, jsonl_file):
    df = read_jsonl(spark, [jsonl_file])
    assert df.count() == 3
    assert set(df.columns) == {"server_id", "cpu", "ok", "ts"}


def test_read_delimited(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id|name|score\n1|alpha|9.5\n2|beta|7.25\n")
    df = read_delimited(spark, [str(p)], FormatConfig(type="delimited", delimiter="|"))
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alpha"]["id"] == 1
    assert rows["beta"]["score"] == 7.25


def test_read_delimited_no_header(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("1,alpha\n2,beta\n")
    df = read_delimited(
        spark, [str(p)], FormatConfig(type="delimited", header=False)
    )
    assert df.count() == 2


def test_read_regex_named_groups(spark, tmp_path):
    p = tmp_path / "app.log"
    p.write_text(
        textwrap.dedent(
            """\
            2024-05-01 ERROR something broke
            2024-05-02 INFO all good
            not a log line at all ???
            """
        )
    )
    fmt = FormatConfig(
        type="regex",
        pattern=r"(?P<date>\d{4}-\d{2}-\d{2}) (?P<level>[A-Z]+) (?P<msg>.*)",
    )
    df = read_regex(spark, [str(p)], fmt)
    rows = sorted(df.collect(), key=lambda r: r["date"])
    assert len(rows) == 2  # unparseable line dropped
    assert rows[0]["level"] == "ERROR"
    assert rows[1]["msg"] == "all good"


def test_grok_compile_fields():
    c = compile_grok("%{TIMESTAMP_ISO8601:timestamp} %{LOGLEVEL:level} %{GREEDYDATA:message}")
    assert list(c.fields) == ["timestamp", "level", "message"]
    import re

    m = re.match(c.regex, "2024-05-01T10:00:00Z WARN disk almost full")
    assert m
    assert m.group(c.fields["level"][0]) == "WARN"


def test_grok_typed_and_unknown():
    c = compile_grok("%{INT:code:int} %{WORD:word}")
    assert c.fields["code"][1] == "int"
    with pytest.raises(ValueError):
        compile_grok("%{NOPE:x}")


def test_read_grok(spark, tmp_path):
    p = tmp_path / "svc.log"
    p.write_text(
        "2024-05-01T10:00:00Z ERROR 500 checkout failed\n"
        "2024-05-01T10:00:05Z INFO 200 ok\n"
        "garbage\n"
    )
    fmt = FormatConfig(
        type="grok",
        pattern="%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{INT:status:int} %{GREEDYDATA:msg}",
    )
    df = read_grok(spark, [str(p)], fmt)
    rows = sorted(df.collect(), key=lambda r: r["ts"])
    assert len(rows) == 2
    assert rows[0]["status"] == 500
    assert df.schema["status"].dataType.simpleString() == "bigint"


def test_file_source_layout(spark, tmp_path):
    from tailpipe_spark.config import SourceConfig
    from tailpipe_spark.sources.file_source import FileSource

    (tmp_path / "plugin-2024-05.log").write_text("a 1\nb 2\n")
    (tmp_path / "plugin-2024-06.log").write_text("c 3\n")
    (tmp_path / "other.log").write_text("zzz 9\n")
    src = FileSource(
        SourceConfig(
            paths=[str(tmp_path / "*.log")],
            file_layout="plugin-%{YEAR:year}-%{MONTHNUM:month}.log",
            format=FormatConfig(type="regex", pattern=r"(?P<word>\w+) (?P<n>\d+)"),
        )
    )
    files = src.list_files()
    assert len(files) == 2  # other.log filtered by layout
    assert files[0].layout_fields == {"year": "2024", "month": "05"}
    df = src.read(spark)
    rows = {r["word"]: r["month"] for r in df.collect()}
    assert rows == {"a": "05", "b": "05", "c": "06"}


def test_s3a_options_scoped_per_bucket():
    """Source options must not clobber the session-global Hadoop conf:
    fs.s3a.* keys are rewritten to the per-bucket override form so two
    sources with different credentials stay isolated."""
    from tailpipe_spark.sources.file_source import FileSource

    k = FileSource.scoped_option_key
    assert (
        k("fs.s3a.access.key", "s3a", "my-bucket")
        == "fs.s3a.bucket.my-bucket.access.key"
    )
    assert (
        k("fs.s3a.endpoint", "s3a", "logs-eu")
        == "fs.s3a.bucket.logs-eu.endpoint"
    )
    # already bucket-scoped: untouched
    assert (
        k("fs.s3a.bucket.other.secret.key", "s3a", "my-bucket")
        == "fs.s3a.bucket.other.secret.key"
    )
    # non-s3a schemes and missing authority: untouched
    assert k("fs.gs.project.id", "gs", "b") == "fs.gs.project.id"
    assert k("fs.s3a.access.key", "s3a", "") == "fs.s3a.access.key"


def test_grok_raw_paren_does_not_shift_groups(spark, tmp_path):
    """A literal '(' in the pattern is a real capture group to the
    engine; field indices must account for it."""
    from tailpipe_spark.sources.grok import compile_grok

    g = compile_grok(r"(%{WORD:a}|x) %{WORD:b}")
    # raw '(' is group 1; a's group nests inside it; b follows
    ia, ta = g.fields["a"]
    ib, tb = g.fields["b"]
    assert ia == 2 and ib == 3
    import re as _re

    m = _re.fullmatch(g.regex, "hello world")
    assert m.group(ia) == "hello" and m.group(ib) == "world"


def test_regex_format_char_class_paren(spark, tmp_path):
    """'[(]' must not count as a capture group."""
    from tailpipe_spark.config import FormatConfig
    from tailpipe_spark.sources.formats import read_regex

    p = tmp_path / "l.log"
    p.write_text("(42) ok\n(7) fail\n")
    fmt = FormatConfig(
        type="regex", pattern=r"[(](?<num>\d+)[)] (?<status>\w+)"
    )
    rows = {r["num"]: r["status"] for r in read_regex(spark, [str(p)], fmt).collect()}
    assert rows == {"42": "ok", "7": "fail"}


def test_jsonl_gzip_and_mixed_compression(spark, tmp_path):
    """Compressed logs are the common case (reference file sources read
    .gz archives); Spark's text readers decompress by extension — pin
    that plain and gzip inputs mix in one read."""
    import gzip
    import json as _json

    plain = tmp_path / "a.jsonl"
    plain.write_text("\n".join(_json.dumps({"k": i}) for i in range(3)))
    gz = tmp_path / "b.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(_json.dumps({"k": i}) for i in range(3, 7)))

    from tailpipe_spark.sources.formats import read_jsonl

    out = read_jsonl(spark, [str(plain), str(gz)])
    assert sorted(r["k"] for r in out.collect()) == list(range(7))


def test_delimited_gzip(spark, tmp_path):
    import gzip

    from tailpipe_spark.config import FormatConfig
    from tailpipe_spark.sources.formats import read_delimited

    gz = tmp_path / "c.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write("a,b\n1,x\n2,y\n")
    fmt = FormatConfig(name="csv", type="delimited", delimiter=",", header=True)
    out = read_delimited(spark, [str(gz)], fmt)
    # no explicit schema → inferSchema promotes `a` to int
    assert sorted((r["a"], r["b"]) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_grok_combined_apache_log(spark):
    """The composite COMBINEDAPACHELOG pattern must surface its inner
    field captures exactly like user-written ones, in both the Python
    matcher and the Spark regexp path."""
    from tailpipe_spark.sources.grok import compile_grok

    line = (
        '203.0.113.9 - frank [10/Oct/2024:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://example.com/start.html" "Mozilla/5.0"'
    )
    g = compile_grok("%{COMBINEDAPACHELOG}")
    import re as _re

    m = _re.match(g.regex, line)
    assert m, g.regex
    got = {f: m.group(i) for f, (i, _t) in g.fields.items()}
    assert got["clientip"] == "203.0.113.9"
    assert got["auth"] == "frank"
    assert got["verb"] == "GET"
    assert got["request"] == "/apache_pb.gif"
    assert got["response"] == "200"
    assert got["bytes"] == "2326"
    assert got["referrer"] == '"http://example.com/start.html"'
    assert got["agent"] == '"Mozilla/5.0"'

    # Spark side: the same regex must drive regexp_extract identically
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(line,)], "raw string")
    out = df.select(
        *[
            F.regexp_extract("raw", g.regex, i).alias(f)
            for f, (i, _t) in g.fields.items()
        ]
    ).collect()[0]
    assert out["clientip"] == "203.0.113.9"
    assert out["response"] == "200"


def test_grok_syslog_base(spark):
    from tailpipe_spark.sources.grok import compile_grok
    import re as _re

    g = compile_grok("%{SYSLOGBASE} %{GREEDYDATA:message}")
    line = "Oct 11 22:14:15 host1 sshd[4123]: Failed password for root"
    m = _re.match(g.regex, line)
    assert m
    got = {f: m.group(i) for f, (i, _t) in g.fields.items()}
    assert got["timestamp"] == "Oct 11 22:14:15"
    assert got["logsource"] == "host1"
    assert got["program"] == "sshd"
    assert got["pid"] == "4123"
    assert got["message"] == "Failed password for root"


def test_grok_one_pass_matches_per_field_extract(spark, tmp_path):
    """The one-regex-pass extraction gives, line for line, what one
    regexp_extract per field gives, on lines that stress it: the
    rawrequest branch with bytes '-', junk around a match, NUL inside a
    field, no match, U+2028 and U+0085, an IPv6 client and an empty
    line."""
    import pyspark.sql.functions as F

    from tailpipe_spark.sources.grok import GROK_TYPE_CASTS

    ok = (
        '203.0.113.9 - frank [10/Oct/2024:13:55:36 -0700] '
        '"GET /a.gif HTTP/1.0" 200 2326 "http://example.com/" "Mozilla/5.0"'
    )
    lines = [
        ok,
        '198.51.100.7 - - [10/Oct/2024:13:55:36 +0000] "\\x16\\x03" 400 - "-" "-"',
        "junk\u2028>> " + ok + " << trailing junk",
        ok.replace("/a.gif", "/a\x00b.gif"),
        "not an access log line",
        ok.replace("Mozilla/5.0", "Mozilla /5.0\u0085"),
        " " + ok,
        ok.replace("203.0.113.9", "2001:db8::1"),
        "",
    ]
    p = tmp_path / "access.log"
    p.write_bytes("\n".join(lines).encode("utf-8"))
    fmt = FormatConfig(name="a", type="grok", pattern="%{COMBINEDAPACHELOG}")
    g = compile_grok(fmt.pattern)

    text = spark.read.text(str(p))
    matched = F.col("value").rlike(g.regex)
    want_cols = []
    for name, (gi, typ) in g.fields.items():
        c = F.regexp_extract(F.col("value"), g.regex, gi)
        want_cols.append((c.cast(GROK_TYPE_CASTS[typ]) if typ in GROK_TYPE_CASTS else c).alias(name))
    want = text.filter(matched).select(*want_cols)

    got = read_grok(spark, [str(p)], fmt)
    assert got.columns == want.columns
    got = got.collect()
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, want.collect()), key=repr)
    assert len(got) == 7
    assert {r["clientip"] for r in got} >= {"2001:db8::1", "198.51.100.7"}
    assert any(r["rawrequest"] == "\\x16\\x03" and r["bytes"] == "" for r in got)
    assert any("\x00" in r["request"] for r in got)


def test_readers_match_each_line_once(spark, tmp_path):
    """The grok and regex readers drop unparsed lines by filtering on the
    match before extracting: the executed plan evaluates RLIKE in a
    Filter and in no Project."""
    p = tmp_path / "access.log"
    p.write_text(
        '203.0.113.9 - frank [10/Oct/2024:13:55:36 -0700] '
        '"GET /a.gif HTTP/1.0" 200 2326 "http://example.com/" "Mozilla/5.0"\n'
        "not an access log line\n"
    )
    readers = [
        read_grok(spark, [str(p)], FormatConfig(name="a", type="grok", pattern="%{COMBINEDAPACHELOG}")),
        read_regex(spark, [str(p)], FormatConfig(name="w", type="regex", pattern=r"(?<ip>\S+) - (?<user>\S+)")),
    ]
    for df in readers:
        assert df.count() == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = [line.lstrip(" :+-*()0123456789") for line in plan.splitlines()]
        matching = [n.split(" ")[0] for n in nodes if "RLIKE" in n]
        assert "Filter" in matching and "Project" not in matching, plan


def test_regex_with_trailing_comment_flag_comment(spark, tmp_path):
    """A COMMENTS-mode pattern whose comment runs to the end still reads
    every named group: the one-pass rewrite cannot wrap it and the
    reader falls back to one regexp_extract per field."""
    p = tmp_path / "words.log"
    p.write_text("hello world\nfoo bar\n-\n")
    fmt = FormatConfig(name="w", type="regex", pattern=r"(?x) (?<a>\w+) \s (?<b>\w+) # two words")
    rows = read_regex(spark, [str(p)], fmt).collect()
    assert sorted((r["a"], r["b"]) for r in rows) == [("foo", "bar"), ("hello", "world")]
