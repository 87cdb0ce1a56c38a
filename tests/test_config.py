import pytest

from tailpipe_spark.config import (
    ColumnConfig,
    ConfigValidationError,
    FormatConfig,
    PartitionConfig,
    match_partitions,
    validate_filter_expression,
    validate_index_expression,
)


def test_filter_allows_plain_predicates():
    assert validate_filter_expression("id % 2 = 0") == "id % 2 = 0"
    assert validate_filter_expression("a > 1 AND b LIKE 'x%'")


@pytest.mark.parametrize(
    "bad",
    [
        "1=1; drop table x",
        "a > 1 -- comment",
        "a > 1 /* c */",
        "id in (select id from t)",
        "delete from t",
        "a UNION ALL b",
    ],
)
def test_filter_rejects_statements(bad):
    with pytest.raises(ConfigValidationError):
        validate_filter_expression(bad)


def test_index_must_be_bare_column():
    assert validate_index_expression("user_id") == "user_id"
    assert validate_index_expression('"weird name"') == "weird name"
    for bad in ["a+b", "f(x)", "a; b", "a b"]:
        with pytest.raises(ConfigValidationError):
            validate_index_expression(bad)


def test_column_source_transform_exclusive():
    with pytest.raises(ConfigValidationError):
        ColumnConfig(name="c", source="s", transform="x + 1")


def test_format_validation():
    with pytest.raises(ConfigValidationError):
        FormatConfig(type="nope")
    with pytest.raises(ConfigValidationError):
        FormatConfig(type="regex")  # no pattern
    assert FormatConfig(type="delimited", delimiter="\t").delimiter == "\t"


def test_partition_pattern_matching():
    parts = {
        p.qualified_name: p
        for p in [
            PartitionConfig("aws_cloudtrail_log", "prod"),
            PartitionConfig("aws_cloudtrail_log", "dev"),
            PartitionConfig("nginx_access_log", "prod"),
        ]
    }
    assert len(match_partitions(["aws_cloudtrail_log"], parts)) == 2
    assert len(match_partitions(["*.prod"], parts)) == 2
    assert len(match_partitions(["prod"], parts)) == 2  # partition-name fallback
    assert len(match_partitions(["AWS_*"], parts)) == 2  # case-folded
    with pytest.raises(ConfigValidationError):
        match_partitions(["missing.thing"], parts)


@pytest.mark.parametrize(
    "bad",
    [
        "reflect('java.lang.System', 'getenv')",
        "java_method('java.lang.Runtime', 'getRuntime')",
        "input_file_name()",
    ],
)
def test_filter_rejects_reflection(bad):
    with pytest.raises(ConfigValidationError):
        validate_filter_expression(bad)


def test_transform_runs_through_filter_guard():
    assert ColumnConfig(name="x", transform="upper(name)").transform == "upper(name)"
    with pytest.raises(ConfigValidationError):
        ColumnConfig(name="x", transform="reflect('a','b')")
    with pytest.raises(ConfigValidationError):
        ColumnConfig(name="x", transform="1; drop table t")


@pytest.mark.parametrize("value", ["four", "-2", ""])
def test_bad_cpu_env_falls_back_to_core_count(spark, monkeypatch, value):
    import os

    import bench
    from tailpipe_spark.session import active_cpus, build_session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert active_cpus() == (os.cpu_count() or 8)
    assert bench._auto_advisory_bytes(1 << 30) > 0
    # returns the running session; only the env parse is under test
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert build_session(shuffle_partitions=shuffle) is spark


def test_cpu_env_sets_the_count(monkeypatch):
    from tailpipe_spark.session import active_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert active_cpus() == 3
