import pytest
from pyspark.sql import types as T

from tailpipe_spark.config import ColumnConfig, TableConfig
from tailpipe_spark.schema import (
    SchemaChangeError,
    check_schema_change,
    parse_type,
    resolve_conversion_schema,
    to_type_string,
)


def test_parse_scalars():
    assert parse_type("varchar") == T.StringType()
    assert parse_type("INTEGER") == T.IntegerType()
    assert parse_type("double") == T.DoubleType()
    assert parse_type("timestamp") == T.TimestampType()
    # json is a real storage type (variant binary), parsed once at
    # collect — the reference's DuckDB json column analog
    assert parse_type("json") == T.VariantType()
    assert to_type_string(T.VariantType()) == "json"


def test_parse_nested():
    t = parse_type("struct(a integer, b struct(c varchar, d double)[])")
    assert isinstance(t, T.StructType)
    assert t["a"].dataType == T.IntegerType()
    inner = t["b"].dataType
    assert isinstance(inner, T.ArrayType)
    assert inner.elementType["c"].dataType == T.StringType()
    assert parse_type("integer[]") == T.ArrayType(T.IntegerType())


def test_type_string_roundtrip():
    for s in ["varchar", "bigint", "double", "timestamp", "integer[]",
              "struct(a integer, b varchar)",
              "struct(accountId varchar, sessionContext struct(mfaAuthenticated varchar))"]:
        assert to_type_string(parse_type(s)) == s


def test_resolve_partial_schema():
    table = TableConfig(
        name="t",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="msg", source="message"),  # type from inference
        ],
    )
    inferred = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("message", T.StringType()),
            T.StructField("extra", T.DoubleType()),
        ]
    )
    schema = resolve_conversion_schema(table, inferred)
    names = [f.name for f in schema.fields]
    assert names == ["id", "msg", "extra"]  # declared first, then auto-mapped
    assert schema["id"].dataType == T.LongType()  # declared type wins
    assert schema["msg"].dataType == T.StringType()


def test_schema_change_detection():
    frozen = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    ok = T.StructType([T.StructField("a", T.IntegerType())])  # widening: fine
    check_schema_change(frozen, ok)
    bad = T.StructType([T.StructField("b", T.DoubleType())])
    with pytest.raises(SchemaChangeError) as e:
        check_schema_change(frozen, bad)
    assert "b" in e.value.changes
    # pinned config columns are exempt
    check_schema_change(frozen, bad, typed_config_columns={"b"})
