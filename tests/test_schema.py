from pyspark.sql import types as T

from tailpipe_spark.schema import parse_type, to_type_string


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


def test_resolve_partial_schema(spark):
    """Partial schema resolution on the collect path: declared columns
    come first in declaration order and keep their declared type, a
    typeless declared column takes its source field's inferred type, and
    auto-mapped fields follow."""
    from tailpipe_spark.collect import apply_table_mapping
    from tailpipe_spark.config import ColumnConfig, TableConfig

    table = TableConfig(
        name="t",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="msg", source="message"),  # type from inference
        ],
    )
    chunk = spark.createDataFrame(
        [("1", "hello", 2.5)], "id string, message string, extra double"
    )
    schema = apply_table_mapping(chunk, table).schema
    assert [f.name for f in schema.fields] == ["id", "msg", "extra"]
    assert schema["id"].dataType == T.LongType()  # declared type wins
    assert schema["msg"].dataType == T.StringType()
    assert schema["extra"].dataType == T.DoubleType()


def test_schema_change_detection(workspace):
    """The product gate is Catalog.ensure_table: a chunk whose types
    differ from the table's frozen schema raises SchemaChangeError
    naming each changed column with its old and new type."""
    import pytest

    from tailpipe_spark.schema import SchemaChangeError

    workspace.ensure_table("t", {"a": "bigint", "b": "varchar"})
    workspace.ensure_table("t", {"a": "bigint", "b": "varchar"})  # same: fine
    with pytest.raises(SchemaChangeError) as e:
        workspace.ensure_table("t", {"a": "bigint", "b": "double"})
    assert e.value.changes == {"b": ("varchar", "double")}
    assert workspace.table_schema("t") == {"a": "bigint", "b": "varchar"}
