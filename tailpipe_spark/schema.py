"""Schema system: engine type strings, inference, freezing, evolution.

Reference semantics (SURVEY.md §1.3-1.4):
- column types are engine type strings, lower-cased at normalization
  (reference: internal/database/convertor.go:85-86)
- three modes per partition: complete (declared), partial (declared +
  inferred from first chunk), inferred
  (reference: internal/database/convertor_schema.go:14-34); the
  projection is ``collect.apply_table_mapping``
- a later chunk whose types differ from the table's frozen schema
  raises SchemaChangeError listing the changed columns
  (``Catalog.ensure_table``; reference: internal/database/
  convertor_convert.go:249-266, convertor_schema.go:135-170)
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from tailpipe_spark.config import ColumnConfig


class SchemaChangeError(Exception):
    def __init__(self, changes: dict[str, tuple[str, str]]):
        self.changes = changes
        detail = ", ".join(f"{c}: {a} -> {b}" for c, (a, b) in sorted(changes.items()))
        super().__init__(f"schema change detected in source data: {detail}")


#: engine type string → Spark type (SURVEY.md §1.3 table)
_SCALAR_TYPES: dict[str, T.DataType] = {
    "varchar": T.StringType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "hugeint": T.DecimalType(38, 0),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    # json is a REAL storage type, like the reference's DuckDB JSON
    # columns (reference: internal/database/ducklake_table.go:77-79):
    # parsed ONCE at collect (apply_table_mapping -> try_parse_json) and
    # stored as Spark VARIANT binary, so every later query navigates the
    # binary instead of re-tokenizing 6M strings per probe — measured
    # 9.4x on the sf10 events extraction (SCALE_PROOF §json-ingest).
    # Pre-variant workspaces (json stored as string, manifest type
    # "varchar") keep string storage — collect.legacy_json_storage
    # gates the mapping so string and variant files never mix in one
    # table.
    "json": T.VariantType(),
    "blob": T.BinaryType(),
    "binary": T.BinaryType(),
    "uuid": T.StringType(),
}

_STRUCT_RE = re.compile(r"^struct\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)


def parse_type(type_str: str) -> T.DataType:
    """Parse an engine type string (DuckDB-flavored: ``varchar``,
    ``struct(a integer, b varchar)[]``, ``integer[]``) into a Spark
    DataType. Mirrors the reference's type-string parser (reference:
    internal/database/tables.go:132-258) but targets Spark types
    directly. Type keywords match in any case; struct field names keep
    theirs, so ``to_type_string`` of the result gives ``type_str`` back."""
    s = type_str.strip()
    if s.endswith("[]"):
        return T.ArrayType(parse_type(s[:-2]))
    m = _STRUCT_RE.match(s)
    if m:
        fields = []
        for name, sub in _split_struct_fields(m.group(1)):
            fields.append(T.StructField(name, parse_type(sub), True))
        return T.StructType(fields)
    s = s.lower()
    if s.startswith("decimal"):
        dm = re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
        if dm:
            return T.DecimalType(int(dm.group(1)), int(dm.group(2)))
        return T.DecimalType(38, 18)
    if s in _SCALAR_TYPES:
        return _SCALAR_TYPES[s]
    raise ValueError(f"unsupported type string: {type_str!r}")


def _split_struct_fields(body: str) -> list[tuple[str, str]]:
    """Split ``a integer, b struct(c integer, d varchar)`` at depth 0."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    out = []
    for p in parts:
        p = p.strip()
        if not p:
            continue
        name, _, typ = p.partition(" ")
        out.append((name.strip().strip('"'), typ.strip()))
    return out


def to_type_string(dt: T.DataType) -> str:
    """Spark DataType → engine type string (inverse of parse_type)."""
    if isinstance(dt, T.ArrayType):
        return to_type_string(dt.elementType) + "[]"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {to_type_string(f.dataType)}" for f in dt.fields)
        return f"struct({inner})"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    for name, t in _SCALAR_TYPES.items():
        if t == dt and name not in ("string", "int", "bool", "datetime", "real", "text", "binary"):
            return name
    if isinstance(dt, T.NullType):
        return "varchar"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    raise ValueError(f"unsupported Spark type: {dt}")


def ddl(schema: T.StructType) -> str:
    """Spark SQL column list for ``schema`` (``CREATE TABLE t (<ddl>)``),
    with every field name quoted, nested ones too."""

    def cols(st: T.StructType, sep: str) -> str:
        return ", ".join("`" + f.name.replace("`", "``") + f"`{sep}{typ(f.dataType)}" for f in st)

    def typ(dt: T.DataType) -> str:
        if isinstance(dt, T.StructType):
            return f"struct<{cols(dt, ':')}>"
        if isinstance(dt, T.ArrayType):
            return f"array<{typ(dt.elementType)}>"
        return dt.simpleString()

    return cols(schema, " ")


def columns_for_table(schema: T.StructType) -> list[ColumnConfig]:
    return [
        ColumnConfig(name=f.name, type=to_type_string(f.dataType)) for f in schema.fields
    ]
