"""Config file loading: HCL (.tpc/.hcl — the reference's native format)
and the JSON mirror, for a file or a config directory.

Block → dataclass mapping follows the reference's schema
(internal/config/partition.go:31-78, table.go, format.go,
internal/parse/load_config.go): ``format`` blocks register presets,
``table`` blocks carry ``column`` sub-blocks, ``partition`` blocks carry
an optional ``source`` sub-block whose ``format`` attribute may
reference a preset (``format.<type>.<name>``).

A config DIRECTORY is loaded in two phases like the reference: every
file is parsed first, all ``format`` blocks register, and only then are
tables/partitions built — so cross-file references never depend on
filename order.
"""

from __future__ import annotations

import json
import os
import re

from tailpipe_spark.config import (
    ColumnConfig,
    ConfigValidationError,
    FormatConfig,
    PartitionConfig,
    SourceConfig,
    TableConfig,
    register_format_preset,
    resolve_format,
)
from tailpipe_spark.hcl import HclBlock, HclRef, parse_hcl


def _resolve_format_value(v) -> FormatConfig | None:
    if v is None:
        return None
    if isinstance(v, HclRef):
        if v.path[0] != "format" or len(v.path) != 3:
            raise ConfigValidationError(f"unknown format reference {v}")
        return resolve_format(f"{v.path[1]}.{v.path[2]}")
    if isinstance(v, str):
        return resolve_format(v)
    raise ConfigValidationError(f"bad format value {v!r}")


def _check_attrs(kind: str, label: str, attrs: dict, allowed: set[str]) -> None:
    bad = set(attrs) - allowed
    if bad:
        raise ConfigValidationError(
            f"{kind} {label!r}: unknown attribute(s) {sorted(bad)} "
            f"(allowed: {sorted(allowed)})"
        )


def _column_from_block(b: HclBlock) -> ColumnConfig:
    if len(b.labels) != 1:
        raise ConfigValidationError("column block needs exactly one label")
    _check_attrs(
        "column", b.labels[0], b.attrs,
        {"type", "source", "transform", "required", "null_if", "description"},
    )
    return ColumnConfig(name=b.labels[0], **b.attrs)


def _table_from_block(b: HclBlock) -> tuple[TableConfig, FormatConfig | None]:
    if len(b.labels) != 1:
        raise ConfigValidationError("table block needs exactly one label")
    _check_attrs(
        "table", b.labels[0], b.attrs,
        {"format", "null_if", "map_fields", "bucket_by", "num_buckets"},
    )
    fmt = _resolve_format_value(b.attrs.get("format"))
    cols = [_column_from_block(c) for c in b.find("column")]
    kwargs = {}
    if "null_if" in b.attrs:
        kwargs["null_if"] = b.attrs["null_if"]
    if "bucket_by" in b.attrs:
        v = b.attrs["bucket_by"]
        kwargs["bucket_by"] = [v] if isinstance(v, str) else list(v)
    if "num_buckets" in b.attrs:
        kwargs["num_buckets"] = int(b.attrs["num_buckets"])
    if "map_fields" in b.attrs:
        kwargs["map_fields"] = list(b.attrs["map_fields"])
    return _table(b.labels[0], cols, kwargs), fmt


def _source_from_block(b: HclBlock, default_format: FormatConfig | None) -> SourceConfig:
    src_type = b.labels[0] if b.labels else "file"
    if src_type not in ("file",):
        raise ConfigValidationError(
            f"unsupported source type {src_type!r} (plugin sources are "
            "format readers here; use source \"file\" with a format)"
        )
    _check_attrs("source", src_type, b.attrs, {"format", "paths", "file_layout"})
    fmt = _resolve_format_value(b.attrs.get("format")) or default_format
    paths = b.attrs.get("paths")
    if not paths:
        raise ConfigValidationError("source block needs paths = [...]")
    options = {
        k: v for ob in b.find("options") for k, v in ob.attrs.items()
    } or None
    return SourceConfig(
        paths=list(paths),
        file_layout=b.attrs.get("file_layout"),
        format=fmt,
        options=options,
    )


_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

_FORMAT_ATTRS = {"delimiter", "header", "pattern"}


def _check_name(kind: str, name: str) -> str:
    """Table and partition names must be bare identifiers (reference
    rejects e.g. 'verify partition with invalid table name format' —
    partition_tests.bats): they become paths under the workspace."""
    if not isinstance(name, str) or not _NAME_RE.match(name):
        raise ConfigValidationError(f"invalid {kind} name {name!r}")
    return name


def _table(name: str, columns: list[ColumnConfig], attrs: dict) -> TableConfig:
    """The table of either config format. A table that declares columns
    maps no source field implicitly unless it says ``map_fields`` — the
    reference's table block is a full schema declaration."""
    if columns and "map_fields" not in attrs:
        attrs = {**attrs, "map_fields": []}
    return TableConfig(name=_check_name("table", name), columns=columns, **attrs)


def _partition(table: str, name: str, **attrs) -> PartitionConfig:
    """The partition of either config format."""
    return PartitionConfig(
        table=_check_name("table", table), name=_check_name("partition", name), **attrs
    )


def _merge(into: dict, part: dict) -> None:
    """Add one config file's tables, partitions and formats to ``into``;
    a table or partition defined in two files is refused."""
    dup_t = set(part["tables"]) & set(into["tables"])
    if dup_t:
        raise ConfigValidationError(
            f"duplicate table(s) across config files: {sorted(dup_t)}"
        )
    have = {p.qualified_name for p in into["partitions"]}
    dup_p = have & {p.qualified_name for p in part["partitions"]}
    if dup_p:
        raise ConfigValidationError(
            f"duplicate partition(s) across config files: {sorted(dup_p)}"
        )
    into["tables"].update(part["tables"])
    into["partitions"].extend(part["partitions"])
    into["formats"].update(part["formats"])


def _build_from_roots(roots: list[HclBlock]) -> dict:
    """Two-phase build over already-parsed HCL roots: formats first
    (registered globally), then tables, then partitions — references
    resolve regardless of which file a block lives in."""
    formats: dict[str, FormatConfig] = {}
    for root in roots:
        for fb in root.find("format"):
            if len(fb.labels) != 2:
                raise ConfigValidationError("format block needs type and name labels")
            ftype, fname = fb.labels
            _check_attrs("format", f"{ftype}.{fname}", fb.attrs, _FORMAT_ATTRS)
            if f"{ftype}.{fname}" in formats:
                raise ConfigValidationError(f"duplicate format {ftype}.{fname}")
            fmt = FormatConfig(type=ftype, name=fname, **fb.attrs)
            register_format_preset(f"{ftype}.{fname}", fmt)
            formats[f"{ftype}.{fname}"] = fmt

    tables: dict[str, TableConfig] = {}
    table_formats: dict[str, FormatConfig | None] = {}
    for root in roots:
        for tb in root.find("table"):
            tcfg, tfmt = _table_from_block(tb)
            if tcfg.name in tables:
                raise ConfigValidationError(f"duplicate table {tcfg.name!r}")
            tables[tcfg.name] = tcfg
            table_formats[tcfg.name] = tfmt

    partitions: list[PartitionConfig] = []
    seen_parts: set[str] = set()
    for root in roots:
        for pb in root.find("partition"):
            if len(pb.labels) != 2:
                raise ConfigValidationError(
                    "partition block needs table and name labels"
                )
            table, name = pb.labels
            if f"{table}.{name}" in seen_parts:
                raise ConfigValidationError(f"duplicate partition {table}.{name}")
            seen_parts.add(f"{table}.{name}")
            srcs = pb.find("source")
            src = (
                _source_from_block(srcs[0], table_formats.get(table))
                if srcs
                else None
            )
            partitions.append(
                _partition(
                    table,
                    name,
                    source=src,
                    filter=pb.attrs.get("filter"),
                    tp_index=pb.attrs.get("tp_index"),
                )
            )
    return {"tables": tables, "partitions": partitions, "formats": formats}


def load_hcl_text(text: str) -> dict:
    """Parse HCL config text → {'tables', 'partitions', 'formats'}."""
    return _build_from_roots([parse_hcl(text)])


def load_json_text(text: str) -> dict:
    raw = json.loads(text)
    tables = {}
    for t in raw.get("tables", []):
        cols = [ColumnConfig(**c) for c in t.pop("columns", [])]
        table = _table(t.pop("name"), cols, t)
        if table.name in tables:
            raise ConfigValidationError(f"duplicate table {table.name!r}")
        tables[table.name] = table
    partitions = []
    for p in raw.get("partitions", []):
        src = p.pop("source", None)
        if src:
            fmt = src.pop("format", None)
            if isinstance(fmt, dict):
                fmt = FormatConfig(**fmt)
            elif isinstance(fmt, str):  # "type.preset" ref, incl. plugin presets
                fmt = resolve_format(fmt)
            src = SourceConfig(format=fmt, **src)
        part = _partition(p.pop("table"), p.pop("name"), source=src, **p)
        if part.qualified_name in {q.qualified_name for q in partitions}:
            raise ConfigValidationError(f"duplicate partition {part.qualified_name}")
        partitions.append(part)
    return {"tables": tables, "partitions": partitions, "formats": {}}


def load_config(path: str) -> dict:
    """Load one config file or every ``*.tpc``/``*.hcl``/``*.json`` in a
    directory (the reference loads the whole config dir before
    resolving references — internal/parse/load_config.go)."""
    if os.path.isdir(path):
        roots: list[HclBlock] = []
        merged = {"tables": {}, "partitions": [], "formats": {}}
        for name in sorted(os.listdir(path)):
            full = os.path.join(path, name)
            if name.endswith(".json"):
                _merge(merged, load_config(full))
            elif name.endswith((".tpc", ".hcl")):
                with open(full) as f:
                    roots.append(parse_hcl(f.read()))
        _merge(merged, _build_from_roots(roots))
        return merged
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        return load_json_text(text)
    return load_hcl_text(text)
