"""Config model: partition / table / column / format blocks.

A Python mirror of the reference's HCL config surface
(internal/config/partition.go, table.go, column.go, format.go) with the
same validation contracts:

- partition ``filter`` is a plain SQL predicate, lexically guarded
  against statement smuggling (no ';', comments, DML/DDL keywords,
  subqueries) — reference: internal/config/partition.go:139-186.
- ``tp_index`` must be a bare (optionally quoted) column name —
  reference: internal/config/partition.go:188-231.
- column blocks: type / source / transform (mutually exclusive with
  source) / required / null_if — reference: internal/config/column.go:8-25.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class ConfigValidationError(ValueError):
    pass


_FILTER_BANNED = re.compile(
    r"""(?ix)
    ;                                   # statement separator
    | --                                # line comment
    | /\*                               # block comment
    | \b(insert|update|delete|drop|create|alter|attach|detach|copy|
         pragma|call|install|load|export|import|grant|revoke|merge|
         truncate|vacuum|select|with|union
         # Spark expression surface that escapes SQL semantics entirely:
         # arbitrary static-Java invocation and driver-side file reads
         | reflect | java_method | input_file_name | eval
        )\b
    """,
    re.VERBOSE,
)


def validate_filter_expression(expr: str, what: str = "filter") -> str:
    """Reject anything but a plain predicate (reference:
    internal/config/partition.go:139-186). Also applied to column
    ``transform`` expressions — both reach ``F.expr`` and must not
    smuggle statements or arbitrary Java calls."""
    if not expr or not expr.strip():
        raise ConfigValidationError(f"{what} must be non-empty")
    if _FILTER_BANNED.search(expr):
        raise ConfigValidationError(
            f"invalid {what} {expr!r}: only plain expressions are allowed "
            "(no statements, comments, subqueries, or reflection calls)"
        )
    return expr.strip()


_BARE_NAME = re.compile(r'^(?:"[^"]+"|`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$')


def validate_index_expression(expr: str) -> str:
    """tp_index must be a bare column name (reference:
    internal/config/partition.go:188-231). Returns the unquoted name."""
    e = expr.strip()
    if not _BARE_NAME.match(e):
        raise ConfigValidationError(
            f"invalid tp_index {expr!r}: must be a single column name"
        )
    return e.strip('"`')


@dataclass
class ColumnConfig:
    name: str
    type: str | None = None  # lower-cased engine type string
    source: str | None = None  # rename: read from this source field
    transform: str | None = None  # SQL expression (exclusive with source)
    required: bool = False
    null_if: str | None = None  # value treated as NULL
    description: str | None = None

    def __post_init__(self):
        if self.source and self.transform:
            raise ConfigValidationError(
                f"column {self.name}: 'source' and 'transform' are mutually exclusive"
            )
        if self.transform is not None:
            self.transform = validate_filter_expression(
                self.transform, what=f"column {self.name} transform"
            )
        if self.type is not None:
            self.type = self.type.lower()


@dataclass
class FormatConfig:
    """A named format block (§2.c): jsonl / delimited / regex / grok."""

    type: str  # jsonl | delimited | regex | grok
    name: str = "default"
    # delimited:
    delimiter: str = ","
    header: bool = True
    # regex/grok:
    pattern: str | None = None

    def __post_init__(self):
        if self.type not in ("jsonl", "delimited", "regex", "grok"):
            raise ConfigValidationError(f"unknown format type {self.type!r}")
        if self.type in ("regex", "grok") and not self.pattern:
            raise ConfigValidationError(f"format {self.type} requires a pattern")


#: shipped format presets (reference: format.<type>.<preset> blocks,
#: internal/config/format.go:60-80) — plugins register more at runtime.
FORMAT_PRESETS: dict[str, "FormatConfig"] = {}


def register_format_preset(name: str, fmt: "FormatConfig") -> None:
    FORMAT_PRESETS[name] = fmt


def resolve_format(ref: "str | FormatConfig") -> "FormatConfig":
    """Accept either an inline FormatConfig or a ``type.preset`` name."""
    if isinstance(ref, FormatConfig):
        return ref
    if ref in FORMAT_PRESETS:
        return FORMAT_PRESETS[ref]
    raise ConfigValidationError(f"unknown format preset {ref!r}")


def _install_builtin_presets() -> None:
    register_format_preset("jsonl.default", FormatConfig(type="jsonl", name="default"))
    register_format_preset(
        "delimited.csv_default",
        FormatConfig(type="delimited", name="csv_default", delimiter=",", header=True),
    )
    register_format_preset(
        "delimited.tsv_default",
        FormatConfig(type="delimited", name="tsv_default", delimiter="\t", header=True),
    )
    register_format_preset(
        "grok.syslog",
        FormatConfig(
            type="grok",
            name="syslog",
            pattern="%{TIMESTAMP_ISO8601:timestamp} %{HOSTNAME:host} "
            "%{WORD:program}(?:\\[%{INT:pid:int}\\])?: %{GREEDYDATA:message}",
        ),
    )
    register_format_preset(
        "grok.apache_common",
        FormatConfig(
            type="grok",
            name="apache_common",
            pattern="%{IPORHOST:client} %{USER:ident} %{USER:auth} "
            "\\[%{HTTPDATE:timestamp}\\] \"%{WORD:method} %{NOTSPACE:path} "
            "HTTP/%{NUMBER:http_version}\" %{INT:status:int} %{NOTSPACE:bytes}",
        ),
    )


_install_builtin_presets()


@dataclass
class SourceConfig:
    """A file source: glob paths + optional grok-templated file_layout
    (reference: core_formats.bats:22-28; internal/parse/load_config.go:91-97)."""

    paths: list[str]
    file_layout: str | None = None
    format: FormatConfig | None = None
    #: filesystem options applied to the Hadoop conf before listing/
    #: reading URI paths — the credential surface for cloud sources
    #: (e.g. fs.s3a.access.key / fs.s3a.endpoint)
    options: dict[str, str] | None = None


@dataclass
class TableConfig:
    name: str
    columns: list[ColumnConfig] = field(default_factory=list)
    map_fields: list[str] = field(default_factory=lambda: ["*"])
    null_if: str | None = None  # table-wide null_if default
    #: bucketed physical layout: post-collect compaction rewrites the
    #: table hash-clustered by these keys (compact.bucket_rewrite), and
    #: reads serve the bucket spec so same-keyed joins skip the shuffle
    bucket_by: list[str] | None = None
    num_buckets: int | None = None  # None = auto-size from table bytes

    @property
    def declared(self) -> dict[str, ColumnConfig]:
        return {c.name: c for c in self.columns}


@dataclass
class PartitionConfig:
    table: str
    name: str
    source: SourceConfig | None = None
    filter: str | None = None
    tp_index: str | None = None

    def __post_init__(self):
        if self.filter is not None:
            self.filter = validate_filter_expression(self.filter)
        if self.tp_index is not None:
            self.tp_index = validate_index_expression(self.tp_index)

    @property
    def qualified_name(self) -> str:
        return f"{self.table}.{self.name}"


def match_partitions(
    patterns: list[str], partitions: dict[str, PartitionConfig]
) -> list[PartitionConfig]:
    """Resolve ``table.partition`` args with ``*`` wildcards, case-folded
    (reference: internal/database/partition_pattern.go:28-123). A
    single-part arg matches as table name first, else as partition name."""
    import fnmatch

    out: dict[str, PartitionConfig] = {}
    for pat in patterns:
        pat_l = pat.lower()
        if "." in pat_l:
            tpat, ppat = pat_l.split(".", 1)
        else:
            tables = {p.table.lower() for p in partitions.values()}
            if any(fnmatch.fnmatch(t, pat_l) for t in tables):
                tpat, ppat = pat_l, "*"
            else:
                tpat, ppat = "*", pat_l
        matched = [
            p
            for p in partitions.values()
            if fnmatch.fnmatch(p.table.lower(), tpat)
            and fnmatch.fnmatch(p.name.lower(), ppat)
        ]
        if not matched:
            raise ConfigValidationError(f"no partitions match {pat!r}")
        for p in matched:
            out[p.qualified_name] = p
    return list(out.values())
