"""Format readers (SURVEY.md §2.c): jsonl / delimited / regex / grok.

Each reader returns a DataFrame whose plan keeps parsing JVM-side:
- jsonl    → ``spark.read.json`` with an explicit schema when declared
             (A1) or inference on the first chunk (A2)
- delimited→ ``spark.read.csv`` with delimiter/header options
- regex    → ``spark.read.text`` + one regex pass per line that
             yields every named capture group
- grok     → grok→regex compilation (sources.grok), then the regex path

Lines that don't match a regex/grok pattern are dropped (the
reference's plugins skip unparseable lines).
"""

from __future__ import annotations

import re

from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tailpipe_spark.config import FormatConfig
from tailpipe_spark.sources.grok import GROK_TYPE_CASTS, compile_grok


def read_jsonl(
    spark: SparkSession, paths: list[str], schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_delimited(
    spark: SparkSession,
    paths: list[str],
    fmt: FormatConfig,
    schema: T.StructType | None = None,
) -> DataFrame:
    reader = (
        spark.read.option("delimiter", fmt.delimiter)
        .option("header", str(fmt.header).lower())
        .option("inferSchema", "false" if schema is not None else "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(paths)


def _java_named_groups(pattern: str) -> tuple[str, dict[str, int]]:
    """Convert ``(?P<name>...)``/``(?<name>...)`` to plain groups and
    return name → group index. Indices count EVERY capturing group (raw
    ``(`` too) and skip escapes/character classes — delegated to
    grok.capture_group_indices so ``[(]`` or an extra bare group can't
    shift the mapping."""
    from tailpipe_spark.sources.grok import capture_group_indices

    names = capture_group_indices(pattern)
    out = re.sub(r"\(\?P?<(?![=!])[^>]+>", "(", pattern)
    return out, names


#: the separator the one-pass extraction joins a line's groups with
_NUL = "\u0000"


def _extract_groups(
    lines: DataFrame, regex: str, groups: dict[str, tuple[int, str | None]]
) -> DataFrame:
    """One column per ``groups`` entry (name → capture group index and
    the type to cast to, or None) of each text line of ``lines`` that
    ``regex`` matches: ``regexp_extract`` of that group. The lines that
    ``regex`` does not match are dropped first, by a filter on the match
    itself: a filter on a projected match flag would be pushed below the
    projection and run the match twice per line.

    The regex runs once per line for all fields, not once per field: one
    anchored ``regexp_replace`` rewrites a parsed line into its groups
    joined by NUL, split into the ``_g`` array. The lazy prefix finds the
    same first match as ``regexp_extract``'s ``find()``, and a group that
    did not take part becomes "" in both. ``_g`` is a projected column of
    its own because Spark does not share a subexpression across CASE WHEN
    branches: inlined into each field it would run once per field again.
    A line that itself holds NUL falls back to ``regexp_extract``, and so
    does every line when the anchored pattern does not compile: a
    trailing ``(?x)`` comment in ``regex`` swallows the wrapper's ")".
    The plan is built in two projections because the driver re-checks
    every regex literal of the plan at each DataFrame step."""
    value = F.col("value")
    lines = lines.filter(value.rlike(regex))
    anchored = f"^(?s:.*?)(?:{regex})(?s:.*)$"
    joined = _NUL.join(f"${gi}" for gi, _ in groups.values())
    try:
        lines.sparkSession._jvm.java.util.regex.Pattern.compile(anchored)
    except IllegalArgumentException:
        one_pass = F.lit(None).cast("array<string>")
    else:
        one_pass = F.split(F.regexp_replace(value, anchored, joined), _NUL, -1)
    split = lines.select(
        value.alias("_raw"), F.when(~value.contains(_NUL), one_pass).alias("_g")
    )
    line, parts = F.col("_raw"), F.col("_g")
    fields = []
    for i, (name, (gi, typ)) in enumerate(groups.items()):
        c = F.when(parts.isNotNull(), parts[i]).otherwise(F.regexp_extract(line, regex, gi))
        fields.append((c.cast(typ) if typ else c).alias(name))
    return split.select(*fields)


def read_regex(spark: SparkSession, paths: list[str], fmt: FormatConfig) -> DataFrame:
    """Named capture groups → columns (core_formats.bats:148-199)."""
    regex, names = _java_named_groups(fmt.pattern)
    if not names:
        raise ValueError("regex format requires named capture groups")
    return _extract_groups(
        spark.read.text(paths), regex, {n: (gi, None) for n, gi in names.items()}
    )


def read_grok(
    spark: SparkSession,
    paths: list[str],
    fmt: FormatConfig,
    extra_patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Grok patterns incl. nested/optional (core_formats.bats:4-43)."""
    compiled = compile_grok(fmt.pattern, extra_patterns)
    return _extract_groups(
        spark.read.text(paths),
        compiled.regex,
        {n: (gi, GROK_TYPE_CASTS.get(typ)) for n, (gi, typ) in compiled.fields.items()},
    )


def read_with_format(
    spark: SparkSession,
    paths: list[str],
    fmt: FormatConfig,
    schema: T.StructType | None = None,
    extra_patterns: dict[str, str] | None = None,
) -> DataFrame:
    if fmt.type == "jsonl":
        return read_jsonl(spark, paths, schema)
    if fmt.type == "delimited":
        return read_delimited(spark, paths, fmt, schema)
    if fmt.type == "regex":
        return read_regex(spark, paths, fmt)
    if fmt.type == "grok":
        return read_grok(spark, paths, fmt, extra_patterns)
    raise ValueError(f"unknown format type {fmt.type!r}")
