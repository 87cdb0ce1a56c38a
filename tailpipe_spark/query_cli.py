"""Query-time filter surface: --from/--to/--index/--partition semantics
(reference: cmd/connect.go:262-412).

- from/to: ``tp_timestamp`` range; NULL timestamps are KEPT by the lower
  bound (so bad rows surface as validation errors instead of silently
  vanishing — reference: internal/collector/collector.go:228-239) and
  relative forms like ``T-7d`` are resolved against now().
- index/partition: ``*`` wildcards rewritten to SQL ``LIKE`` '%'
  patterns, OR-combined.

:func:`filter_conditions` is the one definition of the filter. It emits
SQL conjuncts that Spark's DataFrame API (``F.expr``), spark-sql and
DuckDB read the same way, so the CLI, ``connect``'s init scripts and
collect's time filter all apply the same text. Besides the exact
``tp_timestamp`` range it emits the implied bound on the materialized
``(tp_year, tp_month)`` layout columns, which turns a time-range query
into a partition-pruned parquet scan (Spark cannot partition by
``year(tp_timestamp)`` as an expression the way DuckLake does —
reference: internal/database/ducklake_table.go:38-41).
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_REL = re.compile(r"^T-(\d+)([smhdwy])$", re.IGNORECASE)
_UNITS = {
    "s": "seconds",
    "m": "minutes",
    "h": "hours",
    "d": "days",
    "w": "weeks",
}


def parse_time(value: str, now: datetime | None = None) -> datetime:
    """Absolute ISO timestamps or relative ``T-7d`` style offsets.

    Offset-aware inputs convert to UTC (the session timezone) — merely
    stripping tzinfo would shift the bound by the offset."""
    m = _REL.match(value.strip())
    if m:
        now = now or datetime.now(timezone.utc)
        qty, unit = int(m.group(1)), m.group(2).lower()
        if unit == "y":
            return now - timedelta(days=365 * qty)
        return now - timedelta(**{_UNITS[unit]: qty})
    return naive_utc(datetime.fromisoformat(value))


def wildcard_to_like(pattern: str) -> str:
    """``*`` → ``%`` (reference: cmd/connect.go:372-399). Literal
    ``!``/``%``/``_`` in the user pattern are escaped with ``!`` first —
    the ``ESCAPE '!'`` every LIKE here carries — so ``a_b`` matches only
    'a_b'. DuckDB has no default LIKE escape and Spark's is ``\\``, so
    only an explicit escape character reads the same in both."""
    escaped = re.sub(r"([!%_])", r"!\1", pattern)
    return escaped.replace("*", "%")


def naive_utc(t: datetime | None) -> datetime | None:
    """``t`` as a naive UTC datetime, the form the file index uses;
    tz-aware inputs (relative ``T-7d`` bounds) are converted, naive ones
    are taken as UTC already."""
    if t is not None and t.tzinfo is not None:
        t = t.astimezone(timezone.utc).replace(tzinfo=None)
    return t


def sql_ts(t: datetime) -> str:
    """``t`` (naive means UTC) as a timestamp literal with an explicit
    ``+00:00``, so Spark and DuckDB read the same instant whatever the
    session timezone; ``F.lit`` of a naive datetime would go through the
    Python process's local zone instead."""
    return f"TIMESTAMP '{naive_utc(t).strftime('%Y-%m-%d %H:%M:%S.%f')}+00:00'"


def _sql_str(s: str) -> str:
    """A string literal that Spark SQL and DuckDB read alike: ``'`` and
    ``\\`` (an escape character to Spark's parser, not to DuckDB's)
    become ``chr()`` calls between plain ``'…'`` segments."""
    parts = [
        f"chr({ord(piece)})" if piece in ("'", "\\") else f"'{piece}'"
        for piece in re.split(r"(['\\])", s)
        if piece
    ]
    return "(" + " || ".join(parts or ["''"]) + ")"


def _ym(d: datetime) -> int:
    return d.year * 12 + (d.month - 1)


def _like_patterns(col: str, patterns: list[str]) -> str:
    likes = [
        f"CAST({col} AS STRING) LIKE {_sql_str(wildcard_to_like(p))} ESCAPE '!'"
        for p in patterns
    ]
    return "(" + " OR ".join(likes) + ")"


def filter_conditions(
    time_from: datetime | None,
    time_to: datetime | None,
    index_patterns: list[str] | None = None,
    partition_patterns: list[str] | None = None,
    layout: bool = True,
) -> list[str]:
    """WHERE conjuncts for parsed bounds and wildcard patterns.

    The lower bound keeps NULL timestamps; the upper bound does not.
    With ``layout`` the bound on ``tp_year * 12 + (tp_month - 1)`` is
    added — one comparison Catalyst pushes into partition pruning — and
    it keeps the hive default partition (``tp_year`` NULL), where the
    NULL-timestamp rows live."""
    tf, tt = naive_utc(time_from), naive_utc(time_to)
    conds: list[str] = []
    if tf is not None:
        conds.append(f"(tp_timestamp IS NULL OR tp_timestamp >= {sql_ts(tf)})")
    if tt is not None:
        conds.append(f"tp_timestamp <= {sql_ts(tt)}")
    if layout and (tf is not None or tt is not None):
        lin = "(tp_year * 12 + (tp_month - 1))"
        part = []
        if tf is not None:
            part.append(f"{lin} >= {_ym(tf)}")
        if tt is not None:
            part.append(f"{lin} <= {_ym(tt)}")
        conds.append(f"(tp_year IS NULL OR ({' AND '.join(part)}))")
    if index_patterns:
        conds.append(_like_patterns("tp_index", index_patterns))
    if partition_patterns:
        conds.append(_like_patterns("tp_partition", partition_patterns))
    return conds


def apply_query_filters(
    df: DataFrame,
    time_from: str | None = None,
    time_to: str | None = None,
    index_patterns: list[str] | None = None,
    partition_patterns: list[str] | None = None,
    now: datetime | None = None,
) -> DataFrame:
    """``df`` filtered by :func:`filter_conditions`; the layout bound is
    added when ``df`` carries both layout columns."""
    conds = filter_conditions(
        parse_time(time_from, now) if time_from else None,
        parse_time(time_to, now) if time_to else None,
        index_patterns,
        partition_patterns,
        layout={"tp_year", "tp_month"}.issubset(df.columns),
    )
    for cond in conds:
        df = df.filter(F.expr(cond))
    return df
