"""As-of (point-in-time) join.

Spark has no ASOF JOIN operator (DuckDB — the reference's delegate
engine — does, so users of the reference can run one; see SURVEY.md
§2.b). The naive formulation is a non-equi join + per-left-row argmax,
which Catalyst plans as a nested-loop join — O(n·m) and a broadcast of a
whole side. This implementation is the scalable composition:

  union(left, right) → single shuffle by key → sort by time →
  last(right_value, ignoreNulls) over rows-unbounded-preceding →
  keep left rows.

One shuffle, one sort, no nested loop; both sides stream through a
window operator partitioned by key, so it survives arbitrarily large
inputs as long as a single (key) group's rows fit a partition — the
same contract as any windowed aggregation. Skewed keys can be salted
upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_time <= left_time``.

    Returns the left columns plus ``<value_col>`` columns from the
    matched right row (renamed ``asof_<right_time>`` for the time).
    """
    value_cols = value_cols or [c for c in right.columns if c not in (on, right_time)]
    # SQL join semantics: NULL keys never match. Without this filter the
    # window partition groups all NULL keys together and they match each
    # other — diverging from any ASOF JOIN engine. NULL-key left rows
    # survive unmatched (left-join contract); NULL-key right rows can
    # never match anything, so drop them before the union.
    right = right.filter(F.col(on).isNotNull())

    lhs = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[right_time].dataType).alias("__rt"),
    )
    rhs = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(lhs.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
        F.col(right_time).alias("__rt"),
    )
    both = lhs.unionByName(rhs)

    # Order: time asc; at equal times a right row sorts BEFORE the left
    # row, inside its preceding frame, so an exact match is visible.
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = both.select(
        "__is_left",
        "__lrow",
        F.last(F.col("__rt"), ignorenulls=True).over(w).alias(f"asof_{right_time}"),
        *[F.last(F.col(f"__rv_{c}"), ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    out = matched.filter(F.col("__is_left") == 1)
    return out.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
        f"asof_{right_time}",
        *value_cols,
    )
