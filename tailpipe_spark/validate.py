"""Required-column validation: count, report, and drop rows with NULLs
in required columns — reference semantics from
internal/database/convertor_validate.go:11-110 (rows are *deleted* and
counted, never silently kept).

Validation launches no Spark job of its own. ``validate_required``
builds the keep-filter and the aggregates to observe; the landing write
observes them on the unfiltered frame (``df.observe(...).filter(keep)``),
so the report comes out of the one pass that writes the rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_count_report(df: DataFrame, required: list[str]) -> DataFrame:
    """One row per required column: (column_name, null_count)."""
    aggs = [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(c)
        for c in required
    ]
    wide = df.agg(*aggs)
    pairs = ", ".join(f"'{c}', `{c}`" for c in required)
    return wide.select(
        F.expr(f"stack({len(required)}, {pairs}) as (column_name, null_count)")
    )


@dataclass
class Validation:
    """``keep`` filters out rows with a NULL required column (None when
    nothing is required); ``observed`` are the aggregates to observe on
    the unfiltered frame: per-column null counts, the row and kept-row
    counts (``n``) and min/max ``tp_timestamp`` over kept rows (``mn``,
    ``mx``)."""

    required: list[str]
    keep: Column | None
    observed: list[Column]

    def null_columns(self, metrics: dict) -> list[str]:
        return sorted({c for i, c in enumerate(self.required) if metrics[f"null_{i}"]})

    def dropped(self, metrics: dict) -> int:
        return metrics["rows"] - metrics["n"]


def validate_required(df: DataFrame, required: list[str]) -> Validation:
    """The filter and observed report for ``required`` over ``df``,
    mirroring the reference's RowValidationError (the dropped-row count
    and the columns that had nulls)."""
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"required columns missing from schema: {missing}")

    keep = None
    for c in required:
        p = F.col(c).isNotNull()
        keep = p if keep is None else (keep & p)
    ts = F.col("tp_timestamp") if keep is None else F.when(keep, F.col("tp_timestamp"))
    observed = [
        *(F.count_if(F.col(c).isNull()).alias(f"null_{i}") for i, c in enumerate(required)),
        F.count(F.lit(1)).alias("rows"),
        (F.count(F.lit(1)) if keep is None else F.count_if(keep)).alias("n"),
        F.min(ts).alias("mn"),
        F.max(ts).alias("mx"),
    ]
    return Validation(list(required), keep, observed)
