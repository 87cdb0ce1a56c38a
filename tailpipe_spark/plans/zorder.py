"""Z-order (Morton) clustering for multi-column file pruning.

The compactor's default layout sorts by ``tp_timestamp`` only: perfect
for time-range scans, useless for a selective predicate on a second
column (every file spans the full id/key range, so footer min/max stats
prune nothing). Z-ordering interleaves the bits of several scaled
columns so each output file covers a small hyper-rectangle of the
combined space — parquet row-group stats then prune on ANY of the
z-ordered columns. This is the standard lakehouse trick (Delta/Iceberg
`ZORDER BY`/sort orders) re-expressed as plain Spark: a deterministic
z-value column + ``repartitionByRange`` + ``sortWithinPartitions``.

Scale notes: the z-value is a row-local projection (no shuffle of its
own); min/max scaling bounds ride along as a broadcast 1-row aggregate
(no driver collect, one lazy plan). The compactor uses ``with_zvalue``
alone, bounds per key and time window, and sorts each output file's
task by the z-value instead of by time, so its cost matches the
time-only rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per column in the interleaved key. 16 bits x up to 4 columns
#: fits a long with headroom; finer resolution buys nothing once files
#: hold millions of rows.
DEFAULT_BITS = 16


def _scaled(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Min-max scale to [0, 2^bits): rank-free, one pass, deterministic.
    Degenerate (constant) columns scale to 0 everywhere."""
    span = (hi - lo).cast("double")
    frac = F.when(span <= 0, F.lit(0.0)).otherwise(
        (col.cast("double") - lo.cast("double")) / span
    )
    maxv = (1 << bits) - 1
    return F.least(
        F.lit(maxv), F.greatest(F.lit(0), F.floor(frac * maxv).cast("long"))
    )


def _interleave(scaled: list[Column], bits: int) -> Column:
    """Morton-interleave k scaled longs: bit j of column c lands at
    position j*k + c. 16 bits x k<=4 columns stays within a long."""
    k = len(scaled)
    z = F.lit(0).cast("long")
    for j in range(bits):
        for c, s in enumerate(scaled):
            bit = F.shiftright(s, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + c))
    return z


def _orderable(df: DataFrame, name: str) -> Column:
    """Column as a long: timestamps via epoch seconds, numerics via
    cast; anything else via a 32-bit hash (clusters equal values)."""
    dtype = dict(df.dtypes).get(name, "")
    col = F.col(name)
    if dtype.startswith("timestamp"):
        return col.cast("long")
    if dtype == "date":
        # CAST(DATE AS BIGINT) is an AnalysisException on Spark 4.x —
        # days-since-epoch preserves order (r6 ADVICE)
        return F.unix_date(col).cast("long")
    if dtype in ("tinyint", "smallint", "int", "bigint", "float", "double"):
        return col.cast("long")
    return F.abs(F.xxhash64(col)).bitwiseAND(F.lit((1 << 31) - 1))


def with_zvalue(
    df: DataFrame,
    cols: list[str],
    bits: int = DEFAULT_BITS,
    out_col: str = "__z",
    over: list[str] | None = None,
) -> DataFrame:
    """Add the interleaved z-value column (plus nothing else).

    Scaling bounds are a broadcast 1-row aggregate over ``df`` itself —
    the whole thing stays one lazy plan. With ``over``, the bounds are
    taken per group of those columns instead (a window aggregate), so
    each group gets the z-values it would get if z-ordered alone.
    """
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order needs 2-4 columns")
    longs = {c: _orderable(df, c) for c in cols}
    aggs = {f"__lo_{c}": F.min(longs[c]) for c in cols}
    aggs.update({f"__hi_{c}": F.max(longs[c]) for c in cols})
    if over:
        from pyspark.sql import Window

        group = Window.partitionBy(*over)
        with_bounds = df.select(
            "*", *[a.over(group).alias(n) for n, a in aggs.items()]
        )
    else:
        bounds = df.agg(*[a.alias(n) for n, a in aggs.items()])
        with_bounds = df.crossJoin(F.broadcast(bounds))
    scaled = [
        _scaled(longs[c], F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), bits)
        for c in cols
    ]
    return with_bounds.withColumn(out_col, _interleave(scaled, bits)).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )


def zorder_rewrite(
    df: DataFrame, cols: list[str], n_files: int, bits: int = DEFAULT_BITS
) -> DataFrame:
    """Cluster ``df`` into ``n_files`` z-ordered output partitions.

    Write the result with one file per partition (the caller's
    maxRecordsPerFile / partitionBy settings apply as usual); row-group
    min/max stats then prune on every column in ``cols``.
    """
    z = with_zvalue(df, cols, bits)
    return (
        z.repartitionByRange(max(1, n_files), F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
