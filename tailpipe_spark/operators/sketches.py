"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg`` family).

Why this matters at 100 TB: an exact COUNT(DISTINCT) over a year of
events must shuffle every distinct key once per query. A sketch rollup
pays that cost once per bucket at ingest; any later rollup — per week,
per month, all time — is a tiny union of fixed-size (≈2^lgk bytes)
binary sketches with NO rescan of raw data, and HLL union is lossless:
the merged sketch is byte-identical to sketching the concatenated
input, so accuracy does not degrade with rollup depth.

Pairs with streaming/rollup.py: store the sketch column in the bucket
table and distinct counts become continuously aggregable like sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketch(col, lgk: int = 12) -> Column:
    """Aggregate expression: HLL sketch of ``col`` (binary, ~2^lgk B)."""
    return F.hll_sketch_agg(col, F.lit(lgk))


def union_estimate(sketch_col) -> Column:
    """Aggregate expression: merge sketches and read the estimate."""
    return F.hll_sketch_estimate(F.hll_union_agg(sketch_col))


def sketch_buckets(
    df: DataFrame,
    bucket_expr: Column,
    key_col: str,
    group_cols: list[str] | None = None,
    lgk: int = 12,
) -> DataFrame:
    """Per-bucket sketches: (bucket, *group_cols, sketch). One shuffle
    on the bucket/group keys; the output is bucket-count sized."""
    return df.groupBy(bucket_expr.alias("bucket"), *(group_cols or [])).agg(
        distinct_sketch(F.col(key_col), lgk).alias("sketch")
    )


def rollup_estimate(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge bucket sketches up to ``group_cols`` granularity and
    estimate — never touches raw data."""
    g = sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    return g.agg(
        union_estimate(F.col("sketch")).cast("long").alias("approx_distinct")
    )


# --- mergeable quantile sketches (fixed-point histogram) -------------------
#
# Same continuous-aggregate story as the HLL sketches above, for
# QUANTILES: an exact p99 over a year of events needs a full sort (or
# at least a per-query pass over every raw row); a histogram sketch
# pays one shuffle per bucket at ingest, and any later rollup is a
# bin-wise SUM of counts — mergeable LOSSLESSLY by construction
# (counts add), so accuracy does not degrade with rollup depth.
#
# Binning is FIXED-POINT and integer-exact: values quantize to milli
# units (the repo's standard cross-engine fold, functions/exact.py),
# bins are fp/width via floor division. No logarithms — a log-binned
# DDSketch gives bounded RELATIVE error on unbounded ranges, but its
# bin boundary ln(x)/ln(gamma) is one libm ulp away from flipping
# ceil() between engines, which would break the deterministic oracle.
# The absolute-error contract (≤ width_milli/2000 in value units) fits
# bounded metrics (latencies, sizes, scores); width is the knob.
#
# The quantile estimator is rank-based over the bin CDF with midpoint
# interpolation; every arithmetic step (integer ceil-rank, integer
# midpoint numerator, one double division by a power of ten) produces
# bit-identical doubles on any IEEE-754 engine, so — unlike the HLL
# entries, which are rows-only — these carry a full hash oracle.


def value_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    bucket_expr: Column | None = None,
    width_milli: int = 500,
) -> DataFrame:
    """Histogram sketch rows ``(*group_cols, [bucket], bin, cnt)``.

    One shuffle on (group, bucket, bin); output size is bounded by
    group-count × bucket-count × (value_range / width), independent of
    row count. ``width_milli`` is the bin width in 1/1000ths of a
    value unit."""
    fp = F.round(F.col(value_col) * 1000).cast("long")
    # floor via double division: fp and width are exact doubles and the
    # grid spacing (1/width in quotient space) is astronomically wider
    # than one ulp, so floor(fp/w) is the true floor on any IEEE engine
    bin_col = F.floor(fp.cast("double") / F.lit(width_milli)).cast("long")
    keys = [F.col(c) for c in group_cols]
    if bucket_expr is not None:
        keys.append(bucket_expr.alias("bucket"))
    return df.groupBy(*keys, bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def merge_histograms(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll bucket-level sketches up to ``group_cols``: bin-wise count
    sum — the lossless merge (sketching the concatenation yields the
    identical histogram; pinned cross-engine by q_quantile_sketch_rollup's
    oracle, which computes the UNBUCKETED histogram directly)."""
    return sketches.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    sketches: DataFrame,
    group_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    width_milli: int = 500,
) -> DataFrame:
    """Per-group quantile estimates from histogram rows.

    rank(q) = ceil(q·n); the estimate is the midpoint of the first bin
    whose cumulative count reaches the rank — absolute error ≤
    width_milli/2000 value units (pinned in tests/test_operators.py).
    Cost: one window pass over SKETCH rows (group × bins, not raw
    rows), then a per-group agg."""
    from pyspark.sql import Window

    w_cum = Window.partitionBy(*group_cols).orderBy("bin")
    w_all = Window.partitionBy(*group_cols)
    rows = sketches.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    est = (F.col("bin") * (2 * width_milli) + width_milli) / F.lit(2000.0)
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), est)
        ).alias(f"p{int(round(q * 100))}")
        for q in qs
    ]
    return rows.groupBy(*group_cols).agg(*aggs)


# --- mergeable count-min frequency sketches ---------------------------------
#
# Third sketch family, same continuous-aggregate story for ITEM
# FREQUENCIES: exact per-item counts over 100 TB of tokens need a
# shuffle keyed by every distinct item (vocabulary-sized state); a
# count-min sketch is a depth × width grid of counters — FIXED size,
# independent of vocabulary — built with one shuffle over (row, bucket)
# and mergeable LOSSLESSLY by cell-wise count addition (counts add, so
# sketching a concatenation equals summing the sketches, the same
# argument as the histogram sketch above).
#
# Guarantee (Cormode & Muthukrishnan 2005): estimate(x) ≥ true(x)
# always (each cell only ever over-counts via collisions), and
# estimate(x) ≤ true(x) + εN with probability ≥ 1−δ for width = ⌈e/ε⌉,
# depth = ⌈ln 1/δ⌉. Both sides of the bound are pinned in
# tests/test_rows_only_bounds.py.
#
# Hashing is the repo's portable md5 chain (conv of the first 15 md5
# hex chars — any SQL engine replays the bucket layout bit-identically,
# so the registry entry carries a FULL hash oracle).


def _cm_cells(item: Column, depth: int, width: int) -> Column:
    """``item``'s cell ``(row, bucket)`` in each of the ``depth`` sketch
    rows, exploded as ``__cell`` (deterministic)."""
    def bucket(row: int) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(item, F.lit(f"#cm{row}"))), 1, 15), 16, 10
        ).cast("long")
        return F.pmod(h, F.lit(width))

    cells = [F.struct(F.lit(r).alias("row"), bucket(r).alias("bucket")) for r in range(depth)]
    return F.explode(F.array(*cells)).alias("__cell")


def countmin_sketch(
    items: DataFrame,
    item_col: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Sketch rows ``(*group_cols, row, bucket, cnt)``.

    One explode (×depth) + one shuffle on (group, row, bucket); output
    is bounded by group-count × depth × width, independent of both row
    count and vocabulary size."""
    gcols = group_cols or []
    return (
        items.select(*gcols, _cm_cells(F.col(item_col), depth, width))
        .groupBy(*gcols, F.col("__cell.row").alias("row"), F.col("__cell.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_merge(sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Cell-wise count sum — the lossless merge (grid cells add)."""
    gcols = group_cols or []
    return sketches.groupBy(*gcols, "row", "bucket").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point estimates for ``probes``: min over sketch rows of the
    probed cell. Probe rows explode ×depth and join the (depth×width)-
    bounded sketch on (row, bucket) — the sketch side is broadcastable
    by construction. Items never seen estimate to 0 (left join).

    The sketch must be UNGROUPED — exactly ``(row, bucket, cnt)``. A
    per-group sketch (built with ``group_cols``) must go through
    :func:`countmin_merge` first: joining on (row, bucket) alone would
    silently take the min ACROSS groups and break the est ≥ true
    guarantee. Enforced here rather than documented-only because the
    failure is a silent underestimate."""
    extra = set(sketch.columns) - {"row", "bucket", "cnt"}
    if extra or {"row", "bucket", "cnt"} - set(sketch.columns):
        raise ValueError(
            "countmin_estimate needs an ungrouped sketch with columns "
            f"exactly (row, bucket, cnt); got {sketch.columns}. "
            "Merge per-group sketches with countmin_merge first."
        )
    probe_cells = probes.select(item_col, _cm_cells(F.col(item_col), depth, width)).select(
        item_col, F.col("__cell.row").alias("row"), F.col("__cell.bucket").alias("bucket")
    )
    joined = probe_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt")
    )
