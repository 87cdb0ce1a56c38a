"""Deterministic sampling / splitting for training-data pipelines.

Beyond the reference's own surface (project brief "training-data
pipeline" extras): a 100 TB corpus needs train/val/test splits, holdout
sampling, and source-mixture balancing that are

- **deterministic**: re-running the pipeline yields byte-identical
  membership (no rand(); seeds don't survive re-partitioning);
- **stable under growth**: adding documents never flips the assignment
  of an existing document (hash-based, not row_number-based);
- **row-local**: split assignment is a projection over md5 — no
  shuffle, no global coordination, scales linearly.

The hash bucket is the first 4 hex chars of ``md5(salt ':' id)``
compared as lowercase-hex *strings* (lexicographic == numeric for
fixed-width lowercase hex), which every SQL engine replays
bit-identically — the same portability trick as the md5 MinHash twin
(dedup.py:438).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

#: hash-space granularity: 4 hex chars = 65536 buckets
_SPACE = 1 << 16


def _bucket_hex(id_col: Column, salt: str) -> Column:
    """First 4 hex chars of the salted md5 — a uniform draw from 65536
    buckets, portable to any engine with md5()."""
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), id_col.cast("string"))), 1, 4
    )


def _hex4(n: int) -> str:
    return format(n, "04x")


def split_boundaries(weights: dict[str, float]) -> list[tuple[str, str]]:
    """Map split weights to cumulative hex thresholds.

    ``{"train": .9, "val": .05, "test": .05}`` →
    ``[("train","e666"), ("val","f333"), ("test","ffff")]`` — each split
    owns the bucket range [prev, threshold); rounding error (at most
    1/65536 per split) goes to the last split.
    """
    total = sum(weights.values())
    out, acc = [], 0.0
    names = list(weights)
    sentinel = _hex4(_SPACE - 1) + "g"  # > any 4-char hex bucket
    for name in names[:-1]:
        acc += weights[name] / total
        n = int(acc * _SPACE)
        if n >= _SPACE:
            # cumulative weight hit 1.0 on a NON-final split: clamping
            # to 'ffff' would leak bucket ffff (~1/65536 of ids) into
            # the next split (r7 ADVICE); the catch-all sentinel makes
            # this split absorb every remaining id exactly, and the
            # later zero-weight splits match nothing.
            out.append((name, sentinel))
        else:
            out.append((name, _hex4(n)))
    out.append((names[-1], sentinel))
    return out


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Add a deterministic train/val/test (or arbitrary) split column.

    Row-local (scan+project, zero shuffle); changing ``salt`` redraws
    the whole assignment, which is the supported way to re-split.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    h = _bucket_hex(F.col(id_col), salt)
    expr = None
    for name, upper in split_boundaries(weights):
        cond = h < upper
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr)


def sample_fraction(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows (hash threshold).

    Unlike ``df.sample``, membership is a pure function of the id, so
    it is reproducible across runs, partitionings, and engines.
    """
    n = int(fraction * _SPACE)
    if n >= _SPACE:
        # fraction >= 1.0: format(65536,'04x') is 5 chars and string-
        # compares BELOW most 4-char buckets (r6 ADVICE) — keep all.
        return df
    return df.filter(_bucket_hex(F.col(id_col), salt) < _hex4(n))


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    salt: str = "strat-v1",
) -> DataFrame:
    """Deterministic n-per-group sample: rank by salted hash within each
    group (id as tiebreak — md5 collisions on 4 hex chars are common at
    corpus scale) and keep the first n. One shuffle on ``group_col``;
    for skewed groups the window never materializes the group, it
    streams rank-limited."""
    w = Window.partitionBy(group_col).orderBy(
        _bucket_hex(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def mixture_rates(
    df: DataFrame,
    group_col: str,
    size_col: str,
    target_share: float,
) -> DataFrame:
    """Per-group sampling rates that cap any group at ``target_share``
    of the corpus (by ``size_col`` mass, e.g. chars or tokens) — the
    standard source-mixture balancing step before training.

    rate = min(1, target_share * total / group_mass). Two aggregations
    (per-group + global) with the global total joined back as a
    broadcast single row; group masses use exact long sums so the rates
    are engine-portable.
    """
    per_group = df.groupBy(group_col).agg(
        F.sum(F.col(size_col)).alias("group_mass")
    )
    total = df.agg(F.sum(F.col(size_col)).alias("total_mass"))
    return (
        per_group.crossJoin(F.broadcast(total))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.lit(target_share)
                * F.col("total_mass").cast("double")
                / F.col("group_mass").cast("double"),
            ),
        )
        .select(group_col, "group_mass", "rate")
    )


def distributed_cumsum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str,
    out_col: str = "cum_before",
    partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running sum of ``value_col`` in global ``order_col``
    order, without the single-partition global window.

    Three consumers read ``df`` — the boundary sketch, the per-bucket
    totals branch (materialized for the offsets broadcast) and the
    bucketed row branch — and each re-evaluates its upstream plan;
    persist an expensive input before the call. A shared-exchange
    rewrite (repartition on the bucket id as both branches' common
    child) does NOT avoid that: column pruning rewrites each branch's
    copy of the exchange child differently, so the subtrees never match
    for ReusedExchange and the repartition only adds shuffle (measured
    5.0 -> 5.9 s; the recorded negative).

    The naive ``Window.orderBy(order_col)`` funnels the whole table
    through ONE task — the classic 100 TB cumsum killer. This is the
    two-phase rewrite: bucket rows by range of the order key, cumsum
    WITHIN each bucket (parallel windows), prefix-sum the per-bucket
    totals on one tiny window, broadcast the offsets back.

    The bucket id is a PURE FUNCTION of the row's order-key values,
    compared against cut points that are collected once and embedded
    in the plan as literals (a balanced comparison tree, O(log n
    buckets) struct comparisons per row). An earlier implementation
    derived the bucket from ``repartitionByRange`` +
    ``spark_partition_id()``; that is correct only while the totals
    branch and the row branch see the SAME sampled range boundaries —
    non-AQE exchange reuse guarantees it, but under AQE the two
    consumers become separate query stages, each resamples boundaries
    with a different seed, and the offsets land on misaligned
    partition ids (measured: 48k of 50k prefix sums wrong with AQE on,
    0 with it off). Value-determined buckets cannot disagree between
    branches, under any planner.

    The cut points are found via a deterministic bottom-(32·n)-by-
    xxhash64 sample (tie-broken by the full key, so the TakeOrdered
    frontier is unique); boundary QUALITY only affects balance, never
    correctness — the telescoping offset+local-cumsum identity holds
    for any bucket assignment both phases agree on.

    ``order_col`` may be a list of columns; the combination must be a
    TOTAL order (include a unique tiebreak) or the prefix sum at tied
    keys is placement-dependent. Rows whose order key contains NULL
    sort first (bucket 0, nulls-first within the window) — prefer
    non-null keys. Float/double order keys containing NaN are EXCLUDED
    from the boundary sketch (Python tuple comparison is non-transitive
    with NaN, so ``sorted()`` over a NaN-bearing sample is undefined
    and the cut points could come out non-monotone); the NaN rows
    themselves stay correct — bucketing remains CONSISTENT with Spark's
    struct ordering against the NaN-free cut literals: a row whose
    FIRST order key is NaN compares above every cut (Spark orders NaN
    last) and lands in the last bucket; a NaN in a later tiebreak
    column resolves on the earlier columns and buckets by the leading
    key as usual. Either way the within-bucket window uses the same
    ordering, matching Spark's global ``orderBy``. The one collect is
    <= 32·n small tuples (the boundary sketch), not data.
    """
    spark = df.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    key_cols = [F.col(c) for c in order_cols]
    nonnull = F.lit(True)
    for c in key_cols:
        nonnull = nonnull & c.isNotNull()
    # --- deterministic cut points (collected once -> plan literals) ---
    # NaN keys are kept OUT of the candidate sample (see docstring):
    # cut literals must form a strict Python-sortable chain.
    sketchable = nonnull
    for c, name in zip(key_cols, order_cols):
        if isinstance(df.schema[name].dataType, (FloatType, DoubleType)):
            sketchable = sketchable & ~F.isnan(c)
    m = max(n * 32, 64)
    cand = (
        df.select(*order_cols)
        .where(sketchable)
        .orderBy(F.xxhash64(*key_cols, F.lit(9001)).asc(), *order_cols)
        .limit(m)
        .collect()
    )
    keys = sorted(tuple(r[c] for c in order_cols) for r in cand)
    cuts: list[tuple] = []
    for i in range(1, n):
        j = (i * len(keys)) // n
        if 0 < j < len(keys):
            t = keys[j]
            if not cuts or t > cuts[-1]:
                cuts.append(t)

    key_struct = F.struct(*key_cols)
    # literal struct fields must carry the exact key column types or
    # the struct comparison fails type resolution (INT lit vs BIGINT col)
    key_types = [df.schema[c].dataType for c in order_cols]

    def bucket_tree(lo: int, hi: int, base: int):
        # cuts[lo:hi] split buckets [base, base + (hi-lo)]; balanced
        # recursion => O(log n) struct comparisons per row
        if lo >= hi:
            return F.lit(base)
        mid = (lo + hi) // 2
        cut = F.struct(
            *[
                F.lit(v).cast(t).alias(c)
                for v, t, c in zip(cuts[mid], key_types, order_cols)
            ]
        )
        return F.when(key_struct < cut, bucket_tree(lo, mid, base)).otherwise(
            bucket_tree(mid + 1, hi, base + (mid - lo) + 1)
        )

    bucket = F.when(~nonnull, F.lit(0)).otherwise(
        bucket_tree(0, len(cuts), 0)
    )
    d = df.withColumn("__bkt", bucket)
    local_w = Window.partitionBy("__bkt").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    part_totals = d.groupBy("__bkt").agg(F.sum(value_col).alias("__psum"))
    off_w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = part_totals.select(
        "__bkt", F.coalesce(F.sum("__psum").over(off_w), F.lit(0)).alias("__off")
    )
    out = (
        d.join(F.broadcast(offsets), "__bkt")
        .withColumn(
            out_col,
            F.col("__off") + F.coalesce(F.sum(value_col).over(local_w), F.lit(0)),
        )
        .drop("__bkt", "__off")
    )
    return out


#: rank-prune ceiling for :func:`budget_select` — above this many
#: candidate rows the bounded-prefix fast path would make TakeOrdered
#: itself the problem, so the generic distributed cumsum takes over.
#: Memory model (r14 ADVICE): TakeOrderedAndProject keeps a k-row
#: priority queue PER CONCURRENT TASK during the partial top-k phase,
#: so an executor running C tasks holds ~C * k * rowbytes of queues at
#: once, plus the single-task merge + bounded window downstream. At
#: ~40 B/narrow row and C=32 local cores, k=2M is ~2.5 GB of queues —
#: the defensible ceiling; the r14 value (10M) priced only ONE queue.
#: Above the cap the two-phase cumsum is the right plan anyway (its
#: overhead amortizes once the prefix stops being small).
_BUDGET_PRUNE_MAX_ROWS = 2_000_000


def budget_select(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    budget: int,
    out_col: str = "cum_total",
    unit_lower_bound: int | None = None,
) -> DataFrame:
    """Greedy prefix selection under a resource budget: rank rows by
    ``order_cols`` (a total order — best first, unique tiebreak last)
    and keep the maximal prefix whose inclusive running ``value_col``
    sum stays <= ``budget``.

    This is the token-budget curation step of a training-data pipeline
    ("take the highest-quality documents until N tokens"): with
    strictly positive values the inclusive prefix sum is strictly
    monotone along the ranking, so `cum <= budget` selects a contiguous
    prefix — no iterative stop-scan needed.

    ``unit_lower_bound`` (r14 optimization round): when the caller
    guarantees every row's value is an integer >= this bound (tokens
    per document >= 1), the selectable prefix is AT MOST
    ``budget // unit_lower_bound`` rows — each selected row's inclusive
    sum is >= rank * bound, so rank <= budget/bound. The prefix sum
    then only needs the top-k rows by the ranking: a distributed
    TakeOrdered (parallel per-partition top-k + one bounded merge)
    replaces the full-corpus two-phase cumsum, and the running sum over
    the bounded prefix is a window over <= budget//bound rows — bounded
    by the CALLER'S CONSTANT, not by data scale, so the plan stands at
    100 TB for any fixed budget. The guarantee is enforced IN-PLAN
    (assert_true folded into the first sort key, evaluated for every
    candidate row before the prune): a violating row (value < bound, or
    NULL — which the generic path would count as 0) fails the job
    loudly instead of silently truncating the selection. Measured
    with values hash-identical: sf0.1 0.824 -> 0.229 s (the cumsum's
    sketch collect + offsets branches are pure overhead at small
    scale), sf10 1.66 -> 1.49 s (the featurize scan dominates there).
    When budget//bound exceeds ``_BUDGET_PRUNE_MAX_ROWS`` the generic
    cumsum path is kept — the operator picks the plan from the budget,
    not from the data.

    Without ``unit_lower_bound`` the generic path runs: built on
    :func:`distributed_cumsum` (two-phase range-partitioned prefix sum)
    so there is NO single-partition global window anywhere — the
    classic "ORDER BY quality LIMIT-by-sum" driver-side loop becomes
    two shuffles and a broadcast of partition offsets, the same plan at
    60k docs and 100 TB.

    Returns the selected rows with ``out_col`` = inclusive running
    total (the audit column: max(out_col) is the spend).
    """
    if unit_lower_bound is not None:
        if unit_lower_bound < 1:
            raise ValueError("unit_lower_bound must be >= 1")
        k = budget // unit_lower_bound
        if k <= _BUDGET_PRUNE_MAX_ROWS:
            # guard rides the first sort key so TakeOrdered evaluates it
            # for EVERY candidate row (a plain projected guard column
            # would be pruned below the limit and only run post-prune)
            guard = F.assert_true(
                F.col(value_col) >= unit_lower_bound,
                F.lit(
                    f"budget_select(unit_lower_bound={unit_lower_bound}): "
                    f"found {value_col} below the declared bound"
                ),
            )
            first_key = F.when(guard.isNull(), F.col(order_cols[0]))
            top = df.orderBy(
                first_key.asc(), *[F.col(c).asc() for c in order_cols[1:]]
            ).limit(k)
            w = Window.orderBy(*order_cols).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            return top.withColumn(out_col, F.sum(value_col).over(w)).where(
                F.col(out_col) <= budget
            )
    with_cum = distributed_cumsum(df, order_cols, value_col, out_col="__cum_before")
    return (
        with_cum.withColumn(out_col, F.col("__cum_before") + F.col(value_col))
        .where(F.col(out_col) <= budget)
        .drop("__cum_before")
    )


def pps_systematic(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    phase: int = 0,
) -> DataFrame:
    """Deterministic probability-proportional-to-size SYSTEMATIC sample
    of exactly ``k`` picks (with replacement for heavy rows): the
    weighted sampler real pipelines run when "sample 1M documents
    proportional to token count" must be reproducible and distributed.

    Construction (all BIGINT arithmetic — the reason this carries a
    full cross-engine hash oracle, unlike exp/log-based weighted
    reservoirs whose key order can flip on the last ulp of a libm):
    lay every document's integer weight end-to-end in ``id_col`` order
    (exclusive prefix sum ``lo``, so the doc owns ``[lo, lo+w)`` of the
    total mass ``W``), scale by k, and walk k evenly spaced points
    ``p_j = j·W + phase`` (j = 0..k-1, 0 <= phase < W) through the
    scaled ranges. Row j is picked once per covered point:

        n_picks = ceil((hi·k - phase)/W) - ceil((lo·k - phase)/W)

    which telescopes to exactly k picks total; E[n_picks] = k·w/W per
    row, the PPS inclusion law. ``phase`` is the reproducibility knob
    (same corpus + same phase -> byte-identical sample; vary phase for
    independent draws).

    Scale shape: one range shuffle for the distributed prefix sum
    (:func:`distributed_cumsum` — no single-partition window), then
    row-local arithmetic; the total-mass scalar rides a broadcast
    one-row crossJoin. Returns picked rows only:
    ``(id, weight, n_picks)``.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    w = F.col(weight_col).cast("long")
    base = df.select(F.col(id_col), w.alias("__w")).where(w > 0)
    # fresh names on BOTH crossJoin branches: Spark 4 name resolution
    # sees the join children's hidden lineage attributes, so a column
    # name appearing anywhere in both branches' plans (here `__w`,
    # which the cumsum side and the total side inherit from the same
    # base) resolves as AMBIGUOUS after the join
    cum = distributed_cumsum(base, id_col, "__w", out_col="__lo").select(
        F.col(id_col), F.col("__w").alias("__sw"), F.col("__lo").alias("__slo")
    )
    total = base.select(F.col("__w").alias("__wt")).agg(
        F.sum("__wt").alias("__W")
    )
    scaled = cum.crossJoin(F.broadcast(total))
    # ceil(a/W) for a > -W via (a + W - 1) DIV W — BIGINT `div`
    # end-to-end (a double floor would lose exactness past 2^53;
    # Spark `div` and DuckDB `//` agree on the non-negative operands
    # the +W-1 shift guarantees). Caveat: k·W must fit int64 — at
    # k=10^6 samples that bounds total mass at ~9·10^12, plenty for
    # token-count weights; split the draw by stratum beyond that.
    lo_ceil = F.expr(f"(__slo * {int(k)} - {int(phase)} + __W - 1) div __W")
    hi_ceil = F.expr(
        f"((__slo + __sw) * {int(k)} - {int(phase)} + __W - 1) div __W"
    )
    out = scaled.select(
        F.col(id_col),
        F.col("__sw").alias("weight"),
        (hi_ceil - lo_ceil).cast("long").alias("n_picks"),
    )
    return out.where(F.col("n_picks") > 0)
