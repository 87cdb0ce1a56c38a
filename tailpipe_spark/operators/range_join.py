"""Self time-range join as a window aggregation.

A raw ``l.ts BETWEEN r.ts AND r.ts + d`` predicate has no equi-key, so
Catalyst falls back to BroadcastNestedLoopJoin — O(n·m), a non-starter
at 100 TB. A range join of a table against itself that is immediately
aggregated per driving row needs no join at all: ``following_window_agg``
evaluates it as a window with a value-range frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def following_window_agg(
    df: DataFrame,
    time_col: str,
    span_seconds: int,
    by: list[str],
    aggs: dict[str, Column],
    strict_after: bool = True,
) -> DataFrame:
    """Self range-join specialization: per-row aggregates over the rows
    that FOLLOW it within ``span_seconds`` (same ``by`` keys).

    A range join of a table against itself, immediately aggregated per
    driving row — "count/min of the events following each error within
    5 minutes" — does not need a join at all: it is a window aggregation
    with a VALUE-RANGE frame, ``RANGE BETWEEN 1 FOLLOWING AND span
    FOLLOWING`` over the event time in microseconds. Engines apply the
    same rewrite (a windowed interval self-join is Flink's interval
    join degenerate case).

    Plan economics vs a bucketed equi-join (each row exploded into the
    two time buckets of width ``span_seconds`` it can match, then the
    exact range as a post-filter): ONE scan of the input (vs two), ONE
    hash shuffle on ``by`` (vs shuffling both join sides AND a second
    shuffle for the per-driver groupBy), no pair materialization.
    Measured at the 10× bench set (1M events): 0.568 s vs 0.667 s
    min-of-9 interleaved — and the structural halving of scans+shuffles
    is worth more at cluster scale than the local delta.

    ``aggs``: output column → aggregate expression evaluated over the
    frame (e.g. ``{"n_following": F.count(F.lit(1))}``). All aggs share
    one frame so they compile into a single WindowExec. Rows with an
    empty frame get count 0 / null min — callers wanting inner-join
    semantics filter ``count > 0``.

    Rows with NULL ``time_col`` are dropped up front: in the join this
    replaces, ``f.ts > e.ts`` is never satisfied by a NULL on either
    side, but a RANGE window would put null order keys in their own
    frame group and count them as following each other (r8 ADVICE).
    The pre-filter restores the join's null semantics exactly.
    """
    if span_seconds <= 0:
        raise ValueError("span_seconds must be > 0")
    df = df.filter(F.col(time_col).isNotNull())
    w = (
        Window.partitionBy(*by)
        .orderBy(F.unix_micros(F.col(time_col)))
        .rangeBetween(1 if strict_after else 0, span_seconds * 1_000_000)
    )
    out = df
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out
