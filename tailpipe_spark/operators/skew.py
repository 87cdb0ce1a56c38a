"""Skew-tolerant aggregation via key salting.

AQE's skew-join splitting (enabled in build_session) handles skewed
joins at runtime; salting is the explicit fallback for aggregations
over pathological keys (e.g. the one tenant producing 40% of log rows):
``two_phase_agg`` counts/sums by (key, salt) first (parallel), then
re-aggregates by key — the classic skewed-groupBy rewrite. (Partial
map-side aggregation already does this for algebraic aggs; the
explicit form matters for count-distinct-style state.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _salt_col(salt: int):
    """Uniform [0, salt) bucket per row.

    AQE-safety (the distributed_cumsum class of bug — two consumers of
    one nondeterministic exchange disagreeing after an AQE re-plan):
    this column IS nondeterministic (monotonically_increasing_id is
    partition-placement-dependent, so a re-executed stage can assign a
    row a DIFFERENT salt), but ``two_phase_agg`` is salt-assignment-
    INVARIANT, so no plan change can surface it. It is a linear chain
    with a single consumer: whatever salt each row gets, it lands in
    exactly one (key, salt) cell and phase 2 merges ALL cells —
    count/sum/min/max are partition-of-the-multiset invariant (for
    ``sum`` over doubles that holds up to FP reorder, the generic
    double-sum caveat; the registry entry routes doubles through a
    decimal cast so even the reorder is exact). It never JOINS two
    frames that both derive from the same salt column, which is the
    shape that actually broke distributed_cumsum. Pinned by
    tests/test_aqe_multiconsumer.py (AQE forced on, results compared
    to AQE off)."""
    return F.abs(F.xxhash64(F.monotonically_increasing_id()) % salt).cast("int")


def two_phase_agg(
    df: DataFrame,
    key: str,
    aggs: list[tuple[str, str, str]],
    salt: int = 16,
) -> DataFrame:
    """Skew-safe aggregation: ``aggs`` is [(col, fn, alias)] with fn in
    {count, sum, min, max, count_distinct-approx}. Phase 1 aggregates by
    (key, salt); phase 2 merges per key."""
    salted = df.withColumn("__salt", _salt_col(salt))
    phase1_exprs, phase2_exprs = [], []
    for col, fn, alias in aggs:
        if fn == "count":
            phase1_exprs.append(F.count(col).alias(f"__p_{alias}"))
            phase2_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        elif fn == "sum":
            phase1_exprs.append(F.sum(col).alias(f"__p_{alias}"))
            phase2_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        elif fn == "min":
            phase1_exprs.append(F.min(col).alias(f"__p_{alias}"))
            phase2_exprs.append(F.min(f"__p_{alias}").alias(alias))
        elif fn == "max":
            phase1_exprs.append(F.max(col).alias(f"__p_{alias}"))
            phase2_exprs.append(F.max(f"__p_{alias}").alias(alias))
        else:
            raise ValueError(f"unsupported agg fn {fn!r}")
    p1 = salted.groupBy(key, "__salt").agg(*phase1_exprs)
    return p1.groupBy(key).agg(*phase2_exprs)
