"""Query inventory: every operator class from SURVEY.md §2 expressed as
a named (Spark DataFrame plan, DuckDB oracle SQL) pair.

The driver runs each Spark plan and its oracle side-by-side at sf0.01
and hash-compares results. Entries with
``oracle=None`` are non-SQL-expressible (or engine-specific hashing)
and get a rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str
    # local_only entries run in the builder's typed local harness
    # (tools/check_correctness.py, Arrow fetch → exact Decimal compare)
    # but are EXCLUDED from the driver-facing queries()/oracle_sql()
    # surface. Used for DECIMAL-surfaced exactness twins: the driver's
    # hasher fetches the DuckDB oracle pandas-style, which converts
    # DECIMAL(38,6) to float64, so a DECIMAL output column hash-diverges
    # from Spark's Decimal collect even when every value is identical
    # (the round-7 q01 incident, CORRECTNESS_r07).
    local_only: bool = False


def build_registry() -> dict[str, QuerySpec]:
    """Full query inventory in stable module-definition order.

    Product consumers (CLI, shell, tests) see this fixed ordering.
    Verification-harness concerns (e.g. rotating a sampling window)
    belong to the harness entry point, not here.
    """
    from tailpipe_spark.queries import (
        advanced,
        relational,
        sampling_q,
        streaming_q,
        textdata,
        timeseries,
        tpch,
        vectors_q,
    )

    registry: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        tpch,
        timeseries,
        textdata,
        sampling_q,
        vectors_q,
        advanced,
        streaming_q,
    ):
        for spec in mod.SPECS:
            if spec.name in registry:
                raise ValueError(f"duplicate query name {spec.name}")
            registry[spec.name] = spec
    return registry
