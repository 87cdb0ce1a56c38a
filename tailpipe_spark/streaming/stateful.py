"""Custom stateful streaming operators via ``applyInPandasWithState``.

Some alerts depend on a key's whole history, so no window or aggregate
expresses them statelessly, yet the per-key state is one value. The
operator here keeps that value in Spark's ``GroupState`` across
micro-batches; its pandas state function is the only Python in the
streaming hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# --- budget-crossing alerts (arbitrary-state, history-dependent) ------
#
# "Alert every time a key's running total crosses another multiple of
# its budget" — emission depends on ALL history, so no window/agg can
# express it statelessly, yet per-key state is ONE long. (Spark 4's
# newer transformWithStateInPandas API would express this with a typed
# ValueState handle, but its state-server protocol needs protobuf,
# absent in this container — applyInPandasWithState carries the same
# semantics with the classic GroupState handle.)

def budget_alerts_stream(
    events: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    budget_milli: int,
) -> DataFrame:
    """Per-key budget-crossing alerts: one output row (key, cross_n,
    ts) per budget multiple crossed by the key's running total.

    Values accumulate as exact milli-unit longs (round(v*1000) — the
    fixed-point trick the oracle replays), so the running total is
    deterministic; rows are processed in (ts, value) order within each
    batch for cross-engine determinism.
    """
    import pandas as pd

    # key field keeps the input column's type — hardcoding LongType
    # breaks string keys with schema-mismatch nulls (r6 ADVICE)
    out_schema = T.StructType(
        [
            T.StructField(key_col, events.schema[key_col].dataType),
            T.StructField("cross_n", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType([T.StructField("total_milli", T.LongType())])

    def fn(key, pdf_iter, state: GroupState):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts_col, value_col], kind="mergesort").reset_index(
            drop=True
        )
        total = state.get[0] if state.exists else 0
        alerts = []
        vals = (pdf[value_col] * 1000).round().astype("int64")
        for v, ts in zip(vals, pdf[ts_col]):
            before = total // budget_milli
            total += int(v)
            after = total // budget_milli
            for cross in range(before + 1, after + 1):
                alerts.append({key_col: key[0], "cross_n": cross, "ts": ts})
        state.update((int(total),))
        if alerts:
            yield pd.DataFrame(alerts)

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
