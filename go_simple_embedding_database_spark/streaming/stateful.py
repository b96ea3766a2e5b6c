"""Custom stateful streaming operator via ``applyInPandasWithState``.

``running_key_stats`` maintains per-key running counters (event count,
value sum, last-seen timestamp) across micro-batches — the canonical
"custom operator Spark's built-ins can't express" shape: built-in
streaming aggregations emit per-window results, whereas this keeps ONE
continuously-updated row per key with arbitrary Python merge logic, and
ages idle keys out of state with a processing-time timeout so state stays
bounded (the 100 TB streaming requirement: state size ∝ active keys, not
history).

Batch twin for the oracle: a plain groupBy with the same aggregates —
after draining a bounded source the running stats equal the batch answer
(asserted in tests with availableNow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

STATE_SCHEMA = "n_events bigint, sum_value double, last_ts timestamp"


def running_key_stats(events: DataFrame, key_col: str = "user_id",
                      value_col: str = "value",
                      ts_col: str = "ts") -> DataFrame:
    """Per-key running (count, sum, last_ts) over a stream; one updated row
    per key per micro-batch that touches the key. Works ONLY on streaming
    DataFrames (state requires a streaming query); use the plain groupBy
    twin for batch.

    Column names and the key's type are threaded into the update function
    and output schema — the state kernel is built per call, never
    hardcoded to one events shape."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = (f"{key_col} {key_type}, n_events bigint, "
                  f"sum_value double, last_ts timestamp")

    def _update(key, batches, state: GroupState):
        if state.hasTimedOut:
            # Idle key: emit nothing, drop the state row (bounded state).
            state.remove()
            return
        n, s, last = state.get if state.exists else (0, 0.0, None)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf[value_col].sum())
            mx = pdf[ts_col].max()
            last = mx if last is None or mx > last else last
        state.update((n, s, last))
        state.setTimeoutDuration(3600 * 1000)  # age out after 1h idle
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n],
                            "sum_value": [s], "last_ts": [last]})

    return events.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def batch_key_stats(events: DataFrame, key_col: str = "user_id",
                    value_col: str = "value", ts_col: str = "ts") -> DataFrame:
    """The batch twin — what the running stats converge to once the source
    is drained."""
    from pyspark.sql import functions as F

    return events.groupBy(key_col).agg(
        F.count("*").alias("n_events"),
        F.sum(value_col).alias("sum_value"),
        F.max(ts_col).alias("last_ts"),
    )
