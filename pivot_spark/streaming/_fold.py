"""The one keyed event-time fold behind every Python-stateful streaming
operator: ``first_seen_stream``, ``debounce_stream``, ``session_stream``,
``topk_stream``, ``quantile_stream`` and ``ewma_anomaly_stream``.

An operator supplies only ``step(key, rows, ts_ms, state)``: ``rows`` is
the key's micro-batch in event-time order, ``ts_ms`` its event times as
int64 epoch ms and ``state`` the stored tuple (None for a new key). It
returns None to leave the key as it is, or ``(new_state, timeout_ms,
out)``, where ``out`` is a frame to emit or None. Expiry is on event
time only: state stays bounded by the watermark window, and
processing-time timeouts deadlock ``processAllAvailable`` on this Spark
line.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_fold(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    watermark: str,
    out_schema: T.StructType,
    state_schema: T.StructType,
    step: Callable,
    expire: Optional[Callable] = None,
) -> DataFrame:
    """Fold each key's rows into its GroupState with ``step``, in append
    mode. A key whose ``timeout_ms`` the watermark passes is removed,
    emitting ``expire(key, state)`` when ``expire`` is given."""

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            old = state.get
            state.remove()
            if expire is not None:
                yield expire(key, old)
            return
        import pandas as pd

        # drain the whole iterator: bailing early stalls the Arrow
        # channel between the JVM and the python worker
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        rows = parts[0] if len(parts) == 1 else pd.concat(parts)
        rows = rows.sort_values(event_time, kind="stable", ignore_index=True)
        ts_ms = rows[event_time].to_numpy("datetime64[ms]").view("int64")
        res = step(key, rows, ts_ms, state.get if state.exists else None)
        if res is None:
            return
        new_state, timeout_ms, out = res
        state.update(new_state)
        state.setTimeoutTimestamp(int(timeout_ms))
        if out is not None and len(out):
            yield out

    return (
        df.withWatermark(event_time, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
