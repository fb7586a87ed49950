"""Streaming EWMA anomaly detection — the unbounded counterpart of the
batch ``rolling.ewma`` (e111) / ``seasonal_anomalies`` (e112) family:
per key, an exponentially-weighted mean and variance are maintained
across micro-batches (O(1) state per key), and each arriving event is
scored against the state *before* it is folded in — a z-score style
drift alarm with no window buffering and no per-key history.

EW variance follows the standard recurrence (West 1979):

    diff   = x - mean
    incr   = alpha * diff
    mean' = mean + incr
    var'  = (1 - alpha) * (var + diff * incr)

State per key is (mean, var, n) — three doubles, independent of stream
length; keys whose last event falls ``state_ttl`` behind the watermark
are dropped (event-time TTL, the ``streaming._fold`` pattern — an
evicted key simply re-warms, the standard trade for bounded state on
unbounded key spaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pivot_spark.streaming._fold import keyed_fold


def ewma_anomaly_stream(
    df: DataFrame,
    key_col: str = "user_id",
    event_time: str = "ts",
    value_col: str = "value",
    alpha: float = 0.1,
    z_threshold: float = 3.0,
    min_n: int = 5,
    watermark: str = "10 minutes",
    state_ttl_minutes: int = 60,
) -> DataFrame:
    """Per-event anomaly scores: ``(key, ts, value, ewma, z,
    is_anomaly)``. ``z`` is NULL (and ``is_anomaly`` false) until the
    key has seen ``min_n`` events or while the EW variance is 0; events
    within a micro-batch are folded in event-time order."""
    if not df.isStreaming:
        raise ValueError("ewma_anomaly_stream requires a streaming DataFrame")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    out_schema = T.StructType(
        [
            df.schema[key_col],
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("mean", T.DoubleType()),
            T.StructField("var", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    ttl_ms = state_ttl_minutes * 60 * 1000

    def step(key, rows, ts_ms, state):
        import numpy as np
        import pandas as pd

        keep = rows[value_col].notna().to_numpy()
        if not keep.any():
            return None
        pdf = rows[keep]
        mean, var, n = state if state is not None else (0.0, 0.0, 0)
        # fold over plain python floats (tolist), not boxed pandas
        # scalars — the float expression shapes below are the oracle
        # contract (recursive-CTE replay) and must not change
        xs = pdf[value_col].astype("float64").tolist()
        e_o, z_o, a_o = [], [], []
        for x in xs:
            sd = var ** 0.5
            if n >= min_n and sd > 0:
                z = (x - mean) / sd
                anom = abs(z) >= z_threshold
            else:
                z, anom = None, False
            diff = x - mean if n else 0.0
            incr = alpha * diff
            if n == 0:
                mean, var = x, 0.0
            else:
                mean = mean + incr
                var = (1.0 - alpha) * (var + diff * incr)
            n += 1
            e_o.append(mean)
            z_o.append(z)
            a_o.append(anom)
        out = pd.DataFrame(
            {
                key_col: np.repeat(key[0], len(xs)),
                "ts": pdf[event_time].to_numpy(),
                "value": xs,
                "ewma": e_o,
                "z": z_o,
                "is_anomaly": a_o,
            }
        )
        # the timeout counts only the rows that carry a value
        return (mean, var, n), ts_ms[keep].max() + ttl_ms, out

    return keyed_fold(
        df, [key_col], event_time, watermark, out_schema, state_schema, step
    )
