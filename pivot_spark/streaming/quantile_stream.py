"""Streaming per-key quantile estimation — the P² algorithm (Jain &
Chlamtac 1985): five markers track any single quantile online with O(1)
state and no sample buffer, the classic latency-percentile monitor.
Each micro-batch folds its events into the marker state (positions +
heights) and emits the key's current estimate, so a dashboard reads one
row per key per batch.

State per key is 11 doubles + a count — independent of stream length;
idle keys expire by event-time TTL (``streaming._fold``). Accuracy is
the published P² behavior (~1% relative error on smooth distributions
once n >> 5); exact quantiles at rest are the batch ``quantiles`` /
``weighted_quantile`` operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pivot_spark.streaming._fold import keyed_fold


def _p2_init(xs):
    xs = sorted(xs[:5])
    return list(xs), [1.0, 2.0, 3.0, 4.0, 5.0]


def _p2_update(q, n, x, p):
    """One P² observation step on heights q[0..4] / positions n[0..4]."""
    if x < q[0]:
        q[0] = x
        k = 0
    elif x >= q[4]:
        q[4] = x
        k = 3
    else:
        k = 0
        while not (q[k] <= x < q[k + 1]):
            k += 1
    for i in range(k + 1, 5):
        n[i] += 1.0
    total = n[4]
    desired = [1.0, 1.0 + p * (total - 1) / 2, 1.0 + p * (total - 1),
               1.0 + (1 + p) * (total - 1) / 2, total]
    for i in (1, 2, 3):
        d = desired[i] - n[i]
        if (d >= 1 and n[i + 1] - n[i] > 1) or (d <= -1 and n[i - 1] - n[i] < -1):
            s = 1.0 if d >= 0 else -1.0
            # parabolic prediction, linear fallback if non-monotone
            qp = q[i] + s / (n[i + 1] - n[i - 1]) * (
                (n[i] - n[i - 1] + s) * (q[i + 1] - q[i]) / (n[i + 1] - n[i])
                + (n[i + 1] - n[i] - s) * (q[i] - q[i - 1]) / (n[i] - n[i - 1])
            )
            if not (q[i - 1] < qp < q[i + 1]):
                j = i + int(s)
                qp = q[i] + s * (q[j] - q[i]) / (n[j] - n[i])
            q[i] = qp
            n[i] += s


def quantile_stream(
    df: DataFrame,
    key_col: str = "user_id",
    event_time: str = "ts",
    value_col: str = "value",
    p: float = 0.5,
    watermark: str = "10 minutes",
    state_ttl_minutes: int = 60,
) -> DataFrame:
    """One row per key per micro-batch: ``(key, n, estimate)`` — the
    running P² estimate of quantile ``p`` over everything the key has
    streamed so far. Until a key has 5 observations the estimate is the
    exact small-sample order statistic."""
    if not df.isStreaming:
        raise ValueError("quantile_stream requires a streaming DataFrame")
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1), got {p}")

    out_schema = T.StructType(
        [
            df.schema[key_col],
            T.StructField("n", T.LongType()),
            T.StructField("estimate", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("q", T.ArrayType(T.DoubleType())),
         T.StructField("np", T.ArrayType(T.DoubleType())),
         T.StructField("buf", T.ArrayType(T.DoubleType())),
         T.StructField("cnt", T.LongType())]
    )
    ttl_ms = state_ttl_minutes * 60 * 1000

    def step(key, rows, ts_ms, state):
        import math

        import pandas as pd

        xs = [float(v) for v in rows[value_col] if v is not None and not pd.isna(v)]
        if not xs:
            return None
        q, np_, buf, cnt = state if state is not None else ([], [], [], 0)
        q, np_, buf = list(q), list(np_), list(buf)
        for x in xs:
            if cnt < 5:
                buf.append(x)
                cnt += 1
                if cnt == 5:
                    q, np_ = _p2_init(buf)
                    buf = []
            else:
                _p2_update(q, np_, x, p)
                cnt += 1
        if cnt < 5:
            srt = sorted(buf)
            est = srt[max(0, min(len(srt) - 1, int(math.ceil(p * len(srt))) - 1))]
        else:
            est = q[2]
        # the timeout counts every row, with or without a value
        return (
            (q, np_, buf, cnt),
            ts_ms.max() + ttl_ms,
            pd.DataFrame({key_col: [key[0]], "n": [cnt], "estimate": [est]}),
        )

    return keyed_fold(
        df, [key_col], event_time, watermark, out_schema, state_schema, step
    )
