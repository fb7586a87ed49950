"""Streaming per-window top-k heavy keys — the unbounded counterpart of
``operators.heavy.heavy_hitters``.

Custom stateful operator (``streaming._fold``), keyed by the
tumbling event-time window start: state per window is a bounded
Misra-Gries counter sketch (``capacity`` entries, O(1) in the stream
length — the same undercount-bounded summary the batch operator's pass
1 uses), folded across micro-batches. When the watermark passes the
window end, the state times out and the window's top-k (by surviving
counter, ties toward the smaller key) is emitted exactly once — append
mode, final-on-emit, like a watermarked windowed aggregate.

Counts are the MG *lower bounds* (exact when the window's distinct keys
fit ``capacity``; undercount ≤ window_rows/capacity otherwise) —
declared approximate, like every bounded-state streaming sketch.

Parallelism note: the state key is the window alone, so one task owns
one window. For high-rate streams, pre-shard — key by (window, shard),
then merge shards downstream (the MG merge adds counters and
re-prunes; the batch operator shows the exact-verify second pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.streaming._fold import keyed_fold


def topk_stream(
    df: DataFrame,
    key_col: str,
    event_time: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    k: int = 10,
    capacity: "int | None" = None,
) -> DataFrame:
    """(window_start TIMESTAMP, key STRING, est_count LONG, rank INT)
    per closed window — the k heaviest keys, emitted once the watermark
    passes the window end."""
    if not df.isStreaming:
        raise ValueError("topk_stream requires a streaming DataFrame")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cap = capacity if capacity is not None else max(8 * k, 64)
    if cap < k:
        raise ValueError(f"capacity must be >= k, got {cap} < {k}")
    # window length in ms, for the timeout timestamp (validated before
    # any plan is built)
    parts = window_duration.split()
    unit_ms = {"millisecond": 1, "second": 1000, "minute": 60_000,
               "hour": 3_600_000, "day": 86_400_000}
    try:
        unit = parts[1].lower()
        win_ms = int(parts[0]) * unit_ms[unit[:-1] if unit.endswith("s") else unit]
    except (KeyError, ValueError, IndexError):
        raise ValueError(f"unsupported window_duration {window_duration!r}")

    src = df.select(
        F.window(F.col(event_time), window_duration)["start"].alias("__ws"),
        F.col(key_col).cast("string").alias("__key"),
        F.col(event_time).alias("__et"),  # watermarked by the fold
    )

    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("key", T.StringType()),
            T.StructField("est_count", T.LongType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def expire(key, state):
        import pandas as pd

        best = sorted(zip(*state), key=lambda kv: (-kv[1], kv[0]))[:k]
        return pd.DataFrame(
            {
                "window_start": [key[0]] * len(best),
                "key": [b[0] for b in best],
                "est_count": [b[1] for b in best],
                "rank": list(range(1, len(best) + 1)),
            }
        )

    def step(key, rows, ts_ms, state):
        # NULL keys are dropped here, after the watermark saw their rows
        keys = rows["__key"].dropna()
        if not len(keys):
            return None
        counters = dict(zip(*state)) if state is not None else {}
        for v in keys.values:
            if v in counters:
                counters[v] += 1
            elif len(counters) < cap:
                counters[v] = 1
            else:
                dead = []
                for c in counters:
                    counters[c] -= 1
                    if counters[c] == 0:
                        dead.append(c)
                for c in dead:
                    del counters[c]
        # every row of a key lies in its window; the state times out
        # (emitting the top k) when the watermark passes the window end
        ws_ms = ts_ms[0] - ts_ms[0] % win_ms
        return (
            (list(counters.keys()), [int(v) for v in counters.values()]),
            ws_ms + win_ms,
            None,
        )

    return keyed_fold(
        src, ["__ws"], "__et", watermark, out_schema, state_schema, step, expire
    )
