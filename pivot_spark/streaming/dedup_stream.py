"""Streaming deduplication — the unbounded-input counterpart of
``operators.dedup``.

The reference is batch-only; these are engine extensions for the
training-data-pipeline case where documents/events arrive continuously.

Two tiers:
* ``dedup_stream`` — Spark-native ``dropDuplicates`` /
  ``dropDuplicatesWithinWatermark``: state is managed by the streaming
  aggregation operator, bounded by the watermark. The default choice.
* ``debounce_stream`` — a custom stateful fold (``streaming._fold``):
  per key, emit a record iff it is at least a gap after the last
  emitted one. State per key is one timestamp, and keys expire on
  event time, so state size tracks the TTL window, not the stream
  history. ``first_seen_stream`` is the same fold with no re-emit gap:
  it emits only the first record of each key.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pivot_spark.streaming._fold import keyed_fold


def dedup_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: Optional[str] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Exact streaming dedup on ``keys``.

    With ``event_time`` + ``watermark``, uses
    ``dropDuplicatesWithinWatermark`` so per-key state is dropped once
    the key's event time falls behind the watermark — mandatory for
    unbounded streams (plain dropDuplicates state grows forever).
    """
    if not df.isStreaming:
        raise ValueError("dedup_stream requires a streaming DataFrame")
    if event_time and watermark:
        return df.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def first_seen_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    watermark: str = "10 minutes",
    ttl_minutes: int = 60,
) -> DataFrame:
    """Emit only the first record per key: ``debounce_stream`` with no
    re-emit gap. Output schema = input schema.

    The first record is the earliest by event time (within a micro-batch
    too). A key whose last event is ``ttl_minutes`` behind the watermark
    is dropped, after which a recurrence is emitted again — a
    TTL-bounded dedup cache.
    """
    if not df.isStreaming:
        raise ValueError("first_seen_stream requires a streaming DataFrame")
    return debounce_stream(df, keys, event_time, math.inf, watermark, ttl_minutes)


def debounce_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time: str,
    min_gap_seconds: int,
    watermark: str = "10 minutes",
    ttl_minutes: int = 60,
) -> DataFrame:
    """Streaming rate-limiting dedup (the unbounded counterpart of
    ``operators.dedup.debounce``): per key, emit a record iff its event
    time is >= ``min_gap_seconds`` after the last EMITTED record.

    State per key is one timestamp (ms). Within each micro-batch rows
    are sorted by event time and folded sequentially — the same
    keep-iff-gap-since-last-KEPT rule as the batch operator — and the
    fold carries across batches through GroupState. Keys expire on
    event time ``ttl_minutes`` behind the watermark (after expiry the
    next record is emitted as a fresh first). Exactly correct for
    per-key in-order arrival; records arriving out of order across
    micro-batches are judged against the state as of their batch (the
    batch operator is the reprocessing-time authority).
    """
    if not df.isStreaming:
        raise ValueError("debounce_stream requires a streaming DataFrame")
    gap_ms = min_gap_seconds * 1000
    ttl_ms = ttl_minutes * 60 * 1000

    def step(key, rows, ts_ms, state):
        last = state[0] if state is not None else None
        # the keep-iff-gap-since-last-KEPT fold is inherently sequential
        kept = []
        for i, t in enumerate(ts_ms.tolist()):
            if last is None or t - last >= gap_ms:
                kept.append(i)
                last = t
        return (last,), ts_ms.max() + ttl_ms, rows.iloc[kept]

    state_schema = T.StructType([T.StructField("last_kept_ms", T.LongType())])
    return keyed_fold(
        df, list(keys), event_time, watermark, df.schema, state_schema, step
    )
