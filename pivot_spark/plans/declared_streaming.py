"""Driver-visible correctness for the streaming surface.

Each query replays a pivot_spark streaming operator over the testdata
as a bounded file stream: readStream -> operator -> memory sink drained
with ``processAllAvailable()`` -> the sink table is returned as the
result DataFrame. The replay is deterministic because

* the whole input arrives in ONE micro-batch (file source with no
  ``maxFilesPerTrigger`` cap over a single parquet file),
* every custom stateful operator folds its batch in event-time order,
* event-time timeouts fire in the trailing no-data micro-batch
  (``spark.sql.streaming.noDataMicroBatches.enabled`` default) at the
  fixed final watermark ``max(event_time) - delay`` — so the set of
  timeout-emitted rows is a pure function of the data, expressed in
  each oracle as an explicit emission filter.

Event times are truncated to whole seconds where a stateful operator
does millisecond arithmetic, so stream (ms) and oracle (s) grids agree
exactly and no sub-ms boundary can flip a gap decision.

The file-stream source requires a directory; a one-character glob
(``events.parque[t]``) makes Spark treat the parent directory as the
base path while matching exactly the one file.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin_view

_SEQ = [0]


@contextmanager
def _shuffle(spark, n: int):
    """Pin shuffle partitions for one streaming replay (restored after).

    Stateful streaming operators allocate one state-store instance per
    shuffle partition, and every micro-batch pays per-partition store
    open/commit. For the JVM-side replays (pivot agg, dropDuplicates,
    stream-stream join, window top-k) that overhead dominates at
    replay scale — measured 2-4x faster at 4-8 partitions than 32. The
    Python-stateful replays (session, debounce) are compute-bound in
    the Arrow worker and WANT the parallelism, so they keep the session
    default. On a real cluster this knob is sized by key cardinality,
    not fixed."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(out, mode: str) -> str:
    """Run a streaming DataFrame to completion into a uniquely-named
    memory sink; return the sink table name. The innermost
    ``fence_scope`` drops the sink when it exits."""
    _SEQ[0] += 1
    name = f"stream_replay_{os.getpid()}_{_SEQ[0]}"
    q = (
        out.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return pin_view(out.sparkSession, name)


def _stream(spark, sf_dir: str, table: str):
    # UTC session tz: the parquet stores TIMESTAMP(MICROS) without
    # timezone (read as TIMESTAMP_NTZ); watermarks require TIMESTAMP,
    # so NTZ columns are cast — an identity mapping under UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    glob = os.path.join(sf_dir, f"{table}.parque[t]")
    df = spark.readStream.schema(schema).parquet(glob)
    for f_ in schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def register(query, round_doubles) -> None:
    """Called from declared.py after the @query decorator exists."""

    # ---- S01: streaming pivot (complete mode) == batch pivot ----------
    _S01_TYPES = ["click", "view", "purchase", "signup", "error"]
    _s01_cells = ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS {t}_n, "
        f"round(sum(value) FILTER (event_type = '{t}'), 4) AS {t}_sv"
        for t in _S01_TYPES
    )
    _S01_ORACLE = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, {_s01_cells}
FROM events GROUP BY 1
"""

    @query("s01_stream_pivot", _S01_ORACLE)
    def s01_stream_pivot(spark, sf_dir):
        """pivot_stream drained in complete mode: the final memory-sink
        state IS the batch pivot result (streaming aggregation state
        converges to the batch aggregate regardless of batching)."""
        from pivot_spark.config import PivotConfig
        from pivot_spark.streaming.pivot_stream import pivot_stream

        with _shuffle(spark, 8):
            src = _stream(spark, sf_dir, "events").select(
                F.to_date("ts").cast("string").alias("day"), "event_type", "value"
            )
            cfg = PivotConfig(
                pivot_columns="event_type=" + ",".join(_S01_TYPES),
                pivot_rows="day",
                aggregates="n:count(*),sv:sum(value)",
            )
            name = _drain(pivot_stream(src, cfg), "complete")
        return round_doubles(spark.table(name))

    # ---- S02: streaming exact dedup == SELECT DISTINCT ---------------
    @query(
        "s02_stream_dedup",
        "SELECT DISTINCT user_id, event_type FROM events",
    )
    def s02_stream_dedup(spark, sf_dir):
        """dedup_stream (stateful dropDuplicates) over the key columns
        only, so the emitted set is exactly the distinct keys whatever
        the arrival order."""
        from pivot_spark.streaming.dedup_stream import dedup_stream

        with _shuffle(spark, 8):
            src = _stream(spark, sf_dir, "events").select("user_id", "event_type")
            name = _drain(dedup_stream(src, ["user_id", "event_type"]), "append")
        return spark.table(name)

    # ---- S03: streaming sessionization ------------------------------
    # Emitted sessions = closed-by-successor (every session except each
    # user's last) UNION timed-out (last session whose end + gap is
    # strictly behind the final watermark max_ts - 10min). Second
    # boundary ties are absent in the testdata (calibrated: 945/9540
    # rows at sf0.001/sf0.01 under strict AND non-strict comparison).
    _S03_ORACLE = """
WITH ev AS (
  SELECT user_id, date_trunc('second', ts) AS t, value FROM events
), o AS (
  SELECT user_id, t, value,
         CASE WHEN lag(t) OVER w IS NULL
                OR epoch(t) - epoch(lag(t) OVER w) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)
), s AS (
  SELECT user_id, t, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), agg AS (
  SELECT user_id, min(t) AS session_start, max(t) AS session_end,
         count(*) AS n_events, round(sum(value), 4) AS sum_value
  FROM s GROUP BY user_id, sid
), mx AS (
  SELECT max(date_trunc('second', ts)) AS m FROM events
)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM agg a, mx
WHERE session_end < (SELECT max(session_end) FROM agg b
                     WHERE b.user_id = a.user_id)
   OR epoch(session_end) + 1800 < epoch(m) - 600
"""

    @query("s03_stream_session", _S03_ORACLE)
    def s03_stream_session(spark, sf_dir):
        """session_stream (applyInPandasWithState, 30-min gap) replayed
        to completion; open sessions close via event-time timeout in
        the trailing no-data batch."""
        from pivot_spark.streaming.session_stream import session_stream

        # 16 state partitions measured best for this Python-stateful
        # fold at replay scale (warm medians: 3.25s vs 3.93s at 32,
        # 3.64s at 8): batch-0 compute still parallelizes while the
        # no-data TTL batch pays half the per-partition store/worker
        # fixed cost. s04 stays at the session default (its batch-0
        # fold is compute-bound: 4.2s at 32 vs 6.5s at 8).
        with _shuffle(spark, 16):
            src = _stream(spark, sf_dir, "events").select(
                "user_id", F.date_trunc("second", "ts").alias("ts"), "value"
            )
            out = session_stream(
                src, "user_id", "ts", "value",
                gap_minutes=30, watermark="10 minutes",
            )
            name = _drain(out, "append")
        return round_doubles(spark.table(name))

    # ---- S04: streaming debounce == batch debounce -------------------
    # Same sequential keep-iff-gap>=600s fold as e53, on a whole-second
    # grid; with one data batch the GroupState fold IS the batch fold.
    _S04_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_type,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch(date_trunc('second', ts))) AS rn
  FROM events
), keep AS (
  SELECT user_id, event_type, t, rn, t AS last_kept, true AS kept
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.t, e.rn,
         CASE WHEN e.t - k.last_kept >= 600 THEN e.t ELSE k.last_kept END,
         e.t - k.last_kept >= 600
  FROM ev e JOIN keep k
    ON e.user_id = k.user_id AND e.event_type = k.event_type
   AND e.rn = k.rn + 1
)
SELECT user_id, event_type, t AS ts_s FROM keep WHERE kept
"""

    @query("s04_stream_debounce", _S04_ORACLE)
    def s04_stream_debounce(spark, sf_dir):
        from pivot_spark.streaming.dedup_stream import debounce_stream

        src = _stream(spark, sf_dir, "events").select(
            "user_id", "event_type", F.date_trunc("second", "ts").alias("ts")
        )
        out = debounce_stream(
            src, ["user_id", "event_type"], "ts", min_gap_seconds=600
        )
        name = _drain(out, "append")
        return spark.table(name).select(
            "user_id", "event_type", F.unix_seconds("ts").alias("ts_s")
        )

    # ---- S05: stream-stream interval join ----------------------------
    # Inner join: matches are emitted as both sides arrive; with one
    # batch the emitted set is the full interval join (watermark only
    # governs state eviction for later batches).
    _S05_ORACLE = """
SELECT l.user_id, l.ts AS view_ts, r.ts AS purchase_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'view' AND r.event_type = 'purchase'
 AND l.ts < r.ts AND l.ts >= r.ts - INTERVAL 2 HOUR
"""

    @query("s05_stream_interval_join", _S05_ORACLE)
    def s05_stream_interval_join(spark, sf_dir):
        from pivot_spark.streaming.join_stream import interval_join_stream

        left = (
            _stream(spark, sf_dir, "events")
            .filter(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("view_ts"))
        )
        right = (
            _stream(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("purchase_ts"))
        )
        with _shuffle(spark, 4):
            out = interval_join_stream(
                left, right, "user_id", "view_ts", "purchase_ts",
                lookback="2 hours", watermark="1 minute",
            )
            name = _drain(out, "append")
        return spark.table(name)

    # ---- S11: stream-stream interval join, LEFT OUTER -----------------
    # Outer-null rows for unmatched views emit only once the global
    # watermark (min of the two inputs' watermarks, both = max(ts) -
    # 1min here) passes the row's match horizon view_ts + 2h — views in
    # the final ~2h stay buffered and never emit in the replay. The
    # boundary (view_ts + 2h == wm) is tie-free in the testdata
    # (calibrated: 0 rows at sf0.001 and sf0.01), so strict/non-strict
    # cannot flip a row.
    _S11_ORACLE = """
WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(view_ts) FROM v),
                    (SELECT max(purchase_ts) FROM p))
              - INTERVAL 1 MINUTE AS w)
SELECT v.user_id, v.view_ts, p.purchase_ts
FROM v JOIN p
  ON v.user_id = p.user_id
 AND v.view_ts < p.purchase_ts
 AND v.view_ts >= p.purchase_ts - INTERVAL 2 HOUR
UNION ALL
SELECT v.user_id, v.view_ts, NULL AS purchase_ts
FROM v, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND v.view_ts < p.purchase_ts
          AND v.view_ts >= p.purchase_ts - INTERVAL 2 HOUR)
  AND v.view_ts + INTERVAL 2 HOUR < wm.w
"""

    @query("s11_stream_interval_join_outer", _S11_ORACLE)
    def s11_stream_interval_join_outer(spark, sf_dir):
        from pivot_spark.streaming.join_stream import interval_join_stream

        left = (
            _stream(spark, sf_dir, "events")
            .filter(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("view_ts"))
        )
        right = (
            _stream(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("purchase_ts"))
        )
        with _shuffle(spark, 4):
            out = interval_join_stream(
                left, right, "user_id", "view_ts", "purchase_ts",
                lookback="2 hours", watermark="1 minute", how="leftOuter",
            )
            name = _drain(out, "append")
        return spark.table(name)

    # ---- S06: streaming windowed top-k -------------------------------
    # Day windows emit at event-time timeout once the watermark passes
    # the window end; the last day's window never finalizes (end >
    # max_ts - 10min) — mirrored in the oracle's emission filter. With
    # 5 distinct keys < capacity 64 the space-saving counters are exact.
    _S06_ORACLE = """
WITH w AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
         event_type, count(*) AS c
  FROM events GROUP BY 1, 2
), mx AS (SELECT max(ts) AS m FROM events),
r AS (
  SELECT ws, event_type, c,
         row_number() OVER (PARTITION BY ws ORDER BY c DESC, event_type) AS rk
  FROM w
)
SELECT ws AS window_start, event_type AS key,
       c AS est_count, CAST(rk AS INTEGER) AS rank
FROM r, mx
WHERE rk <= 3 AND ws + INTERVAL 1 DAY < m - INTERVAL 10 MINUTE
"""

    @query("s06_stream_topk", _S06_ORACLE)
    def s06_stream_topk(spark, sf_dir):
        from pivot_spark.streaming.topk_stream import topk_stream

        with _shuffle(spark, 8):
            src = _stream(spark, sf_dir, "events").select("ts", "event_type")
            out = topk_stream(
                src, "event_type", "ts",
                window_duration="1 day", watermark="10 minutes", k=3,
            )
            name = _drain(out, "append")
        return spark.table(name)

    # ---- S12: chained stateful ops — windowed distinct users ----------
    # Two stateful aggregations in ONE streaming query (supported since
    # Spark 3.4): per-day (window, user) dedup-agg, then a second agg
    # over the emitted window column (which carries event time) counts
    # distinct users per day. Both finalize as the watermark passes the
    # window end; the last partial day never finalizes (s06 filter
    # convention).
    _S12_ORACLE = """
WITH d AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, user_id
  FROM events
), mx AS (SELECT max(ts) AS m FROM events)
SELECT ws AS window_start, count(*) AS n_users
FROM d, mx
WHERE ws + INTERVAL 1 DAY < m - INTERVAL 10 MINUTE
GROUP BY ws
"""

    @query("s12_stream_window_distinct", _S12_ORACLE)
    def s12_stream_window_distinct(spark, sf_dir):
        with _shuffle(spark, 8):
            src = (
                _stream(spark, sf_dir, "events")
                .select("ts", "user_id")
                .withWatermark("ts", "10 minutes")
            )
            per_user = src.groupBy(
                F.window("ts", "1 day"), "user_id"
            ).count()
            per_day = per_user.groupBy("window").agg(
                F.count(F.lit(1)).alias("n_users")
            )
            out = per_day.select(
                F.col("window.start").alias("window_start"), "n_users"
            )
            name = _drain(out, "append")
        return spark.table(name)

    # ---- S07: streaming EWMA anomaly scores --------------------------
    # Per-event output of the stateful fold (z scored against the state
    # BEFORE the observation folds in; mean emitted AFTER). (user, ts)
    # is unique in the testdata, so ORDER BY ts replays the fold order
    # exactly; the recursive CTE advances (mean, var, n) one event per
    # step with the identical float expression shapes.
    _S07_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
), st AS (
  SELECT user_id, ts, rn, x,
         x AS mean, CAST(0.0 AS DOUBLE) AS var, 1 AS n,
         CAST(NULL AS DOUBLE) AS z, false AS anom
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts, e.rn, e.x,
         s.mean + 0.1 * (e.x - s.mean),
         0.9 * (s.var + (e.x - s.mean) * (0.1 * (e.x - s.mean))),
         s.n + 1,
         CASE WHEN s.n >= 5 AND sqrt(s.var) > 0
              THEN (e.x - s.mean) / sqrt(s.var) END,
         CASE WHEN s.n >= 5 AND sqrt(s.var) > 0
              THEN abs((e.x - s.mean) / sqrt(s.var)) >= 3.0 ELSE false END
  FROM ev e JOIN st s ON e.user_id = s.user_id AND e.rn = s.rn + 1
)
SELECT user_id, ts, round(x, 4) + 0 AS value, round(mean, 2) + 0 AS ewma,
       round(z, 2) + 0 AS z, anom AS is_anomaly
FROM st
"""

    @query("s07_stream_ewma", _S07_ORACLE)
    def s07_stream_ewma(spark, sf_dir):
        from pivot_spark.streaming.anomaly_stream import ewma_anomaly_stream

        # 8 state partitions measured best (warm medians: 3.54s vs
        # 3.89s at 32) — the per-key EW fold is cheap, so the TTL
        # batch's per-partition fixed cost dominates; see s03 note.
        with _shuffle(spark, 8):
            src = _stream(spark, sf_dir, "events").select(
                "user_id", "ts", "value"
            )
            out = ewma_anomaly_stream(
                src, "user_id", "ts", "value",
                alpha=0.1, z_threshold=3.0, min_n=5, watermark="10 minutes",
            )
            name = _drain(out, "append")
        t = spark.table(name)
        # ewma/z at 2 decimals (not round_doubles' 4): the Python-fold vs
        # recursive-CTE doubles differ in the last ulps, and at 4dp two of
        # ~60k rows straddle a rounding boundary between Spark's
        # BigDecimal HALF_UP and DuckDB's float-scaled round.
        # `+ 0` folds IEEE -0.0 (DuckDB keeps the sign of a rounded
        # negative underflow; Spark's HALF_UP round does not) to +0.0
        # on both sides so the driver's value hash agrees.
        return t.select(
            "user_id", "ts",
            (F.round("value", 4) + F.lit(0.0)).alias("value"),
            (F.round("ewma", 2) + F.lit(0.0)).alias("ewma"),
            (F.round("z", 2) + F.lit(0.0)).alias("z"),
            "is_anomaly",
        )

    # ---- S08: streaming P2 quantile accuracy contract ----------------
    # The P2 marker fold is deterministic under the one-micro-batch
    # replay, but its parabolic float arithmetic is not reproducible in
    # SQL at hash precision. The hard signal is the operator's accuracy
    # CONTRACT instead: after draining, each key's estimate must sit
    # within 0.5 IQR of the exact batch median (measured max at sf0.01:
    # 0.17 IQR — 3x margin, and deterministic, so the margin cannot
    # drift between local runs and the driver). The oracle asserts the
    # band booleans as constants plus the exact per-key event count
    # (which pins watermark/timeout behavior: a dropped or double-fed
    # event breaks n).
    _S08_ORACLE = """
SELECT user_id, count(*) AS n, true AS in_band
FROM events GROUP BY user_id
"""

    @query("s08_stream_quantile", _S08_ORACLE)
    def s08_stream_quantile(spark, sf_dir):
        from pivot_spark.sources.catalog import load_table
        from pivot_spark.streaming.quantile_stream import quantile_stream

        with _shuffle(spark, 8):
            src = _stream(spark, sf_dir, "events").select(
                "user_id", "ts", "value"
            )
            out = quantile_stream(src, "user_id", "ts", "value", p=0.5)
            name = _drain(out, "append")
        exact = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.expr("percentile(value, 0.5)").alias("med"),
                (
                    F.expr("percentile(value, 0.75)")
                    - F.expr("percentile(value, 0.25)")
                ).alias("iqr"),
            )
        )
        return (
            spark.table(name)
            .join(F.broadcast(exact), "user_id")
            .select(
                "user_id",
                "n",
                (F.abs(F.col("estimate") - F.col("med"))
                 < 0.5 * F.col("iqr")).alias("in_band"),
            )
        )

    # ---- S09: stream-static enrichment join --------------------------
    # Stateless: the static dimension broadcasts per micro-batch, the
    # stream is never shuffled. Dimension = one row per user derived
    # from customer (c_custkey 1..150 -> user_id 0..149).
    _S09_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, c.c_nationkey, c.c_mktsegment
FROM events e
LEFT JOIN (SELECT * FROM customer WHERE c_custkey <= 150) c
  ON e.user_id = c.c_custkey - 1
"""

    @query("s09_stream_enrich", _S09_ORACLE)
    def s09_stream_enrich(spark, sf_dir):
        from pivot_spark.sources.catalog import load_table
        from pivot_spark.streaming.enrich_stream import enrich_stream

        with _shuffle(spark, 8):
            dim = (
                load_table(spark, sf_dir, "customer")
                .filter(F.col("c_custkey") <= 150)
                .select(
                    (F.col("c_custkey") - 1).alias("user_id"),
                    "c_nationkey", "c_mktsegment",
                )
            )
            src = _stream(spark, sf_dir, "events").select(
                "event_id", "user_id", "event_type"
            )
            out = enrich_stream(src, dim, on="user_id", how="left")
            name = _drain(out, "append")
        return spark.table(name).select(
            "event_id", "user_id", "event_type", "c_nationkey", "c_mktsegment"
        )

    # ---- S10: foreachBatch CDC upsert sink ---------------------------
    # availableNow drains the file source in one batch; the merged
    # state after termination is last-writer-wins per user (order_col =
    # ts, unique per user) — exact arg_max replay.
    _S10_ORACLE = """
SELECT user_id,
       arg_max(event_id, ts) AS event_id,
       arg_max(event_type, ts) AS event_type,
       round(arg_max(value, ts), 4) AS value
FROM events GROUP BY user_id
"""

    @query("s10_stream_upsert", _S10_ORACLE)
    def s10_stream_upsert(spark, sf_dir):
        import tempfile

        from pivot_spark.streaming.upsert_sink import (
            read_upsert_state,
            start_upsert_sink,
        )

        # the state directory is read lazily, so it stays; the
        # checkpoint is not read after termination
        with _shuffle(spark, 8), tempfile.TemporaryDirectory(
            prefix="s10_ckpt_"
        ) as ckpt:
            src = _stream(spark, sf_dir, "events").select(
                "user_id", "ts", "event_id", "event_type", "value"
            )
            state = tempfile.mkdtemp(prefix="s10_state_")
            q = start_upsert_sink(
                src, state, keys=["user_id"], checkpoint=ckpt, order_col="ts"
            )
            q.awaitTermination()
        out = read_upsert_state(spark, state)
        return round_doubles(
            out.select("user_id", "event_id", "event_type", "value")
        )

    # ---- S13: native session_window aggregation ----------------------
    # The JVM-side sessionization surface (F.session_window), vs S03's
    # Python-stateful operator. Calibrated: Spark merges events exactly
    # gap apart (break iff diff > gap — same tie rule as the S03 fold;
    # window end = last event + gap). Append mode emits a session only
    # once the final watermark passes its end. The watermark delay is
    # 599.5 s — deliberately OFF the whole-second event grid — so
    # "window_end vs watermark" can never tie and Spark's eviction
    # strictness (<= vs <) is data-independently equivalent to the
    # oracle's integer-grid `end + 600 <= max(ts)` (round-3 ADVICE).
    _S13_ORACLE = """
WITH ev AS (
  SELECT user_id, date_trunc('second', ts) AS t, value FROM events
), o AS (
  SELECT user_id, t, value,
         CASE WHEN lag(t) OVER w IS NULL
                OR epoch(t) - epoch(lag(t) OVER w) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)
), s AS (
  SELECT user_id, t, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), agg AS (
  SELECT user_id, min(t) AS session_start,
         max(t) + INTERVAL 1800 SECOND AS window_end,
         count(*) AS n_events, round(sum(value), 4) AS sum_value
  FROM s GROUP BY user_id, sid
), mx AS (
  SELECT max(date_trunc('second', ts)) AS m FROM events
)
SELECT user_id, session_start, window_end, n_events, sum_value
FROM agg, mx
WHERE epoch(window_end) + 600 <= epoch(m)
"""

    @query("s13_stream_session_native", _S13_ORACLE)
    def s13_stream_session_native(spark, sf_dir):
        """F.session_window (30-min gap) drained in append mode: the
        memory sink holds exactly the sessions whose window end is
        behind the final watermark."""
        with _shuffle(spark, 8):
            src = (
                _stream(spark, sf_dir, "events")
                .select(
                    "user_id",
                    F.date_trunc("second", "ts").alias("ts"),
                    "value",
                )
                .withWatermark("ts", "599500 milliseconds")
            )
            agg = src.groupBy(
                "user_id", F.session_window("ts", "30 minutes")
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            out = agg.select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("window_end"),
                "n_events",
                "sum_value",
            )
            name = _drain(out, "append")
        return spark.table(name)
