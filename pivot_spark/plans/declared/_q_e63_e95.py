"""Declared queries e63-e95: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from pivot_spark.operators._fence import materialize

from ._base import (F, _mined_pairs, _read, query, round_doubles, serialize_arrays)  # noqa: F401
from ._q_p01_e28 import (_E04_ORACLE)  # noqa: F401
from ._q_e29_e62 import (_E49_QUERIES, _E54_DIM, _E55_LINE_RE, _e54_dist)  # noqa: F401



# --- E63: weekly cohort retention (epoch-week integer buckets; the
# first-activity agg, join-back, and count-distinct are one shuffle
# each).
@query(
    "e63_retention",
    """
WITH acts AS (
  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w FROM events
), firstw AS (
  SELECT u, min(w) AS cw FROM acts GROUP BY u
)
SELECT cw AS cohort_week, w - cw AS week_offset,
       CAST(count(DISTINCT u) AS BIGINT) AS n_users
FROM acts JOIN firstw USING (u) GROUP BY 1, 2
""",
)
def e63_retention(spark, sf_dir):
    from pivot_spark.operators.analytics import cohort_retention

    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us")
    )
    return cohort_retention(ev, "user_id", "ts_us")


# --- E64: Markov transition matrix over per-user event sequences
# (lead window, (ts, event_id) total order; per-from-state
# normalization over the tiny matrix).
@query(
    "e64_transition_matrix",
    """
WITH p AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS to_state
  FROM events
)
SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n,
       round(count(*)::DOUBLE /
             (sum(count(*)) OVER (PARTITION BY from_state))::DOUBLE, 4) AS prob
FROM p WHERE to_state IS NOT NULL GROUP BY from_state, to_state
""",
)
def e64_transition_matrix(spark, sf_dir):
    from pivot_spark.operators.analytics import transition_matrix

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"), "event_id"
    )
    return transition_matrix(ev, "user_id", "event_type", ["ts_us", "event_id"])


# --- E65: Z-order (Morton) clustering key — the lakehouse OPTIMIZE
# ZORDER BY primitive: per-column min/max scaling to 10-bit ranks +
# bit interleave, all scan-stage shift/mask arithmetic replayed by the
# oracle.
_E65_BITS = 10


def _e65_oracle() -> str:
    top = float(2**_E65_BITS - 1)
    terms = " + ".join(
        f"((({{x}} >> {b}) & 1) << {2 * b + i})"
        for b in range(_E65_BITS)
        for i in (0, 1)
        if True
    )
    # build explicitly: bit b of col i lands at 2b+i
    t0 = " + ".join(f"(((ux >> {b}) & 1) << {2 * b})" for b in range(_E65_BITS))
    t1 = " + ".join(f"(((hx >> {b}) & 1) << {2 * b + 1})" for b in range(_E65_BITS))
    return f"""
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS hour FROM events
), stats AS (
  SELECT min(user_id)::DOUBLE AS ulo, max(user_id)::DOUBLE AS uhi,
         min(hour)::DOUBLE AS hlo, max(hour)::DOUBLE AS hhi
  FROM base
), scaled AS (
  SELECT event_id,
    CASE WHEN uhi > ulo THEN floor((user_id::DOUBLE - ulo) / (uhi - ulo) * {top})
         ELSE 0 END::BIGINT AS ux,
    CASE WHEN hhi > hlo THEN floor((hour::DOUBLE - hlo) / (hhi - hlo) * {top})
         ELSE 0 END::BIGINT AS hx
  FROM base CROSS JOIN stats
)
SELECT event_id, ({t0} + {t1}) AS zorder_key FROM scaled
"""


@query("e65_zorder", _e65_oracle())
def e65_zorder(spark, sf_dir):
    from pivot_spark.operators.layout import zorder_key

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) DIV 3600000000").alias("hour")
    )
    out = zorder_key(ev, ["user_id", "hour"], bits=_E65_BITS)
    return out.select("event_id", "zorder_key")


# --- E66: keyed snapshot diff (added/removed/changed + changed column
# names) — one full-outer shuffle join, null-safe per-column compare in
# the scan stage. Delta derived deterministically from orders.
@query(
    "e66_table_diff",
    """
WITH old AS (
  SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders
), new AS (
  SELECT k, c, CASE WHEN k % 10 = 0 THEN p + 1000.0 ELSE p END AS p
  FROM old WHERE k % 10 <> 7
  UNION ALL
  SELECT k + 100000000, c, p FROM old WHERE k % 10 = 3
), j AS (
  SELECT coalesce(n.k, o.k) AS o_orderkey,
    CASE WHEN o.k IS NULL THEN 'added'
         WHEN n.k IS NULL THEN 'removed'
         WHEN NOT (o.c IS NOT DISTINCT FROM n.c)
           OR NOT (o.p IS NOT DISTINCT FROM n.p) THEN 'changed'
         ELSE 'unchanged' END AS status,
    CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL THEN
      list_filter([
        CASE WHEN NOT (o.c IS NOT DISTINCT FROM n.c) THEN 'o_custkey' END,
        CASE WHEN NOT (o.p IS NOT DISTINCT FROM n.p) THEN 'o_totalprice' END
      ], x -> x IS NOT NULL)
    ELSE []::VARCHAR[] END AS cc
  FROM old o FULL JOIN new n ON o.k = n.k
)
SELECT o_orderkey, status,
       '[' || coalesce(array_to_string(cc, '|'), '') || ']' AS changed_cols
FROM j WHERE status <> 'unchanged'
""",
)
def e66_table_diff(spark, sf_dir):
    from pivot_spark.operators.diff import table_diff

    old = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_totalprice")
    )
    k = F.col("o_orderkey")
    new = old.filter(k % 10 != 7).select(
        "o_orderkey",
        "o_custkey",
        F.when(k % 10 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        old.filter(k % 10 == 3).select(
            (k + 100000000).alias("o_orderkey"), "o_custkey", "o_totalprice"
        )
    )
    return serialize_arrays(table_diff(old, new, ["o_orderkey"]))


# --- E67: declarative data-quality validation — all row-local rules in
# ONE conditional-sum aggregate (single scan), uniqueness as a separate
# distinct agg (Expand avoidance, same reasoning as profile).
@query(
    "e67_validate",
    """
SELECT 'orderkey_not_null' AS rule,
       CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS violations,
       count(*) FILTER (l_orderkey IS NULL) = 0 AS passed FROM lineitem
UNION ALL
SELECT 'qty_range',
       CAST(count(*) FILTER (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) AS BIGINT),
       count(*) FILTER (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) = 0 FROM lineitem
UNION ALL
SELECT 'returnflag_domain',
       CAST(count(*) FILTER (l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')) AS BIGINT),
       count(*) FILTER (l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')) = 0 FROM lineitem
UNION ALL
SELECT 'price_positive',
       CAST(count(*) FILTER (NOT coalesce(l_extendedprice > 0, false)) AS BIGINT),
       count(*) FILTER (NOT coalesce(l_extendedprice > 0, false)) = 0 FROM lineitem
UNION ALL
SELECT 'pk_unique',
       CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) = 0 FROM lineitem
""",
)
def e67_validate(spark, sf_dir):
    from pivot_spark.operators.validate import (
        accepted_values,
        expression,
        in_range,
        not_null,
        unique,
        validate,
    )

    li = _read(spark, sf_dir, "lineitem")
    return validate(
        li,
        [
            not_null("orderkey_not_null", "l_orderkey"),
            in_range("qty_range", "l_quantity", 1, 50),
            accepted_values("returnflag_domain", "l_returnflag", ["A", "N", "R"]),
            expression("price_positive", F.col("l_extendedprice") > 0),
            unique("pk_unique", ["l_orderkey", "l_linenumber"]),
        ],
    )


# --- E68: bounded inverted-index build (distinct (term, doc) pairs —
# hot terms stay skew-free because pairs differ by doc; posting lists
# sorted + capped, df exact).
@query(
    "e68_inverted_index",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
), pairs AS (
  SELECT DISTINCT doc_id, term FROM toks
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
  '[' || array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), '|') || ']' AS postings,
  count(*) > len(list_slice(list(doc_id ORDER BY doc_id), 1, 20)) AS truncated
FROM pairs GROUP BY term
""",
)
def e68_inverted_index(spark, sf_dir):
    from pivot_spark.operators.tfidf import inverted_index

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return serialize_arrays(inverted_index(docs, max_postings=20))


# --- E69: SCD2 history build — one shuffle on the business key; change
# detection (lag) and interval close (lead) share the exchange + sort.
@query(
    "e69_scd2_build",
    """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER w AS prev,
         row_number() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), changes AS (
  SELECT * FROM ordered WHERE rn = 1 OR (prev IS DISTINCT FROM o_orderstatus)
)
SELECT o_custkey, o_orderstatus,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER w2) AS valid_to_us,
       (lead(o_orderdate) OVER w2) IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def e69_scd2_build(spark, sf_dir):
    from pivot_spark.operators.scd import scd2_build

    orders = _read(spark, sf_dir, "orders")
    hist = scd2_build(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreak=["o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "o_orderstatus",
        F.expr("unix_micros(cast(valid_from as timestamp))").alias("valid_from_us"),
        F.expr("unix_micros(cast(valid_to as timestamp))").alias("valid_to_us"),
        "is_current",
    )


# --- E70: SCD2 incremental apply — history from the pre-1999 change log,
# one latest-snapshot row per key from the rest applied on top. The
# history is never shuffled (broadcast delta; see operators/scd.py).
# Oracle exploits apply(build(first), latest(second)) == build(first
# UNION latest(second)) when every delta row is strictly newer than the
# key's open version (guaranteed by the date split).
@query(
    "e70_scd2_apply",
    """
WITH first AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01'
), second AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
), stream AS (
  SELECT * FROM first
  UNION ALL
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM second WHERE rn = 1
), ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER w AS prev,
         row_number() OVER w AS rn
  FROM stream
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), changes AS (
  SELECT * FROM ordered WHERE rn = 1 OR (prev IS DISTINCT FROM o_orderstatus)
)
SELECT o_custkey, o_orderstatus,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER w2) AS valid_to_us,
       (lead(o_orderdate) OVER w2) IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def e70_scd2_apply(spark, sf_dir):
    from pivot_spark.operators.scd import scd2_apply, scd2_build

    orders = _read(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    split = F.lit("1999-01-01").cast("timestamp")
    hist = scd2_build(
        orders.filter(F.col("o_orderdate") < split),
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreak=["o_orderkey"],
    )
    latest = (
        orders.filter(F.col("o_orderdate") >= split)
        .groupBy("o_custkey")
        .agg(
            F.max_by(
                F.struct("o_orderstatus", "o_orderdate"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("s")
        )
        .select("o_custkey", "s.o_orderstatus", "s.o_orderdate")
    )
    # scd2_apply reads each input three times; unfenced, the window
    # build / latest aggregate re-ran per consumer (6 source scans)
    hist = materialize(hist, "e70_scd2_apply")[0]
    latest = materialize(latest, "e70_scd2_apply")[0]
    out = scd2_apply(
        hist,
        latest,
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
    )
    return out.select(
        "o_custkey",
        "o_orderstatus",
        F.expr("unix_micros(cast(valid_from as timestamp))").alias("valid_from_us"),
        F.expr("unix_micros(cast(valid_to as timestamp))").alias("valid_to_us"),
        "is_current",
    )


# --- E71: product-quantization ANN (Jegou et al. 2011). The ADC pass
# scans only (id, codes) — a 16x narrower read than the raw vectors at
# this dim; at 100 TB the gap is the whole point (module docstring).
# The rerank-free ADC configuration is approximate by design; its
# quantization behavior is unit-tested (tests/test_pq.py). Round 7
# FOLDED the old rows-only e71_knn_pq gate row into the hash-checked
# anchor below (round-6 verdict item 4, the p26b device).
# --- E71b: PQ with rerank >= corpus size degrades to exact brute force
# (every candidate survives to the exact-cosine rerank), so the E04
# oracle hash-checks the full PQ plumbing: train/encode/ADC/two-level
# top-k/rerank join — same anchor pattern as e15_knn_ivf_fullprobe.
@query("e71b_knn_pq_rerank", _E04_ORACLE)
def e71b_knn_pq_rerank(spark, sf_dir):
    from pivot_spark.operators.pq import cosine_topk_pq

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return round_doubles(
        cosine_topk_pq(emb, q, k=3, m=8, ksub=16, rerank=1_000_000)
    )


# --- E72: incremental aggregate maintenance — state built from the
# pre-1999 orders, the rest folded in as a delta; the oracle recomputes
# from the full table, proving state ⊕ delta == full. The oracle mirrors
# the state algebra (sum/sumsq) rather than var_pop() so both sides run
# the same floating-point formula (FIXTURES.md rounding contract).
@query(
    "e72_incremental_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS rows,
       CAST(count(o_totalprice) AS BIGINT) AS price_n,
       round(sum(o_totalprice), 4) AS price_sum,
       round(sum(o_totalprice) / count(o_totalprice), 4) AS price_avg,
       round(min(o_totalprice), 4) AS price_min,
       round(max(o_totalprice), 4) AS price_max,
       round(sqrt(greatest(
         sum(o_totalprice * o_totalprice) / count(o_totalprice)
         - (sum(o_totalprice) / count(o_totalprice))
           * (sum(o_totalprice) / count(o_totalprice)), 0.0)), 4)
         AS price_stddev_pop
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def e72_incremental_agg(spark, sf_dir):
    from pivot_spark.operators.incremental import (
        agg_state,
        finalize_state,
        incremental_agg,
    )

    orders = _read(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    split = F.lit("1999-01-01").cast("timestamp")
    state = agg_state(
        orders.filter(F.col("o_orderdate") < split), keys, ["o_totalprice"]
    )
    updated = incremental_agg(
        state, orders.filter(F.col("o_orderdate") >= split), keys, ["o_totalprice"]
    )
    out = finalize_state(updated, keys, ["o_totalprice"])
    renames = {f"o_totalprice_{s}": f"price_{s}" for s in
               ("n", "sum", "avg", "min", "max", "stddev_pop")}
    out = out.select(
        *keys, "rows", *[F.col(a).alias(b) for a, b in renames.items()]
    )
    return round_doubles(out)


# --- E73: blocked fuzzy entity resolution — dirty customer names (last
# character corrupted on a deterministic subset) matched back to the
# clean set: prefix block -> length prefilter -> thresholded JVM
# levenshtein -> arg-min pick. Candidates bounded by block size (the
# last-2-chars-free prefix), never n².
@query(
    "e73_fuzzy_match",
    """
WITH dirty AS (
  SELECT c_custkey, substring(c_name, 1, 17) || 'X' AS dirty_name
  FROM customer WHERE c_custkey % 7 = 0
), cand AS (
  SELECT d.c_custkey, d.dirty_name, c.c_name AS match_name,
         levenshtein(d.dirty_name, c.c_name) AS dist
  FROM dirty d JOIN customer c
    ON substring(d.dirty_name, 1, 16) = substring(c.c_name, 1, 16)
  WHERE abs(length(d.dirty_name) - length(c.c_name)) <= 2
    AND levenshtein(d.dirty_name, c.c_name) <= 2
)
SELECT c_custkey, dirty_name,
       (min({'d': dist, 'n': match_name})).n AS match_name,
       CAST((min({'d': dist, 'n': match_name})).d AS INT) AS dist
FROM cand GROUP BY c_custkey, dirty_name
""",
)
def e73_fuzzy_match(spark, sf_dir):
    from pivot_spark.operators.fuzzy import best_fuzzy_match, fuzzy_join

    cust = _read(spark, sf_dir, "customer")
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("dirty_name"),
    )
    # The reference side contributes ONLY its key column, and the arg-min
    # downstream is multiplicity-insensitive — so the clean set joins as a
    # DISTINCT name list. Without this, fuzzy_join's contract-mandated
    # row-level join-back re-expands every matched name by its duplicate
    # count: on the cloned sf10 soak corpus that is 214k dirty rows x ~100
    # block matches x 100 name clones ~ 2.1e9 pre-aggregate rows (measured
    # 900 s engine-side; slope 688 at 100x). Distinct reference names make
    # the pair volume dirty_rows x matches — output-shaped at every scale.
    clean = cust.select(F.col("c_name").alias("match_name")).distinct()
    pairs = fuzzy_join(
        dirty,
        clean,
        "dirty_name",
        "match_name",
        max_dist=2,
        left_block=F.substring("dirty_name", 1, 16),
        right_block=F.substring("match_name", 1, 16),
    )
    return best_fuzzy_match(pairs, ["c_custkey", "dirty_name"], "match_name")


# --- E74: last-touch attribution report — purchases credited to the
# latest click/view/signup in a 7-day lookback, aggregated to channel
# totals. Conversion windows meet touches via the bucketized range join
# (operators/range_join.py); the arg-pick is a codegen'd max_by.
@query(
    "e74_attribution",
    """
WITH conv AS (
  SELECT event_id, user_id, epoch_us(ts) AS cts, value FROM events
  WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, epoch_us(ts) AS tts, event_id AS tid, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view', 'signup')
), j AS (
  SELECT c.event_id, c.value, t.channel, t.tts, t.tid
  FROM conv c JOIN touch t ON c.user_id = t.user_id
   AND t.tts >= c.cts - CAST(7 * 86400 AS BIGINT) * 1000000 AND t.tts < c.cts
), pick AS (
  SELECT event_id, any_value(value) AS val,
         (max({'t': tts, 'i': tid, 'c': channel})).c AS channel
  FROM j GROUP BY event_id
)
SELECT channel, CAST(count(*) AS BIGINT) AS conversions,
       round(sum(val), 4) AS attributed_value
FROM pick GROUP BY channel
""",
)
def e74_attribution(spark, sf_dir):
    from pivot_spark.operators.attribution import attribute

    ev = _read(spark, sf_dir, "events")
    credits = attribute(
        ev,
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_conversion=F.col("event_type") == "purchase",
        is_touch=F.col("event_type").isin("click", "view", "signup"),
        lookback_us=7 * 86_400 * 1_000_000,
        model="last",
        value_col="value",
    )
    out = credits.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("value_credit").alias("attributed_value"),
    )
    return round_doubles(out)


# --- E75: Bloom-filter decontamination audit — the runtime-filter
# pattern as a first-class operator: per-document might_contain (bitmap
# probe, pure Catalyst literal-array arithmetic) next to exact
# is_member. The oracle replays the identical md5 position arithmetic
# with position-subset semantics (bit set <=> position occupied), so
# even false positives hash-match.
@query(
    "e75_bloom_decontam",
    """
WITH bl AS (
  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 83 = 0
), probe AS (
  SELECT doc_id, md5(text) AS key FROM documents
), bpos AS (
  SELECT DISTINCT
    ('0x' || substring(md5(i::VARCHAR || ':' || key), 1, 15))::BIGINT % 4096 AS pos
  FROM bl, range(4) r(i)
), ppos AS (
  SELECT doc_id,
    ('0x' || substring(md5(i::VARCHAR || ':' || key), 1, 15))::BIGINT % 4096 AS pos
  FROM probe, range(4) r(i)
), flags AS (
  SELECT doc_id, bool_and(pos IN (SELECT pos FROM bpos)) AS might_contain
  FROM ppos GROUP BY doc_id
)
SELECT p.doc_id, f.might_contain,
       (p.key IN (SELECT key FROM bl)) AS is_member
FROM probe p JOIN flags f USING (doc_id)
""",
)
def e75_bloom_decontam(spark, sf_dir):
    from pivot_spark.operators.bloom import bloom_build, bloom_contains

    docs = _read(spark, sf_dir, "documents")
    key = F.md5(F.col("text"))
    bl = docs.filter(F.col("doc_id") % 83 == 0).select(key.alias("k")).distinct()
    bf = bloom_build(bl, "k", num_bits=4096, num_hashes=4)
    probe = docs.select("doc_id", key.alias("k"))
    out = probe.join(
        F.broadcast(bl.withColumn("__m", F.lit(True))), "k", "left"
    ).select(
        "doc_id",
        bloom_contains(bf, F.col("k")).alias("might_contain"),
        F.coalesce(F.col("__m"), F.lit(False)).alias("is_member"),
    )
    return out


# --- E76: exact heavy hitters, two-pass Misra-Gries — per-partition
# bounded-state candidate sketch (superset guarantee) + exact count of
# the broadcast candidate set only. The answer is exact, so the oracle
# is the plain GROUP BY ... HAVING the sketch avoids at scale.
@query(
    "e76_heavy_hitters",
    """
SELECT CAST(user_id AS VARCHAR) AS user_id, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(*) >= CEIL(0.002 * (SELECT count(*) FROM events WHERE user_id IS NOT NULL))
""",
)
def e76_heavy_hitters(spark, sf_dir):
    from pivot_spark.operators.heavy import heavy_hitters

    ev = _read(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", phi=0.002)


# --- E77: document chunking (fixed 64-token disjoint windows, tail
# kept) — scan-stage explode of a start-index sequence; no shuffle.
@query(
    "e77_chunk_documents",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS w
  FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0
)
SELECT doc_id,
       CAST(start_token / 64 AS INT) AS chunk_idx,
       CAST(start_token AS BIGINT) AS start_token,
       CAST(least(64, n - start_token) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(w, start_token + 1, start_token + 64), ' ')
         AS chunk_text
FROM (
  SELECT doc_id, w, n,
         unnest(range(0, ((n - 1) // 64) * 64 + 1, 64)) AS start_token
  FROM base
)
""",
)
def e77_chunk_documents(spark, sf_dir):
    from pivot_spark.operators.chunking import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64)


# --- E78: robust per-group outlier detection (modified z-score over
# MAD): two tiny per-group percentile aggregates broadcast back; the
# fact table is never shuffled by group. Summarized per group so the
# declared output stays bounded.
@query(
    "e78_mad_outliers",
    """
WITH med AS (
  SELECT l_returnflag AS k, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY 1
), j AS (
  SELECT l_returnflag AS k, l_extendedprice AS x, med
  FROM lineitem JOIN med ON l_returnflag = med.k
), mad AS (
  SELECT k, quantile_cont(abs(x - med), 0.5) AS mad FROM j GROUP BY k
), s AS (
  SELECT j.k, x, j.med, mad.mad,
         CASE WHEN mad.mad > 0 THEN 0.6745 * (x - j.med) / mad.mad END AS mz
  FROM j JOIN mad ON j.k = mad.k
)
SELECT k AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (abs(mz) > 3.5) AS BIGINT) AS n_outliers,
       round(min(mz), 4) AS mz_min, round(max(mz), 4) AS mz_max
FROM s GROUP BY k
""",
)
def e78_mad_outliers(spark, sf_dir):
    from pivot_spark.operators.outliers import mad_outliers

    li = _read(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    out = mad_outliers(li, "l_extendedprice", ["l_returnflag"], z_thresh=3.5)
    summary = out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("is_outlier").cast("long")).cast("long").alias("n_outliers"),
        F.round(F.min("mod_z"), 4).alias("mz_min"),
        F.round(F.max("mod_z"), 4).alias("mz_max"),
    )
    return summary


# --- E79: incremental distinct-count maintenance — per-key HLL sketch
# states (DataSketches binding), split/merged over the 1999 date
# boundary like e72. Round 7 FOLDED the old rows-only estimate row into
# a hash-checked accuracy contract (the p26b device, round-6 verdict
# item 4): Spark emits the EXACT per-key distinct count plus
# ok_merge := |(state ⊕ delta) estimate - full-recompute estimate|
# <= 0.05 * full (register-level HLL union is lossless, but the
# DataSketches union path targets a different register representation
# than the one-shot sketch, so the two ESTIMATES differ slightly once
# past sparse mode — measured <= 1.1% at sf0.01 with lg_k=12, where
# one 3σ band is 4.9%; exact equality in the sparse regime is pinned
# by tests/test_incremental.py) and ok_acc := |merged estimate -
# exact| <= 0.05 * exact (measured <= 1.4%). The oracle emits the same
# exact count plus literal TRUE — a merge regression or a sketch
# drifting past 5% flips the gate red instead of hiding behind a
# rows-only check. The exact side exists only to audit the sketch;
# the production operator is the sketch pipeline.
_E79_ORACLE = """
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS ok_merge, TRUE AS ok_acc
FROM orders GROUP BY o_orderstatus
"""


@query("e79_incremental_distinct", _E79_ORACLE)
def e79_incremental_distinct(spark, sf_dir):
    from pivot_spark.operators.incremental import (
        distinct_state,
        estimate_distinct,
        incremental_distinct,
    )

    orders = _read(spark, sf_dir, "orders")
    split = F.lit("1999-01-01").cast("timestamp")
    state = distinct_state(
        orders.filter(F.col("o_orderdate") < split), ["o_orderstatus"], "o_custkey"
    )
    upd = incremental_distinct(
        state,
        orders.filter(F.col("o_orderdate") >= split),
        ["o_orderstatus"],
        "o_custkey",
    )
    merged = estimate_distinct(upd, ["o_orderstatus"]).withColumnRenamed(
        "n_distinct", "n_merged"
    )
    full = estimate_distinct(
        distinct_state(orders, ["o_orderstatus"], "o_custkey"),
        ["o_orderstatus"],
    ).withColumnRenamed("n_distinct", "n_full")
    exact = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return (
        merged.join(full, "o_orderstatus")
        .join(exact, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_exact",
            (
                F.abs(F.col("n_merged") - F.col("n_full"))
                <= 0.05 * F.col("n_full")
            ).alias("ok_merge"),
            (
                F.abs(F.col("n_merged") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("ok_acc"),
        )
    )


# --- E80: Count-Min Sketch frequency estimation — depth x width
# bounded-state counter table (Cormode & Muthukrishnan 2005), built in
# one scan, probed via a broadcast join; positions are deterministic
# md5 arithmetic so the oracle replays the sketch counter-for-counter
# (over-estimates and all). width=256 at sf0.01 forces real collisions,
# so the query exercises the min-over-rows estimate, not a trivial
# exact path.
@query(
    "e80_cms_frequency",
    """
WITH src AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE user_id IS NOT NULL
), cms AS (
  SELECT i AS d,
         ('0x' || substring(md5(i::VARCHAR || ':' || k), 1, 15))::BIGINT % 256 AS pos,
         count(*) AS cnt
  FROM src, range(4) r(i)
  GROUP BY 1, 2
), probe AS (
  SELECT DISTINCT k FROM src WHERE k::BIGINT % 7 = 0
), ppos AS (
  SELECT k, i AS d,
         ('0x' || substring(md5(i::VARCHAR || ':' || k), 1, 15))::BIGINT % 256 AS pos
  FROM probe, range(4) r(i)
), est AS (
  SELECT p.k, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
  FROM ppos p LEFT JOIN cms c ON p.d = c.d AND p.pos = c.pos
  GROUP BY p.k
)
SELECT e.k AS user_id, e.cms_est,
       CAST(coalesce(x.n, 0) AS BIGINT) AS exact_n
FROM est e LEFT JOIN (SELECT k, count(*) AS n FROM src GROUP BY k) x USING (k)
""",
)
def e80_cms_frequency(spark, sf_dir):
    from pivot_spark.operators.sketch import cms_build, cms_estimate

    ev = _read(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    src = ev.select(F.col("user_id").cast("string").alias("k"))
    sketch = cms_build(src, "k", width=256, depth=4)
    probes = src.filter(F.col("k").cast("long") % 7 == 0).distinct()
    est = cms_estimate(sketch, probes, "k", width=256, depth=4)
    exact = src.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    return est.join(exact, "k", "left").select(
        F.col("k").alias("user_id"),
        F.col("cms_est").cast("long").alias("cms_est"),
        F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
    )


# --- E81: Spearman rank-correlation matrix — Pearson over average
# ranks. The rank is computed distributed (range-partitioned parallel
# prefix over the DISTINCT-value frame, pivot_spark.operators.profile.
# _avg_rank_map): no row-sized global sort anywhere, unlike the naive
# single-partition rank window. l_extendedprice (near-unique) is
# included deliberately to exercise the distinct-frame path at high
# cardinality; l_quantity/l_discount/l_tax exercise heavy ties.
_E81_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _e81_oracle() -> str:
    conds = " AND ".join(f"{c} IS NOT NULL" for c in _E81_COLS)
    ranks = ", ".join(
        f"rank() OVER (ORDER BY {c}) + (count(*) OVER (PARTITION BY {c}) - 1) / 2.0 AS r{i}"
        for i, c in enumerate(_E81_COLS)
    )
    sels = []
    for i, a in enumerate(_E81_COLS):
        for j in range(i + 1, len(_E81_COLS)):
            b = _E81_COLS[j]
            sels.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"round(corr(r{i}, r{j}), 4) AS spearman FROM r"
            )
    return (
        f"WITH base AS (SELECT * FROM lineitem WHERE {conds}), "
        f"r AS (SELECT {ranks} FROM base) " + " UNION ALL ".join(sels)
    )


@query("e81_spearman_matrix", _e81_oracle())
def e81_spearman_matrix(spark, sf_dir):
    from pivot_spark.operators.profile import spearman_matrix

    li = _read(spark, sf_dir, "lineitem")
    return spearman_matrix(li, _E81_COLS)


# --- E82: duplicate-cluster dedup keeping the BEST copy (max n_chars,
# tie -> min doc_id) — what a curation pipeline actually keeps from a
# near-dup cluster. Same exact-Jaccard pair graph + transitive closure
# as e31; the winner is a scalar min(struct(-score, id)) on both
# engines.
_E82_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.grams, b.grams))::DOUBLE /
        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
), comp AS (
  SELECT a AS node, least(min(b), a) AS component FROM reach GROUP BY a
), lab AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS cluster,
         c.component IS NOT NULL AS clustered
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), best AS (
  SELECT cluster, (min({'s': -n_chars, 'i': doc_id})).i AS best_id
  FROM lab WHERE clustered GROUP BY cluster
)
SELECT l.doc_id, l.cluster,
       coalesce(l.doc_id = b.best_id, true) AS keep
FROM lab l LEFT JOIN best b USING (cluster)
"""


@query("e82_dedup_keep_best", _E82_ORACLE)
def e82_dedup_keep_best(spark, sf_dir):
    from pivot_spark.operators.components import dedup_clusters_keep_best

    docs = _read(spark, sf_dir, "documents")
    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    out = dedup_clusters_keep_best(
        docs.select("doc_id", "n_chars"), pairs.select("id_a", "id_b"),
        "doc_id", "n_chars",
    )
    return out.select("doc_id", "cluster", "keep")


# --- E83: DSIR importance resampling (Xie et al. 2023) — hashed
# unigram+bigram bucket models for target (lang='en') vs raw (all
# docs), per-doc log importance weight, top-20% keep flag. Every step
# is deterministic md5 + Laplace arithmetic, so the oracle replays the
# whole method: bucket counts, smoothing, log-ratio, percentile
# threshold (boundary compared on rounded values on both engines).
_E83_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, tgt, unnest(list_concat(
    w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
  )) AS gram
  FROM toks
), b AS (
  SELECT doc_id, tgt,
         ('0x' || substring(md5(gram), 1, 15))::BIGINT % 4096 AS bk
  FROM grams
), stats AS (
  SELECT bk, count(*) AS n_raw, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_tgt
  FROM b GROUP BY bk
), tot AS (
  SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM stats
), ratio AS (
  SELECT bk, ln((n_tgt + 1.0) / (t_tgt + 1.0 * 4096))
           - ln((n_raw + 1.0) / (t_raw + 1.0 * 4096)) AS lr
  FROM stats, tot
), scored AS (
  SELECT b.doc_id, round(sum(r.lr), 4) AS dsir_logweight
  FROM b JOIN ratio r USING (bk) GROUP BY b.doc_id
), outw AS (
  SELECT d.doc_id, coalesce(s.dsir_logweight, 0.0) AS dsir_logweight
  FROM documents d LEFT JOIN scored s USING (doc_id)
), thr AS (
  SELECT round(quantile_cont(dsir_logweight, 0.8), 4) AS t FROM outw
)
SELECT doc_id, dsir_logweight, dsir_logweight >= thr.t AS keep
FROM outw, thr
"""


@query("e83_dsir_select", _E83_ORACLE)
def e83_dsir_select(spark, sf_dir):
    from pivot_spark.operators.dsir import dsir_logweights

    docs = _read(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, "doc_id", "text", F.col("lang") == "en",
        num_buckets=4096, alpha=1.0, keep_fraction=0.2,
    )


# --- E84: hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
# 2009) — BM25 inverted-index top-10 (sparse) fused with exact cosine
# top-10 (dense) at K=60. Only ranks enter the fusion, so the oracle
# replays both retrievers' rank lists (the e49 BM25 CTE + the e04
# windowed all-pairs cosine) and the 1/(60+rank) sum exactly.
def _e84_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _E49_QUERIES for t in terms
    )
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS term
  FROM documents
), postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
), df_t AS (
  SELECT term, count(*) AS df FROM postings
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
), scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5)) *
               (p.tf::DOUBLE * 2.2 /
                (p.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)))), 4)
           AS score
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN df_t f ON p.term = f.term
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
), bmk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS INTEGER) AS rank
    FROM scored
  ) WHERE rank <= 10
), densek AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT a.vec_id AS query_id, c.vec_id AS doc_id,
           CAST(row_number() OVER (PARTITION BY a.vec_id
             ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                      c.vec_id) AS INTEGER) AS rank
    FROM embeddings a, embeddings c
    WHERE a.vec_id IN (1, 2, 3) AND c.vec_id != a.vec_id
  ) WHERE rank <= 10
), u AS (
  SELECT * FROM bmk UNION ALL SELECT * FROM densek
), fused AS (
  SELECT query_id, doc_id,
         round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
         CAST(count(*) AS INTEGER) AS n_lists
  FROM u GROUP BY 1, 2
)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, rrf_score, n_lists, rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
  FROM fused
) WHERE rank <= 10
"""


@query("e84_hybrid_rrf", _e84_oracle())
def e84_hybrid_rrf(spark, sf_dir):
    from pivot_spark.operators.bm25 import bm25_topk_batch
    from pivot_spark.operators.fusion import rrf_fuse
    from pivot_spark.operators.similarity import cosine_topk

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    q = spark.createDataFrame(_E49_QUERIES, "query_id int, terms array<string>")
    sparse = bm25_topk_batch(docs, q, k=10).select("query_id", "doc_id", "rank")
    dense = cosine_topk(
        emb, emb.filter(F.col("vec_id").isin(1, 2, 3)), k=10
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([sparse, dense], rrf_k=60, top_k=10)


# --- E85: interpolated bigram LM scoring (the KenLM-filter ladder
# rung above e56's unigram LM): p(w2|w1) = 0.7*c(w1w2)/c(w1) +
# 0.3*c(w2)/N over the <unk>-mapped top-500 vocabulary. Bigrams are
# built in the array domain (zip with shift — no per-doc shuffle);
# counts, interpolation, and tie-broken vocab replay exactly in SQL.
_E85_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents
), expl AS (
  SELECT doc_id, unnest(w) AS tok FROM toks
), uc_raw AS (
  SELECT tok, count(*) AS c FROM expl GROUP BY 1
), vocab AS (
  SELECT tok FROM uc_raw ORDER BY c DESC, tok LIMIT 500
), m AS (
  SELECT doc_id,
         CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok ELSE '<unk>' END AS tok
  FROM expl
), uc AS (
  SELECT tok, count(*) AS c FROM m GROUP BY 1
), nt AS (
  SELECT sum(c)::DOUBLE AS n FROM uc
), praw AS (
  SELECT doc_id, w[i] AS a, w[i+1] AS b
  FROM toks, LATERAL unnest(range(1, len(w))) t(i)
), p AS (
  SELECT doc_id,
         CASE WHEN a IN (SELECT tok FROM vocab) THEN a ELSE '<unk>' END AS a,
         CASE WHEN b IN (SELECT tok FROM vocab) THEN b ELSE '<unk>' END AS b
  FROM praw
), bc AS (
  SELECT a, b, count(*) AS cb FROM p GROUP BY 1, 2
), scored AS (
  SELECT p.doc_id, count(*) AS n_bigrams,
         round(avg(-ln(0.7 * bc.cb / u1.c + 0.3 * u2.c / nt.n)), 4) AS avg_neg_logp
  FROM p
  JOIN bc USING (a, b)
  JOIN uc u1 ON p.a = u1.tok
  JOIN uc u2 ON p.b = u2.tok
  CROSS JOIN nt
  GROUP BY p.doc_id
)
SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_neg_logp
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


@query("e85_bigram_lm", _E85_ORACLE)
def e85_bigram_lm(spark, sf_dir):
    from pivot_spark.operators.lm import bigram_lm_score

    docs = _read(spark, sf_dir, "documents")
    return bigram_lm_score(docs, vocab_size=500, lam=0.7)


# --- E86: prototypicality pruning (Sorscher et al. 2022 SSL
# prototypes): cosine to the assigned centroid, per-cluster rank, the
# most-prototypical 30% pruned. Centroids = the 8 smallest-id vectors
# (fixed, like e57), so assignment, dot folds, ranking, and the
# floor(0.3*n) boundary all replay exactly in SQL.
_E86_K, _E86_FRAC = 8, 0.3


def _e86_oracle() -> str:
    d_init = _e54_dist("e.embedding", "i.c")
    dot = " + ".join(
        f"a.embedding[{i}]::DOUBLE * i.c[{i}]::DOUBLE" for i in range(1, _E54_DIM + 1)
    )
    vsq = " + ".join(
        f"a.embedding[{i}]::DOUBLE * a.embedding[{i}]::DOUBLE"
        for i in range(1, _E54_DIM + 1)
    )
    csq = " + ".join(
        f"i.c[{i}]::DOUBLE * i.c[{i}]::DOUBLE" for i in range(1, _E54_DIM + 1)
    )
    return f"""
WITH init AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, embedding AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_E86_K})
), asg AS (
  SELECT e.vec_id, e.embedding,
         (min({{'d': {d_init}, 'c': i.cid}})).c AS cluster
  FROM embeddings e CROSS JOIN init i GROUP BY e.vec_id, e.embedding
), proto AS (
  SELECT a.vec_id, a.cluster,
         (0.0 + {dot}) / (sqrt(0.0 + {vsq}) * sqrt(0.0 + {csq})) AS p
  FROM asg a JOIN init i ON a.cluster = i.cid
), r AS (
  SELECT vec_id, cluster, p,
         CAST(row_number() OVER (PARTITION BY cluster ORDER BY p DESC, vec_id) AS INTEGER) AS rank,
         count(*) OVER (PARTITION BY cluster) AS n
  FROM proto
)
SELECT vec_id, cluster, round(p, 4) AS proto, rank,
       rank > floor({_E86_FRAC} * n) AS keep
FROM r
"""


@query("e86_prototype_prune", _e86_oracle())
def e86_prototype_prune(spark, sf_dir):
    from pivot_spark.operators.prune import prototypicality_prune

    emb = _read(spark, sf_dir, "embeddings")
    centers = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(_E86_K).collect()
    ]
    return prototypicality_prune(
        emb, "vec_id", "embedding", centers, prune_fraction=_E86_FRAC
    )


# --- E87: multimodal frame-sampling plumbing, hash-checked — fake
# "video" binaries (FIMG header + the md5-hex payload of the text),
# exploded to every-4th-byte frames via the Arrow mapInPandas stub.
# The byte arithmetic is deterministic, so the oracle replays the
# sampled frame positions and 1-byte frames exactly; only the codec is
# fake (container has no media libs — SURVEY.md §2.4 E07 note).
_E87_ORACLE = """
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       substring(md5(text), CAST(i AS INTEGER) + 1, 1) AS frame_ch
FROM documents, LATERAL unnest(range(0, 32, 4)) t(i)
WHERE text IS NOT NULL
"""


@query("e87_frame_sample", _E87_ORACLE)
def e87_frame_sample(spark, sf_dir):
    from pivot_spark.operators.multimodal import frame_sample_stub, make_fake_image

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    vids = docs.select(
        "doc_id",
        make_fake_image(
            F.lit(16), F.lit(9), F.md5(F.col("text")).cast("binary")
        ).alias("video"),
    )
    frames = frame_sample_stub(vids, "video", every_n=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame").cast("string").alias("frame_ch"),
    )


# --- E88: exponential time-decay aggregates (recency-weighted
# engagement features): w = 0.5^(age_days / half_life). One scan-stage
# weight + one hash aggregate — no window, no sort; the decayed sums
# are mergeable states (refresh = decay-factor multiply + delta add).
# ref_ts is an explicit literal, so the oracle replays the arithmetic
# exactly (epoch seconds = micros/1e6 on both engines).
_E88_ORACLE = """
SELECT user_id % 50 AS user_bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(pow(0.5, ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')/1000000.0
                            - epoch_us(ts)/1000000.0) / 86400.0) / 7.0)), 4)
         AS decayed_n,
       round(sum(pow(0.5, ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')/1000000.0
                            - epoch_us(ts)/1000000.0) / 86400.0) / 7.0) * value), 4)
         AS decayed_sum,
       max(ts) AS last_ts
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""


@query("e88_decayed_features", _E88_ORACLE)
def e88_decayed_features(spark, sf_dir):
    from pivot_spark.operators.rolling import decayed_aggregates

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("user_bucket"), "ts", "value"
    )
    return decayed_aggregates(
        ev, ["user_bucket"], "ts", "value",
        ref_ts="2024-02-01 00:00:00", half_life_days=7.0,
    )


# --- E89: EXACT directional n-gram containment pairs (set-containment
# join: A-prefix x B-full-postings with the rarest-first prefix bound
# and |B| >= t|A| length filter) — catches "short doc quoted inside a
# long one", which symmetric Jaccard misses. Oracle = all ordered
# pairs.
_E89_ORACLE = r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams), 4)
         AS containment,
       round(len(list_intersect(a.grams, b.grams))::DOUBLE /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4)
         AS jaccard
FROM sh a, sh b
WHERE a.doc_id != b.doc_id
  AND len(a.grams) > 0
  AND len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams) >= 0.6
"""


@query("e89_containment", _E89_ORACLE)
def e89_containment(spark, sf_dir):
    from pivot_spark.operators.neardup import ngram_containment_pairs

    docs = _read(spark, sf_dir, "documents")
    return round_doubles(
        ngram_containment_pairs(docs, threshold=0.6, shingle_len=3)
    )


# --- E90: shuffle-key skew report — per-key size distribution summary
# (max share + tie-correct Gini via the average-rank identity) computed
# with the same distributed ranking as e81: decide salting BEFORE the
# join. Oracle replays sizes, ranks, and the Gini algebra.
_E90_ORACLE = """
WITH s AS (
  SELECT count(*)::DOUBLE AS x FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), r AS (
  SELECT x, rank() OVER (ORDER BY x) + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS r
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(x) AS BIGINT) AS n_rows,
       CAST(max(x) AS BIGINT) AS max_count,
       round(max(x) / sum(x), 4) AS max_share,
       round(2.0 * sum(r * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 4) AS gini
FROM r
"""


@query("e90_skew_report", _E90_ORACLE)
def e90_skew_report(spark, sf_dir):
    from pivot_spark.operators.skew import skew_report

    ev = _read(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return skew_report(ev, ["user_id"])


# --- E91: Wilson lower-bound success ranking (Wilson 1927) — the
# confidence-aware rate estimator for per-key quality/engagement
# ranking; pure scan-stage algebra over one per-key count aggregate,
# replayed term by term in the oracle.
_E91_ORACLE = """
WITH a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_success
  FROM events GROUP BY event_type
), c AS (
  SELECT *, n_trials::DOUBLE AS n, n_success::DOUBLE / n_trials::DOUBLE AS p
  FROM a
)
SELECT event_type, n_trials, n_success,
       round(p, 4) AS rate,
       round((p + (1.96 * 1.96) / (2.0 * n)
              - 1.96 * sqrt(p * (1.0 - p) / n + (1.96 * 1.96) / (4.0 * n * n)))
             / (1.0 + (1.96 * 1.96) / n), 4) AS wilson_lb
FROM c
"""


@query("e91_wilson_rank", _E91_ORACLE)
def e91_wilson_rank(spark, sf_dir):
    from pivot_spark.operators.analytics import wilson_rank

    ev = _read(spark, sf_dir, "events").withColumn("ok", F.col("value") > 50)
    return wilson_rank(ev, ["event_type"], "ok", z=1.96)


# --- E92: corpus-level line dedup (CCNet/RefinedWeb boilerplate
# removal): lines in >1 distinct docs removed from every doc. Text is
# deterministically lined like e55; hashes, doc frequencies, and the
# positional reassembly replay exactly in SQL.
_E92_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1' || chr(10), 'g') AS t
  FROM documents
), ls AS (
  SELECT doc_id, list_filter(string_split(t, chr(10)), l -> l <> '') AS lines
  FROM aug
), lf AS (
  SELECT doc_id, s.p AS pos, s.l AS line
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(lines)+1),
                                 i -> {'p': i, 'l': lines[i]})) AS s
    FROM ls
  )
), dft AS (
  SELECT md5(line) AS h, count(DISTINCT doc_id) AS dfq FROM lf GROUP BY 1
), kept AS (
  SELECT doc_id, pos, line FROM lf JOIN dft ON md5(lf.line) = dft.h
  WHERE dfq <= 1
), reasm AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(len(l.lines) AS BIGINT) AS n_lines,
       CAST(len(l.lines) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM ls l LEFT JOIN reasm r USING (doc_id)
"""


@query("e92_line_dedup", _E92_ORACLE)
def e92_line_dedup(spark, sf_dir):
    from pivot_spark.operators.quality import line_dedup

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", _E55_LINE_RE, "$1\n").alias("text"),
    )
    return line_dedup(docs, max_doc_freq=1)


# --- E93: mutual information between two categorical columns (feature
# dependence screen): everything from ONE contingency-table aggregate,
# marginals as window sums over the tiny cell frame — the raw data is
# never joined. Replayed cell-for-cell in SQL.
_E93_ORACLE = """
WITH joint AS (
  SELECT event_type AS x, user_id % 10 AS y, count(*) AS c
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
), cells AS (
  SELECT c,
         sum(c) OVER (PARTITION BY x) AS cx,
         sum(c) OVER (PARTITION BY y) AS cy,
         sum(c) OVER () AS n
  FROM joint
), a AS (
  SELECT max(n) AS n,
         -sum(c::DOUBLE / n * ln(cx::DOUBLE / n)) AS hx,
         -sum(c::DOUBLE / n * ln(cy::DOUBLE / n)) AS hy,
         -sum(c::DOUBLE / n * ln(c::DOUBLE / n)) AS hxy,
         sum(c::DOUBLE / n * ln(c::DOUBLE * n / (cx::DOUBLE * cy::DOUBLE))) AS mi
  FROM cells
)
SELECT CAST(n AS BIGINT) AS n, round(hx, 4) AS h_x, round(hy, 4) AS h_y,
       round(hxy, 4) AS h_xy, round(mi, 4) AS mi,
       round(CASE WHEN greatest(hx, hy) > 0 THEN mi / greatest(hx, hy) END, 4) AS nmi
FROM a
"""


@query("e93_mutual_info", _E93_ORACLE)
def e93_mutual_info(spark, sf_dir):
    from pivot_spark.operators.analytics import mutual_information

    ev = _read(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket")
    )
    return mutual_information(ev, "event_type", "user_bucket")


# --- E94: deterministic per-key mode (most frequent value, tie ->
# smallest): two skew-free hash aggregates — (key, value) counts then
# a scalar struct arg-max; no window, no value buffering.
_E94_ORACLE = """
SELECT user_bucket,
       (min({'nc': -c, 'v': event_type})).v AS mode,
       CAST(max(c) AS BIGINT) AS mode_count
FROM (
  SELECT user_id % 20 AS user_bucket, event_type, count(*) AS c
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
)
GROUP BY 1
"""


@query("e94_mode_by_key", _E94_ORACLE)
def e94_mode_by_key(spark, sf_dir):
    from pivot_spark.operators.topk import mode_by_key

    ev = _read(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()).select(
        (F.col("user_id") % 20).alias("user_bucket"), "event_type"
    )
    return mode_by_key(ev, ["user_bucket"], "event_type")


# --- E95: Johnson-Lindenstrauss random projection (seeded Gaussian
# planes as in-plan literals; 64 -> 8 dims, 1/sqrt(k) scaling) — the
# cheap front-end before clustering/ANN at embedding widths that are
# too expensive to shuffle. Scan-stage folds; the oracle replays every
# plane literal term by term. Elements %.4f-serialized (e29 idiom).
_E95_DIM_OUT, _E95_SEED = 8, 7


def _e95_oracle() -> str:
    import math

    from pivot_spark.operators.similarity import _srp_planes

    planes = _srp_planes(_E95_DIM_OUT, _E54_DIM, _E95_SEED)
    scale = 1.0 / math.sqrt(_E95_DIM_OUT)
    comps = []
    for plane in planes:
        chain = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * ({p!r})" for i, p in enumerate(plane)
        )
        comps.append(f"printf('%.4f', round((0.0 + {chain}) * ({scale!r}), 4) + 0.0)")
    arr = ", ".join(comps)
    return (
        f"SELECT vec_id, '[' || array_to_string([{arr}], '|') || ']' AS proj "
        f"FROM embeddings"
    )


@query("e95_random_projection", _e95_oracle())
def e95_random_projection(spark, sf_dir):
    from pivot_spark.operators.embedding import random_projection

    emb = _read(spark, sf_dir, "embeddings")
    out = random_projection(
        emb, "embedding", out_dim=_E95_DIM_OUT, in_dim=_E54_DIM, seed=_E95_SEED
    )
    proj = F.transform(
        F.col("proj"),
        lambda x: F.format_string("%.4f", F.round(x, 4) + F.lit(0.0)),
    )
    return out.select(
        "vec_id",
        F.concat(F.lit("["), F.array_join(proj, "|"), F.lit("]")).alias("proj"),
    )
