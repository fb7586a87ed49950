"""Declared queries e156-e181: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from ._base import (F, _mined_pairs, _read, query)  # noqa: F401
from ._q_e126_e155 import (_E156_ORACLE)  # noqa: F401



@query("e156_weighted_quantile", _E156_ORACLE)
def e156_weighted_quantile(spark, sf_dir):
    from pivot_spark.operators.profile import weighted_quantile

    d = _read(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    out = weighted_quantile(d, "n_chars", "n_chars", probs=[0.5, 0.9, 0.99])
    return out.select(
        "prob", "value",
        F.round("cum_weight", 4).alias("cum_weight"),
        F.round("total_weight", 4).alias("total_weight"),
    )


# --- E157: cross-source duplication matrix — e03's MinHash pairs
# rolled up to unordered source pairs (which feeds copy from which).
# Oracle: the brute-force Jaccard pair CTE + the same source joins.
_E157_ORACLE = """
WITH sh AS (
  SELECT doc_id, source, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
), pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.grams, b.grams))::DOUBLE /
        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       count(*) AS n_pairs,
       least(sa, sb) = greatest(sa, sb) AS within_source
FROM pairs GROUP BY 1, 2
"""


@query("e157_cross_source_dups", _E157_ORACLE)
def e157_cross_source_dups(spark, sf_dir):
    from pivot_spark.operators.chunk_dedup import cross_source_dup_matrix

    d = _read(spark, sf_dir, "documents")
    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    return cross_source_dup_matrix(pairs.select("id_a", "id_b"), d)


# --- E158: inclusion-dependency probe (FK discovery): containment of
# lineitem.l_orderkey in orders.o_orderkey — distinct-value frames +
# one join, cardinality-bounded. Oracle: the same algebra.
_E158_ORACLE = """
WITH lv AS (
  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
  WHERE l_orderkey IS NOT NULL
), rv AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS v FROM orders WHERE o_orderkey IS NOT NULL
)
SELECT (SELECT count(*) FROM lv) AS n_left_distinct,
       (SELECT count(DISTINCT v) FROM rv) AS n_right_distinct,
       (SELECT count(*) FROM lv WHERE v IN (SELECT v FROM rv)) AS n_shared,
       round((SELECT count(*) FROM lv WHERE v IN (SELECT v FROM rv))
             / CAST((SELECT count(*) FROM lv) AS DOUBLE), 4) AS containment,
       (SELECT count(*) FROM rv) = (SELECT count(DISTINCT v) FROM rv)
         AS right_unique
"""


@query("e158_key_containment", _E158_ORACLE)
def e158_key_containment(spark, sf_dir):
    from pivot_spark.operators.profile import key_containment

    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    out = key_containment(li, o, "l_orderkey", "o_orderkey")
    return out.select(
        "n_left_distinct", "n_right_distinct", "n_shared",
        F.round("containment", 4).alias("containment"), "right_unique",
    )


# --- E159: trending keys — per-user activity surge in the latest
# complete day vs the previous (smoothed lift + two-Poisson burst z):
# one scan-stage bucket + one conditional aggregate, latest bucket
# broadcast back. Replayed with the same epoch arithmetic.
_E159_ORACLE = """
WITH b AS (
  SELECT user_id AS key, floor(epoch_us(ts) / 1000000 / 86400) AS bk
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), mx AS (
  SELECT max(bk) AS m FROM b
), per AS (
  SELECT key,
         sum(CASE WHEN bk = m - 1 THEN 1 ELSE 0 END) AS n_prev,
         sum(CASE WHEN bk = m THEN 1 ELSE 0 END) AS n_cur
  FROM b, mx WHERE bk >= m - 1 GROUP BY key
)
SELECT key, CAST(n_prev AS BIGINT) AS n_prev, CAST(n_cur AS BIGINT) AS n_cur,
       round((n_cur + 1) / (n_prev + 1.0), 4) AS lift,
       round(CASE WHEN n_cur + n_prev > 0
                  THEN (n_cur - n_prev) / sqrt(CAST(n_cur + n_prev AS DOUBLE))
             END, 4) AS z
FROM per
"""


@query("e159_trending_keys", _E159_ORACLE)
def e159_trending_keys(spark, sf_dir):
    from pivot_spark.operators.analytics import trending_keys

    ev = _read(spark, sf_dir, "events")
    out = trending_keys(ev, "user_id", "ts", window_seconds=86400)
    return out.select(
        "key", "n_prev", "n_cur",
        F.round("lift", 4).alias("lift"),
        F.round("z", 4).alias("z"),
    )


# --- E160: Markov sequence-surprise scoring (the anomaly rung above
# e64): per-user mean -ln P(to|from) under the corpus first-order
# model — one lead exchange, vocabulary-sized prob frame broadcast
# back, one key aggregate. Replayed lead/window/join-for-join.
_E160_ORACLE = """
WITH t AS (
  SELECT user_id AS key, event_type AS f,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS tt
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), tr AS (
  SELECT key, f, tt FROM t WHERE tt IS NOT NULL
), c AS (
  SELECT f, tt, count(*) AS n FROM tr GROUP BY 1, 2
), p AS (
  SELECT f, tt, n / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) AS p FROM c
)
SELECT tr.key, count(*) AS n_transitions,
       round(avg(-ln(p.p)), 4) AS surprise
FROM tr JOIN p ON tr.f = p.f AND tr.tt = p.tt
GROUP BY tr.key
"""


@query("e160_sequence_surprise", _E160_ORACLE)
def e160_sequence_surprise(spark, sf_dir):
    from pivot_spark.operators.analytics import sequence_surprise

    ev = _read(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    out = sequence_surprise(ev, "user_id", "event_type", ["ts", "event_id"])
    return out.select(
        F.col("key"), "n_transitions", F.round("surprise", 4).alias("surprise")
    )


# --- E161: within-source redundancy audit — deterministic k-per-group
# md5 sample (e52), all within-group sample pairs by shingle Jaccard
# (pair cost bounded at k(k-1)/2 per feed regardless of feed size).
# Oracle: same sample ranks + pairwise list algebra.
_E161_ORACLE = r"""
WITH ranked AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('div:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS r
  FROM documents
), sampled AS (
  SELECT doc_id, source, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(lower(text),'\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(lower(text),'\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS g
  FROM ranked WHERE r <= 10
), nd AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), pairs AS (
  SELECT a.source,
         len(list_intersect(a.g, b.g))::DOUBLE /
         (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS j
  FROM sampled a JOIN sampled b
    ON a.source = b.source AND a.doc_id < b.doc_id
), per AS (
  SELECT source, count(*) AS n_pairs, avg(j) AS mj, max(j) AS xj
  FROM pairs GROUP BY 1
)
SELECT nd.source, nd.n_docs, coalesce(per.n_pairs, 0) AS n_pairs,
       round(per.mj, 4) AS mean_jaccard, round(per.xj, 4) AS max_jaccard
FROM nd LEFT JOIN per USING (source)
"""


@query("e161_source_diversity", _E161_ORACLE)
def e161_source_diversity(spark, sf_dir):
    from pivot_spark.operators.chunk_dedup import source_diversity

    d = _read(spark, sf_dir, "documents")
    out = source_diversity(d, "doc_id", "source", "text", sample_k=10)
    return out.select(
        "source", "n_docs", "n_pairs",
        F.round("mean_jaccard", 4).alias("mean_jaccard"),
        F.round("max_jaccard", 4).alias("max_jaccard"),
    )


# --- E162: near-dup graph degree distribution + power-law MLE
# (Clauset/Shalizi/Newman 2009, d_min = 1) — the shape audit before
# per-node iterations. Oracle: Jaccard edge CTE + the same algebra.
_E162_ORACLE = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.grams, b.grams))::DOUBLE /
        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
), ed AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
), deg AS (
  SELECT a, count(*) AS d FROM ed GROUP BY 1
), hist AS (
  SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY 1
), tot AS (
  SELECT count(*) AS n, max(d) AS max_degree, sum(ln(d::DOUBLE)) AS slog FROM deg
)
SELECT degree, n_nodes,
       round(n_nodes / CAST(n AS DOUBLE), 4) AS share,
       round(CASE WHEN slog > 0 THEN 1.0 + n / slog END, 4) AS alpha,
       n AS n_nodes_total, max_degree
FROM hist, tot
"""


@query("e162_degree_stats", _E162_ORACLE)
def e162_degree_stats(spark, sf_dir):
    from pivot_spark.operators.components import degree_stats

    d = _read(spark, sf_dir, "documents")
    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    out = degree_stats(edges)
    return out.select(
        "degree", "n_nodes",
        F.round("share", 4).alias("share"),
        F.round("alpha", 4).alias("alpha"),
        "n_nodes_total", "max_degree",
    )


# --- E163: DAU / rolling-7-day-WAU stickiness — the exact-distinct
# engagement table (WAU is NOT a sum of DAUs): distinct (day, user)
# collapse, scan-stage window fan-out, distinct count per window end.
# Replayed with the same two-stage distinct algebra.
_E163_ORACLE = """
WITH du AS (
  SELECT DISTINCT floor(epoch_us(ts) / 1000000 / 86400) AS day, user_id AS u
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), dau AS (
  SELECT day, count(*) AS dau FROM du GROUP BY 1
), span AS (
  SELECT DISTINCT du.day + t.o AS day, du.u
  FROM du, LATERAL unnest(range(0, 7)) AS t(o)
), wau AS (
  SELECT s.day, count(*) AS wau
  FROM span s JOIN (SELECT day FROM dau) d USING (day)
  GROUP BY 1
)
SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau,
       round(dau.dau / CAST(wau.wau AS DOUBLE), 4) AS stickiness
FROM dau JOIN wau USING (day)
"""


@query("e163_rolling_active", _E163_ORACLE)
def e163_rolling_active(spark, sf_dir):
    from pivot_spark.operators.analytics import rolling_active_users

    ev = _read(spark, sf_dir, "events")
    out = rolling_active_users(ev, "user_id", "ts", window_days=7)
    return out.select(
        "day", "dau", "wau", F.round("stickiness", 4).alias("stickiness")
    )


# --- E164: index-of-dispersion burstiness test per event type —
# bucket counts densified over each group's span (zero buckets count),
# VMR + chi2 against the Poisson null. Replayed with generate_series.
_E164_ORACLE = """
WITH base AS (
  SELECT event_type AS grp,
         CAST(floor(epoch_us(ts) / 1000000 / 86400) AS BIGINT) AS b
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
), counts AS (
  SELECT grp, b, count(*) AS c FROM base GROUP BY 1, 2
), span AS (
  SELECT grp, min(b) AS lo, max(b) AS hi FROM counts GROUP BY 1
), dense AS (
  SELECT span.grp, t.b FROM span,
       LATERAL unnest(generate_series(span.lo, span.hi)) AS t(b)
), filled AS (
  SELECT d.grp, coalesce(c.c, 0) AS c
  FROM dense d LEFT JOIN counts c ON d.grp = c.grp AND d.b = c.b
), a AS (
  SELECT grp, count(*) AS n_buckets, avg(c) AS mean_per_bucket,
         var_samp(c::DOUBLE) AS v
  FROM filled GROUP BY 1
)
SELECT grp AS event_type, n_buckets, round(mean_per_bucket, 4) AS mean_per_bucket,
       round(v / mean_per_bucket, 4) AS vmr,
       round((n_buckets - 1) * v / mean_per_bucket, 4) AS chi2,
       n_buckets - 1 AS df
FROM a
"""


@query("e164_dispersion", _E164_ORACLE)
def e164_dispersion(spark, sf_dir):
    from pivot_spark.operators.analytics import dispersion_test

    ev = _read(spark, sf_dir, "events")
    out = dispersion_test(ev, "event_type", "ts", bucket_seconds=86400)
    return out.select(
        "event_type", "n_buckets",
        F.round("mean_per_bucket", 4).alias("mean_per_bucket"),
        F.round("vmr", 4).alias("vmr"),
        F.round("chi2", 4).alias("chi2"),
        "df",
    )


# --- E165: inter-arrival time distribution per event type — mean gap,
# CV (=1 under Poisson), exact p50/p90: one lag window per (type,
# user) + one type aggregate. Replayed with lag + quantile_cont.
_E165_ORACLE = """
WITH g AS (
  SELECT event_type AS grp,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY event_type, user_id ORDER BY epoch_us(ts), event_id))
           / 1000000.0 AS gap
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
), f AS (
  SELECT grp, gap FROM g WHERE gap IS NOT NULL
)
SELECT grp AS event_type, count(*) AS n_gaps,
       round(avg(gap), 4) AS mean_gap_s,
       round(stddev_pop(gap) / avg(gap), 4) AS cv,
       round(quantile_cont(gap, 0.5), 4) AS p50_s,
       round(quantile_cont(gap, 0.9), 4) AS p90_s
FROM f GROUP BY 1
"""


@query("e165_interarrival", _E165_ORACLE)
def e165_interarrival(spark, sf_dir):
    from pivot_spark.operators.analytics import interarrival_stats

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    out = interarrival_stats(ev, "event_type", "user_id", "ts", "event_id")
    return out.select(
        "event_type", "n_gaps",
        F.round("mean_gap_s", 4).alias("mean_gap_s"),
        F.round("cv", 4).alias("cv"),
        F.round("p50_s", 4).alias("p50_s"),
        F.round("p90_s", 4).alias("p90_s"),
    )


# --- E166: per-document lexical novelty — fraction of tokens that are
# corpus hapax legomena / rare (freq <= 10): the e154 type counts
# joined back onto the exploded tokens, one doc aggregate. Replayed
# join-for-join.
_E166_ORACLE = r"""
WITH pairs AS (
  SELECT doc_id, t.tok FROM documents,
       LATERAL unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  w -> w <> '')) AS t(tok)
), c AS (
  SELECT tok, count(*) AS n FROM pairs GROUP BY 1
)
SELECT p.doc_id, count(*) AS n_tokens,
       round(avg(CASE WHEN c.n = 1 THEN 1.0 ELSE 0.0 END), 4) AS hapax_frac,
       round(avg(CASE WHEN c.n <= 10 THEN 1.0 ELSE 0.0 END), 4) AS rare_frac
FROM pairs p JOIN c USING (tok)
GROUP BY 1
"""


@query("e166_hapax_novelty", _E166_ORACLE)
def e166_hapax_novelty(spark, sf_dir):
    from pivot_spark.functions.text import hapax_novelty

    d = _read(spark, sf_dir, "documents")
    out = hapax_novelty(d, "doc_id", "text")
    return out.select(
        "doc_id", "n_tokens",
        F.round("hapax_frac", 4).alias("hapax_frac"),
        F.round("rare_frac", 4).alias("rare_frac"),
    )


# --- E167: effective-dataset-size report — per-source raw vs
# surviving tokens under keep-first span dedup (the budget table a
# mixture plan should consume instead of raw counts). Oracle: the e133
# pipeline + one source aggregate.
_E167_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents
), pw AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
         array_to_string(w[t.i:t.i+4], ' ') AS gram
  FROM toks, LATERAL unnest(range(1, len(w) - 3)) AS t(i)
  WHERE len(w) >= 5
), mk AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
    FROM pw
  ) WHERE rn > 1
), remp AS (
  SELECT DISTINCT doc_id, CAST(t.p AS INTEGER) AS p
  FROM mk, LATERAL unnest(range(pos, pos + 5)) AS t(p)
), rem AS (
  SELECT doc_id, count(*) AS n_removed FROM remp GROUP BY 1
), per AS (
  SELECT t.source, len(t.w) AS n_tokens, coalesce(r.n_removed, 0) AS n_removed
  FROM toks t LEFT JOIN rem r USING (doc_id)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(sum(n_tokens - n_removed) AS BIGINT) AS effective_tokens,
       CAST(sum(n_removed) AS BIGINT) AS removed_tokens,
       round(sum(n_removed) / CAST(sum(n_tokens) AS DOUBLE), 4) AS savings_frac
FROM per GROUP BY 1
"""


@query("e167_dedup_savings", _E167_ORACLE)
def e167_dedup_savings(spark, sf_dir):
    from pivot_spark.operators.spans import dedup_savings_report

    d = _read(spark, sf_dir, "documents")
    out = dedup_savings_report(d, "doc_id", "source", "text", k=5)
    return out.select(
        "source", "n_docs", "raw_tokens", "effective_tokens", "removed_tokens",
        F.round("savings_frac", 4).alias("savings_frac"),
    )


# --- E168: REAL image format decode (PPM/P6) without PIL — fabricate
# genuine P6 files from document text (ASCII corpus, verified), then
# parse width/height/maxval from the bytes and compute exact per-channel
# means in a scan-stage Arrow kernel (operators/codecs.py).
# Oracle replays the same bytes as character codes.
_E168_ORACLE = """
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(3 + doc_id % 4 AS INTEGER) AS h,
         rpad(substring(text, 1, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER)),
              CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER), ' ') AS p
  FROM documents
)
SELECT doc_id, w AS width, h AS height, CAST(255 AS INTEGER) AS maxval,
       CAST(length('P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10))
            + w * h * 3 AS BIGINT) AS n_bytes,
       round(list_avg(list_transform(range(0, w * h),
             i -> ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1)))), 4) AS mean_r,
       round(list_avg(list_transform(range(0, w * h),
             i -> ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1)))), 4) AS mean_g,
       round(list_avg(list_transform(range(0, w * h),
             i -> ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1)))), 4) AS mean_b
FROM img
"""


@query("e168_ppm_decode", _E168_ORACLE)
def e168_ppm_decode(spark, sf_dir):
    from pivot_spark.operators.codecs import decode_ppm, make_ppm

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.encode(F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    out = decode_ppm(img)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.maxval").alias("maxval"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


# --- E169: REAL BMP decode (24-bit BITMAPINFOHEADER) — genuine BMP
# bytes (little-endian header, BGR, bottom-up rows, 4-byte row padding:
# w=5 forces a 1-byte pad per row), decoded back by pure byte
# arithmetic. Channel means are padding/row-order invariant (the
# per-channel byte multiset is unchanged), so the oracle averages the
# source characters directly.
_E169_W, _E169_H = 5, 4  # stride 16 (pad 1), img 64, file 118 bytes


_E169_ORACLE = f"""
WITH img AS (
  SELECT doc_id,
         rpad(substring(text, 1, {_E169_W * _E169_H * 3}),
              {_E169_W * _E169_H * 3}, ' ') AS p
  FROM documents
)
SELECT doc_id,
       CAST({_E169_W} AS INTEGER) AS width, CAST({_E169_H} AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp, CAST(54 AS INTEGER) AS data_offset,
       CAST(54 + {((3 * _E169_W + 3) // 4 * 4) * _E169_H} AS BIGINT) AS n_bytes,
       round(list_avg(list_transform(range(0, {_E169_W * _E169_H}),
             i -> ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1)))), 4) AS mean_b,
       round(list_avg(list_transform(range(0, {_E169_W * _E169_H}),
             i -> ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1)))), 4) AS mean_g,
       round(list_avg(list_transform(range(0, {_E169_W * _E169_H}),
             i -> ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1)))), 4) AS mean_r
FROM img
"""


@query("e169_bmp_decode", _E169_ORACLE)
def e169_bmp_decode(spark, sf_dir):
    from pivot_spark.operators.codecs import decode_bmp, make_bmp

    need = _E169_W * _E169_H * 3
    d = _read(spark, sf_dir, "documents").withColumn(
        "p", F.encode(F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')"), "UTF-8")
    )
    img = d.select(
        "doc_id", make_bmp(_E169_W, _E169_H, F.col("p")).alias("image")
    )
    out = decode_bmp(img)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.bpp").alias("bpp"),
        F.col("meta.data_offset").alias("data_offset"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_r", 4).alias("mean_r"),
    )


# --- E170: REAL audio decode (WAV/PCM-16) — genuine RIFF/WAVE files
# (stdlib-wave canonical layout) fabricated from document text as
# signed 16-bit LE samples, then header + exact per-channel mean/RMS
# parsed back by a scan-stage Arrow kernel (operators/codecs.py). Sample
# i is built from char pair (2i, 2i+1): v = c0 + 256*c1, signed. ASCII
# chars < 128 keep v < 32768, so the oracle needs no sign branch.
_E170_N = 30  # samples per doc (60 payload bytes)

_E170_ORACLE = f"""
WITH au AS (
  SELECT doc_id,
         rpad(substring(text, 1, {2 * _E170_N}), {2 * _E170_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {_E170_N}),
           i -> ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
              + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1))) AS v
  FROM au
)
SELECT doc_id,
       CAST(1 AS INTEGER) AS n_channels, CAST(8000 AS INTEGER) AS sample_rate,
       CAST({_E170_N} AS BIGINT) AS n_samples,
       round({_E170_N} / 8000.0, 4) AS duration_s,
       CAST({44 + 2 * _E170_N} AS BIGINT) AS n_bytes,
       round(list_avg(v), 4) AS mean_ch0,
       round(sqrt(list_avg(list_transform(v, x -> CAST(x AS DOUBLE) * x))), 4) AS rms_ch0
FROM sm
"""


@query("e170_wav_decode", _E170_ORACLE)
def e170_wav_decode(spark, sf_dir):
    from pivot_spark.operators.codecs import decode_wav, make_wav

    need = 2 * _E170_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "p", F.encode(F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')"), "UTF-8")
    )
    au = d.select("doc_id", make_wav(1, 8000, F.col("p")).alias("audio"))
    out = decode_wav(au)
    return out.select(
        "doc_id",
        F.col("meta.n_channels").alias("n_channels"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_samples").alias("n_samples"),
        F.round("meta.duration_s", 4).alias("duration_s"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_ch0", 4).alias("mean_ch0"),
        F.round("rms_ch0", 4).alias("rms_ch0"),
    )


# --- E171: HTML -> text extraction (WET-style crawl curation). The
# documents table is plain text, so each doc is first wrapped in a
# deterministic HTML5 shell (title/style/script/comment/nav/footer
# boilerplate, entities, sentence-per-<p>) by an expression shared
# verbatim between both engines — the codec-query pattern (e168-e170)
# applied to markup. The operator under test is functions/web.py:
# strip_html / html_title / link_density, regex passes written in the
# Java-regex AND RE2 common subset (no backreferences/lookarounds).
_E171_BUILD = """
'<html><head><title>Doc ' || doc_id || ' &amp; ' || source ||
'</title><style>p{margin:0}</style><script>track("' || doc_id ||
'")</script></head><body><!-- id ' || doc_id ||
' --><nav><a href="/">Home</a><a href="/' || source || '">' || source ||
'</a></nav><h1>Doc ' || doc_id || '</h1><p>' ||
replace(text, '. ', '.</p><p>') ||
'</p><footer><a href="/contact">Contact &amp; Imprint</a></footer></body></html>'
"""


def _duck_strip(x: str) -> str:
    """DuckDB replica of functions.web.strip_html — regex passes and
    entity table SPLICED FROM functions/web.py (the patterns live in the
    Java-regex/RE2 common subset, so the same strings mean the same
    thing in both engines and the replica cannot drift), same order,
    'g' flags (DuckDB replaces first match only by default)."""
    from pivot_spark.functions import web as _w

    ent = x
    for pat, rep in (
        (_w._COMMENT_RE, "''"),
        (_w._SCRIPT_RE, "''"),
        (_w._STYLE_RE, "''"),
        (_w._BLOCK_RE, "chr(10)"),
        (_w._TAG_RE, "''"),
    ):
        ent = f"regexp_replace({ent}, '{pat}', {rep}, 'g')"
    for e, r in _w.ENTITIES:
        rep = "chr(39)" if r == "'" else "'" + r.replace("'", "''") + "'"
        ent = f"replace({ent}, '{e}', {rep})"
    return f"trim(regexp_replace({ent}, '\\s+', ' ', 'g'))"


_E171_ANCHORS = (
    "array_to_string(regexp_extract_all(h, '(?is)<a[^>]*>(.*?)</a>', 1), ' ')"
)
_E171_ORACLE = f"""
WITH pages AS (SELECT doc_id, {_E171_BUILD} AS h FROM documents)
SELECT doc_id,
       trim(replace(replace(replace(replace(replace(replace(
         regexp_replace(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1),
                        '<[^>]*>', '', 'g'),
         '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         '&#39;', chr(39)), '&amp;', '&')) AS title,
       {_duck_strip('h')} AS text,
       round(coalesce(CAST(length({_duck_strip(_E171_ANCHORS)}) AS DOUBLE)
                      / nullif(length({_duck_strip('h')}), 0), 0.0),
             4) AS link_density,
       length({_duck_strip('h')}) AS n_chars
FROM pages
"""


@query("e171_html_extract", _E171_ORACLE)
def e171_html_extract(spark, sf_dir):
    from pivot_spark.functions.web import html_title, link_density, strip_html

    pages = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_E171_BUILD.strip()).alias("h")
    )
    return pages.select(
        "doc_id",
        html_title(F.col("h")).alias("title"),
        strip_html(F.col("h")).alias("text"),
        F.round(link_density(F.col("h")), 4).alias("link_density"),
        F.length(strip_html(F.col("h"))).cast("long").alias("n_chars"),
    )


# --- E172: encoding-damage screen (mojibake / binary spill). The clean
# ASCII corpus is deterministically damaged per doc_id (U+00E9/U+00A9
# tails, BEL/SOH control bytes) with a shared expression, then scored
# by scan-stage ratio functions — the keep/drop gate a crawl pipeline
# runs before any tokenization.
_E172_BUILD = """
text || CASE WHEN doc_id % 5 = 0 THEN chr(233) || chr(169) ELSE '' END
     || CASE WHEN doc_id % 7 = 0 THEN chr(7) || chr(1) ELSE '' END
"""
_E172_ORACLE = f"""
WITH d AS (SELECT doc_id, {_E172_BUILD} AS t FROM documents)
SELECT doc_id,
       round(coalesce(CAST(length(regexp_replace(t, '[ -~\\t\\n\\r]', '', 'g'))
                           AS DOUBLE) / nullif(length(t), 0), 0.0), 4)
         AS non_ascii_ratio,
       length(t) - length(regexp_replace(
         t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS ctrl_chars,
       (length(t) - length(regexp_replace(
          t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'))) = 0
         AND coalesce(CAST(length(regexp_replace(t, '[ -~\\t\\n\\r]', '', 'g'))
                           AS DOUBLE) / nullif(length(t), 0), 0.0) < 0.005
         AS keep
FROM d
"""


@query("e172_encoding_screen", _E172_ORACLE)
def e172_encoding_screen(spark, sf_dir):
    from pivot_spark.functions.web import ctrl_char_count, non_ascii_ratio

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_E172_BUILD.strip()).alias("t")
    )
    nar_raw = non_ascii_ratio(F.col("t"))  # keep gates on the RAW ratio
    cc = ctrl_char_count(F.col("t")).cast("long")
    return d.select(
        "doc_id",
        F.round(nar_raw, 4).alias("non_ascii_ratio"),
        cc.alias("ctrl_chars"),
        ((cc == 0) & (nar_raw < 0.005)).alias("keep"),
    )


# --- E173: URL canonicalization (crawl-frontier / URL-dedup key).
# Messy absolute URLs are constructed deterministically per doc (mixed
# case, default ports, tracking params, fragments, unsorted query) by a
# shared expression, then canonicalized by functions.web.normalize_url;
# the oracle replicates the normalization pass-for-pass (scheme+host
# lowercase only — path case preserved per RFC 3986, default port by
# scheme, tracking-param filter, param sort, fragment drop).
_E173_BUILD = """
'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END ||
'://WWW.' || source || '.Example.COM' ||
CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END ||
CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/Articles/' || doc_id END ||
'?utm_source=feed&id=' || doc_id || '&b=2&a=1' ||
CASE WHEN doc_id % 4 = 0 THEN '&fbclid=XYZ' ELSE '' END ||
'#sec-' || doc_id
"""


def _e173_oracle() -> str:
    from pivot_spark.functions.web import TRACKING_PARAM_RE

    scheme = "lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = (
        "lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2))"
    )
    host = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '') "
        f"WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '') "
        f"ELSE {hostport} END"
    )
    path0 = (
        "regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2)"
    )
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    params = (
        "list_sort(list_filter(string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')))"
    )
    # empty-safe by construction: DuckDB array_to_string([]) is NULL
    # (not ''), which would poison the '?' || q concat for any URL with
    # zero surviving params (round-6 verdict item 1c)
    q = f"coalesce(array_to_string({params}, '&'), '')"
    canon = (
        f"{scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END"
    )
    return f"""
WITH urls AS (SELECT doc_id, {_E173_BUILD} AS u FROM documents)
SELECT doc_id, {canon} AS url_norm, {host} AS host,
       CAST(len({params}) AS INT) AS n_params
FROM urls
"""


@query("e173_url_normalize", _e173_oracle())
def e173_url_normalize(spark, sf_dir):
    from pivot_spark.functions.web import (
        TRACKING_PARAM_RE,
        normalize_url,
        url_host,
    )

    urls = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_E173_BUILD.strip()).alias("u")
    )
    scheme = F.lower(F.regexp_extract(F.col("u"), r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = url_host(F.col("u"))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport)
    )
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(F.col("u"), r"\?([^#]*)", 1), "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
        )
    )
    return urls.select(
        "doc_id",
        normalize_url(F.col("u")).alias("url_norm"),
        host.alias("host"),
        F.size(params).alias("n_params"),
    )


# --- E174: audio screening features (ZCR / peak / crest / silence) over
# REAL PCM-16 WAVs whose samples are genuinely SIGNED (chars with odd
# codes negate their sample), so the decoder's two's-complement sign
# branch — which e170's all-positive payload never reaches — and the
# crossing logic are both oracle-exercised. Sample i is built from char
# pair (2i, 2i+1): v = c0 + 256*c1, negated when c0 is odd.
_E174_N = 24


def _e174_payload(col_name: str = "pp", n: int = _E174_N) -> "F.Column":
    """Two's-complement LE PCM-16 payload from text chars.

    ONE ``F.expr`` whose per-sample arithmetic lives in a single
    ``transform`` lambda body (bytes come out as hex pairs, joined and
    un-hexed once): the old unrolled form repeated the ~20-node sample
    tree 2n times inside one concat, and ANALYZING that ~5k-node tree
    cost ~1s of driver time on every build of every audio query (seven
    queries share this builder, x3 bench reps each). The lambda emits
    the identical byte arithmetic (same SQL text per sample), so the
    payload bytes are unchanged — parity-pinned by
    tests/test_codecs.py::test_e174_payload_transform_parity."""
    c0 = f"ascii(substring({col_name}, CAST(1 + 2 * ipay AS INT), 1))"
    c1 = f"ascii(substring({col_name}, CAST(2 + 2 * ipay AS INT), 1))"
    v = f"({c0} + 256 * {c1})"
    signed = f"(CASE WHEN {c0} % 2 = 1 THEN -{v} ELSE {v} END)"
    stored = f"pmod({signed}, 65536)"
    hex2 = (
        f"concat(lpad(hex(pmod({stored}, 256)), 2, '0'),"
        f" lpad(hex(CAST(floor({stored} / 256) AS INT)), 2, '0'))"
    )
    return F.expr(
        f"unhex(array_join(transform(sequence(0, {n - 1}), ipay -> {hex2}), ''))"
    )


_E174_ORACLE = f"""
WITH au AS (
  SELECT doc_id, rpad(substring(text, 1, {2 * _E174_N}), {2 * _E174_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {_E174_N}), i ->
           (ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
            + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1)))
           * (CASE WHEN ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1)) % 2 = 1
                   THEN -1 ELSE 1 END)) AS v
  FROM au
)
SELECT doc_id,
       CAST({_E174_N} AS BIGINT) AS n_samples,
       round(len(list_filter(range(1, {_E174_N}), i -> v[i] * v[i + 1] < 0))
             / {_E174_N - 1}.0, 4) AS zcr,
       CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak,
       round(list_max(list_transform(v, x -> abs(x)))
             / sqrt(list_avg(list_transform(v, x -> CAST(x AS DOUBLE) * x))), 4) AS crest,
       round(len(list_filter(v, x -> abs(x) < 4096)) / {_E174_N}.0, 4) AS silence_frac
FROM sm
"""


@query("e174_audio_features", _E174_ORACLE)
def e174_audio_features(spark, sf_dir):
    """The cheap screens a speech-curation pipeline runs before any
    model: zero-crossing rate, peak, crest factor, silence fraction —
    one vectorized pass per file (operators/codecs.py::wav_features)."""
    from pivot_spark.operators.codecs import make_wav, wav_features

    need = 2 * _E174_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    au = d.select(
        "doc_id", make_wav(1, 8000, _e174_payload("pp")).alias("audio")
    )
    out = wav_features(au, silence_abs=4096)
    return out.select(
        "doc_id",
        "n_samples",
        F.round("zcr", 4).alias("zcr"),
        "peak",
        F.round("crest", 4).alias("crest"),
        F.round("silence_frac", 4).alias("silence_frac"),
    )


# --- E175: blank/low-information image screen — Rec.601 luma stats in
# INTEGER space (luma1000 = 299R + 587G + 114B) over the e168 PPM
# corpus; every 7th doc's payload is a solid color so BOTH is_blank
# branches carry rows. The std threshold compares the 4-decimal-rounded
# value on both sides (no ulp ties).
_E175_ORACLE = """
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(3 + doc_id % 4 AS INTEGER) AS h,
         CASE WHEN doc_id % 7 = 0
              THEN repeat('x', CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER))
              ELSE rpad(substring(text, 1, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER)),
                        CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER), ' ') END AS p
  FROM documents
), lm AS (
  SELECT doc_id,
         list_transform(range(0, w * h),
           i -> 299 * ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1))
              + 587 * ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1))
              + 114 * ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1))) AS l
  FROM img
)
SELECT doc_id,
       floor(list_avg(l) / 1000.0 * 10000 + 0.5) / 10000 AS luma_mean,
       floor(sqrt(greatest(0.0, list_avg(list_transform(l, x -> CAST(x AS DOUBLE) * x))
                  - list_avg(l) * list_avg(l))) / 1000.0 * 10000 + 0.5) / 10000 AS luma_std,
       round(list_min(l) / 1000.0, 4) AS luma_min,
       round(list_max(l) / 1000.0, 4) AS luma_max,
       floor(sqrt(greatest(0.0, list_avg(list_transform(l, x -> CAST(x AS DOUBLE) * x))
                  - list_avg(l) * list_avg(l))) / 1000.0 * 10000 + 0.5) / 10000 < 5.0 AS is_blank
FROM lm
"""


@query("e175_image_stats", _E175_ORACLE)
def e175_image_stats(spark, sf_dir):
    """Blank-frame screen over real P6 bytes: per-pixel integer luma
    -> mean/std/min/max + is_blank
    (operators/codecs.py::ppm_luma_stats)."""
    from pivot_spark.operators.codecs import make_ppm, ppm_luma_stats

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.encode(F.expr("repeat('x', w*h*3)"), "UTF-8"),
            ).otherwise(
                F.encode(
                    F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"
                )
            ),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    out = ppm_luma_stats(img, blank_std=5.0)
    return out.select(
        "doc_id",
        (F.floor(F.col("luma_mean") * 10000 + 0.5) / 10000).alias("luma_mean"),
        F.col("luma_std").alias("luma_std"),
        F.round("luma_min", 4).alias("luma_min"),
        F.round("luma_max", 4).alias("luma_max"),
        "is_blank",
    )


# --- E176: per-site boilerplate-line removal (group-RELATIVE document
# frequency, the CCNet-per-shard semantics — e92 line_dedup's global
# absolute threshold can't strip a banner that is rare corpus-wide but
# universal within one site). Lines are fabricated with the shared
# regexp (e55 pattern); per-source banners are injected at 100% / ~90%
# / ~20% coverage so removal and retention branches both carry rows.
_E176_LINE_RE = r"((\S+\s+){6}\S+)\s+"

_E176_ORACLE = r"""
WITH aug AS (
  SELECT doc_id, source,
         regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1' || chr(10), 'g')
         || chr(10) || 'subscribe to the ' || source || ' newsletter'
         || CASE WHEN doc_id % 10 <> 3
                 THEN chr(10) || 'follow ' || source || ' weekly digest' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'copyright ' || source ELSE '' END AS t
  FROM documents
), docs2 AS (
  SELECT doc_id, source,
         list_filter(string_split(t, chr(10)), l -> l <> '') AS lines
  FROM aug
), expl AS (
  SELECT DISTINCT doc_id, source, u.l AS line
  FROM docs2, LATERAL unnest(lines) AS u(l)
), gd AS (
  SELECT source, count(DISTINCT doc_id) AS gdocs FROM documents GROUP BY 1
), bl AS (
  SELECT source, list(line) AS blines FROM (
    SELECT e.source, e.line
    FROM expl e JOIN gd g USING (source)
    GROUP BY e.source, e.line, g.gdocs
    HAVING count(*) >= 2 AND CAST(count(*) AS DOUBLE) >= CAST(g.gdocs AS DOUBLE) * 0.6
  ) GROUP BY 1
), cln AS (
  SELECT d.doc_id, d.lines,
         CASE WHEN b.blines IS NULL THEN d.lines
              ELSE list_filter(d.lines, l -> NOT list_contains(b.blines, l)) END AS k
  FROM docs2 d LEFT JOIN bl b USING (source)
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(lines) - len(k) AS BIGINT) AS n_removed,
       coalesce(array_to_string(k, chr(10)), '') AS clean_text
FROM cln
"""


@query("e176_boilerplate_lines", _E176_ORACLE)
def e176_boilerplate_lines(spark, sf_dir):
    """Per-site banner stripping: (group, line-hash) doc-frequency agg +
    broadcast group sizes + left_anti probe — line text never shuffles
    on the probe side (operators/quality.py::strip_boilerplate_lines)."""
    from pivot_spark.operators.quality import strip_boilerplate_lines

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "text")
    d = F.col("doc_id")
    aug = F.concat(
        F.regexp_replace("text", _E176_LINE_RE, "$1\n"),
        F.lit("\nsubscribe to the "), F.col("source"), F.lit(" newsletter"),
        F.when(
            d % 10 != 3,
            F.concat(F.lit("\nfollow "), F.col("source"), F.lit(" weekly digest")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0, F.concat(F.lit("\ncopyright "), F.col("source"))
        ).otherwise(F.lit("")),
    )
    out = strip_boilerplate_lines(
        docs.select("doc_id", "source", aug.alias("text")),
        min_frac=0.6,
        min_docs=2,
    )
    return out.select("doc_id", "n_lines", "n_removed", "clean_text")


# --- E177: nearest-neighbor thumbnail resize producing REAL resized P6
# bytes, then decoded BACK through decode_ppm — the full
# decode->resize->re-encode->decode roundtrip runs through genuine
# files. NN convention: out (x,y) copies src (floor(x*w/W), floor(y*h/H)).
def _e177_chan(c: int) -> str:
    terms = []
    for y in ("0", "(h // 2)"):
        for x in ("0", "(w // 2)"):
            terms.append(
                f"ascii(substring(p, CAST(1 + ({y} * w + {x}) * 3 + {c} AS INTEGER), 1))"
            )
    return "round((" + " + ".join(terms) + ") / 4.0, 4)"


_E177_ORACLE = f"""
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(3 + doc_id % 4 AS INTEGER) AS h,
         rpad(substring(text, 1, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER)),
              CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER), ' ') AS p
  FROM documents
)
SELECT doc_id,
       CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
       CAST(23 AS BIGINT) AS n_bytes,
       {_e177_chan(0)} AS mean_r,
       {_e177_chan(1)} AS mean_g,
       {_e177_chan(2)} AS mean_b
FROM img
"""


@query("e177_image_resize", _E177_ORACLE)
def e177_image_resize(spark, sf_dir):
    """2x2 NN thumbnails of the e168 PPM corpus as real P6 files,
    verified by decoding the RESIZED bytes
    (operators/codecs.py::ppm_resize_nn)."""
    from pivot_spark.operators.codecs import decode_ppm, make_ppm, ppm_resize_nn

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.encode(F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    rs = ppm_resize_nn(img, 2, 2).select(
        "doc_id", F.col("resized").alias("image")
    )
    out = decode_ppm(rs)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


# --- E178: audio rate normalization — integer decimation emitting REAL
# WAV bytes (every 3rd frame of the e174 signed corpus, 8000 -> 2666 Hz),
# verified by decoding the DOWNSAMPLED file (decode->transform->
# re-encode->decode roundtrip, the audio twin of e177).
_E178_F = 3

_E178_ORACLE = f"""
WITH au AS (
  SELECT doc_id, rpad(substring(text, 1, {2 * _E174_N}), {2 * _E174_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {_E174_N // _E178_F}), j ->
           (ascii(substring(p, CAST(1 + j * {2 * _E178_F} AS INTEGER), 1))
            + 256 * ascii(substring(p, CAST(2 + j * {2 * _E178_F} AS INTEGER), 1)))
           * (CASE WHEN ascii(substring(p, CAST(1 + j * {2 * _E178_F} AS INTEGER), 1)) % 2 = 1
                   THEN -1 ELSE 1 END)) AS v
  FROM au
)
SELECT doc_id,
       CAST(1 AS INTEGER) AS n_channels,
       CAST({8000 // _E178_F} AS INTEGER) AS sample_rate,
       CAST({_E174_N // _E178_F} AS BIGINT) AS n_samples,
       CAST({44 + 2 * (_E174_N // _E178_F)} AS BIGINT) AS n_bytes,
       round(list_avg(v), 4) AS mean_ch0,
       round(sqrt(list_avg(list_transform(v, x -> CAST(x AS DOUBLE) * x))), 4) AS rms_ch0
FROM sm
"""


@query("e178_audio_downsample", _E178_ORACLE)
def e178_audio_downsample(spark, sf_dir):
    """Decimate-by-3 the signed e174 WAV corpus into genuine 2666 Hz
    PCM-16 files and decode the RESULT
    (operators/codecs.py::wav_downsample)."""
    from pivot_spark.operators.codecs import decode_wav, make_wav, wav_downsample

    need = 2 * _E174_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    au = d.select(
        "doc_id", make_wav(1, 8000, _e174_payload("pp")).alias("audio")
    )
    ds = wav_downsample(au, _E178_F).select(
        "doc_id", F.col("downsampled").alias("audio")
    )
    out = decode_wav(ds)
    return out.select(
        "doc_id",
        F.col("meta.n_channels").alias("n_channels"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_samples").alias("n_samples"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_ch0", 4).alias("mean_ch0"),
        F.round("rms_ch0", 4).alias("rms_ch0"),
    )


# --- E179: grayscale conversion to a THIRD real Netpbm format — P6 in,
# genuine P5 PGM out (integer half-up Rec.601 luma per pixel), verified
# by decoding the converted file. Mean-gray round ties can only land on
# dyadic fractions here (n_px <= 56 forces the tie denominator to 32),
# which both engines round identically, so plain round(x, 4) is safe.
_E179_ORACLE = """
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(3 + doc_id % 4 AS INTEGER) AS h,
         rpad(substring(text, 1, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER)),
              CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER), ' ') AS p
  FROM documents
), gr AS (
  SELECT doc_id, w, h,
         list_transform(range(0, w * h),
           i -> (299 * ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1))
               + 587 * ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1))
               + 114 * ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1))
               + 500) // 1000) AS g
  FROM img
)
SELECT doc_id, w AS width, h AS height, CAST(255 AS INTEGER) AS maxval,
       CAST(length('P5' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10))
            + w * h AS BIGINT) AS n_bytes,
       round(list_avg(g), 4) AS mean_gray
FROM gr
"""


@query("e179_image_gray", _E179_ORACLE)
def e179_image_gray(spark, sf_dir):
    """P6 -> real P5 PGM grayscale conversion, decoded back
    (operators/codecs.py::ppm_to_pgm / decode_pgm)."""
    from pivot_spark.operators.codecs import decode_pgm, make_ppm, ppm_to_pgm

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.encode(F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    pgm = ppm_to_pgm(img).select("doc_id", F.col("gray").alias("image"))
    out = decode_pgm(pgm)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.maxval").alias("maxval"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_gray", 4).alias("mean_gray"),
    )


# --- E180: SEMANTIC decontamination — the embedding-space member of
# the decontamination family (e23 fingerprint / e38 n-gram / e75 Bloom
# are lexical and miss paraphrases). Benchmark = vec_id % 20 == 0;
# contamination is PLANTED by giving corpus rows vec_id % 20 == 1 their
# benchmark neighbor's vector, so both flag branches carry rows and the
# planted max_sim is exactly 1.0 (no threshold boundary ties).
_E180_ORACLE = """
WITH bench AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
), corp AS (
  SELECT e.vec_id, coalesce(b.embedding, e.embedding) AS embedding
  FROM embeddings e
  LEFT JOIN bench b ON b.vec_id = e.vec_id - 1 AND e.vec_id % 20 = 1
  WHERE e.vec_id % 20 <> 0
), sims AS (
  SELECT c.vec_id AS vec_id, b.vec_id AS bid,
         list_cosine_similarity(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
  FROM corp c, bench b
)
SELECT vec_id,
       round(max(cos), 4) AS max_sim,
       (min({'negcos': -cos, 'id': bid})).id AS match_id,
       max(cos) >= 0.99 AS contaminated
FROM sims GROUP BY vec_id
"""


@query("e180_semantic_decontam", _E180_ORACLE)
def e180_semantic_decontam(spark, sf_dir):
    """One corpus scan vs a broadcast benchmark matrix (GEMM per Arrow
    batch, no shuffle) — operators/similarity.py::semantic_decontaminate."""
    from pivot_spark.operators.similarity import semantic_decontaminate

    emb = _read(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    donors = bench.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("__dvec")
    )
    corp = (
        emb.filter(F.col("vec_id") % 20 != 0)
        .join(F.broadcast(donors), "vec_id", "left")
        .select("vec_id", F.coalesce("__dvec", "embedding").alias("embedding"))
    )
    out = semantic_decontaminate(corp, bench, threshold=0.99)
    return out.select(
        "vec_id",
        F.round("max_sim", 4).alias("max_sim"),
        "match_id",
        "contaminated",
    )


# --- E181: media format sniffing over a MIXED binary column — the
# routing pass a multimodal ingestion pipeline runs before any decoder.
# Each doc becomes one of four REAL file formats by doc_id % 4 (PPM /
# PGM / BMP / WAV, using the e168/e169/e170 build recipes), and
# sniff_media must classify every blob and surface the right metadata.
# Header parses only — no pixel folds — so the oracle is pure CASE
# arithmetic on the build parameters.
_E181_ORACLE = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'pgm'
                  WHEN 2 THEN 'bmp' ELSE 'wav' END AS format,
  CASE doc_id % 4 WHEN 0 THEN CAST(4 + doc_id % 5 AS INTEGER)
                  WHEN 1 THEN CAST(4 + doc_id % 5 AS INTEGER)
                  WHEN 2 THEN 5 ELSE NULL END AS width,
  CASE doc_id % 4 WHEN 0 THEN CAST(3 + doc_id % 4 AS INTEGER)
                  WHEN 1 THEN CAST(3 + doc_id % 4 AS INTEGER)
                  WHEN 2 THEN 4 ELSE NULL END AS height,
  CASE WHEN doc_id % 4 = 3 THEN 8000 ELSE NULL END AS sample_rate,
  CASE WHEN doc_id % 4 = 3 THEN CAST(30 AS BIGINT) ELSE NULL END AS n_samples,
  CASE doc_id % 4
    WHEN 0 THEN CAST(11 + 3 * (4 + doc_id % 5) * (3 + doc_id % 4) AS BIGINT)
    WHEN 1 THEN CAST(11 + (4 + doc_id % 5) * (3 + doc_id % 4) AS BIGINT)
    WHEN 2 THEN CAST(118 AS BIGINT)
    ELSE CAST(104 AS BIGINT) END AS n_bytes
FROM documents
"""


@query("e181_media_sniff", _E181_ORACLE)
def e181_media_sniff(spark, sf_dir):
    """Classify mixed real blobs and extract format-appropriate metadata
    in one whole-stage-codegen scan (operators/codecs.py::sniff_media)."""
    from pivot_spark.operators.codecs import (
        make_bmp,
        make_ppm,
        make_wav,
        sniff_media,
    )

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
    )
    did = F.col("doc_id")
    ppm = make_ppm(
        F.col("w"),
        F.col("h"),
        F.encode(F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"),
    )
    pgm = F.concat(
        F.encode(
            F.concat(
                F.lit("P5\n"), F.col("w").cast("string"), F.lit(" "),
                F.col("h").cast("string"), F.lit("\n255\n"),
            ),
            "UTF-8",
        ),
        F.encode(F.expr("rpad(substring(text, 1, w*h), w*h, ' ')"), "UTF-8"),
    )
    sixty = F.encode(F.expr("rpad(substring(text, 1, 60), 60, ' ')"), "UTF-8")
    blob = (
        F.when(did % 4 == 0, ppm)
        .when(did % 4 == 1, pgm)
        .when(did % 4 == 2, make_bmp(5, 4, sixty))
        .otherwise(make_wav(1, 8000, sixty))
    )
    out = sniff_media(d.select("doc_id", blob.alias("blob")))
    return out.select(
        "doc_id", "format", "width", "height",
        "sample_rate", "n_samples", "n_bytes",
    )


# --- E182: stereo->mono mixdown emitting REAL WAV bytes. The e174
# signed payload wrapped as a STEREO file (24 interleaved samples = 12
# L/R frames); mixed sample = floor((L + R) / 2) of the signed values.
# Verified by decoding the MIXED file (the channel-transform leg of the
# audio family, after e178's time-axis leg).
_E182_ORACLE = f"""
WITH au AS (
  SELECT doc_id, rpad(substring(text, 1, {2 * _E174_N}), {2 * _E174_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {_E174_N}), i ->
           (ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
            + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1)))
           * (CASE WHEN ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1)) % 2 = 1
                   THEN -1 ELSE 1 END)) AS v
  FROM au
), mx AS (
  SELECT doc_id,
         list_transform(range(1, {_E174_N // 2 + 1}),
           j -> CAST(floor((v[2 * j - 1] + v[2 * j]) / 2) AS BIGINT)) AS m
  FROM sm
)
SELECT doc_id,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST({_E174_N // 2} AS BIGINT) AS n_samples,
       CAST({44 + _E174_N} AS BIGINT) AS n_bytes,
       round(list_avg(m), 4) AS mean_ch0,
       round(sqrt(list_avg(list_transform(m, x -> CAST(x AS DOUBLE) * x))), 4) AS rms_ch0
FROM mx
"""
