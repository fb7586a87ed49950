"""Declared queries e208-e227: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from ._base import (F, _mined_pairs, _read, _read_spread, dedup_exact, query)  # noqa: F401
from ._q_p01_e28 import (_sample_threshold)  # noqa: F401
from ._q_e29_e62 import (_E54_DIM)  # noqa: F401
from ._q_e96_e125 import (_BPE_N, _e114_oracle)  # noqa: F401
from ._q_e156_e181 import (_E174_N, _e174_payload)  # noqa: F401
from ._q_e182_e207 import (_E208_BINS, _E208_ORACLE, _lang_guess_sql)  # noqa: F401



@query("e208_isotonic_calibration", _E208_ORACLE)
def e208_isotonic_calibration(spark, sf_dir):
    """Monotone score→probability map at corpus scale: one scan to
    bin, then pure relational algebra on a ≤bins² frame (no PAV loop,
    no driver state)."""
    from pivot_spark.operators.calibrate import isotonic_fit

    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    df = li.select(
        F.col("l_extendedprice").alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    out = isotonic_fit(df, "score", "y", bins=_E208_BINS)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "bin",
        r4("bin_lo").alias("bin_lo"),
        "n",
        r4("mean_label").alias("mean_label"),
        r4("fitted").alias("fitted"),
    )


# --- E209: per-node local clustering coefficient over the near-dup
# graph (components.py::local_clustering) — the node-level companion
# of e103's global census. Oracle: exact-Jaccard edge CTE (the e162
# device) + canonical a<b<c triangle join + per-corner attribution.
_E209_ORACLE = r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
), ed AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.grams, b.grams))::DOUBLE /
        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM ed UNION ALL SELECT b FROM ed
  ) GROUP BY v
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ed e1 JOIN ed e2 ON e1.b = e2.a
             JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
), pn AS (
  SELECT v, count(*) AS t FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY v
)
SELECT deg.v AS node, deg.d::BIGINT AS degree,
       coalesce(pn.t, 0)::BIGINT AS triangles,
       CASE WHEN deg.d >= 2
            THEN floor(2.0 * coalesce(pn.t, 0) / (deg.d * (deg.d - 1)) * 10000 + 0.5) / 10000
            ELSE 0.0 END AS lcc
FROM deg LEFT JOIN pn ON pn.v = deg.v
"""


@query("e209_local_clustering", _E209_ORACLE)
def e209_local_clustering(spark, sf_dir):
    """Triangle-density per node: separates cohesive duplicate
    communities from accidental candidate chains before keep-best."""
    from pivot_spark.operators.components import local_clustering

    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    out = local_clustering(edges)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        r4("lcc").alias("lcc"),
    )


# --- E210: Krippendorff's alpha (analytics.py::krippendorff_alpha) —
# the multi-rater agreement statistic over the long (unit, rating)
# frame built from the declared lang column + the e05 lang-ID. Every
# unit has exactly 2 ratings here, so all coincidence weights are
# exact integers-in-doubles and parity is exact; the general m_u > 2 /
# missing-data path is unit-tested.
_E210_ORACLE = f"""
WITH lab AS MATERIALIZED (
  {{lang_sql}}
), lng AS (
  SELECT doc_id AS u, lang AS v FROM lab
  UNION ALL
  SELECT doc_id AS u, guess AS v FROM lab
), uc AS (
  SELECT u, v, count(*) AS nc FROM lng WHERE v IS NOT NULL GROUP BY u, v
), mu AS (
  SELECT u, sum(nc) AS m FROM uc GROUP BY u
), uc2 AS MATERIALIZED (
  SELECT uc.u, uc.v, uc.nc, mu.m FROM uc JOIN mu USING (u) WHERE mu.m >= 2
), coin AS MATERIALIZED (
  SELECT l.v AS c, r.v AS cp,
         sum(l.nc::DOUBLE * (r.nc - CASE WHEN l.v = r.v THEN 1 ELSE 0 END)
             / (l.m - 1)) AS occ
  FROM uc2 l JOIN uc2 r USING (u) GROUP BY 1, 2
), marg AS (
  SELECT c, sum(occ) AS ncv FROM coin GROUP BY c
), tots AS (
  SELECT sum(occ) AS n,
         coalesce(sum(occ) FILTER (c <> cp), 0) AS dis
  FROM coin
), en AS (
  SELECT coalesce(sum(x.ncv * y.ncv), 0) AS e
  FROM marg x, marg y WHERE x.c <> y.c
)
SELECT (SELECT count(DISTINCT u) FROM uc2)::BIGINT AS n_units,
       round(n)::BIGINT AS n_pairable,
       floor(dis / n * 10000 + 0.5) / 10000 AS d_o,
       floor(e / (n * (n - 1)) * 10000 + 0.5) / 10000 AS d_e,
       CASE WHEN e > 0
            THEN floor((1 - (dis / n) / (e / (n * (n - 1)))) * 10000 + 0.5) / 10000
       END AS alpha
FROM tots, en
""".format(lang_sql=_lang_guess_sql(with_id=True))


@query("e210_krippendorff_alpha", _E210_ORACLE)
def e210_krippendorff_alpha(spark, sf_dir):
    """Agreement audit that generalizes e206's kappa to any rater
    count and missing ratings — one corpus shuffle, then |values|²
    aggregates."""
    from pivot_spark.functions.text import lang_guess
    from pivot_spark.operators.analytics import krippendorff_alpha

    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "lang", lang_guess(F.col("text")).alias("guess"))
    )
    long = docs.select(
        F.col("doc_id").alias("u"), F.col("lang").alias("v")
    ).unionAll(docs.select("doc_id", "guess"))
    out = krippendorff_alpha(long, "u", "v")
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "n_units", "n_pairable",
        r4("d_o").alias("d_o"),
        r4("d_e").alias("d_e"),
        r4("alpha").alias("alpha"),
    )


# --- E211: T5 span corruption (augment.py::span_corruption) —
# deterministic 15% token masking via the portable md5 draw, masked
# runs collapsed to <extra_id_k>. Oracle: the identical window-function
# replay (lag for run starts, running sum for sentinel ids, ordered
# string_agg for both texts).
_E211_ORACLE = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS tk
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), pos AS (
  SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p FROM base
), tok AS (
  SELECT doc_id, p - 1 AS pos, tk[p] AS tok,
         substring(md5('s42:' || doc_id || ':' || (p - 1)), 1, 4) < '2666' AS msk
  FROM pos
), runs AS (
  SELECT *, CASE WHEN msk AND NOT coalesce(
                   lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), false)
                 THEN 1 ELSE 0 END AS rs
  FROM tok
), kk AS (
  SELECT *, sum(rs) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS k
  FROM runs
), pieces AS (
  SELECT doc_id, pos, msk, rs,
         CASE WHEN NOT msk THEN tok
              WHEN rs = 1 THEN '<extra_id_' || k || '>' END AS inp,
         CASE WHEN msk AND rs = 1 THEN '<extra_id_' || k || '> ' || tok
              WHEN msk THEN tok END AS tgt
  FROM kk
)
SELECT doc_id,
       count(*) AS n_tokens,
       sum(CASE WHEN msk THEN 1 ELSE 0 END)::BIGINT AS n_masked,
       sum(rs)::BIGINT AS n_spans,
       coalesce(string_agg(inp, ' ' ORDER BY pos), '') AS input_text,
       coalesce(string_agg(tgt, ' ' ORDER BY pos), '') AS target_text
FROM pieces GROUP BY doc_id
"""


@query("e211_span_corruption", _E211_ORACLE)
def e211_span_corruption(spark, sf_dir):
    """Model-ready denoising pairs from the corpus — one doc-keyed
    exchange shared by the run-label window and the final aggregate;
    reproducible across engines and partitionings."""
    from pivot_spark.operators.augment import span_corruption

    docs = _read(spark, sf_dir, "documents")
    return span_corruption(docs, "doc_id", "text", mask_rate=0.15, seed="s42")


# --- E212: Matryoshka truncation recall (similarity.py::
# matryoshka_recall) — recall@5 of first-d-coordinate cosine search vs
# the 64-dim answer, d in {4, 16, 64}; d=64 pins recall 1.0 as the
# self-consistency anchor. Oracle: per-dim brute-force top-k on sliced
# lists intersected with the full-width top-k.
_E212_K = 5
_E212_DIMS = (4, 16, 64)


def _e212_oracle() -> str:
    head = f"""
WITH full_tk AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id
           ) AS rk
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
  ) WHERE rk <= {_E212_K}
), qs AS (
  SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 20
)"""
    parts, sels = [], []
    for d in _E212_DIMS:
        parts.append(f""", h{d} AS (
  SELECT t.query_id, count(*) AS c FROM (
    SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding[1:{d}]::DOUBLE[], c.embedding[1:{d}]::DOUBLE[]) DESC, c.vec_id
             ) AS rk
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ) WHERE rk <= {_E212_K}
  ) t JOIN full_tk f USING (query_id, neighbor_id)
  GROUP BY t.query_id
)""")
        sels.append(
            f"SELECT {d} AS dim, qs.query_id, coalesce(h{d}.c, 0) / {_E212_K}.0 AS r "
            f"FROM qs LEFT JOIN h{d} ON h{d}.query_id = qs.query_id"
        )
    body = "\nUNION ALL\n".join(sels)
    return (
        head + "".join(parts)
        + f"""
SELECT dim, count(*)::BIGINT AS n_queries,
       floor(avg(r) * 10000 + 0.5) / 10000 AS mean_recall,
       floor(min(r) * 10000 + 0.5) / 10000 AS min_recall
FROM ({body}) GROUP BY dim
"""
    )


@query("e212_matryoshka_recall", _e212_oracle())
def e212_matryoshka_recall(spark, sf_dir):
    """How much retrieval survives truncating the embedding width —
    one bounded GEMM pass per dim, intersections are (queries x k)-
    sized."""
    from pivot_spark.operators.similarity import matryoshka_recall

    emb = _read(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    out = matryoshka_recall(
        emb, emb.filter(F.col("vec_id") < 20), k=_E212_K,
        dims=list(_E212_DIMS),
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "dim", "n_queries",
        r4("mean_recall").alias("mean_recall"),
        r4("min_recall").alias("min_recall"),
    )


# --- E213: operating-point sweep (analytics.py::threshold_select) —
# confusion counts + precision/recall/F1/Youden-J at every candidate
# threshold of `value` predicting purchase events, 64 bins. Every count
# is an exact BIGINT prefix sum; rates are exact-int divisions.
_E213_BINS = 64
_E213_ORACLE = f"""
WITH base AS (
  SELECT value::DOUBLE AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), rng AS (
  SELECT min(s) AS mn, max(s) AS mx FROM base
), binned AS (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE least({_E213_BINS - 1},
                         floor((s - mn) / (mx - mn) * {_E213_BINS}))::INT
         END AS b, y, mn, mx
  FROM base, rng
), hist AS (
  SELECT b, count(*) AS n, sum(y)::BIGINT AS p,
         min(mn + b * (mx - mn) / {_E213_BINS}) AS threshold
  FROM binned GROUP BY b
), tot AS (
  SELECT sum(n) AS t, sum(p) AS pos FROM hist
), cur AS (
  SELECT threshold,
         sum(p) OVER (ORDER BY b DESC) AS tp,
         sum(n) OVER (ORDER BY b DESC) - sum(p) OVER (ORDER BY b DESC) AS fp
  FROM hist
)
SELECT floor(threshold * 10000 + 0.5) / 10000 AS threshold,
       tp::BIGINT AS tp, fp::BIGINT AS fp,
       (pos - tp)::BIGINT AS fn, (t - pos - fp)::BIGINT AS tn,
       CASE WHEN tp + fp > 0
            THEN floor(tp::DOUBLE / (tp + fp) * 10000 + 0.5) / 10000 END AS precision,
       CASE WHEN pos > 0
            THEN floor(tp::DOUBLE / pos * 10000 + 0.5) / 10000 END AS recall,
       CASE WHEN t - pos > 0
            THEN floor(fp::DOUBLE / (t - pos) * 10000 + 0.5) / 10000 END AS fpr,
       CASE WHEN 2 * tp + fp + (pos - tp) > 0
            THEN floor(2.0 * tp / (2 * tp + fp + (pos - tp)) * 10000 + 0.5) / 10000
       END AS f1,
       floor((coalesce(tp::DOUBLE / nullif(pos, 0), 0)
              - coalesce(fp::DOUBLE / nullif(t - pos, 0), 0)) * 10000 + 0.5) / 10000
         AS youden_j
FROM cur, tot
"""


@query("e213_threshold_select", _E213_ORACLE)
def e213_threshold_select(spark, sf_dir):
    """Where to cut a score: the full operating curve from one corpus
    scan + a ≤bins-row descending prefix sum (e152 says how good the
    score is; this says where to threshold it)."""
    from pivot_spark.operators.analytics import threshold_select

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    df = ev.select(
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    out = threshold_select(df, "value", "y", bins=_E213_BINS)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        r4("threshold").alias("threshold"),
        "tp", "fp", "fn", "tn",
        r4("precision").alias("precision"),
        r4("recall").alias("recall"),
        r4("fpr").alias("fpr"),
        r4("f1").alias("f1"),
        r4("youden_j").alias("youden_j"),
    )


# --- E214: inverse-propensity-weighted treatment effect (analytics.py
# ::ipw_estimate) — Hájek self-normalized ATE of "returned" on quantity
# with a deterministic discount-derived propensity (0.05 + 8·discount,
# inside the clip bounds so the guard never bites and parity is pure
# float algebra, r4 both sides).
_E214_ORACLE = """
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t,
         l_quantity::DOUBLE AS y,
         least(greatest(0.05 + l_discount::DOUBLE * 8, 0.01), 0.99) AS e
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL
), agg AS (
  SELECT count(*) AS n, sum(t)::BIGINT AS n_treat,
         sum(t * y / e) AS tw, sum(t / e) AS tn,
         sum((1 - t) * y / (1 - e)) AS cw, sum((1 - t) / (1 - e)) AS cn,
         sum(t * y) AS ty, sum(1 - t)::BIGINT AS nc, sum((1 - t) * y) AS cy
  FROM base
)
SELECT n, n_treat,
       floor(tw / tn * 10000 + 0.5) / 10000 AS mean_treat_w,
       floor(cw / cn * 10000 + 0.5) / 10000 AS mean_ctrl_w,
       floor((tw / tn - cw / cn) * 10000 + 0.5) / 10000 AS ate,
       floor((ty / n_treat - cy / nc) * 10000 + 0.5) / 10000 AS naive_diff
FROM agg
"""


@query("e214_ipw_ate", _E214_ORACLE)
def e214_ipw_ate(spark, sf_dir):
    """Observational treatment-effect estimate: one single-row corpus
    aggregate, clipped weights, the naive difference alongside so the
    correction is visible."""
    from pivot_spark.operators.analytics import ipw_estimate

    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
    )
    df = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("t"),
        F.col("l_quantity").alias("y"),
        (F.lit(0.05) + F.col("l_discount").cast("double") * 8).alias("e"),
    )
    out = ipw_estimate(df, "t", "y", "e", clip=(0.01, 0.99))
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "n", "n_treat",
        r4("mean_treat_w").alias("mean_treat_w"),
        r4("mean_ctrl_w").alias("mean_ctrl_w"),
        r4("ate").alias("ate"),
        r4("naive_diff").alias("naive_diff"),
    )


# --- E215: delete-one-bucket jackknife for a ratio metric (analytics
# .py::jackknife_ratio) — discount-revenue share sum(price·disc)/
# sum(price) with order-level buckets (all lines of an order share a
# bucket). Oracle: identical md5 bucket draw + the B-row leave-one-out
# algebra.
_E215_B = 50
_E215_ORACLE = f"""
WITH base AS (
  SELECT CAST('0x' || substring(md5('s42:' || CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
           % {_E215_B} AS b,
         (l_extendedprice::DOUBLE * l_discount::DOUBLE) AS num,
         l_extendedprice::DOUBLE AS den
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
), per AS (
  SELECT b, sum(num) AS sn, sum(den) AS sd, count(*) AS c FROM base GROUP BY b
), tot AS (
  SELECT sum(sn) AS tn, sum(sd) AS td, sum(c)::BIGINT AS n_rows,
         count(*)::BIGINT AS nb
  FROM per
), loo AS (
  SELECT nb, tn, td, n_rows, (tn - sn) / (td - sd) AS rb FROM per, tot
), st AS (
  SELECT nb, tn, td, n_rows, avg(rb) AS rbar, sum(rb * rb) AS rb2
  FROM loo GROUP BY nb, tn, td, n_rows
)
SELECT floor(tn / td * 10000 + 0.5) / 10000 AS ratio,
       floor(sqrt((nb - 1.0) / nb * greatest(rb2 - nb * rbar * rbar, 0.0)) * 10000 + 0.5) / 10000 AS se_jack,
       floor((tn / td - 1.96 * sqrt((nb - 1.0) / nb * greatest(rb2 - nb * rbar * rbar, 0.0))) * 10000 + 0.5) / 10000 AS ci_lo,
       floor((tn / td + 1.96 * sqrt((nb - 1.0) / nb * greatest(rb2 - nb * rbar * rbar, 0.0))) * 10000 + 0.5) / 10000 AS ci_hi,
       nb AS n_buckets, n_rows AS n
FROM st
"""


@query("e215_jackknife_ratio", _E215_ORACLE)
def e215_jackknife_ratio(spark, sf_dir):
    """Correct uncertainty for a ratio metric: unit-preserving bucket
    draw, ONE B-bounded corpus aggregate, answer-sized jackknife
    algebra."""
    from pivot_spark.operators.analytics import jackknife_ratio

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("double")
            * F.col("l_discount").cast("double")
        ).alias("num"),
        F.col("l_extendedprice").cast("double").alias("den"),
    )
    out = jackknife_ratio(
        li, "num", "den", "l_orderkey", buckets=_E215_B, seed="s42"
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        r4("ratio").alias("ratio"),
        r4("se_jack").alias("se_jack"),
        r4("ci_lo").alias("ci_lo"),
        r4("ci_hi").alias("ci_hi"),
        "n_buckets", "n",
    )


# --- E216: per-image histogram equalization emitting REAL P5 bytes
# (codecs.py::pgm_equalize) over the e179 text-byte image corpus run
# through ppm_to_pgm first. Exact integer half-up remap; the oracle
# replays histogram/cdf/remap per image and serializes the full
# equalized pixel vector, so every output byte is hash-checked.
_E216_ORACLE = """
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
), pxv AS (
  SELECT doc_id, p - 1 AS pos, g[p] AS v
  FROM (SELECT doc_id, g, unnest(generate_series(1, len(g))) AS p FROM gr)
), hist AS (
  SELECT doc_id, v, count(*) AS c FROM pxv GROUP BY 1, 2
), cd AS (
  SELECT doc_id, v, sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS cdf
  FROM hist
), st AS (
  SELECT doc_id, min(cdf) AS cdfmin FROM cd GROUP BY 1
), np AS (
  SELECT doc_id, CAST(w * h AS BIGINT) AS n_px, w, h FROM img
), map AS (
  SELECT cd.doc_id, v,
         CASE WHEN n_px - cdfmin > 0
              THEN ((cdf - cdfmin) * 255 * 2 + (n_px - cdfmin))
                     // (2 * (n_px - cdfmin))
              ELSE 0 END AS nv
  FROM cd JOIN st USING (doc_id) JOIN np USING (doc_id)
), outv AS (
  SELECT pxv.doc_id, pos, nv
  FROM pxv JOIN map ON map.doc_id = pxv.doc_id AND map.v = pxv.v
)
SELECT o.doc_id, np.w AS width, np.h AS height,
       CAST(length('P5' || chr(10) || np.w || ' ' || np.h || chr(10) || '255' || chr(10))
            + np.n_px AS BIGINT) AS n_bytes,
       '[' || string_agg(nv, '|' ORDER BY pos) || ']' AS gray_values
FROM outv o JOIN np ON np.doc_id = o.doc_id
GROUP BY o.doc_id, np.w, np.h, np.n_px
"""


@query("e216_image_equalize", _E216_ORACLE)
def e216_image_equalize(spark, sf_dir):
    """Histogram equalization end-to-end: P6 corpus -> real P5 -> real
    equalized P5, decoded back byte-for-byte. The histogram and the
    256-entry remap table are per image, inside one scan-stage kernel
    (zero shuffles)."""
    from pivot_spark.operators.codecs import (
        _pnm_header,
        _u8h,
        make_ppm,
        pgm_equalize,
        ppm_to_pgm,
    )

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.encode(
                F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"
            ),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    pgm = ppm_to_pgm(img).select("doc_id", F.col("gray").alias("gray"))
    eq = pgm_equalize(pgm, "gray", out_col="equalized").filter(
        F.col("equalized").isNotNull()
    )
    # decode the emitted file back: header parse + per-pixel bytes
    raw = F.col("equalized")
    ok, w2, h2, mx2, hdr2 = _pnm_header(raw, "P5", bpp=1)
    eq = eq.withColumn("__ok", ok)
    eq = eq.withColumns(
        {"__hx": F.when(F.col("__ok"), F.hex(raw)),
         "__hdr": F.when(F.col("__ok"), hdr2.cast("long"))}
    )
    hxc, hdrc = F.col("__hx"), F.col("__hdr")
    n_px = (w2 * h2).cast("long")
    from pivot_spark.operators.codecs import _lam

    vals = F.transform(
        F.sequence(F.lit(0).cast("long"), n_px - 1),
        _lam("ieqd", lambda i: _u8h(hxc, hdrc + i + 1)),
    )
    return eq.select(
        "doc_id",
        w2.cast("int").alias("width"),
        h2.cast("int").alias("height"),
        F.length(raw).cast("long").alias("n_bytes"),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(vals, lambda v: v.cast("string")), "|"
            ),
            F.lit("]"),
        ).alias("gray_values"),
    )


# --- E217: BPE round-trip audit (bpe.py::bpe_decode) — decode the
# e114 encoding and verify it reproduces the canonical (lowercased,
# whitespace-collapsed) input for EVERY document, per source. The
# oracle replays the full learn+encode pipeline (the e114 device) plus
# the same concat/replace decode; counts are exact ints.
def _e217_oracle() -> str:
    # reuse the e114 encode device up to its final SELECT, then decode
    base = _e114_oracle().rsplit("SELECT doc_id", 1)[0]
    return (
        base
        + f""", dec AS (
  SELECT d.doc_id,
         trim(replace(coalesce(array_to_string(flatten(list_transform(e.syms, s -> string_split(s, ' '))), ''), ''), '</w>', ' ')) AS decoded,
         trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS canon,
         d.source
  FROM d{_BPE_N} e JOIN documents d USING (doc_id)
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN decoded = canon THEN 1 ELSE 0 END)::BIGINT AS n_match,
       floor(sum(CASE WHEN decoded = canon THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 10000 + 0.5) / 10000 AS match_rate
FROM dec GROUP BY source
"""
    )


@query("e217_bpe_roundtrip", _e217_oracle())
def e217_bpe_roundtrip(spark, sf_dir):
    """Tokenizer integrity check: decode(encode(x)) must equal the
    canonical input everywhere; a rate below 1.0 means a corrupt merge
    table or encoder. Scan-stage both ways."""
    from pivot_spark.operators.bpe import bpe_decode, bpe_encode, bpe_learn

    docs = _read(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right)
        for r in bpe_learn(docs, "text", num_merges=_BPE_N).collect()
    ]
    enc = bpe_encode(docs, "text", merges)
    dec = bpe_decode(enc, "tokens")
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    # NULL text: decoded and canon are both NULL -> the oracle's CASE
    # counts 0, so the NULL-safe flag must be an explicit 0 here too
    flagged = dec.select(
        "source",
        F.coalesce((F.col("decoded") == canon).cast("int"), F.lit(0)).alias(
            "__m"
        ),
    )
    out = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__m").cast("long").alias("n_match"),
    )
    return out.select(
        "source", "n_docs", "n_match",
        (
            F.floor(
                F.col("n_match").cast("double")
                / F.col("n_docs")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("match_rate"),
    )


# --- E218: per-dimension Fisher discriminant ratio of the embedding
# space against its label column (embedding.py::class_separability) —
# the "is the label linearly readable here?" audit. Oracle: one unnest
# over dims, identical ANOVA algebra, r4 both sides.
_E218_ORACLE = """
WITH base AS (
  SELECT label, embedding FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL AND len(embedding) >= 64
), ld AS (
  SELECT label, unnest(generate_series(1, 64)) AS dim, embedding AS e FROM base
), per AS (
  SELECT dim, label, count(*) AS n,
         sum(e[dim]::DOUBLE) AS s,
         sum(e[dim]::DOUBLE * e[dim]::DOUBLE) AS q
  FROM ld GROUP BY 1, 2
), g AS (
  SELECT dim, count(*) AS n_classes, sum(n) AS nn, sum(s) AS ts,
         sum(s * s / n) AS tsn, sum(q) AS tq
  FROM per GROUP BY dim
)
SELECT dim::INT AS dim, n_classes::BIGINT AS n_classes,
       floor((tsn - nn * (ts / nn) * (ts / nn)) / nn * 10000 + 0.5) / 10000 AS between_var,
       floor((tq - tsn) / nn * 10000 + 0.5) / 10000 AS within_var,
       CASE WHEN (tq - tsn) / nn > 0
            THEN floor(((tsn - nn * (ts / nn) * (ts / nn)) / nn)
                       / ((tq - tsn) / nn) * 10000 + 0.5) / 10000
       END AS fisher_ratio
FROM g
"""


@query("e218_class_separability", _E218_ORACLE)
def e218_class_separability(spark, sf_dir):
    """Embedding-quality audit vs the label: one corpus scan, per-class
    sum/sumsq arrays, dim-keyed answer-sized algebra."""
    from pivot_spark.operators.embedding import class_separability

    emb = _read(spark, sf_dir, "embeddings")
    out = class_separability(emb, "embedding", "label", dim=64)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "dim", "n_classes",
        r4("between_var").alias("between_var"),
        r4("within_var").alias("within_var"),
        r4("fisher_ratio").alias("fisher_ratio"),
    )


# --- E219: peak-normalization gain emitting REAL WAV bytes (codecs.py
# ::wav_gain) over the signed e174 corpus — every output SAMPLE is
# hash-checked: the oracle replays the exact integer half-up rescale
# floor((2vT + P) / (2P)) on the same signed sample list.
_E219_T = 30000
_E219_ORACLE = f"""
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
), pk AS (
  SELECT doc_id, v, list_max(list_transform(v, x -> abs(x))) AS p FROM sm
), sc AS (
  SELECT doc_id, p,
         CASE WHEN p > 0
              THEN list_transform(v, x ->
                     CAST(floor((2 * x * {_E219_T} + p) / (2 * p)) AS BIGINT))
              ELSE v END AS nv
  FROM pk
)
SELECT doc_id, CAST({_E174_N} AS BIGINT) AS n_samples,
       list_max(list_transform(nv, x -> abs(x)))::BIGINT AS out_peak,
       '[' || array_to_string(nv, '|') || ']' AS sample_values
FROM sc
"""


@query("e219_audio_gain", _E219_ORACLE)
def e219_audio_gain(spark, sf_dir):
    """Per-clip loudness leveling: the loudest sample of every emitted
    file lands exactly on the target peak; one fold + one rewrite pass
    per blob, scan-stage."""
    from pivot_spark.operators.codecs import _lam, _u8h, make_wav, wav_gain

    need = 2 * _E174_N
    d = _read_spread(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    au = d.select(
        "doc_id", make_wav(1, 8000, _e174_payload("pp")).alias("audio")
    )
    # fence the emitted file before the decode-back: wav_gain's output
    # is a pure projection (no shuffle boundary), so without a
    # checkpoint the per-element decode lambda would inline the whole
    # gain expression per WORD, and the isNotNull filter would be
    # pushed below the projection carrying the full tree with it
    g = wav_gain(au, target_peak=_E219_T).localCheckpoint(eager=False).filter(
        F.col("normalized").isNotNull()
    )
    # decode the emitted file back: signed int16 words after the header
    g = g.withColumn("__hx", F.hex(F.col("normalized")))
    hxc = F.col("__hx")

    def word(j):
        pos = F.lit(45).cast("long") + j * 2
        v = _u8h(hxc, pos) + _u8h(hxc, pos + 1) * 256
        return F.when(v >= 32768, v - 65536).otherwise(v)

    vals = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(_E174_N - 1).cast("long")),
        _lam("jgd", word),
    )
    g = g.withColumn("__vals", vals)
    return g.select(
        "doc_id",
        F.lit(_E174_N).cast("long").alias("n_samples"),
        F.array_max(
            F.transform(F.col("__vals"), lambda v: F.abs(v))
        ).cast("long").alias("out_peak"),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(F.col("__vals"), lambda v: v.cast("string")), "|"
            ),
            F.lit("]"),
        ).alias("sample_values"),
    )


# --- E220: Otsu binarization emitting REAL P5 bytes (codecs.py::
# pgm_binarize_otsu) over the e179 image corpus (via ppm_to_pgm). The
# oracle replays histogram/cdf/between-class-variance argmax (exact
# ints in doubles, ties to smallest t) and the full binarized vector.
_E220_ORACLE = """
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
), pxv AS (
  SELECT doc_id, g[p] AS v
  FROM (SELECT doc_id, g, unnest(generate_series(1, len(g))) AS p FROM gr)
), hist AS (
  SELECT doc_id, v, count(*) AS c FROM pxv GROUP BY 1, 2
), cd AS (
  SELECT doc_id, v,
         sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS cdf,
         sum(v * c) OVER (PARTITION BY doc_id ORDER BY v) AS cs
  FROM hist
), tot AS (
  SELECT doc_id, sum(v * c) AS S, sum(c) AS n_px FROM hist GROUP BY 1
), cand AS (
  SELECT cd.doc_id, v,
         CASE WHEN cdf < n_px
              THEN ((cdf * S - n_px * cs)::DOUBLE * (cdf * S - n_px * cs)::DOUBLE)
                     / ((cdf * (n_px - cdf))::DOUBLE)
         END AS crit
  FROM cd JOIN tot ON tot.doc_id = cd.doc_id
), best AS (
  SELECT doc_id, v AS t FROM (
    SELECT doc_id, v,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY crit DESC NULLS LAST, v ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT gr.doc_id, gr.w AS width, gr.h AS height,
       best.t::BIGINT AS otsu_threshold,
       '[' || array_to_string(
           list_transform(gr.g, x -> CASE WHEN x <= best.t THEN 0 ELSE 255 END),
           '|') || ']' AS gray_values
FROM gr JOIN best ON best.doc_id = gr.doc_id
"""


@query("e220_image_otsu", _E220_ORACLE)
def e220_image_otsu(spark, sf_dir):
    """No-tuning document binarization: the between-class-variance
    argmax runs over each image's ≤256 gray values inside one
    scan-stage kernel; every output byte of the emitted P5 is
    hash-checked."""
    from pivot_spark.operators.codecs import (
        _lam,
        _pnm_header,
        _u8h,
        make_ppm,
        pgm_binarize_otsu,
        ppm_to_pgm,
    )

    d = (
        _read(spark, sf_dir, "documents")
        .withColumn("w", (F.lit(4) + F.col("doc_id") % 5).cast("int"))
        .withColumn("h", (F.lit(3) + F.col("doc_id") % 4).cast("int"))
        .withColumn(
            "p",
            F.encode(
                F.expr("rpad(substring(text, 1, w*h*3), w*h*3, ' ')"), "UTF-8"
            ),
        )
    )
    img = d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    pgm = ppm_to_pgm(img).select("doc_id", F.col("gray").alias("gray"))
    bz = pgm_binarize_otsu(pgm, "gray").filter(
        F.col("binarized").isNotNull()
    )
    raw = F.col("binarized")
    ok, w2, h2, mx2, hdr2 = _pnm_header(raw, "P5", bpp=1)
    bz = bz.withColumn("__ok", ok)
    bz = bz.withColumns(
        {"__hx": F.when(F.col("__ok"), F.hex(raw)),
         "__hdr": F.when(F.col("__ok"), hdr2.cast("long"))}
    )
    hxc, hdrc = F.col("__hx"), F.col("__hdr")
    n_px = (w2 * h2).cast("long")
    vals = F.transform(
        F.sequence(F.lit(0).cast("long"), n_px - 1),
        _lam("ibzd", lambda i: _u8h(hxc, hdrc + i + 1)),
    )
    return bz.select(
        "doc_id",
        w2.cast("int").alias("width"),
        h2.cast("int").alias("height"),
        F.col("otsu_threshold").cast("long").alias("otsu_threshold"),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(vals, lambda v: v.cast("string")), "|"
            ),
            F.lit("]"),
        ).alias("gray_values"),
    )


# --- E221: diagonal-Mahalanobis OOD score per embedding (embedding.py
# ::mahalanobis_ood) — the outlier quarantine screen. Oracle: unrolled
# 64-dim stats + the same left-assoc 64-term fold (e54 contract).
def _e221_oracle() -> str:
    d = _E54_DIM
    sums = ", ".join(
        f"sum(embedding[{i}]::DOUBLE) AS s{i}, "
        f"sum(embedding[{i}]::DOUBLE * embedding[{i}]::DOUBLE) AS q{i}"
        for i in range(1, d + 1)
    )
    terms = " + ".join(
        f"(CASE WHEN (q{i} / n - (s{i} / n) * (s{i} / n)) > 0 "
        f"THEN (embedding[{i}]::DOUBLE - s{i} / n) * (embedding[{i}]::DOUBLE - s{i} / n) "
        f"/ (q{i} / n - (s{i} / n) * (s{i} / n)) ELSE 0.0 END)"
        for i in range(1, d + 1)
    )
    return f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) >= {d}
), st AS MATERIALIZED (
  SELECT count(*) AS n, {sums} FROM b
)
SELECT vec_id, floor(({terms}) * 10000 + 0.5) / 10000 AS md2
FROM b, st
"""


@query("e221_ood_scores", _e221_oracle())
def e221_ood_scores(spark, sf_dir):
    """Embedding-space outlier screen: one single-row stats aggregate
    broadcast back, scan-stage per-row fold, no corpus shuffle."""
    from pivot_spark.operators.embedding import mahalanobis_ood

    emb = _read(spark, sf_dir, "embeddings")
    out = mahalanobis_ood(emb, "vec_id", "embedding", dim=_E54_DIM)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("vec_id", r4("md2").alias("md2"))


# --- E222: char-bigram gibberish score (lm.py::char_bigram_gibberish)
# — keyboard-mash / mojibake screen. Train shard doc_id % 5 != 0,
# score shard doc_id % 5 == 0 (genuinely disjoint, so unseen bigrams
# hit the Laplace floor). Oracle: identical canonicalization, counts,
# and -ln algebra.
_E222_ORACLE = r"""
WITH tr AS (
  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 0
), trb AS (
  SELECT substring(t, i, 2) AS bg
  FROM (SELECT t, unnest(generate_series(1, length(t) - 1)) AS i
        FROM tr WHERE length(t) >= 2)
), big AS (
  SELECT bg, count(*) AS c FROM trb GROUP BY bg
), uni AS (
  SELECT substring(bg, 1, 1) AS c1, count(*) AS cn FROM trb GROUP BY 1
), V AS (
  SELECT count(*)::DOUBLE AS v FROM uni
), sc AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
), scb AS (
  SELECT doc_id, substring(t, i, 2) AS bg
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
        FROM sc WHERE length(t) >= 2)
), j AS (
  SELECT doc_id,
         -ln((coalesce(big.c, 0) + 1.0)
             / (coalesce(uni.cn, 0) + 1.0 * v)) AS nl
  FROM scb
  LEFT JOIN big USING (bg)
  LEFT JOIN uni ON uni.c1 = substring(scb.bg, 1, 1)
  CROSS JOIN V
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       floor(avg(nl) * 10000 + 0.5) / 10000 AS avg_neg_log
FROM j GROUP BY doc_id
"""


@query("e222_char_gibberish", _E222_ORACLE)
def e222_char_gibberish(spark, sf_dir):
    """Char-level LM screen: alphabet-bounded broadcast count tables,
    one doc-keyed exchange on the score shard."""
    from pivot_spark.operators.lm import char_bigram_gibberish

    # the canon+substring bigram explode (~240 rows out per doc) is the
    # dominant scan-stage cost and otherwise runs on the single-file
    # scan's ONE task (guide §2.5) — measured 4.4 -> 2.7 s with the
    # conditional round-robin spread (no-op on a wide cluster scan)
    docs = _read_spread(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    score = docs.filter(F.col("doc_id") % 5 == 0)
    out = char_bigram_gibberish(train, score, "doc_id", "text")
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "doc_id", "n_bigrams", r4("avg_neg_log").alias("avg_neg_log")
    )


# --- E223: Markov removal-effect attribution (attribution.py::
# markov_attribution) — order-aware channel credit from the journey
# chain. Oracle: identical journey truncation + transition counts +
# knockout scenarios + 30 unrolled power-iteration CTEs.
_E223_K = 30


def _e223_oracle() -> str:
    head = """
WITH ev AS (
  SELECT user_id AS u,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS st,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), fc AS (
  SELECT u, min(rn) AS fcn FROM ev WHERE st = 'CONV' GROUP BY u
), tr AS (
  SELECT ev.u, ev.st, ev.rn FROM ev LEFT JOIN fc USING (u)
  WHERE fc.fcn IS NULL OR ev.rn <= fc.fcn
), seq AS (
  SELECT u, st, rn,
         coalesce(lag(st) OVER (PARTITION BY u ORDER BY rn), 'START') AS prev,
         max(rn) OVER (PARTITION BY u) AS lastrn
  FROM tr
), pairs AS (
  SELECT prev AS f, st AS t FROM seq
  UNION ALL
  SELECT st AS f, 'NULL' AS t FROM seq WHERE rn = lastrn AND st <> 'CONV'
), cnt AS MATERIALIZED (
  SELECT f, t, count(*) AS c FROM pairs GROUP BY 1, 2
), rt AS (
  SELECT f, sum(c) AS tot FROM cnt GROUP BY 1
), trans AS (
  SELECT cnt.f, cnt.t, cnt.c::DOUBLE / rt.tot AS p FROM cnt JOIN rt USING (f)
), chan AS (
  SELECT DISTINCT f AS ch FROM cnt WHERE f NOT IN ('START', 'CONV', 'NULL')
), scen AS MATERIALIZED (
  SELECT '__base__' AS s UNION ALL SELECT ch FROM chan
), st0 AS MATERIALIZED (
  SELECT s, f, t2 AS t, sum(p) AS p FROM (
    SELECT s, f, CASE WHEN t = s THEN 'NULL' ELSE t END AS t2, p
    FROM scen, trans
  ) GROUP BY 1, 2, 3
  UNION ALL SELECT s, 'CONV' AS f, 'CONV' AS t, 1.0 AS p FROM scen
  UNION ALL SELECT s, 'NULL' AS f, 'NULL' AS t, 1.0 AS p FROM scen
), v0 AS (
  SELECT s, 'START' AS state, 1.0 AS pr FROM scen
)"""
    # every step MATERIALIZED: non-materialized chained CTEs inline
    # into a 30-deep nested plan that stalls the optimizer (the e201
    # Bradley-Terry oracle uses the same discipline)
    steps = "".join(
        f""", v{k} AS MATERIALIZED (
  SELECT v{k - 1}.s, st0.t AS state, sum(pr * p) AS pr
  FROM v{k - 1} JOIN st0 ON st0.s = v{k - 1}.s AND st0.f = v{k - 1}.state
  GROUP BY 1, 2
)"""
        for k in range(1, _E223_K + 1)
    )
    return head + steps + f""", conv AS (
  SELECT scen.s, coalesce(vc.pr, 0.0) AS pc
  FROM scen LEFT JOIN (
    SELECT s, pr FROM v{_E223_K} WHERE state = 'CONV'
  ) vc ON vc.s = scen.s
), base AS (
  SELECT pc AS pb FROM conv WHERE s = '__base__'
), per AS (
  SELECT s AS channel, pb, pc,
         CASE WHEN pb > 0 THEN 1.0 - pc / pb END AS re
  FROM conv, base WHERE s <> '__base__'
), tot AS (
  SELECT sum(re) AS sre FROM per
)
SELECT channel,
       floor(pb * 10000 + 0.5) / 10000 AS p_conv_base,
       floor(pc * 10000 + 0.5) / 10000 AS p_conv_removed,
       floor(re * 10000 + 0.5) / 10000 AS removal_effect,
       CASE WHEN sre > 0
            THEN floor(re / sre * 10000 + 0.5) / 10000 END AS attribution_share
FROM per, tot
"""


@query("e223_markov_attribution", _e223_oracle())
def e223_markov_attribution(spark, sf_dir):
    """Order-aware channel credit: one corpus window + pair aggregate,
    then all knockout scenarios advance through one tiny join per
    power-iteration step."""
    from pivot_spark.operators.attribution import markov_attribution

    ev = _read(spark, sf_dir, "events")
    out = markov_attribution(
        ev, "user_id", "ts", "event_type",
        is_conversion=F.col("event_type") == "purchase",
        tiebreak_col="event_id", steps=_E223_K,
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "channel",
        r4("p_conv_base").alias("p_conv_base"),
        r4("p_conv_removed").alias("p_conv_removed"),
        r4("removal_effect").alias("removal_effect"),
        r4("attribution_share").alias("attribution_share"),
    )


# --- E224: exact per-group quantiles via the skew-free parallel rank
# (profile.py::group_quantiles) — no per-group sort anywhere. Oracle:
# DuckDB quantile_cont per group (the same type-7 interpolation).
_E224_ORACLE = """
WITH g AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice::DOUBLE, 0.5) AS q50,
         quantile_cont(l_extendedprice::DOUBLE, 0.9) AS q90,
         quantile_cont(l_extendedprice::DOUBLE, 0.99) AS q99
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_orderkey IS NOT NULL
  GROUP BY 1
)
SELECT l_returnflag, 0.5::DOUBLE AS prob, floor(q50 * 10000 + 0.5) / 10000 AS value FROM g
UNION ALL
SELECT l_returnflag, 0.9::DOUBLE, floor(q90 * 10000 + 0.5) / 10000 FROM g
UNION ALL
SELECT l_returnflag, 0.99::DOUBLE, floor(q99 * 10000 + 0.5) / 10000 FROM g
"""


@query("e224_group_quantiles", _E224_ORACLE)
def e224_group_quantiles(spark, sf_dir):
    """Grouped exact percentiles at 100 TB: one global range-partition
    rank, bracketing rows fetched by an answer-sized equi-join — a huge
    group never sits in one task."""
    from pivot_spark.operators.profile import group_quantiles

    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
    )
    out = group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        tiebreak_col="l_orderkey", probs=(0.5, 0.9, 0.99),
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("l_returnflag", "prob", r4("value").alias("value"))


# --- E225: Zipf's-law slope of the corpus unigram distribution
# (profile.py::zipf_fit) — corpus-health audit (natural text fits
# slope ≈ -1). Oracle: type counts + row_number rank + the e62
# centered-moments OLS device on (ln rank, ln count).
_E225_ORACLE = r"""
WITH types AS MATERIALIZED (
  SELECT w AS t, count(*) AS c
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '')) AS w
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY w
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r FROM types
), pts AS (
  SELECT ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y FROM ranked WHERE c >= 2
), means AS (
  SELECT count(*) AS n_fit, avg(x) AS mx, avg(y) AS my FROM pts
), mom AS (
  SELECT max(m.n_fit) AS n_fit, max(m.mx) AS mx, max(m.my) AS my,
         sum((x - m.mx) * (y - m.my)) AS sxy,
         sum((x - m.mx) * (x - m.mx)) AS sxx,
         sum((y - m.my) * (y - m.my)) AS syy
  FROM pts, means m
)
SELECT (SELECT count(*) FROM types)::BIGINT AS n_types,
       n_fit::BIGINT AS n_fit,
       floor(CASE WHEN sxx > 0 THEN sxy / sxx END * 10000 + 0.5) / 10000 AS slope,
       floor(CASE WHEN sxx > 0 THEN my - (sxy / sxx) * mx END * 10000 + 0.5) / 10000 AS intercept,
       floor(CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) END * 10000 + 0.5) / 10000 AS r2
FROM mom
"""


@query("e225_zipf_fit", _E225_ORACLE)
def e225_zipf_fit(spark, sf_dir):
    """Corpus-health slope: type counts, skew-free global rank, one
    single-row OLS — the vocabulary never sits in one task."""
    from pivot_spark.operators.profile import zipf_fit

    docs = _read(spark, sf_dir, "documents")
    out = zipf_fit(docs, "text", min_count=2)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "n_types", "n_fit",
        r4("slope").alias("slope"),
        r4("intercept").alias("intercept"),
        r4("r2").alias("r2"),
    )


# --- E226: END-TO-END curation pipeline — the composition showcase:
# quality gate -> exact dedup (keep-min fingerprint survivor) ->
# benchmark decontamination -> leakage-safe split, all existing
# operators chained exactly as a real corpus build would run them.
# Oracle: the same four stages as chained CTEs (e02/e01/e23/e25
# devices verbatim).
def _e226_oracle() -> str:
    t1 = _sample_threshold(0.8)
    t2 = _sample_threshold(0.9)
    return rf"""
WITH base AS (
  SELECT doc_id, lang, source, text,
         len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS wc,
         length(regexp_replace(text, '\s+', '', 'g')) AS nchars,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), quality AS (
  SELECT * FROM base
  WHERE wc BETWEEN 10 AND 5000
    AND nchars::DOUBLE / wc BETWEEN 2 AND 12
), dedup AS (
  SELECT * FROM quality q
  WHERE doc_id = (SELECT min(doc_id) FROM quality b WHERE b.fp = q.fp)
), decon AS (
  SELECT * FROM dedup d
  WHERE NOT EXISTS (
    SELECT 1 FROM base b WHERE b.doc_id % 7 = 0 AND b.fp = d.fp
  )
)
SELECT doc_id, lang, source, CAST(wc AS INTEGER) AS wc,
       CASE
         WHEN substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{t1}' THEN 'train'
         WHEN substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{t2}' THEN 'valid'
         ELSE 'test'
       END AS split
FROM decon
"""


@query("e226_curation_pipeline", _e226_oracle())
def e226_curation_pipeline(spark, sf_dir):
    """The whole corpus build in one plan: scan-stage quality gate,
    ONE fingerprint-keyed dedup shuffle, broadcast anti-join
    decontamination, scan-stage split — the corpus is shuffled exactly
    once end to end."""
    from pivot_spark.functions.text import fingerprint, tokens
    from pivot_spark.operators.dedup import dedup_against, dedup_exact
    from pivot_spark.operators.sample import hash_split

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    base = docs.select(
        "doc_id", "lang", "source",
        F.size(tokens(F.col("text"))).alias("wc"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias(
            "__nchars"
        ),
        fingerprint(F.col("text")).alias("fp"),
    )
    quality = base.filter(
        F.col("wc").between(10, 5000)
        & (F.col("__nchars").cast("double") / F.col("wc")).between(2, 12)
    )
    deduped = dedup_exact(quality, keys=["fp"], order_by=["doc_id"])
    block = base.filter(F.col("doc_id") % 7 == 0).select("fp")
    decon = dedup_against(deduped, block, on="fp", broadcast=True)
    out = hash_split(
        decon, "doc_id",
        {"train": 0.8, "valid": 0.1, "test": 0.1}, salt="s42",
    )
    return out.select("doc_id", "lang", "source", "wc", "split")


# --- E227: per-group robust scaling (bucketize.py::robust_scale) —
# (x - median) / IQR on the skew-free group_quantiles quartiles.
# Oracle: DuckDB quantile_cont quartiles + the same scan algebra.
_E227_ORACLE = """
WITH st AS (
  SELECT l_returnflag,
         quantile_cont(l_quantity::DOUBLE, 0.25) AS q25,
         quantile_cont(l_quantity::DOUBLE, 0.5) AS q50,
         quantile_cont(l_quantity::DOUBLE, 0.75) AS q75
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    AND l_orderkey IS NOT NULL
  GROUP BY 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       floor((l_quantity::DOUBLE - q50) / (q75 - q25) * 10000 + 0.5) / 10000 AS robust_z
FROM lineitem l JOIN st USING (l_returnflag)
WHERE l.l_returnflag IS NOT NULL AND l.l_quantity IS NOT NULL
  AND l.l_orderkey IS NOT NULL
  AND q75 - q25 > 0
  AND abs((l_quantity::DOUBLE - q50) / (q75 - q25)) >= 0.9
"""


@query("e227_robust_scale", _E227_ORACLE)
def e227_robust_scale(spark, sf_dir):
    """Outlier-proof normalization at scale: quartiles from the global
    rank (no per-group sort), broadcast back over one corpus scan."""
    from pivot_spark.operators.bucketize import robust_scale

    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_orderkey").isNotNull()
    )
    out = robust_scale(li, ["l_returnflag"], "l_quantity", "l_orderkey")
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    # outlier report: only the heavy tails leave the engine
    return out.filter(F.abs(F.col("robust_z")) >= 0.9).select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        r4("robust_z").alias("robust_z"),
    )


# --- E228: REAL compressed-container decode (PNG, stored-deflate) —
# fabricate genuine PNGs (byte-identical to zlib-level-0 output,
# test_png.py pins this against CPython zlib) from document text, then
# parse IHDR / stored-block layout, VERIFY CRC-32 + Adler-32 from the
# bytes, and compute exact channel means — one scan-stage Arrow kernel
# (codecs.py::decode_png). The oracle replays the payload characters
# directly: the container is lossless, so decoded means equal source-
# character means, and the verified-checksum path is covered by the
# n_bytes/meta columns being non-NULL for every row.
_E228_W, _E228_H = 6, 5


def _e228_size() -> int:
    from pivot_spark.operators.codecs import png_file_size

    return png_file_size(_E228_W, _E228_H)


_E228_ORACLE = f"""
WITH img AS (
  -- ASCII-restrict before padding: the Spark side averages UTF-8
  -- BYTES of the payload while this oracle averages CODEPOINTS;
  -- they agree iff every payload char is ASCII. NULLs excluded on
  -- both sides (a NULL text yields NULL meta in the decoder).
  SELECT doc_id,
         rpad(substring(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'),
                        1, {_E228_W * _E228_H * 3}),
              {_E228_W * _E228_H * 3}, ' ') AS p
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       CAST({_E228_W} AS INTEGER) AS width, CAST({_E228_H} AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth, CAST(2 AS INTEGER) AS color_type,
       CAST({_e228_size()} AS BIGINT) AS n_bytes,
       round(list_avg(list_transform(range(0, {_E228_W * _E228_H}),
             i -> ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1)))), 4) AS mean_r,
       round(list_avg(list_transform(range(0, {_E228_W * _E228_H}),
             i -> ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1)))), 4) AS mean_g,
       round(list_avg(list_transform(range(0, {_E228_W * _E228_H}),
             i -> ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1)))), 4) AS mean_b
FROM img
"""


@query("e228_png_decode", _E228_ORACLE)
def e228_png_decode(spark, sf_dir):
    """Real PNG (stored-deflate zlib) encode->decode roundtrip over the
    corpus: the compressed-container leg of the media stack. Emitter is
    byte-identical to CPython zlib level 0; decoder verifies signature,
    IHDR CRC, block layout, scanline filters, IDAT CRC-32 and Adler-32
    before trusting a single pixel byte (codecs.py::decode_png)."""
    from pivot_spark.operators.codecs import decode_png, make_png

    n = _E228_W * _E228_H * 3
    # ASCII-restrict the payload (multibyte chars would inflate the
    # UTF-8 byte payload past width*height*3 and get truncated by
    # make_png's substring, silently diverging from the codepoint
    # oracle); exclude NULLs so both sides see the same row set.
    d = (
        _read_spread(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withColumn(
            "p",
            F.encode(
                F.expr(
                    "rpad(substring(regexp_replace(text,"
                    f" '[^\\\\x00-\\\\x7F]', '?'), 1, {n}), {n}, ' ')"
                ),
                "UTF-8",
            ),
        )
    )
    img = d.select(
        "doc_id", make_png(_E228_W, _E228_H, F.col("p")).alias("image")
    )
    out = decode_png(img)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.bit_depth").alias("bit_depth"),
        F.col("meta.color_type").alias("color_type"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


# --- E231: GENUINE compressed-PNG decode — e228's roundtrip with the
# emitter swapped for real DEFLATE (zlib.compress level 6,
# fixed/dynamic Huffman) and every scanline forward-filtered with the
# spec's full filter set (type = row % 5: None/Sub/Up/Average/Paeth).
# decode_png reads them with codecs._png_parse (chunk walk + zlib
# inflate + unfilter). The container is lossless, so the
# oracle replays source-character means directly — a wrong inflate,
# a wrong unfilter, or a wrong CRC gate all surface as value
# mismatches. n_bytes is NOT output (real compression makes it
# payload-dependent).
_E231_W, _E231_H = 6, 5

_E231_ORACLE = f"""
WITH img AS (
  SELECT doc_id,
         rpad(substring(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'),
                        1, {_E231_W * _E231_H * 3}),
              {_E231_W * _E231_H * 3}, ' ') AS p
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       CAST({_E231_W} AS INTEGER) AS width, CAST({_E231_H} AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth, CAST(2 AS INTEGER) AS color_type,
       round(list_avg(list_transform(range(0, {_E231_W * _E231_H}),
             i -> ascii(substring(p, CAST(1 + i * 3 AS INTEGER), 1)))), 4) AS mean_r,
       round(list_avg(list_transform(range(0, {_E231_W * _E231_H}),
             i -> ascii(substring(p, CAST(2 + i * 3 AS INTEGER), 1)))), 4) AS mean_g,
       round(list_avg(list_transform(range(0, {_E231_W * _E231_H}),
             i -> ascii(substring(p, CAST(3 + i * 3 AS INTEGER), 1)))), 4) AS mean_b
FROM img
"""


@query("e231_png_deflate_decode", _E231_ORACLE)
def e231_png_deflate_decode(spark, sf_dir):
    """Real-encoder PNG leg: zlib level-6 DEFLATE + cycling scanline
    filters 0-4, decoded by ``decode_png``'s genuine inflate +
    unfilter chain. Scan-stage (two MapInPandas, zero shuffles)."""
    from pivot_spark.operators.codecs import decode_png, make_png_deflate

    n = _E231_W * _E231_H * 3
    d = (
        _read_spread(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withColumn(
            "p",
            F.encode(
                F.expr(
                    "rpad(substring(regexp_replace(text,"
                    f" '[^\\\\x00-\\\\x7F]', '?'), 1, {n}), {n}, ' ')"
                ),
                "UTF-8",
            ),
        )
    )
    img = d.select(
        "doc_id",
        make_png_deflate(_E231_W, _E231_H, F.col("p")).alias("image"),
    )
    out = decode_png(img)
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.bit_depth").alias("bit_depth"),
        F.col("meta.color_type").alias("color_type"),
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


# --- E229: Fill-in-the-Middle transform (Bavarian et al. 2022) — the
# infilling counterpart of e211's T5 span corruption: deterministic
# two-point split into (prefix, middle, suffix) + the PSM and SPM
# reorderings a causal LM trains on. Split points are exact-integer
# ((v * (L+1)) >> 32) md5 arithmetic — the 32-bit draw keeps the
# product inside int64 for texts up to 2^31-1 chars — so the oracle
# replays them term-for-term with no float at the boundary.
_E229_H1 = "md5('fim42:1:' || CAST(doc_id AS VARCHAR))"
_E229_H2 = "md5('fim42:2:' || CAST(doc_id AS VARCHAR))"
_E229_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text AS tx, CAST(length(text) AS BIGINT) AS L,
         CAST('0x' || substring({_E229_H1}, 1, 8) AS UBIGINT)::BIGINT AS v1,
         CAST('0x' || substring({_E229_H2}, 1, 8) AS UBIGINT)::BIGINT AS v2
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), s AS (
  SELECT doc_id, tx,
         CAST(least((v1 * (L + 1)) // 4294967296,
                    (v2 * (L + 1)) // 4294967296) AS INTEGER) AS split_lo,
         CAST(greatest((v1 * (L + 1)) // 4294967296,
                       (v2 * (L + 1)) // 4294967296) AS INTEGER) AS split_hi
  FROM t
), p AS (
  SELECT doc_id, split_lo, split_hi,
         substring(tx, 1, split_lo) AS prefix,
         substring(tx, split_lo + 1, split_hi - split_lo) AS middle,
         substring(tx, split_hi + 1, length(tx) - split_hi) AS suffix
  FROM s
)
SELECT doc_id, split_lo, split_hi, prefix, middle, suffix,
       '<PRE>' || prefix || '<SUF>' || suffix || '<MID>' || middle AS fim_psm,
       '<SUF>' || suffix || '<PRE>' || prefix || '<MID>' || middle AS fim_spm
FROM p
"""


@query("e229_fim_transform", _E229_ORACLE)
def e229_fim_transform(spark, sf_dir):
    """FIM training pairs over the corpus: scan-stage md5 splits + the
    PSM/SPM sentinel reorderings (operators/augment.py::fim_transform);
    zero shuffles, exact-integer split points on any engine."""
    from pivot_spark.operators.augment import fim_transform

    docs = _read(spark, sf_dir, "documents")
    out = fim_transform(docs, "doc_id", "text", seed="fim42")
    return out.withColumnRenamed("id", "doc_id")


# --- E230: length-grouped batch planning — the dynamic-padding loader
# layout: global length-DESC order (skew-free row_rank, no global
# sort), chunked into fixed batches, per-batch padding economics. The
# oracle replays the order/chunking with a window row_number.
_E230_B = 64
_E230_ORACLE = f"""
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
), b AS (
  SELECT CAST((rk - 1) // {_E230_B} AS INTEGER) AS batch, n_chars FROM r
)
SELECT batch, count(*) AS n_rows,
       CAST(max(n_chars) AS BIGINT) AS max_len,
       CAST(sum(n_chars) AS BIGINT) AS sum_len,
       CAST(count(*) * max(n_chars) AS BIGINT) AS padded_len,
       round(sum(n_chars) / CAST(count(*) * max(n_chars) AS DOUBLE), 4)
         AS pad_efficiency
FROM b GROUP BY batch
"""


@query("e230_length_batches", _E230_ORACLE)
def e230_length_batches(spark, sf_dir):
    """Padding-efficiency batch report over the corpus
    (operators/packing.py::length_batches): answer-sized output, the
    only corpus-wide stage is the range-partitioned ranker."""
    from pivot_spark.operators.packing import length_batches

    docs = _read(spark, sf_dir, "documents")
    return length_batches(docs, "doc_id", "n_chars", batch_size=_E230_B)
