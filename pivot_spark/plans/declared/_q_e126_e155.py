"""Declared queries e126-e155: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from pivot_spark.operators._fence import materialize

from ._base import (F, _mined_pairs, _read, query)  # noqa: F401
from ._q_e96_e125 import (_E126_ORACLE)  # noqa: F401



@query("e126_domain_stats", _E126_ORACLE)
def e126_domain_stats(spark, sf_dir):
    from pivot_spark.operators.web import domain_stats

    d = _read(spark, sf_dir, "documents")
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
        .when(F.col("doc_id") % 3 == 1, F.lit(""))
        .otherwise(F.lit("cdn.assets."))
    )
    tld = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(".com"))
        .when(F.col("doc_id") % 4 == 1, F.lit(".co.uk"))
        .when(F.col("doc_id") % 4 == 2, F.lit(".org"))
        .otherwise(F.lit(".io"))
    )
    url = F.concat(
        F.lit("https://"), sub, F.col("source"), tld,
        F.lit("/"), F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
    )
    docs = d.select("doc_id", "lang", "n_chars", url.alias("url"))
    out = domain_stats(docs, "url", lang_col="lang", size_col="n_chars")
    return out.select(
        "domain",
        "n_docs",
        "n_langs",
        F.round("avg_size", 4).alias("avg_size"),
        F.round("share", 4).alias("share"),
        F.col("domain").isin("src0.com", "src3.org").alias("blocked"),
    )


# --- E127: maximal duplicated-span extraction — the exact-substring
# dedup rung (Lee et al. 2021 suffix-array method, re-expressed as
# stride-1 sliding k-gram windows + corpus counts + per-doc interval
# merge; unlike e32's fixed chunks this catches unaligned repeats).
# Oracle: window/lag/cumsum replay of the same merge rule.
_E127_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents
), pw AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
         array_to_string(w[t.i:t.i+4], ' ') AS gram
  FROM toks, LATERAL unnest(range(1, len(w) - 3)) AS t(i)
  WHERE len(w) >= 5
), c AS (
  SELECT gram FROM pw GROUP BY gram HAVING count(*) >= 2
), dup AS (
  SELECT pw.doc_id, pw.pos FROM pw JOIN c USING (gram)
), b AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
              THEN 1 ELSE 0 END AS brk
  FROM dup
), s AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
       max(pos) + 4 - min(pos) + 1 AS span_tokens
FROM s GROUP BY doc_id, sid
"""


@query("e127_duplicated_spans", _E127_ORACLE)
def e127_duplicated_spans(spark, sf_dir):
    from pivot_spark.operators.spans import duplicated_spans

    d = _read(spark, sf_dir, "documents")
    return duplicated_spans(d, "doc_id", "text", k=5)


# --- E128: degenerate-loop detection ('the the the' / 'a b a b'):
# longest period-1 and period-2 token-repeat chains per doc — pure
# scan-stage array folds, zero shuffles. Oracle: gaps-and-islands
# window replay (run id = cumsum of non-matches).
_E128_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS w
  FROM documents
), pos AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS i, w[t.i] AS tok
  FROM toks, LATERAL unnest(range(1, len(w) + 1)) AS t(i)
), m AS (
  SELECT doc_id, i,
         CASE WHEN tok = lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 1 ELSE 0 END AS m1,
         CASE WHEN tok = lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 1 ELSE 0 END AS m2
  FROM pos
), r AS (
  SELECT doc_id, i, m1, m2,
         sum(CASE WHEN m1 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS r1,
         sum(CASE WHEN m2 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS r2
  FROM m
), a1 AS (
  SELECT doc_id, max(cnt) AS run FROM (
    SELECT doc_id, r1, count(*) AS cnt FROM r WHERE m1 = 1 GROUP BY 1, 2
  ) GROUP BY 1
), a2 AS (
  SELECT doc_id, max(cnt) AS run FROM (
    SELECT doc_id, r2, count(*) AS cnt FROM r WHERE m2 = 1 GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT t.doc_id, CAST(len(t.w) AS INTEGER) AS n_tokens,
       CAST(coalesce(a1.run, 0) AS INTEGER) AS run_p1,
       CAST(coalesce(a2.run, 0) AS INTEGER) AS run_p2
FROM toks t
LEFT JOIN a1 ON t.doc_id = a1.doc_id
LEFT JOIN a2 ON t.doc_id = a2.doc_id
"""


@query("e128_repetition_runs", _E128_ORACLE)
def e128_repetition_runs(spark, sf_dir):
    from pivot_spark.operators.spans import repetition_runs

    d = _read(spark, sf_dir, "documents")
    return repetition_runs(d, "doc_id", "text", max_period=2)


# --- E129: incremental MinHash near-dup — the daily-ingest path: the
# delta batch (doc_id % 10 = 0) is shingled and checked against the
# pre-built signature index of the rest of the corpus; corpus text is
# never re-read. Oracle: brute-force Jaccard restricted to pairs
# touching the delta (the e03 idiom; banding misses ~1e-8).
_E129_ORACLE = """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams))::DOUBLE /
             (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
  AND len(list_intersect(a.grams, b.grams))::DOUBLE /
      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
"""


@query("e129_neardup_incremental", _E129_ORACLE)
def e129_neardup_incremental(spark, sf_dir):
    from pivot_spark.operators.neardup import (
        minhash_signatures,
        neardup_minhash_incremental,
    )

    d = _read(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    # the operator contract: the caller pins the index (3 consumers)
    index = minhash_signatures(corpus, "doc_id", "text")
    index = materialize(index, "e129_neardup_incremental")[0]
    pairs, _new_index = neardup_minhash_incremental(index, delta, "doc_id", "text")
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# --- E130: HLL audience-overlap matrix (inclusion–exclusion over
# sketch unions): pairwise shared-user estimates between event types —
# members scanned ONCE into 2^lg_k-bounded sketches, pairs formed by
# unioning sketches, never sets. Round 7 FOLDED the old rows-only
# estimate row into a hash-checked accuracy contract (the p26b device,
# round-6 verdict item 4): Spark emits the EXACT pairwise counts plus
# ok_* := |HLL_estimate - exact| <= 0.05 * exact (overlap tolerance
# relative to the exact union, the inclusion-exclusion error scale);
# the oracle emits the same exact counts plus literal TRUE. HLL
# sketches are deterministic for a given input, and the measured error
# on the driver fixtures is 0% (sparse-mode sketches at sf0.001/0.01),
# so the row set is stable — a sketch regression past 5% flips the
# gate red instead of hiding behind a rows-only check. The exact side
# exists ONLY to audit the sketch; the production operator is
# hll_overlap_matrix alone (±3σ union algebra in tests/test_sketch2.py).
_E130_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type AS g, user_id AS u FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), sz AS (
  SELECT g, count(*) AS n FROM d GROUP BY 1
), ov AS (
  SELECT a.g AS ga, b.g AS gb, count(*) AS x
  FROM d a JOIN d b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2
)
SELECT sa.g AS group_a, sb.g AS group_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(sa.n + sb.n - coalesce(ov.x, 0) AS BIGINT) AS n_union,
       CAST(coalesce(ov.x, 0) AS BIGINT) AS n_overlap,
       round(coalesce(ov.x, 0)::DOUBLE /
             (sa.n + sb.n - coalesce(ov.x, 0)), 4) AS jaccard,
       TRUE AS ok_a, TRUE AS ok_b, TRUE AS ok_union, TRUE AS ok_overlap
FROM sz sa JOIN sz sb ON sa.g < sb.g
LEFT JOIN ov ON ov.ga = sa.g AND ov.gb = sb.g
"""


@query("e130_hll_overlap", _E130_ORACLE)
def e130_hll_overlap(spark, sf_dir):
    from pivot_spark.operators.sketch import hll_overlap_matrix

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    est = hll_overlap_matrix(ev, "event_type", "user_id", lg_k=14)

    # the sizes aggregate and BOTH self-join sides read d
    d = materialize(ev.select("event_type", "user_id").distinct(), "e130_hll_overlap")[0]
    sz = d.groupBy(F.col("event_type").alias("g")).agg(
        F.count("*").alias("n")
    )
    a, b = d.alias("a"), d.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("group_a"),
            F.col("b.event_type").alias("group_b"),
        )
        .agg(F.count("*").alias("x_ov"))
    )
    sa, sb = sz.alias("sa"), sz.alias("sb")
    exact = (
        sa.join(sb, F.col("sa.g") < F.col("sb.g"))
        .select(
            F.col("sa.g").alias("group_a"),
            F.col("sb.g").alias("group_b"),
            F.col("sa.n").alias("x_a"),
            F.col("sb.n").alias("x_b"),
        )
        .join(ov, ["group_a", "group_b"], "left")
        .fillna(0, ["x_ov"])
        .withColumn("x_u", F.col("x_a") + F.col("x_b") - F.col("x_ov"))
    )
    j = est.join(exact, ["group_a", "group_b"])
    tol = 0.05
    return j.select(
        "group_a",
        "group_b",
        F.col("x_a").alias("n_a"),
        F.col("x_b").alias("n_b"),
        F.col("x_u").alias("n_union"),
        F.col("x_ov").alias("n_overlap"),
        F.round(F.col("x_ov").cast("double") / F.col("x_u"), 4).alias("jaccard"),
        (F.abs(est["n_a"] - F.col("x_a")) <= tol * F.col("x_a")).alias("ok_a"),
        (F.abs(est["n_b"] - F.col("x_b")) <= tol * F.col("x_b")).alias("ok_b"),
        (F.abs(est["n_union"] - F.col("x_u")) <= tol * F.col("x_u")).alias("ok_union"),
        (F.abs(est["n_overlap"] - F.col("x_ov")) <= tol * F.col("x_u")).alias(
            "ok_overlap"
        ),
    )


# --- E131: classifier calibration report (Guo et al. 2017 reliability
# bins + ECE) over a deterministic sigmoid score on events — ONE bin
# aggregate + broadcast total; the check that a quality score means
# what it says before it drives sampling (e83/e37). Replayed
# bin-for-bin.
_E131_ORACLE = """
WITH b AS (
  SELECT least(CAST(floor((1 / (1 + exp(-(value - 50) / 20.0))) * 10) AS INTEGER), 9)
           AS bin,
         1 / (1 + exp(-(value - 50) / 20.0)) AS s,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), per AS (
  SELECT bin, count(*) AS n, avg(s) AS mean_score, avg(y) AS pos_rate
  FROM b GROUP BY 1
), tot AS (
  SELECT sum(n) AS t, sum(n * abs(pos_rate - mean_score)) AS werr FROM per
)
SELECT CAST(bin AS INTEGER) AS bin, round(bin / 10.0, 4) AS bin_lo, n,
       round(n / CAST(t AS DOUBLE), 4) AS share,
       round(mean_score, 4) AS mean_score, round(pos_rate, 4) AS pos_rate,
       round(abs(pos_rate - mean_score), 4) AS gap,
       round(werr / t, 4) AS ece
FROM per, tot
"""


@query("e131_calibration", _E131_ORACLE)
def e131_calibration(spark, sf_dir):
    from pivot_spark.operators.classifier import calibration_report

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50) / F.lit(20.0)))).alias("score"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    out = calibration_report(scored, "score", "label", n_bins=10)
    return out.select(
        "bin",
        F.round("bin_lo", 4).alias("bin_lo"),
        "n",
        F.round("share", 4).alias("share"),
        F.round("mean_score", 4).alias("mean_score"),
        F.round("pos_rate", 4).alias("pos_rate"),
        F.round("gap", 4).alias("gap"),
        F.round("ece", 4).alias("ece"),
    )


# --- E132: temperature-scaled mixture shares (Conneau & Lample 2019):
# q_s ∝ share_s^alpha flattening toward low-resource strata, keep
# rates for a char budget — one tiny stratum aggregate + broadcast
# total. Replayed share-for-share.
_E132_ORACLE = """
WITH per AS (
  SELECT lang AS stratum, sum(CAST(n_chars AS DOUBLE)) AS weight
  FROM documents GROUP BY 1
), tot AS (
  SELECT sum(weight) AS t, sum(pow(weight, 0.3)) AS pt FROM per
)
SELECT stratum, weight, round(weight / t, 4) AS share,
       round(pow(weight, 0.3) / pt, 4) AS target_share,
       round(least(1.0, (pow(weight, 0.3) / pt) * 100000 / weight), 4) AS keep_rate
FROM per, tot
"""


@query("e132_temperature_mixture", _E132_ORACLE)
def e132_temperature_mixture(spark, sf_dir):
    from pivot_spark.operators.sample import temperature_mixture_rates

    d = _read(spark, sf_dir, "documents")
    out = temperature_mixture_rates(d, "lang", "n_chars", alpha=0.3, budget=100_000)
    return out.select(
        "stratum",
        "weight",
        F.round("share", 4).alias("share"),
        F.round("target_share", 4).alias("target_share"),
        F.round("keep_rate", 4).alias("keep_rate"),
    )


# --- E133: keep-first duplicated-span REMOVAL (the apply side of e127,
# Lee et al. 2021's dedup action): every duplicated 5-gram window is
# cut except its first (doc, pos) occurrence; documents re-assembled
# from surviving tokens. Replayed with the same first-occurrence rank
# and positional rebuild.
_E133_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
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
  SELECT doc_id, list(p ORDER BY p) AS rem FROM remp GROUP BY 1
)
SELECT t.doc_id,
       coalesce(array_to_string(list_filter(list_transform(range(1, len(t.w) + 1),
         i -> CASE WHEN NOT coalesce(list_contains(r.rem, i), false)
                   THEN t.w[i] END),
         x -> x IS NOT NULL), ' '), '') AS text,
       CAST(len(t.w) AS INTEGER) AS n_tokens,
       CAST(coalesce(len(r.rem), 0) AS INTEGER) AS n_removed
FROM toks t LEFT JOIN rem r USING (doc_id)
"""


@query("e133_remove_dup_spans", _E133_ORACLE)
def e133_remove_dup_spans(spark, sf_dir):
    from pivot_spark.operators.spans import remove_duplicated_spans

    d = _read(spark, sf_dir, "documents")
    return remove_duplicated_spans(d, "doc_id", "text", k=5)


# --- E134: deterministic Poisson bootstrap (Chamandy et al. 2012) —
# the distributed bootstrap: per-replica Poisson(1) weights from
# md5-uniform inverse-CDF lookups, ALL replicas carried as 2R sums in
# ONE single-row aggregate (no explode, no data duplication); SE + CI
# from scan-stage array math. Oracle: full md5/CDF/indexing replay.
_E134_ORACLE = """
WITH b AS (
  SELECT event_id AS id, value::DOUBLE AS x FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
), e AS (
  SELECT t.r AS r, b.x,
         (CAST('0x' || substring(md5('boot:' || CAST(t.r // 4 AS VARCHAR) || ':'
                || CAST(b.id AS VARCHAR)), 1 + 8 * (t.r % 4), 8)
               AS UBIGINT)::DOUBLE + 0.5) / 4294967296.0 AS u
  FROM b, LATERAL unnest(range(0, 30)) AS t(r)
), f AS (
  SELECT r, x, (u >= 0.36787944117144233)::INT + (u >= 0.7357588823428847)::INT + (u >= 0.9196986029286058)::INT + (u >= 0.9810118431238462)::INT + (u >= 0.9963401531726562)::INT + (u >= 0.9994058151824182)::INT + (u >= 0.999916758850712)::INT + (u >= 0.9999897508033254)::INT AS wt FROM e
), g AS (
  SELECT r, sum(wt) AS w, sum(wt * x) AS wx FROM f GROUP BY r
), m AS (
  SELECT list(wx / w ORDER BY r) AS l FROM g
)
SELECT round((SELECT sum(x) FROM b) / (SELECT count(*) FROM b), 4) AS estimate,
       round(list_sum(l) / 30, 4) AS boot_mean,
       round(sqrt(greatest(list_sum(list_transform(l, v -> v * v)) / 30
                           - pow(list_sum(l) / 30, 2), 0)), 4) AS se,
       round(list_sort(l)[2], 4) AS ci_lo,
       round(list_sort(l)[29], 4) AS ci_hi,
       (SELECT count(*) FROM b) AS n,
       30 AS n_replicas
FROM m
"""


@query("e134_poisson_bootstrap", _E134_ORACLE)
def e134_poisson_bootstrap(spark, sf_dir):
    from pivot_spark.operators.bootstrap import poisson_bootstrap_mean

    ev = _read(spark, sf_dir, "events")
    out = poisson_bootstrap_mean(ev, "event_id", "value", n_replicas=30, ci=0.9)
    return out.select(
        F.round("estimate", 4).alias("estimate"),
        F.round("boot_mean", 4).alias("boot_mean"),
        F.round("se", 4).alias("se"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
        "n",
        "n_replicas",
    )


# --- E135: equi-join cardinality estimate BEFORE the join (the
# optimizer-style sanity check): exact sum of n_left*n_right over the
# per-key count frames — never materializes the join; top-share flags
# the e47-salting case. Oracle: same per-key algebra.
_E135_ORACLE = """
WITH lc AS (
  SELECT l_orderkey AS k, count(*) AS nl FROM lineitem
  WHERE l_orderkey IS NOT NULL GROUP BY 1
), rc AS (
  SELECT o_orderkey AS k, count(*) AS nr FROM orders
  WHERE o_orderkey IS NOT NULL GROUP BY 1
), per AS (
  SELECT lc.k, nl * nr AS c FROM lc JOIN rc USING (k)
), tc AS (
  SELECT sum(c) AS top_contrib FROM (
    SELECT c FROM per ORDER BY c DESC, k LIMIT 5
  )
)
SELECT CAST((SELECT sum(c) FROM per) AS BIGINT) AS est_rows,
       (SELECT count(*) FROM per) AS n_keys_matched,
       (SELECT count(*) FROM lc) AS n_keys_left,
       (SELECT count(*) FROM rc) AS n_keys_right,
       CAST(top_contrib AS BIGINT) AS top_contrib,
       round(top_contrib / CAST((SELECT sum(c) FROM per) AS DOUBLE), 4)
         AS top_share
FROM tc
"""


@query("e135_join_size_estimate", _E135_ORACLE)
def e135_join_size_estimate(spark, sf_dir):
    from pivot_spark.operators.profile import join_size_estimate

    li = _read(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "k")
    o = _read(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "k")
    out = join_size_estimate(li, o, "k", top=5)
    return out.select(
        "est_rows", "n_keys_matched", "n_keys_left", "n_keys_right",
        "top_contrib", F.round("top_share", 4).alias("top_share"),
    )


# --- E136: label-propagation communities (Raghavan et al. 2007) over
# the near-dup graph — the community rung above e31's components; 3
# synchronous rounds, tie -> smallest label (deterministic, the e107
# fixed-iteration contract). Oracle: brute-force Jaccard edges + the
# rounds unrolled as CTEs (mode via count/row_number).
_E136_ORACLE = r"""
WITH sh AS (
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
), ed AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM ed
), l1 AS (
  SELECT node, label FROM (
    SELECT e.a AS node, l.label, count(*) AS c,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM ed e JOIN l0 l ON e.b = l.node GROUP BY e.a, l.label
  ) WHERE rn = 1
), l2 AS (
  SELECT node, label FROM (
    SELECT e.a AS node, l.label, count(*) AS c,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM ed e JOIN l1 l ON e.b = l.node GROUP BY e.a, l.label
  ) WHERE rn = 1
), l3 AS (
  SELECT node, label FROM (
    SELECT e.a AS node, l.label, count(*) AS c,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM ed e JOIN l2 l ON e.b = l.node GROUP BY e.a, l.label
  ) WHERE rn = 1
)
SELECT node, label FROM l3
"""


@query("e136_label_propagation", _E136_ORACLE)
def e136_label_propagation(spark, sf_dir):
    from pivot_spark.operators.components import label_propagation

    d = _read(spark, sf_dir, "documents")
    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return label_propagation(edges, iterations=3)


# --- E137: Kaplan–Meier survival curve (Kaplan & Meier 1958) —
# time-to-first-purchase per user with right-censoring at last
# activity; one duration-keyed aggregate, then risk sets + the
# log-sum running product over the DISTINCT-TIME frame (bounded by
# time resolution, never subject count). Oracle: the same windows.
_E137_ORACLE = """
WITH per AS (
  SELECT user_id,
         min(epoch_us(ts)) AS first_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us,
         max(epoch_us(ts)) AS last_us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
), subj AS (
  SELECT user_id,
         CAST(floor((coalesce(p_us, last_us) - first_us) / 3600000000.0)
              AS DOUBLE) AS t,
         CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per
), g AS (
  SELECT t, sum(ev) AS d, sum(1 - ev) AS censored FROM subj GROUP BY 1
), r AS (
  SELECT t, d, censored,
         sum(d + censored) OVER (ORDER BY t
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM g
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       CAST(censored AS BIGINT) AS censored,
       round(exp(sum(CASE WHEN d > 0 THEN
                       CASE WHEN d < n_risk THEN ln(1 - d / CAST(n_risk AS DOUBLE))
                            ELSE '-infinity'::DOUBLE END
                     ELSE 0.0 END)
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 4) AS survival
FROM r
"""


@query("e137_kaplan_meier", _E137_ORACLE)
def e137_kaplan_meier(spark, sf_dir):
    from pivot_spark.operators.analytics import kaplan_meier

    ev = _read(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
        F.max(us).alias("last_us"),
    )
    subj = per.select(
        F.floor(
            (F.coalesce("p_us", "last_us") - F.col("first_us")) / F.lit(3_600_000_000.0)
        ).cast("double").alias("dur"),
        F.col("p_us").isNotNull().cast("int").alias("ev"),
    )
    out = kaplan_meier(subj, "dur", "ev")
    return out.select(
        "t", "n_risk", "d", "censored", F.round("survival", 4).alias("survival")
    )


# --- E138: classification report for the built-in lang-ID against gold
# labels — per-class precision/recall/F1 + accuracy from ONE
# contingency aggregate (the scikit report, distributed). Oracle:
# the e05 lang-guess replay feeding the same cell algebra.
def _e138_oracle() -> str:
    from pivot_spark.functions.text import LANG_STOPWORDS

    score = {}
    for lang, words in LANG_STOPWORDS.items():
        if lang == "zh":
            score[lang] = "len(regexp_extract_all(text, '[一-鿿]'))"
        else:
            wl = ", ".join(f"'{w}'" for w in words)
            score[lang] = f"len(list_filter(ltoks, w -> list_contains([{wl}], w)))"
    langs = list(score)
    cases = " ".join(
        "WHEN s_{0} > 0 AND {1} THEN '{0}'".format(
            lang, " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        )
        for lang in langs
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, text,
    list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ltoks
  FROM documents
), s AS (
  SELECT doc_id, lang,
    {', '.join(f'{expr} AS s_{lang}' for lang, expr in score.items())}
  FROM b
), g AS (
  SELECT lang AS label, CASE {cases} ELSE 'und' END AS pred FROM s
), ct AS (
  SELECT label, pred, count(*) AS n FROM g GROUP BY 1, 2
), tm AS (SELECT label AS class, sum(n) AS n_true FROM ct GROUP BY 1),
pm AS (SELECT pred AS class, sum(n) AS n_pred FROM ct GROUP BY 1),
tp AS (SELECT label AS class, n AS tp FROM ct WHERE label = pred),
acc AS (
  SELECT sum(CASE WHEN label = pred THEN n ELSE 0 END) / CAST(sum(n) AS DOUBLE)
    AS accuracy FROM ct
), base AS (
  SELECT coalesce(tm.class, pm.class) AS class,
         coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
         coalesce(tp, 0) AS tp
  FROM tm FULL JOIN pm ON tm.class = pm.class
  LEFT JOIN tp ON coalesce(tm.class, pm.class) = tp.class
)
SELECT class, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred, tp,
       round(coalesce(tp / nullif(CAST(n_pred AS DOUBLE), 0), 0), 4) AS precision,
       round(coalesce(tp / nullif(CAST(n_true AS DOUBLE), 0), 0), 4) AS recall,
       round(coalesce(2 * (tp / nullif(CAST(n_pred AS DOUBLE), 0))
                        * (tp / nullif(CAST(n_true AS DOUBLE), 0))
                      / nullif(tp / nullif(CAST(n_pred AS DOUBLE), 0)
                               + tp / nullif(CAST(n_true AS DOUBLE), 0), 0), 0), 4)
         AS f1,
       round(accuracy, 4) AS accuracy
FROM base, acc
"""


@query("e138_classification_report", _e138_oracle())
def e138_classification_report(spark, sf_dir):
    from pivot_spark.functions.text import lang_guess
    from pivot_spark.operators.analytics import classification_report

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        F.col("lang").alias("label"), lang_guess(F.col("text")).alias("pred")
    )
    out = classification_report(scored, "label", "pred")
    return out.select(
        "class", "n_true", "n_pred", "tp",
        F.round("precision", 4).alias("precision"),
        F.round("recall", 4).alias("recall"),
        F.round("f1", 4).alias("f1"),
        F.round("accuracy", 4).alias("accuracy"),
    )


# --- E139: rendezvous-hash shard rebalance audit (Thaler &
# Ravishankar 1998): HRW argmax per key for 8 and 10 shards, movement
# share vs the (M-N)/M guarantee, hottest-shard balance — all
# scan-stage md5 argmax + one aggregate. Replayed with arg_max over
# the same hashes.
_E139_ORACLE = """
WITH keys AS (
  SELECT DISTINCT user_id AS key FROM events WHERE user_id IS NOT NULL
), hf AS (
  SELECT key, t.s AS s,
         md5('shard:' || CAST(t.s AS VARCHAR) || ':' || CAST(key AS VARCHAR)) AS h
  FROM keys, LATERAL unnest(range(0, 10)) AS t(s)
), f8 AS (
  SELECT key, CAST(arg_max(s, h) AS INTEGER) AS s_from FROM hf WHERE s < 8 GROUP BY key
), f10 AS (
  SELECT key, CAST(arg_max(s, h) AS INTEGER) AS s_to FROM hf GROUP BY key
), j AS (
  SELECT f8.key, s_from, s_to FROM f8 JOIN f10 USING (key)
), a AS (
  SELECT count(*) AS n_keys, sum(CASE WHEN s_from <> s_to THEN 1 ELSE 0 END) AS moved
  FROM j
), mf AS (
  SELECT max(c) AS m FROM (SELECT s_from, count(*) AS c FROM j GROUP BY 1)
), mt AS (
  SELECT max(c) AS m FROM (SELECT s_to, count(*) AS c FROM j GROUP BY 1)
)
SELECT n_keys, CAST(moved AS BIGINT) AS moved,
       round(moved / CAST(n_keys AS DOUBLE), 4) AS moved_share,
       CAST(0.2 AS DOUBLE) AS expected_share,
       round(mf.m / CAST(n_keys AS DOUBLE), 4) AS max_share_from,
       round(mt.m / CAST(n_keys AS DOUBLE), 4) AS max_share_to
FROM a, mf, mt
"""


@query("e139_rendezvous_rebalance", _E139_ORACLE)
def e139_rendezvous_rebalance(spark, sf_dir):
    from pivot_spark.operators.sharding import rebalance_report

    ev = _read(spark, sf_dir, "events")
    out = rebalance_report(ev, "user_id", n_from=8, n_to=10)
    return out.select(
        "n_keys", "moved",
        F.round("moved_share", 4).alias("moved_share"),
        F.round("expected_share", 4).alias("expected_share"),
        F.round("max_share_from", 4).alias("max_share_from"),
        F.round("max_share_to", 4).alias("max_share_to"),
    )


# --- E140: one-way ANOVA F over event-type value means — the k-sample
# rung of the e119 drift family; SSB/SSW from one group aggregate +
# one single-row aggregate over the group frame. Replayed
# term-for-term.
_E140_ORACLE = """
WITH per AS (
  SELECT event_type AS g, count(*) AS n_g, avg(value) AS m_g,
         var_pop(value) AS v_g
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), a AS (
  SELECT count(*) AS k, sum(n_g) AS n,
         sum(n_g * m_g) / sum(n_g) AS m,
         sum(n_g * v_g) AS ssw,
         sum(n_g * m_g * m_g) AS sm2
  FROM per
)
SELECT k, CAST(n AS BIGINT) AS n,
       round(sm2 - n * m * m, 4) AS ssb, round(ssw, 4) AS ssw,
       k - 1 AS df_between, CAST(n - k AS BIGINT) AS df_within,
       round(((sm2 - n * m * m) / (k - 1)) / (ssw / (n - k)), 4) AS f_stat,
       round((sm2 - n * m * m) / ((sm2 - n * m * m) + ssw), 4) AS eta_sq
FROM a
"""


@query("e140_anova", _E140_ORACLE)
def e140_anova(spark, sf_dir):
    from pivot_spark.operators.analytics import anova_oneway

    ev = _read(spark, sf_dir, "events")
    out = anova_oneway(ev, "event_type", "value")
    return out.select(
        "k", "n", F.round("ssb", 4).alias("ssb"), F.round("ssw", 4).alias("ssw"),
        "df_between", "df_within",
        F.round("f_stat", 4).alias("f_stat"),
        F.round("eta_sq", 4).alias("eta_sq"),
    )


# --- E141: Mann–Whitney U (rank-sum) between purchase and click
# values — nonparametric drift; combined ranks from the e81
# distributed ranker (no global sort), tie-corrected normal z.
# Oracle: the rank()+(cnt-1)/2 average-rank identity in windows.
_E141_ORACLE = """
WITH b AS (
  SELECT (event_type = 'purchase') AS a, value::DOUBLE AS v
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), r AS (
  SELECT a, v,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS rk
  FROM b
), t AS (
  SELECT sum(c * c * c - c)::DOUBLE AS t3 FROM (
    SELECT count(*) AS c FROM b GROUP BY v
  )
), agg AS (
  SELECT sum(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN a THEN 0 ELSE 1 END) AS n_b,
         sum(CASE WHEN a THEN rk END) AS ra,
         sum(CASE WHEN a THEN NULL ELSE rk END) AS rb
  FROM r
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(ra - n_a * (n_a + 1) / 2.0, 4) AS u_a,
       round(rb - n_b * (n_b + 1) / 2.0, 4) AS u_b,
       round(ra / n_a, 4) AS mean_rank_a,
       round(rb / n_b, 4) AS mean_rank_b,
       round((ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
             / sqrt(n_a * n_b / 12.0
                    * ((n_a + n_b + 1) - t3 / ((n_a + n_b) * (n_a + n_b - 1.0)))),
             4) AS z
FROM agg, t
"""


@query("e141_mannwhitney", _E141_ORACLE)
def e141_mannwhitney(spark, sf_dir):
    from pivot_spark.operators.analytics import mannwhitney_u

    ev = _read(spark, sf_dir, "events")
    out = mannwhitney_u(ev, "event_type", "value", "purchase", "click")
    return out.select(
        "n_a", "n_b",
        F.round("u_a", 4).alias("u_a"),
        F.round("u_b", 4).alias("u_b"),
        F.round("mean_rank_a", 4).alias("mean_rank_a"),
        F.round("mean_rank_b", 4).alias("mean_rank_b"),
        F.round("z", 4).alias("z"),
    )


# --- E142: Rocchio nearest-centroid text classifier — trained
# DISTRIBUTED on the even-doc split (one (label, bucket) aggregate over
# md5 feature hashes, L2-normalized), scored scan-stage via centroid
# literals (the e54 contract: only k×B doubles reach the driver).
# Oracle: training + scoring replayed join-for-join, scores coalesced
# to 0 for unmatched labels.
_E142_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, lang, t.tok
  FROM documents,
       LATERAL unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  w -> w <> '')) AS t(tok)
), bc AS (
  SELECT lang AS label,
         ('0x' || substring(md5('fh:rocchio:' || tok), 1, 15))::BIGINT % 256
           AS bucket,
         count(*) AS c
  FROM tok WHERE doc_id % 2 = 0 GROUP BY 1, 2
), nrm AS (
  SELECT label, sqrt(sum(c::DOUBLE * c)) AS n FROM bc GROUP BY 1
), m AS (
  SELECT bc.label, bucket, c / n AS w FROM bc JOIN nrm USING (label)
), db AS (
  SELECT doc_id,
         ('0x' || substring(md5('fh:rocchio:' || tok), 1, 15))::BIGINT % 256
           AS bucket
  FROM tok
), sc AS (
  SELECT db.doc_id, m.label, sum(m.w) AS s
  FROM db JOIN m USING (bucket) GROUP BY 1, 2
), alldl AS (
  SELECT d.doc_id, l.label
  FROM (SELECT DISTINCT doc_id FROM documents) d,
       (SELECT DISTINCT label FROM m) l
), sc2 AS (
  SELECT alldl.doc_id, alldl.label, coalesce(sc.s, 0) AS s
  FROM alldl LEFT JOIN sc ON alldl.doc_id = sc.doc_id
                         AND alldl.label = sc.label
), pick AS (
  SELECT doc_id, label, s,
         lead(s) OVER (PARTITION BY doc_id ORDER BY s DESC, label ASC) AS s2,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, label ASC) AS rn
  FROM sc2
)
SELECT doc_id, label AS pred, round(s - s2, 4) AS margin
FROM pick WHERE rn = 1
"""


@query("e142_rocchio", _E142_ORACLE)
def e142_rocchio(spark, sf_dir):
    from pivot_spark.operators.classifier import rocchio_predict, rocchio_train

    d = _read(spark, sf_dir, "documents")
    model = rocchio_train(d.filter(F.col("doc_id") % 2 == 0), "lang", "text")
    out = rocchio_predict(d, model, "text")
    return out.select("doc_id", "pred", F.round("margin", 4).alias("margin"))


# --- E143: point-in-time SCD2 lookup — each order joins the customer
# status version valid AT its date (the feature-store / as-was
# reporting join): plain key equi-join with the validity predicate in
# the join condition; fan-out bounded by versions-per-key, so no range
# bucketing is needed. Oracle: the e69 build CTEs + the same theta
# predicate.
_E143_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER w AS prev,
         row_number() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), changes AS (
  SELECT * FROM ordered WHERE rn = 1 OR (prev IS DISTINCT FROM o_orderstatus)
), hist AS (
  SELECT o_custkey AS k, o_orderstatus AS status_at,
         epoch_us(o_orderdate) AS vf,
         epoch_us(lead(o_orderdate) OVER w2) AS vt
  FROM changes
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o.o_orderkey, o.o_custkey, epoch_us(o.o_orderdate) AS ts_us,
       h.status_at, h.vf AS valid_from_us
FROM orders o
LEFT JOIN hist h
  ON o.o_custkey = h.k
 AND h.vf <= epoch_us(o.o_orderdate)
 AND (h.vt IS NULL OR epoch_us(o.o_orderdate) < h.vt)
"""


@query("e143_scd2_lookup", _E143_ORACLE)
def e143_scd2_lookup(spark, sf_dir):
    from pivot_spark.operators.scd import scd2_build, scd2_lookup

    orders = _read(spark, sf_dir, "orders")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    hist = scd2_build(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreak=["o_orderkey"],
    ).select(
        "o_custkey",
        F.col("o_orderstatus").alias("status_at"),
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
    )
    fact = orders.select("o_orderkey", "o_custkey", us.alias("ts_us"))
    out = scd2_lookup(
        fact, hist, ["o_custkey"], "ts_us",
        valid_from="valid_from_us", valid_to="valid_to_us",
    )
    return out.select(
        "o_orderkey", "o_custkey", "ts_us", "status_at", "valid_from_us"
    )


# --- E144: sorted-neighborhood ER blocking (Hernandez & Stolfo 1995)
# over clean + mutated customer names — rank-window candidates with
# levenshtein verify; ranking is the e81 parallel prefix (no global
# sort of the data). Oracle: global row_number replay of the same
# (key, id) order + the same window/distance predicates.
_E144_ORACLE = """
WITH u AS (
  SELECT c_custkey AS id, c_name AS k FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, substring(c_name, 1, 17) || 'X'
  FROM customer WHERE c_custkey % 7 = 0
), r AS (
  SELECT id, k, row_number() OVER (ORDER BY k, id) AS r FROM u
)
SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
       CAST(b.r - a.r AS INTEGER) AS rank_gap,
       CAST(levenshtein(a.k, b.k) AS INTEGER) AS dist
FROM r a JOIN r b
  ON b.r > a.r AND b.r - a.r <= 5 AND levenshtein(a.k, b.k) <= 2
"""


@query("e144_sorted_neighborhood", _E144_ORACLE)
def e144_sorted_neighborhood(spark, sf_dir):
    from pivot_spark.operators.fuzzy import sorted_neighborhood_pairs

    cust = _read(spark, sf_dir, "customer")
    clean = cust.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("k"))
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("id"),
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("k"),
    )
    u = clean.unionByName(dirty)
    return sorted_neighborhood_pairs(u, "id", "k", window=5, max_dist=2)


# --- E145: raking / iterative proportional fitting (Deming & Stephan
# 1940): weights hitting uniform language AND source margins after 2
# alternating half-iterations — each a tiny category aggregate +
# broadcast ratio join. Oracle: the 4 half-iterations unrolled as CTEs.
def _e145_oracle() -> str:
    halves = []
    prev = "w0"
    for i, dim in enumerate(["lang", "source", "lang", "source"], start=1):
        share = "0.2" if dim == "lang" else "0.05"
        halves.append(f"""s{i} AS (
  SELECT {dim} AS c, sum(w) AS s FROM {prev} GROUP BY 1
), w{i} AS (
  SELECT {prev}.* REPLACE (w * ({share} * (SELECT count(*) FROM documents)) / s{i}.s AS w)
  FROM {prev} JOIN s{i} ON {prev}.{dim} = s{i}.c
)""")
        prev = f"w{i}"
    joined = ", ".join(halves)
    return f"""
WITH w0 AS (
  SELECT doc_id, lang, source, CAST(1.0 AS DOUBLE) AS w FROM documents
), {joined}
SELECT doc_id, lang, source, round(w, 4) AS weight FROM {prev}
"""


@query("e145_rake_weights", _e145_oracle())
def e145_rake_weights(spark, sf_dir):
    from pivot_spark.operators.sample import rake_weights

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    langs = {k: 0.2 for k in ["en", "de", "fr", "es", "zh"]}
    sources = {f"src{i}": 0.05 for i in range(20)}
    out = rake_weights(d, "lang", "source", langs, sources, iterations=2)
    return out.select("doc_id", "lang", "source", F.round("weight", 4).alias("weight"))


# --- E146: empirical-CDF (rank-uniform) feature transform — the
# RankGauss first stage: u = avg_rank/(n+1) (Weibull plotting
# position — the (r-0.5)/n form lands every value on the .xxxx5
# round-half boundary where Spark HALF_UP and DuckDB disagree) from
# the e81 distributed ranker, no global sort. Oracle: the average-rank
# window identity.
_E146_ORACLE = """
WITH b AS (
  SELECT event_id, value::DOUBLE AS v FROM events WHERE value IS NOT NULL
), r AS (
  SELECT event_id, v,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS rk
  FROM b
)
SELECT event_id, v AS value,
       round(rk / ((SELECT count(*) FROM b) + 1), 4) AS u
FROM r
"""


@query("e146_cdf_transform", _E146_ORACLE)
def e146_cdf_transform(spark, sf_dir):
    from pivot_spark.operators.profile import cdf_transform

    ev = _read(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", F.col("value").cast("double").alias("value")
    )
    out = cdf_transform(ev, "value")
    return out.select("event_id", "value", F.round("u", 4).alias("u"))


# --- E147: multivariate OLS by normal equations — two-pass centered
# Gram matrix in ONE aggregate, k×k solve on the driver (e54
# contract). Declared with k=2 so the oracle solves closed-form
# (Cramer); the numpy path is unit-tested against it.
_E147_ORACLE = """
WITH b AS (
  SELECT l_quantity::DOUBLE AS x1, l_discount::DOUBLE AS x2,
         l_extendedprice::DOUBLE AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    AND l_extendedprice IS NOT NULL
), m AS (
  SELECT avg(x1) AS m1, avg(x2) AS m2, avg(y) AS my, count(*) AS n FROM b
), g AS (
  SELECT sum((x1-m1)*(x1-m1)) AS s11, sum((x1-m1)*(x2-m2)) AS s12,
         sum((x2-m2)*(x2-m2)) AS s22, sum((x1-m1)*(y-my)) AS s1y,
         sum((x2-m2)*(y-my)) AS s2y, sum((y-my)*(y-my)) AS syy
  FROM b, m
)
SELECT round((s22*s1y - s12*s2y) / (s11*s22 - s12*s12), 4) AS b1,
       round((s11*s2y - s12*s1y) / (s11*s22 - s12*s12), 4) AS b2,
       round(my - ((s22*s1y - s12*s2y) / (s11*s22 - s12*s12)) * m1
                - ((s11*s2y - s12*s1y) / (s11*s22 - s12*s12)) * m2, 4)
         AS intercept,
       round((((s22*s1y - s12*s2y) / (s11*s22 - s12*s12)) * s1y
              + ((s11*s2y - s12*s1y) / (s11*s22 - s12*s12)) * s2y) / syy, 4)
         AS r2,
       n
FROM g, m
"""


@query("e147_linear_regression", _E147_ORACLE)
def e147_linear_regression(spark, sf_dir):
    from pivot_spark.operators.analytics import linear_regression

    li = _read(spark, sf_dir, "lineitem")
    out = linear_regression(li, ["l_quantity", "l_discount"], "l_extendedprice")
    return out.select(
        F.round(F.col("coef")[0], 4).alias("b1"),
        F.round(F.col("coef")[1], 4).alias("b2"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 4).alias("r2"),
        "n",
    )


# --- E148: small-file compaction planner (the OPTIMIZE prerequisite):
# deterministic sorted next-fit by running size — cumsum via the e81
# parallel prefix, never a single-partition window over the listing.
# Oracle: the same (size DESC, path) cumsum replayed globally.
_E148_ORACLE = """
WITH files AS (
  SELECT source || '/' || CAST(doc_id AS VARCHAR) || '.parquet' AS path,
         CAST(n_chars AS BIGINT) AS size
  FROM documents
), c AS (
  SELECT path, size,
         sum(size) OVER (ORDER BY size DESC, path
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM files
), binned AS (
  SELECT path, size, CAST(floor((cum - size) / 4000.0) AS BIGINT) AS bin FROM c
)
SELECT b.path, b.size, b.bin, CAST(s.bin_bytes AS BIGINT) AS bin_bytes
FROM binned b
JOIN (SELECT bin, sum(size) AS bin_bytes FROM binned GROUP BY 1) s USING (bin)
"""


@query("e148_plan_compaction", _E148_ORACLE)
def e148_plan_compaction(spark, sf_dir):
    from pivot_spark.operators.layout import plan_compaction

    d = _read(spark, sf_dir, "documents")
    files = d.select(
        F.concat(
            F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
            F.lit(".parquet"),
        ).alias("path"),
        F.col("n_chars").cast("long").alias("size"),
    )
    return plan_compaction(files, "path", "size", target_bytes=4000)


# --- E149: 2-D skyline / Pareto frontier (Börzsönyi et al. 2001,
# maximize price and quantity): survive iff y strictly beats the
# running max over larger-x rows — parallel-prefix max, no global
# sort. Oracle: the same running-max window globally.
_E149_ORACLE = """
WITH b AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         l_extendedprice::DOUBLE AS x, l_quantity::DOUBLE AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), r AS (
  SELECT id, x, y,
         max(y) OVER (ORDER BY x DESC, y DESC, id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM b
)
SELECT id, x, y FROM r WHERE y > coalesce(pm, -1e308)
"""


@query("e149_pareto_frontier", _E149_ORACLE)
def e149_pareto_frontier(spark, sf_dir):
    from pivot_spark.operators.profile import pareto_frontier_2d

    li = _read(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    out = pareto_frontier_2d(pts, "x", "y", "id")
    return out.select("id", "x", "y")


# --- E150: split conformal calibration (Angelopoulos & Bates 2021):
# q_hat = the ceil((n+1)(1-alpha))-th smallest calibration residual
# (finite-sample-corrected order statistic via a parallel-prefix
# cumulative count — no row sort), plus held-out coverage. Prediction:
# the calibration split's per-type mean value. Oracle: the same order
# statistic via a window.
_E150_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, value::DOUBLE AS v FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), pred AS (
  SELECT event_type, avg(v) AS p FROM base WHERE event_id % 2 = 0 GROUP BY 1
), res AS (
  SELECT b.event_id, abs(b.v - pred.p) AS r
  FROM base b JOIN pred USING (event_type)
), calib AS (
  SELECT r FROM res WHERE event_id % 2 = 0
), kk AS (
  SELECT count(*) AS n, least(count(*),
         CAST(ceil((count(*) + 1) * 0.9) AS BIGINT)) AS k
  FROM calib
), q AS (
  SELECT min(r) AS q_hat FROM (
    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM calib
  ), kk WHERE rn >= k
)
SELECT CAST(kk.n AS INTEGER) AS n_calib, CAST(kk.k AS INTEGER) AS k, round(q.q_hat, 4) AS q_hat,
       (SELECT count(*) FROM res WHERE event_id % 2 = 1) AS n_test,
       round((SELECT avg(CASE WHEN r <= q.q_hat THEN 1.0 ELSE 0.0 END)
              FROM res WHERE event_id % 2 = 1), 4) AS coverage
FROM kk, q
"""


@query("e150_conformal", _E150_ORACLE)
def e150_conformal(spark, sf_dir):
    from pivot_spark.operators.analytics import conformal_threshold

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    calib_raw = ev.filter(F.col("event_id") % 2 == 0)
    pred = calib_raw.groupBy("event_type").agg(F.avg("value").alias("__p"))
    scored = ev.join(F.broadcast(pred), "event_type").select(
        "event_id", F.abs(F.col("value") - F.col("__p")).alias("resid")
    )
    calib = scored.filter(F.col("event_id") % 2 == 0)
    test = scored.filter(F.col("event_id") % 2 == 1)
    out = conformal_threshold(calib, "resid", alpha=0.1, test=test)
    return out.select(
        "n_calib", F.col("k").cast("int").alias("k"),
        F.round("q_hat", 4).alias("q_hat"),
        "n_test", F.round("coverage", 4).alias("coverage"),
    )


# --- E151: lift / cumulative-gains table for the e131 sigmoid score —
# equal-population score deciles from the parallel-prefix row rank
# (exact ntile identity, no global sort), per-bin lift vs base rate.
# Oracle: global row_number replay of the same (score DESC, id) order.
_E151_ORACLE = """
WITH b AS (
  SELECT event_id, 1 / (1 + exp(-(value - 50) / 20.0)) AS s,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), r AS (
  SELECT s, y, row_number() OVER (ORDER BY s DESC, event_id) AS rk,
         (SELECT count(*) FROM b) AS n
  FROM b
), per AS (
  SELECT CAST(floor((rk - 1) * 10 / n) + 1 AS INTEGER) AS bin,
         count(*) AS n, sum(y) AS n_pos
  FROM r GROUP BY 1
), tot AS (
  SELECT sum(n_pos) AS tp, sum(n) AS tn FROM per
), c AS (
  SELECT bin, n, n_pos,
         sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn
  FROM per
)
SELECT bin, n, CAST(n_pos AS BIGINT) AS n_pos,
       round(n_pos / CAST(n AS DOUBLE), 4) AS pos_rate,
       round((n_pos / CAST(n AS DOUBLE)) / (tp / CAST(tn AS DOUBLE)), 4) AS lift,
       round(cp / tp, 4) AS cum_pos_share,
       round(cn / CAST(tn AS DOUBLE), 4) AS cum_pop_share
FROM c, tot
"""


@query("e151_lift_curve", _E151_ORACLE)
def e151_lift_curve(spark, sf_dir):
    from pivot_spark.operators.analytics import lift_curve_ranked

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        "event_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50) / F.lit(20.0)))).alias("score"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    out = lift_curve_ranked(scored, "score", "label", "event_id", n_bins=10)
    return out.select(
        "bin", "n", "n_pos",
        F.round("pos_rate", 4).alias("pos_rate"),
        F.round("lift", 4).alias("lift"),
        F.round("cum_pos_share", 4).alias("cum_pos_share"),
        F.round("cum_pop_share", 4).alias("cum_pop_share"),
    )


# --- E152: exact tie-corrected ROC-AUC (Mann–Whitney rank identity)
# for the e131 sigmoid score — average ranks from the e81 distributed
# ranker, one finishing aggregate. Oracle: the rank()+(cnt-1)/2
# identity.
_E152_ORACLE = """
WITH b AS (
  SELECT 1 / (1 + exp(-(value - 50) / 20.0)) AS s,
         (event_type = 'purchase') AS p
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), r AS (
  SELECT p, rank() OVER (ORDER BY s)
           + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS rk
  FROM b
), a AS (
  SELECT CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         sum(CASE WHEN p THEN rk END) AS rp
  FROM r
)
SELECT n_pos, n_neg,
       round((rp - n_pos * (n_pos + 1) / 2.0) / (n_pos * CAST(n_neg AS DOUBLE)),
             4) AS auc
FROM a
"""


@query("e152_roc_auc", _E152_ORACLE)
def e152_roc_auc(spark, sf_dir):
    from pivot_spark.operators.analytics import binary_auc

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50) / F.lit(20.0)))).alias("score"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    out = binary_auc(scored, "score", "label")
    return out.select("n_pos", "n_neg", F.round("auc", 4).alias("auc"))


# --- E153: average precision (ranked-retrieval PR-AUC) on the unique
# (score DESC, event_id) order — TWO parallel-prefix row ranks (all
# rows; positives) + one aggregate. Oracle: two row_numbers replayed.
_E153_ORACLE = """
WITH b AS (
  SELECT event_id, 1 / (1 + exp(-(value - 50) / 20.0)) AS s,
         (event_type = 'purchase') AS p
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), g AS (
  SELECT event_id, s, p,
         row_number() OVER (ORDER BY s DESC, event_id) AS gr
  FROM b
), pr AS (
  SELECT gr, row_number() OVER (ORDER BY s DESC, event_id) AS ir
  FROM g WHERE p
)
SELECT (SELECT count(*) FROM pr) AS n_pos,
       CAST((SELECT count(*) FROM g) AS INTEGER) AS n,
       round(avg(ir / CAST(gr AS DOUBLE)), 4) AS ap
FROM pr
"""


@query("e153_average_precision", _E153_ORACLE)
def e153_average_precision(spark, sf_dir):
    from pivot_spark.operators.analytics import average_precision

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        "event_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50) / F.lit(20.0)))).alias("score"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    out = average_precision(scored, "score", "label", "event_id")
    return out.select("n_pos", "n", F.round("ap", 4).alias("ap"))


# --- E154: vocabulary-richness estimates (Chao1 unseen-species bound,
# Good–Turing unseen mass, TTR, Herdan's C) from the token-type
# frequency spectrum — one type-keyed aggregate + one single-row
# frequency-of-frequency aggregate. Replayed term-for-term.
_E154_ORACLE = r"""
WITH toks AS (
  SELECT t.tok FROM documents,
       LATERAL unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  w -> w <> '')) AS t(tok)
), types AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), a AS (
  SELECT sum(c) AS n_tokens, count(*) AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM types
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
       round(CASE WHEN f2 > 0
                  THEN n_types + f1 * f1 / (2.0 * f2)
                  ELSE n_types + f1 * (f1 - 1) / 2.0 END, 4) AS chao1,
       round(f1 / CAST(n_tokens AS DOUBLE), 4) AS p_unseen,
       round(n_types / CAST(n_tokens AS DOUBLE), 4) AS ttr,
       round(ln(n_types) / ln(n_tokens), 4) AS herdan_c
FROM a
"""


@query("e154_vocab_richness", _E154_ORACLE)
def e154_vocab_richness(spark, sf_dir):
    from pivot_spark.operators.profile import vocab_richness

    d = _read(spark, sf_dir, "documents")
    out = vocab_richness(d, "text")
    return out.select(
        "n_tokens", "n_types", "f1", "f2",
        F.round("chao1", 4).alias("chao1"),
        F.round("p_unseen", 4).alias("p_unseen"),
        F.round("ttr", 4).alias("ttr"),
        F.round("herdan_c", 4).alias("herdan_c"),
    )


# --- E155: Brier score + Murphy decomposition for the e131 sigmoid
# score (BS = REL - RES + UNC) — one bin aggregate + one single-row
# aggregate. Replayed bin-for-bin.
_E155_ORACLE = """
WITH b AS (
  SELECT least(CAST(floor((1 / (1 + exp(-(value - 50) / 20.0))) * 10) AS INTEGER), 9)
           AS bin,
         1 / (1 + exp(-(value - 50) / 20.0)) AS s,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), per AS (
  SELECT bin, count(*) AS n, avg(s) AS ms, avg(y) AS my,
         avg((s - y) * (s - y)) AS bs
  FROM b GROUP BY 1
), a AS (
  SELECT sum(n) AS n, sum(n * bs) / sum(n) AS brier,
         sum(n * (ms - my) * (ms - my)) / sum(n) AS rel,
         sum(n * my) / sum(n) AS rate,
         sum(n * my * my) AS smy2
  FROM per
)
SELECT CAST(n AS BIGINT) AS n, round(brier, 4) AS brier, round(rel, 4) AS reliability,
       round(smy2 / n - rate * rate, 4) AS resolution,
       round(rate * (1 - rate), 4) AS uncertainty,
       round(rate, 4) AS base_rate
FROM a
"""


@query("e155_brier", _E155_ORACLE)
def e155_brier(spark, sf_dir):
    from pivot_spark.operators.analytics import brier_decomposition

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 50) / F.lit(20.0)))).alias("score"),
        (F.col("event_type") == "purchase").cast("double").alias("label"),
    )
    out = brier_decomposition(scored, "score", "label", n_bins=10)
    return out.select(
        "n", F.round("brier", 4).alias("brier"),
        F.round("reliability", 4).alias("reliability"),
        F.round("resolution", 4).alias("resolution"),
        F.round("uncertainty", 4).alias("uncertainty"),
        F.round("base_rate", 4).alias("base_rate"),
    )


# --- E156: exact weighted quantiles (token-mass medians): value-count
# collapse + e81 parallel-prefix cumulative weight over the DISTINCT
# value frame, min value reaching p of total mass per prob. Oracle:
# global cumulative-weight window replay.
_E156_ORACLE = """
WITH vc AS (
  SELECT CAST(n_chars AS DOUBLE) AS v, sum(CAST(n_chars AS DOUBLE)) AS w
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  GROUP BY 1
), c AS (
  SELECT v, sum(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER () AS total
  FROM vc
)
SELECT p.prob, min(c.v) AS value,
       round(min_by(c.cum, c.v), 4) AS cum_weight,
       round(any_value(c.total), 4) AS total_weight
FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
             (CAST(0.99 AS DOUBLE))) AS p(prob), c
WHERE c.cum >= p.prob * c.total
GROUP BY p.prob
"""
