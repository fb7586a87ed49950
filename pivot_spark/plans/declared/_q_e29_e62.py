"""Declared queries e29-e62: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from ._base import (  # noqa: F401
    F, _li_oracle, _mined_pairs, _pivot_li, _read, query, round_doubles,
    serialize_arrays,
)
from ._q_p01_e28 import (_E29_ORACLE)  # noqa: F401



@query("e29_centroids", _E29_ORACLE)
def e29_centroids(spark, sf_dir):
    """Per-label mean embedding: posexplode -> (label, position) partial
    sums -> reassembled mean vector; shuffled state is n_labels x dim
    scalars at any corpus size. Elements serialized %.4f for the
    canonical array form."""
    from pivot_spark.operators.embedding import centroids

    emb = _read(spark, sf_dir, "embeddings")
    out = centroids(emb, "label", "embedding")
    fmt = F.transform(
        F.col("centroid"), lambda x: F.format_string("%.4f", F.round(x, 4))
    )
    return serialize_arrays(out.select("label", "n", fmt.alias("centroid")))


_E30_ORACLE = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, round(value, 4) AS value,
       round(avg(value) OVER w, 4) AS roll_avg3,
       round(sum(value) OVER w, 4) AS roll_sum3,
       round(min(value) OVER w, 4) AS roll_min3,
       round(max(value) OVER w, 4) AS roll_max3,
       count(value) OVER w AS roll_cnt3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@query("e30_rolling", _E30_ORACLE)
def e30_rolling(spark, sf_dir):
    """Trailing-3-event features per user — five window aggregates
    sharing ONE exchange + sort."""
    from pivot_spark.operators.rolling import rolling_features

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"), "value"
    )
    out = rolling_features(
        ev, ["user_id"], "ts_us", "value", n=3, tie_cols=["event_id"]
    )
    return round_doubles(out)


_E30B_ORACLE = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, round(value, 4) AS value,
       round(avg(value) OVER w, 4) AS trail_avg,
       round(sum(value) OVER w, 4) AS trail_sum,
       count(value) OVER w AS trail_cnt
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


@query("e30b_rolling_time", _E30B_ORACLE)
def e30b_rolling_time(spark, sf_dir):
    """Trailing-10-minute features per user (range frame over event-time
    micros)."""
    from pivot_spark.operators.rolling import rolling_time_features

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"), "value"
    )
    out = rolling_time_features(
        ev, ["user_id"], "ts_us", "value", horizon=600_000_000
    )
    return round_doubles(out)


# APPROXCOUNTDISTINCT is a sketch estimate (HLL++): not exactly
# SQL-replicable. The original p26 exposed the raw estimate as a
# rows-only row; round 6 FOLDED it into p26b (round-5 verdict item 8)
# so the gate carries no perpetual no_oracle entry — p26b drives the
# same aggregate through the same pivot surface AND hash-checks it.
# p26b makes the sketch HASH-CHECKABLE: the accuracy contract itself is
# the compared value. Spark emits, per pivot cell, the EXACT distinct
# count plus ok := |HLL_estimate - exact| <= 0.05 * exact; the oracle
# emits the same exact count plus literal TRUE. HLL++ is deterministic
# for a given input, and the measured per-cell error on the driver
# fixtures is <= 3.0% (sf0.001/0.01/0.1), so the row set is stable —
# a sketch regression past 5% flips the gate red instead of hiding
# behind a rows-only check.
_P26B_ORACLE = _li_oracle(
    [
        (
            "cd",
            lambda f: (
                f"CAST(count(DISTINCT l_suppkey) FILTER ({f}) + "
                f"coalesce(max(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) "
                f"FILTER ({f}), 0) AS INTEGER)"
            ),
        ),
        ("ok", lambda f: "TRUE"),
    ]
)


@query("p26b", _P26B_ORACLE)
def p26b(spark, sf_dir):
    out = _pivot_li(
        spark,
        sf_dir,
        "acd:approxcountdistinct(l_suppkey),cd:countdistinct(l_suppkey)",
    )
    cols = [F.col("l_linenumber")]
    for v in ("A", "N", "R"):
        cd, acd = F.col(f"{v}_cd"), F.col(f"{v}_acd")
        cols.append(cd.alias(f"{v}_cd"))
        cols.append(
            (F.abs(acd - cd) <= 0.05 * cd).alias(f"{v}_ok")
        )
    return out.select(*cols)


# --------------------------------------------------------------------------
# E31: duplicate-cluster labeling (connected components over near-dup pairs)
# --------------------------------------------------------------------------

# The pair graph is the e03 exact-Jaccard pair set; the oracle closes it
# transitively with a recursive CTE and labels each node with the component
# min, left-joined onto the corpus (docs in no pair are singleton clusters).
_E31_ORACLE = r"""
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
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster,
       (coalesce(c.component, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


# deterministic shuffle-shard + pack-then-split sequence packing; the
# oracle replays the identical md5 layout (shard from the first 16 md5
# bits, intra-shard hash order, running-offset cut every 256 tokens)
_E34_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n_tok,
         md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), s AS (
  SELECT doc_id, n_tok, h,
         CAST('0x' || substr(h, 1, 4) AS INTEGER) % 8 AS shard
  FROM t
)
SELECT doc_id, shard,
       CAST(coalesce(sum(n_tok) OVER (
         PARTITION BY shard ORDER BY h, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off,
       CAST(coalesce(sum(n_tok) OVER (
         PARTITION BY shard ORDER BY h, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         // 256 AS bin
FROM s
"""


@query("e34_pack_sequences", _E34_ORACLE)
def e34_pack_sequences(spark, sf_dir):
    """Deterministic corpus shuffle + GPT-style sequence packing: md5
    shard (engine/partitioning-independent), intra-shard hash order,
    running token offset cut into 256-token bins. One exchange, one
    in-partition sort, shards never synchronize."""
    from pivot_spark.functions.text import token_count
    from pivot_spark.operators.packing import pack_sequences

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    out = pack_sequences(docs, "doc_id", "n_tok", budget=256, n_shards=8, salt="s42")
    return out.select("doc_id", "shard", F.col("off").cast("long"), "bin")


_E33_ORACLE = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 4) AS avg_k,
       min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


@query("e33_json_extract", _E33_ORACLE)
def e33_json_extract(spark, sf_dir):
    """Semi-structured payload extraction: ``from_json`` schema-projected
    parse of the props JSON column (JVM-side, no Python), then a plain
    partial/final aggregate per event type."""
    from pivot_spark.functions.json import json_field

    ev = _read(spark, sf_dir, "events")
    out = (
        ev.select("event_type", json_field("props", "k", "int").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
    return out


# CCNet-style sub-document dedup signals: fixed 10-word chunks, corpus-wide
# md5-chunk frequencies, per-doc duplicated-chunk fraction.
_E32_ORACLE = r"""
WITH ws AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS w
  FROM documents
), chunks AS (
  SELECT doc_id, md5(array_to_string(w[i*10+1 : i*10+10], ' ')) AS ch
  FROM ws, LATERAL unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
  WHERE len(w) > 0
), freq AS (
  SELECT ch, count(*) AS f FROM chunks GROUP BY 1
), per_doc AS (
  SELECT c.doc_id, count(*) AS n_chunks,
         sum(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM chunks c JOIN freq f USING (ch) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_chunks, 0) AS n_chunks,
       CAST(coalesce(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       round(coalesce(p.n_dup_chunks / p.n_chunks, 0), 4) AS dup_chunk_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("e32_chunk_dedup", _E32_ORACLE)
def e32_chunk_dedup(spark, sf_dir):
    """Sub-document (CCNet-style) dedup signals: 10-word chunks hashed
    md5, global chunk-frequency aggregation, per-doc duplicated-chunk
    fraction. The shuffle key is the 16-byte digest, never chunk text."""
    from pivot_spark.operators.chunk_dedup import chunk_dup_signals

    docs = _read(spark, sf_dir, "documents")
    return chunk_dup_signals(docs, "doc_id", "text", chunk_words=10)


@query("e31_dup_clusters", _E31_ORACLE)
def e31_dup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate *clusters*: alternating large-star /
    small-star connected components (O(log n) shuffle rounds, not
    O(diameter) label propagation), then every document labeled with its
    cluster representative and a one-survivor-per-cluster keep flag.
    Components are tiny vs the corpus, so the label join back is a
    broadcast, never a corpus shuffle."""
    from pivot_spark.operators.components import dedup_clusters

    docs = _read(spark, sf_dir, "documents")
    pairs = _mined_pairs(spark, sf_dir, threshold=0.5)
    return dedup_clusters(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )


# Gopher quality ruleset (Rae et al. 2021 §A1.1, public): per-rule
# metrics + booleans + composite keep. Thresholds scaled to the short
# synthetic docs (min_words=20). Rules compare against the ROUNDED
# metrics in both engines so the boolean boundaries agree exactly.
_E35_ORACLE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines,
         text
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(words) AS INTEGER) AS n_words,
         round(CASE WHEN len(words) > 0
               THEN list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words)
               ELSE 0 END, 4) AS mean_word_len,
         round(CASE WHEN len(words) > 0
               THEN len(regexp_extract_all(text, '(#|\.\.\.|…)'))::DOUBLE / len(words)
               ELSE 0 END, 4) AS symbol_word_ratio,
         round(CASE WHEN len(lines) > 0
               THEN len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))::DOUBLE / len(lines)
               ELSE 0 END, 4) AS bullet_line_frac,
         round(CASE WHEN len(lines) > 0
               THEN len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::DOUBLE / len(lines)
               ELSE 0 END, 4) AS ellipsis_line_frac,
         round(CASE WHEN len(words) > 0
               THEN len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(words)
               ELSE 0 END, 4) AS alpha_word_frac,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(list_transform(words, x -> lower(x)), s))) AS INTEGER)
           AS stop_hits
  FROM w
)
SELECT *,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND stop_hits >= 2) AS keep
FROM (
  SELECT m.*,
         (n_words >= 20 AND n_words <= 100000) AS rule_word_count,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_mean_word_len,
         (symbol_word_ratio <= 0.1) AS rule_symbol_ratio,
         (bullet_line_frac <= 0.9) AS rule_bullet_lines,
         (ellipsis_line_frac <= 0.3) AS rule_ellipsis_lines,
         (alpha_word_frac >= 0.8) AS rule_alpha_words,
         (stop_hits >= 2) AS rule_stopwords
  FROM m
)
"""


@query("e35_gopher_quality", _E35_ORACLE)
def e35_gopher_quality(spark, sf_dir):
    """Gopher-ruleset quality filter: 7 published heuristic rules as
    scan-stage Catalyst expressions (no shuffle, no Python), emitting
    auditable per-rule metrics/booleans plus the composite keep flag."""
    from pivot_spark.operators.quality import GopherThresholds, gopher_rules

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_rules(docs, "text", GopherThresholds(min_words=20))
    return out.drop("text")


# BM25 (Okapi, Lucene non-negative idf) — formulas replayed term-by-term
# in the oracle with identical association order so round-4 values agree.
_E36_TERMS = ["spark", "hash", "window", "merge"]
_E36_K1, _E36_B, _E36_K = 1.2, 0.75, 10


def _e36_oracle() -> str:
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(_E36_TERMS)
    )
    parts = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * "
        f"(len(list_filter(toks, x -> x = '{t}'))::DOUBLE * {_E36_K1 + 1.0} / "
        f"(len(list_filter(toks, x -> x = '{t}'))::DOUBLE + {_E36_K1} * "
        f"(1.0 - {_E36_B} + {_E36_B} * dl / avgdl))))"
        for i, t in enumerate(_E36_TERMS)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), d AS (
  SELECT doc_id, toks, len(toks)::DOUBLE AS dl FROM t
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, {dfs} FROM d
), scored AS (
  SELECT doc_id, round({parts}, 4) AS score FROM d, stats
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM scored
ORDER BY score DESC, doc_id LIMIT {_E36_K}
"""


@query("e36_bm25_topk", _e36_oracle())
def e36_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval for a 4-term query: one scan for corpus
    stats + per-term document frequencies (single scalar agg), idf
    folded into the scoring expression as literals, scan-stage tf via
    size(filter(tokens)), bounded TakeOrderedAndProject top-k. No
    shuffle ever carries tokens."""
    from pivot_spark.operators.bm25 import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, _E36_TERMS, "doc_id", "text", k=_E36_K)


# Mixture sampling toward target source shares: per-stratum rates =
# min(1, share*budget/avail) computed from one tiny agg, then the same
# scan-stage md5-threshold predicate as e18/e19. src0's quota exceeds
# its supply -> rate caps at 1 (keeps everything), src1/src2 downsample.
_E37_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_E37_BUDGET = 4000.0


def _e37_oracle() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {p}" for s, p in _E37_TARGETS.items()
    )
    srcs = ", ".join(f"'{s}'" for s in _E37_TARGETS)
    return f"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tok
  FROM documents
), w AS (
  SELECT source, sum(n_tok)::DOUBLE AS w_s FROM t GROUP BY 1
), r AS (
  SELECT source,
         least(1.0, (CASE source {cases} END) * {_E37_BUDGET} / w_s) AS rate
  FROM w WHERE source IN ({srcs})
), thr AS (
  SELECT source,
         CASE WHEN CAST(round(rate * 65536) AS BIGINT) >= 65536 THEN 'g'
              ELSE printf('%04x', CAST(round(rate * 65536) AS BIGINT)) END AS cut
  FROM r
)
SELECT t.doc_id, t.source, CAST(t.n_tok AS INTEGER) AS n_tok
FROM t JOIN thr USING (source)
WHERE substr(md5('mixture' || ':' || t.source || '/' || CAST(t.doc_id AS VARCHAR)), 1, 4)
      < thr.cut
"""


@query("e37_mixture_sample", _e37_oracle())
def e37_mixture_sample(spark, sf_dir):
    """Target-mixture sampling: one stratum-cardinality agg computes
    per-source keep rates (min(1, share*budget/available_tokens)), then
    a deterministic scan-stage md5-threshold predicate applies them —
    no join against the corpus, reproducible across engines/partitions."""
    from pivot_spark.functions.text import token_count
    from pivot_spark.operators.sample import mixture_sample

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    return mixture_sample(
        docs, "doc_id", "source", "n_tok", _E37_TARGETS, _E37_BUDGET, salt="mixture"
    )


# n-gram decontamination: benchmark = every 83rd doc; 5-word grams
# (published recipes use 13; synthetic docs are ~30 words). Corpus docs
# scored by the fraction of their distinct grams found in the benchmark
# gram set; the dup-laden synthetic corpus yields real nonzero overlap.
_E38_ORACLE = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(words) > 0 THEN
           list_distinct(list_transform(
             range(1, greatest(len(words) - 5 + 1, 1) + 1),
             i -> md5(array_to_string(words[i : i + 4], ' '))))
         ELSE [] END AS grams
  FROM w
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 83 = 0
), corpus AS (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 83 != 0
  UNION ALL
  SELECT doc_id, NULL AS gram FROM g WHERE doc_id % 83 != 0 AND len(grams) = 0
), probed AS (
  SELECT c.doc_id, c.gram, b.gram IS NOT NULL AS hit
  FROM corpus c LEFT JOIN bench b USING (gram)
)
SELECT doc_id,
       count(gram) AS n_grams,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CASE WHEN count(gram) > 0
            THEN round(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(gram), 4)
            ELSE 0.0 END AS overlap_frac,
       (CASE WHEN count(gram) > 0
            THEN round(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(gram), 4)
            ELSE 0.0 END) > 0.8 AS contaminated
FROM probed GROUP BY doc_id
"""


@query("e38_ngram_decontam", _E38_ORACLE)
def e38_ngram_decontam(spark, sf_dir):
    """Eval-set decontamination by word-n-gram overlap: benchmark gram
    set broadcasts, corpus grams built scan-stage (transform over
    sequence, no text explode), one doc_id-keyed shuffle for the per-doc
    overlap fraction."""
    from pivot_spark.operators.ngram_overlap import ngram_overlap

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 83 == 0)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    return ngram_overlap(corpus, bench, "doc_id", "text", k=5, threshold=0.8)


# Funnel: click -> view -> purchase. Step i = earliest event of that
# type strictly after step i-1; the oracle derives each step with a
# FILTER-ed min over a join on the previous step's timestamp.
_E39_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) FILTER (event_type = 'click') AS t1
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT s1.user_id,
       CAST(epoch_us(t1) AS BIGINT) AS step1_us,
       CAST(epoch_us(t2) AS BIGINT) AS step2_us,
       CAST(epoch_us(t3) AS BIGINT) AS step3_us,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_depth,
       t3 IS NOT NULL AS converted
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


@query("e39_funnel", _E39_ORACLE)
def e39_funnel(spark, sf_dir):
    """Ordered 3-step funnel (click -> view -> purchase) per user:
    chained min-when windows over one user partitioning, groupBy reuses
    the exchange — single shuffle, no self-joins. Timestamps emitted as
    epoch micros for engine-portable comparison."""
    from pivot_spark.operators.funnel import funnel

    ev = _read(spark, sf_dir, "events")
    # funnel only needs an orderable ts; TIMESTAMP_NTZ orders natively.
    # Output converts to exact epoch micros (UTC session tz).
    out = funnel(ev, ["click", "view", "purchase"])
    return out.select(
        "user_id",
        F.expr("unix_micros(cast(step1_ts as timestamp))").alias("step1_us"),
        F.expr("unix_micros(cast(step2_ts as timestamp))").alias("step2_us"),
        F.expr("unix_micros(cast(step3_ts as timestamp))").alias("step3_us"),
        "funnel_depth",
        "converted",
    )


# Stratified repeat upsampling: src0 2.5x (2 copies + hash-selected
# half get a 3rd), src1 0.25x (hash-selected quarter keep 1 copy),
# everything else passthrough 1x. Oracle replays the same md5 cutoffs.
_E40_ORACLE = """
WITH c AS (
  SELECT doc_id, source,
         (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END)
         + CASE WHEN substr(md5('repeat' || ':' || source || '/'
                                || CAST(doc_id AS VARCHAR)), 1, 4)
                   < (CASE source WHEN 'src0' THEN '8000'
                                  WHEN 'src1' THEN '4000'
                                  ELSE '0000' END)
                THEN 1 ELSE 0 END AS n
  FROM documents
)
SELECT doc_id, source, CAST(t.i AS INTEGER) AS copy_idx
FROM c, LATERAL unnest(range(0, c.n)) AS t(i)
"""


@query("e40_repeat_upsample", _E40_ORACLE)
def e40_repeat_upsample(spark, sf_dir):
    """Per-stratum fractional repeat factors (epoch mixing): scan-stage
    explode over a CASE-folded copy count, fractional copies selected by
    the nested md5 threshold — no shuffle, no join, deterministic."""
    from pivot_spark.operators.sample import stratified_repeat_upsample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_repeat_upsample(
        docs, "doc_id", "source", {"src0": 2.5, "src1": 0.25}, 1.0, salt="repeat"
    )


# Column profiling over lineitem: one scan, one single-row agg, free
# transpose. exact_distinct so the oracle can replay count(DISTINCT).
_E41_COLS = ["l_suppkey", "l_returnflag", "l_quantity", "l_shipdate"]


def _e41_oracle() -> str:
    rows = []
    for c in _E41_COLS:
        num = c in ("l_suppkey", "l_quantity")
        s = c == "l_returnflag"
        rows.append(
            f"SELECT '{c}' AS column, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            + (
                f"round(min({c})::DOUBLE, 4) AS num_min, "
                f"round(max({c})::DOUBLE, 4) AS num_max, "
                f"round(avg({c}), 4) AS num_mean, "
                if num
                else "CAST(NULL AS DOUBLE) AS num_min, CAST(NULL AS DOUBLE) AS num_max, "
                "CAST(NULL AS DOUBLE) AS num_mean, "
            )
            + (
                f"min({c}) AS str_min, max({c}) AS str_max FROM lineitem"
                if s
                else "CAST(NULL AS VARCHAR) AS str_min, CAST(NULL AS VARCHAR) AS str_max "
                "FROM lineitem"
            )
        )
    return " UNION ALL ".join(rows)


@query("e41_profile", _e41_oracle())
def e41_profile(spark, sf_dir):
    """Column profiling (row/null/distinct counts, numeric min/max/mean,
    string min/max) for four lineitem columns in one scan + one
    single-row aggregate, transposed via inline(array(struct)). The
    declared variant uses exact distinct so DuckDB can replay it; the
    default HLL++ mode is the bounded-state 100 TB path."""
    from pivot_spark.operators.profile import profile

    li = _read(spark, sf_dir, "lineitem")
    out = profile(li, _E41_COLS, exact_distinct=True)
    return out.drop("dtype")  # engine-specific type names aren't oracle-comparable


# Unigram token entropy + normalized diversity ratio per document.
_E42_ORACLE = r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2
), n AS (
  SELECT doc_id, sum(c) AS n FROM tf GROUP BY 1
), h AS (
  SELECT tf.doc_id,
         round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 4) AS h
  FROM tf JOIN n USING (doc_id) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n.n, 0) AS BIGINT) AS n_tokens,
       coalesce(h.h, 0.0) AS token_entropy,
       CASE WHEN coalesce(n.n, 0) > 1
            THEN round(coalesce(h.h, 0.0) / ln(n.n::DOUBLE), 4)
            ELSE 0.0 END AS entropy_ratio
FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN h USING (doc_id)
"""


@query("e42_token_entropy", _E42_ORACLE)
def e42_token_entropy(spark, sf_dir):
    """Unigram entropy quality signal: explode -> (doc, token) counts
    with map-side combine -> per-doc -sum(p ln p), normalized by
    ln(n_tokens). Linear state, one doc-keyed shuffle chain."""
    from pivot_spark.operators.repetition import token_entropy

    docs = _read(spark, sf_dir, "documents")
    return token_entropy(docs, "doc_id", "text")


# CUBE marginals: all 2^2 grouping-set combinations in one pass (the
# grouping-sets Expand), completing the rollup (e17) surface.
_E43_ORACLE = """
SELECT event_type, user_id % 5 AS user_bucket,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events
GROUP BY CUBE(event_type, user_id % 5)
"""


@query("e43_cube", _E43_ORACLE)
def e43_cube(spark, sf_dir):
    """CUBE over (event_type, user bucket): Catalyst's grouping-sets
    Expand emits each row once per grouping set into ONE partial/final
    aggregate pair — a single shuffle for all 4 marginal tables."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 5
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value")
    )


# Fixed-width histogram: width_bucket semantics (clamped edge buckets),
# one groupBy over the computed bin index.
_E44_ORACLE = """
WITH b AS (
  SELECT CAST(least(greatest(floor((l_extendedprice - 900.0) / 2500.0), 0), 39) AS INTEGER) AS bin
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT bin,
       round((900.0 + bin * 2500.0)::DOUBLE, 4) AS bin_lo,
       round((900.0 + (bin + 1) * 2500.0)::DOUBLE, 4) AS bin_hi,
       count(*) AS n
FROM b GROUP BY bin
"""


@query("e44_histogram", _E44_ORACLE)
def e44_histogram(spark, sf_dir):
    """Fixed-width numeric histogram: bin index is a scan-stage
    expression (floor((x - lo)/width), clamped), then one small-keyed
    groupBy — the profiling companion for value distributions."""
    from pivot_spark.operators.profile import histogram

    li = _read(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", lo=900.0, width=2500.0, n_bins=40)


# Pairwise Pearson correlation matrix over 3 numeric columns in ONE
# scalar aggregation (upper triangle, as rows).
_E45_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _e45_oracle() -> str:
    rows = []
    for i, a in enumerate(_E45_COLS):
        for b_ in _E45_COLS[i + 1 :]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b_}' AS col_b, "
                f"round(corr({a}, {b_}), 4) AS pearson FROM lineitem"
            )
    return " UNION ALL ".join(rows)


@query("e45_corr_matrix", _e45_oracle())
def e45_corr_matrix(spark, sf_dir):
    """Upper-triangle Pearson correlation matrix in one single-row
    aggregate (all pairs as F.corr columns), transposed via
    inline(array(struct)) like profile()."""
    from pivot_spark.operators.profile import corr_matrix

    li = _read(spark, sf_dir, "lineitem")
    return corr_matrix(li, _E45_COLS)


# Skew toolkit, driver-checked: two-stage distinct count == plain
# count(DISTINCT); the two-shuffle shape is the point (stage 1 keyed by
# (key, value) so a hot key spreads across the cluster).
_E46_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events WHERE user_id IS NOT NULL GROUP BY event_type
"""


@query("e46_skew_distinct", _E46_ORACLE)
def e46_skew_distinct(spark, sf_dir):
    """Skew-resistant exact distinct: shuffle 1 partitions by
    (event_type, user_id) — 10^9 distinct users of one hot type spread
    over the whole cluster — shuffle 2 merges tiny per-key partials."""
    from pivot_spark.operators.skew import count_distinct_skewed

    ev = _read(spark, sf_dir, "events")
    return count_distinct_skewed(ev, ["event_type"], "user_id")


# Salted join == plain inner join (salting only changes the physical
# route: dim replicated salt-fold, fact rows hashed across buckets).
_E47_ORACLE = """
SELECT e.user_id, e.event_id, c.c_name
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@query("e47_salted_join", _E47_ORACLE)
def e47_salted_join(spark, sf_dir):
    """Hot-key-safe equi-join: dim side exploded over 8 salt buckets,
    fact rows routed by row hash — each hot join key spreads across 8
    reducers. Result equals the plain join (oracle-checked)."""
    from pivot_spark.operators.skew import salted_join

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "event_id", "user_id"
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = salted_join(ev, cust, on="c_custkey", salt=8, how="inner")
    return out.select("user_id", "event_id", "c_name")


# Per-group z-score normalization: the standard feature-scaling op.
_E48_ORACLE = """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(CASE WHEN s.sd > 0 THEN (e.value - s.mu) / s.sd ELSE 0.0 END, 4) AS z
FROM events e JOIN s USING (event_type)
"""


@query("e48_zscore", _E48_ORACLE)
def e48_zscore(spark, sf_dir):
    """Per-group z-score: tiny (group, mu, sd) agg broadcast back onto
    the scan — no window over the fact table, no fact-sized shuffle.
    Zero-variance groups map to 0."""
    from pivot_spark.operators.bucketize import zscore_normalize

    ev = _read(spark, sf_dir, "events")
    out = zscore_normalize(ev, ["event_type"], "value", out_col="z")
    return out.select("event_id", "event_type", "z")


# Batched BM25 over an inverted index: 3 queries at once; oracle builds
# the same posting lists/df/dl and replays the formula per (query, doc).
_E49_QUERIES = [
    (1, ["spark", "hash"]),
    (2, ["window", "merge", "sort"]),
    (3, ["table", "scan"]),
]


def _e49_oracle() -> str:
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
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("e49_bm25_batch", _e49_oracle())
def e49_bm25_batch(spark, sf_dir):
    """Batched multi-query BM25 over (doc, term, tf) posting lists:
    query terms broadcast onto the postings, df/dl derived from the same
    explode, per-(query, doc) sum + windowed top-k over candidates only
    — the inverted-index scale path for large query workloads."""
    from pivot_spark.operators.bm25 import bm25_topk_batch

    docs = _read(spark, sf_dir, "documents")
    q = spark.createDataFrame(_E49_QUERIES, "query_id int, terms array<string>")
    return bm25_topk_batch(docs, q, k=5)


# Bucketized range join: clicks landing inside the 1-hour window after
# the same user's purchase. Oracle = the plain theta join.
_E50_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
FROM events c
JOIN events p ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts)
 AND epoch_us(c.ts) < epoch_us(p.ts) + 3600000000
"""


@query("e50_range_join", _E50_ORACLE)
def e50_range_join(spark, sf_dir):
    """Point-in-interval join via bucketization (10-min buckets): each
    click hits one bucket, each 1-hour purchase window replicates into
    ~6, the join is a plain (user, bucket) hash join + exact filter —
    never the BroadcastNestedLoopJoin Spark would pick for the raw
    theta predicate."""
    from pivot_spark.operators.range_join import range_join

    ev = _read(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), us.alias("click_us")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("purchase_us"),
        (us + F.lit(3_600_000_000)).alias("__win_end"),
    )
    out = range_join(
        clicks,
        purch,
        point_col="click_us",
        start_col="purchase_us",
        end_col="__win_end",
        bucket_width=600_000_000,  # 10 minutes in micros
        on=["user_id"],
    )
    return out.select("user_id", "click_id", "click_us", "purchase_id", "purchase_us")


# Column quantiles, exact mode (F.percentile == DuckDB quantile_cont).
_E51_COLS = ["l_quantity", "l_extendedprice"]
_E51_PROBS = [0.5, 0.9, 0.99]


def _e51_oracle() -> str:
    rows = [
        f"SELECT '{c}' AS column, {p}::DOUBLE AS prob, "
        f"round(quantile_cont({c}, {p}), 4) AS value FROM lineitem"
        for c in _E51_COLS
        for p in _E51_PROBS
    ]
    return " UNION ALL ".join(rows)


@query("e51_quantiles", _e51_oracle())
def e51_quantiles(spark, sf_dir):
    """Per-column quantiles in ONE single-row aggregate (all columns x
    probs), transposed via inline(array(struct)). Declared variant uses
    exact F.percentile (quantile_cont interpolation); the GK-sketch
    percentile_approx mode is the bounded-state default."""
    from pivot_spark.operators.profile import quantiles

    li = _read(spark, sf_dir, "lineitem")
    return quantiles(li, _E51_COLS, _E51_PROBS, exact=True)


# Deterministic k-per-group sample: md5 order, rank <= 3 per lang.
_E52_ORACLE = """
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('groupk:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS sample_rank
  FROM documents
) WHERE sample_rank <= 3
"""


@query("e52_group_sample_k", _E52_ORACLE)
def e52_group_sample_k(spark, sf_dir):
    """Exactly k rows per group, reproducibly: rank by md5(salt:id)
    within each group (engine/partitioning-independent random order),
    keep rank <= k. One window shuffle keyed by the group."""
    from pivot_spark.operators.sample import group_hash_sample_k

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return group_hash_sample_k(docs, "doc_id", "lang", k=3, salt="groupk")


# Debounce: sequential keep-if-gap>=10min fold; oracle replays it with
# a recursive CTE advancing every (user, type) key one event per step.
_E53_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS t,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts)) AS rn
  FROM events
), keep AS (
  SELECT user_id, event_type, t, rn, t AS last_kept, true AS kept
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.t, e.rn,
         CASE WHEN e.t - k.last_kept >= 600000000 THEN e.t ELSE k.last_kept END,
         e.t - k.last_kept >= 600000000
  FROM ev e JOIN keep k
    ON e.user_id = k.user_id AND e.event_type = k.event_type
   AND e.rn = k.rn + 1
)
SELECT user_id, event_type, t AS ts_us FROM keep WHERE kept
"""


@query("e53_debounce", _E53_ORACLE)
def e53_debounce(spark, sf_dir):
    """Rate-limiting dedup: within (user, event_type), keep an event iff
    >= 10 min since the last KEPT event — a per-key ordered fold
    (aggregate() over the sorted event list, one shuffle; lag() would
    wrongly re-admit rows mid-burst)."""
    from pivot_spark.operators.dedup import debounce

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us")
    )
    return debounce(ev, ["user_id", "event_type"], "ts_us", min_gap=600_000_000)


# --- E54: distributed Lloyd k-means (k=4, 2 iterations, deterministic
# first-k init). The oracle unrolls BOTH iterations as CTEs with the
# distance fold written term-by-term in Spark's association order
# (0.0 + d1 + ... + d64, left-assoc), so assignment and the rounded
# final distance are replayed exactly.
_E54_K, _E54_ITER, _E54_DIM = 4, 2, 64


def _e54_dist(e: str, c: str) -> str:
    terms = " + ".join(
        f"({e}[{i}]::DOUBLE - {c}[{i}]::DOUBLE) * ({e}[{i}]::DOUBLE - {c}[{i}]::DOUBLE)"
        for i in range(1, _E54_DIM + 1)
    )
    return f"(0.0 + {terms})"


def _e54_oracle() -> str:
    mean_list = ", ".join(
        f"avg(embedding[{i}]::DOUBLE)" for i in range(1, _E54_DIM + 1)
    )
    d_init = _e54_dist("e.embedding", "i.c")
    return f"""
WITH init AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, embedding AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_E54_K})
), a1 AS (
  SELECT e.vec_id, e.embedding,
         (min({{'d': {d_init}, 'c': i.cid}})).c AS cid
  FROM embeddings e CROSS JOIN init i GROUP BY e.vec_id, e.embedding
), c1 AS (
  SELECT cid, list_value({mean_list}) AS c FROM a1 GROUP BY cid
), a2 AS (
  SELECT e.vec_id, e.embedding,
         (min({{'d': {d_init.replace("i.c", "i.c")}, 'c': i.cid}})).c AS cid
  FROM embeddings e CROSS JOIN c1 i GROUP BY e.vec_id, e.embedding
), c2 AS (
  SELECT cid, list_value({mean_list}) AS c FROM a2 GROUP BY cid
), fin AS (
  SELECT e.vec_id, min({{'d': {d_init}, 'c': i.cid}}) AS m
  FROM embeddings e CROSS JOIN c2 i GROUP BY e.vec_id, e.embedding
)
SELECT vec_id, (m).c AS cluster, round((m).d, 4) AS dist_sq FROM fin
"""


@query("e54_kmeans", _e54_oracle())
def e54_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means: per iteration one scan (centroids as
    plan literals, argmin = array_min over (dist, cid) structs) plus a
    k x dim shuffle of positional partial sums; only the k x dim means
    reach the driver."""
    from pivot_spark.operators.kmeans import kmeans

    emb = _read(spark, sf_dir, "embeddings")
    out = kmeans(emb, "embedding", _E54_K, _E54_ITER, "vec_id")
    return out.select(
        "vec_id", "cluster", F.round("dist_sq", 4).alias("dist_sq")
    )


# --- E57: SemDeDup (Abbas et al. 2023) — within-cluster cosine pruning
# with deterministic keep-min-id. Centers = first-k vectors where
# k = max(8, n // 2000) (pure assignment; kmeans_fit centers compose
# the same way, see e54 for the Lloyd check). k MUST scale with corpus
# size — the sf10 soak caught the original fixed k=8 degenerating to
# ~25k-vector clusters, i.e. a multi-GB per-task similarity matrix and
# O(n^2/8) pair work; scaling k holds expected cluster size (and the
# per-task GEMM) constant. Below 16k vectors k stays 8, so every gate
# SF's rows are byte-identical to the fixed-k original. Normalization
# and the dot fold are unrolled in the oracle in Spark's association
# order.
_E57_MIN_K, _E57_TARGET, _E57_EPS = 8, 2000, 0.4


def _e57_oracle(
    min_k: int = _E57_MIN_K,
    target: int = _E57_TARGET,
    k_sql: "str | None" = None,
) -> str:
    sq = " + ".join(
        f"embedding[{i}]::DOUBLE * embedding[{i}]::DOUBLE"
        for i in range(1, _E54_DIM + 1)
    )
    dot = " + ".join(f"a.nv[{i}] * b.nv[{i}]" for i in range(1, _E54_DIM + 1))
    d_init = _e54_dist("e.embedding", "i.c")
    if k_sql is None:
        k_sql = f"least(count(*), greatest({min_k}, count(*) // {target}))"
    return f"""
WITH init AS (
  SELECT cid, c FROM (
    SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
           embedding AS c,
           row_number() OVER (ORDER BY vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= (SELECT {k_sql}
                 FROM embeddings)
), asg AS (
  SELECT e.vec_id, e.embedding,
         (min({{'d': {d_init}, 'c': i.cid}})).c AS cluster
  FROM embeddings e CROSS JOIN init i GROUP BY e.vec_id, e.embedding
), norm AS (
  SELECT vec_id, cluster,
         list_transform(embedding, x -> x::DOUBLE / sqrt(0.0 + {sq})) AS nv
  FROM asg
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM norm a JOIN norm b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE (0.0 + {dot}) >= {_E57_EPS}
)
SELECT vec_id, cluster, vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
FROM asg
"""


@query("e57_semdedup", _e57_oracle())
def e57_semdedup(spark, sf_dir):
    """SemDeDup: clusters bound the O(n^2) cosine to sum(|cluster|^2)
    candidate pairs (equi-join on cluster id, AQE skew-split); dropped
    ids broadcast back for the keep flag. k scales with n (expected
    cluster size ~_E57_TARGET) so per-cluster pair work stays constant
    as the corpus grows; the centers collect is k x dim doubles on the
    driver — n/2000 rows, the same bounded-state contract as
    kmeans_fit."""
    from pivot_spark.operators.semdedup import semdedup

    emb = _read(spark, sf_dir, "embeddings")
    k = max(_E57_MIN_K, emb.count() // _E57_TARGET)
    centers = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    return semdedup(emb, "vec_id", "embedding", centers, eps=_E57_EPS)


# --- E57B: the same SemDeDup contract with the cluster-count scaled to
# ENGAGE the GEMM assignment path at gate scale: k = min(n,
# max(20, ceil(sqrt(n)))) > the k=16 threshold at every test SF
# (n=50 -> 20, n=500 -> 23), vs e57's k=8 there. This pins the
# |x|^2 - 2x.c + |c|^2 + exact-near-tie-refinement path
# (operators/kmeans.py:_assign_clusters_gemm) against the oracle's
# exact fold-replaying argmin — the round-5 advisor's ask: without the
# refinement, centers inside the expanded form's cancellation band can
# silently flip assignments vs the exact argmin.
#
# k ~ sqrt(n), not n/25: assignment costs O(n*k*d) and within-cluster
# dedup O((n^2/k)*d); k = sqrt(n) balances them at O(n^1.5*d) — the
# optimal single-level trade. The original n/25 made ASSIGNMENT the
# quadratic term (n^2*d/25): the sf10 soak measured 405 s engine-side
# at 100x (slope 455) from 200k x 8000 GEMM tiles alone; sqrt sizing
# is ~450 centers there. (Both sides compute ceil(sqrt(n)) in IEEE
# doubles — correctly-rounded sqrt, so Python and DuckDB agree
# bit-for-bit.) Beyond single-level: hierarchical assignment (IVF's
# coarse-then-refine, operators/ivf.py) drops assignment to
# O(n*sqrt(k)*d) — the 100 TB path.
_E57B_MIN_K = 20
_E57B_K_SQL = (
    "least(count(*), greatest(20, CAST(ceil(sqrt(count(*))) AS BIGINT)))"
)


@query("e57b_semdedup_gemm", _e57_oracle(k_sql=_E57B_K_SQL))
def e57b_semdedup_gemm(spark, sf_dir):
    """e57 with scaled-up k (> ``_GEMM_K_THRESHOLD``) so
    ``assign_clusters`` routes through the Arrow GEMM: one numpy ``X @ C.T`` per batch,
    near-tied argmins re-decided by the exact left-to-right fold."""
    import math

    from pivot_spark.operators.semdedup import semdedup

    emb = _read(spark, sf_dir, "embeddings")
    n = emb.count()
    k = min(n, max(_E57B_MIN_K, math.ceil(math.sqrt(n))))
    centers = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    return semdedup(emb, "vec_id", "embedding", centers, eps=_E57_EPS)


# --- E55: C4 line-level cleaning over deterministically "lined" text
# (the corpus is single-line word soup: newlines + per-doc-variant
# terminal punctuation + lorem/brace/javascript contamination are
# injected with the same regexp on both sides).
_E55_LINE_RE = r"((\S+\s+){6}\S+)\s+"


@query(
    "e55_c4_lines",
    r"""
WITH aug AS (
  SELECT doc_id,
    (CASE doc_id % 3
       WHEN 0 THEN regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1.' || chr(10), 'g')
       WHEN 1 THEN regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1' || chr(10), 'g')
       ELSE regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1?' || chr(10), 'g')
     END)
    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit.' ELSE '' END
    || CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'if (x) { return; }' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'please enable javascript to continue.' ELSE '' END
    AS t
  FROM documents
), sig AS (
  SELECT doc_id, t,
    list_filter(string_split(t, chr(10)), l -> l <> '') AS lines,
    list_filter(string_split(t, chr(10)), l -> l <> ''
      AND regexp_matches(l, '[.!?"]$')
      AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 3
      AND NOT contains(lower(l), 'javascript')) AS kept
  FROM aug
)
SELECT doc_id,
  CAST(len(lines) AS INTEGER) AS n_lines,
  CAST(len(kept) AS INTEGER) AS n_kept_lines,
  CASE WHEN len(lines) > 0
       THEN round(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$')))::DOUBLE / len(lines), 4)
       ELSE 0.0 END AS frac_terminal_lines,
  CASE WHEN len(lines) > 0
       THEN round(1.0 - len(list_distinct(lines))::DOUBLE / len(lines), 4)
       ELSE 0.0 END AS dup_line_frac,
  contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
  contains(t, '{') AS has_brace,
  len(kept) >= 5 AND NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{') AS keep,
  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM sig
""",
)
def e55_c4_lines(spark, sf_dir):
    """C4 line filters (Raffel et al. 2020): terminal-punctuation /
    min-words / javascript line rules + lorem-ipsum & curly-brace page
    rules, as scan-stage higher-order array expressions (zero shuffle,
    zero Python)."""
    from pivot_spark.operators.quality import c4_line_signals

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    branch = (
        F.when(d % 3 == 0, F.regexp_replace("text", _E55_LINE_RE, "$1.\n"))
        .when(d % 3 == 1, F.regexp_replace("text", _E55_LINE_RE, "$1\n"))
        .otherwise(F.regexp_replace("text", _E55_LINE_RE, "$1?\n"))
    )
    aug = F.concat(
        branch,
        F.when(d % 17 == 0, F.lit("\nlorem ipsum dolor sit.")).otherwise(F.lit("")),
        F.when(d % 23 == 0, F.lit("\nif (x) { return; }")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("\nplease enable javascript to continue."))
        .otherwise(F.lit("")),
    )
    out = c4_line_signals(docs.select("doc_id", aug.alias("text")))
    return out.drop("text")


# --- E56: corpus unigram-LM scoring (the distributed stand-in for the
# CCNet/KenLM perplexity filter). vocab_size=30 forces the OOV floor
# path on real rows; tie-break (count desc, token asc) is replayed.
_E56_V = 30


@query(
    "e56_unigram_lm",
    f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY token
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM counts
), vocab AS (
  SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {_E56_V}
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(-ln(coalesce(v.cnt, 1)::DOUBLE / CAST(tot.n AS DOUBLE))), 4)
         AS avg_neg_logp
FROM toks t LEFT JOIN vocab v USING (token) CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def e56_unigram_lm(spark, sf_dir):
    """Unigram LM score: bounded top-V vocabulary (TakeOrdered — no
    global sort), broadcast vocab join (no shuffle skew on hot tokens),
    per-doc mean -ln(p) with the 1/N OOV floor."""
    from pivot_spark.operators.lm import unigram_lm_score

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_score(docs, vocab_size=_E56_V)


# --- E58: keyed upsert (MERGE/SCD1): base never shuffled (broadcast
# anti-join), intra-delta conflicts resolved by max version. Delta =
# deterministic updates (two conflicting versions), inserts (shifted
# keys) and tombstone deletes derived from orders itself.
@query(
    "e58_upsert",
    """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
), res AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 2000.0 AS o_totalprice, false AS del
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_totalprice, false
  FROM base WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, true
  FROM base WHERE o_orderkey % 10 = 7
), merged AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM res WHERE NOT del
  UNION ALL
  SELECT b.o_orderkey, b.o_custkey, b.o_totalprice FROM base b
  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM res)
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
FROM merged WHERE o_orderkey % 100 < 20
""",
)
def e58_upsert(spark, sf_dir):
    from pivot_spark.operators.merge import upsert

    base = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    p = F.col("o_totalprice")

    def _delta(flt, key, price, ver):
        return base.filter(flt).select(
            key.alias("o_orderkey"),
            "o_custkey",
            price.alias("o_totalprice"),
            F.lit(ver).alias("ver"),
            F.lit(False).alias("is_deleted"),
        )

    upd1 = _delta(k % 10 == 0, k, p + 1000.0, 1)
    upd2 = _delta(k % 10 == 0, k, p + 2000.0, 2)
    ins = _delta(k % 10 == 3, k + 100000000, p, 2)
    dels = base.filter(k % 10 == 7).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(2).alias("ver"),
        F.lit(True).alias("is_deleted"),
    )
    delta = upd1.unionByName(upd2).unionByName(ins).unionByName(dels)
    out = upsert(base, delta, ["o_orderkey"], order_col="ver", deleted_col="is_deleted")
    return out.filter(k % 100 < 20).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


# --- E59: symmetric int8 embedding quantization (4x shrink for ANN /
# shipped shards) + reconstruction-error audit; round-half-up is
# spelled out as floor(x/s + 0.5) so any engine replays it bit-for-bit.
@query(
    "e59_quantize_int8",
    """
SELECT vec_id,
  round(CASE WHEN m > 0 THEN m / 127.0 ELSE 0.0 END, 8) AS scale,
  '[' || array_to_string(
    list_transform(embedding, x ->
      CAST(greatest(-127.0, least(127.0, floor(x::DOUBLE / (m / 127.0) + 0.5))) AS BIGINT)),
    '|') || ']' AS qvec,
  round(list_max(
    list_transform(embedding, x ->
      abs(x::DOUBLE - CAST(greatest(-127.0, least(127.0, floor(x::DOUBLE / (m / 127.0) + 0.5))) AS BIGINT) * (m / 127.0)))),
    8) AS max_abs_err
FROM (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
  FROM embeddings
)
""",
)
def e59_quantize_int8(spark, sf_dir):
    from pivot_spark.operators.embedding import quantize_int8

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = quantize_int8(emb, "embedding").select(
        "vec_id", "scale", "qvec", "max_abs_err"
    )
    return serialize_arrays(out)


# --- E60: event-time window aggregation (native F.window — the same
# expression works under Structured Streaming with a watermark).
# Bounds emitted as epoch micros; oracle replays the epoch-aligned
# bucket arithmetic in integer math (1 h = 3600000000 us).
@query(
    "e60_tumbling_window",
    """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def e60_tumbling_window(spark, sf_dir):
    from pivot_spark.operators.windows import tumbling_agg

    ev = _read(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("tstamp"),
        "event_type",
        "value",
    )
    return tumbling_agg(
        ev,
        "tstamp",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")],
    )


# E60b: sliding (hopping) windows — 1 h window every 30 min, so each
# event lands in exactly 2 windows (starts floor(t/s)*s - j*s, j=0,1).
@query(
    "e60b_sliding_window",
    """
SELECT (epoch_us(ts) // 1800000000 - j) * 1800000000 AS window_start_us,
       (epoch_us(ts) // 1800000000 - j) * 1800000000 + 3600000000 AS window_end_us,
       event_type,
       count(*) AS n
FROM events CROSS JOIN unnest([0, 1]) AS u(j)
GROUP BY 1, 2, 3
""",
)
def e60b_sliding_window(spark, sf_dir):
    from pivot_spark.operators.windows import sliding_agg

    ev = _read(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("tstamp"), "event_type"
    )
    return sliding_agg(
        ev,
        "tstamp",
        "1 hour",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n")],
    )


# --- E61: deterministic weighted sampling without replacement
# (Efraimidis–Spirakis A-ES): key = ln(u)/w, u = 48-bit md5 uniform —
# the exact same winners on any engine/partitioning.
@query(
    "e61_weighted_sample",
    """
WITH t AS (
  SELECT doc_id, lang, n_chars,
    ln((CAST('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 12)
         AS UBIGINT)::DOUBLE + 0.5) / 281474976710656.0)
      / CAST(n_chars AS DOUBLE) AS sample_key
  FROM documents
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY sample_key DESC, doc_id) AS rn
  FROM t
)
SELECT doc_id, lang, n_chars, round(sample_key, 4) + 0 AS sample_key
FROM r WHERE rn <= 5
""",
)
def e61_weighted_sample(spark, sf_dir):
    from pivot_spark.operators.sample import weighted_sample_k

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_sample_k(docs, "doc_id", "n_chars", k=5, group_col="lang")
    # `+ 0` on both sides folds IEEE -0.0 to +0.0 (DuckDB keeps the sign
    # of a rounded negative underflow; Spark's HALF_UP BigDecimal round
    # does not) so the driver's value hash sees one canonical zero.
    return out.select(
        "doc_id", "lang", "n_chars",
        (F.round("sample_key", 4) + F.lit(0.0)).alias("sample_key"),
    )


# --- E62: per-group OLS (trend detection) via the numerically stable
# two-pass centered form — the one-pass moment formula cancels
# catastrophically on epoch-scale x. Both passes replayed in the
# oracle.
@query(
    "e62_grouped_ols",
    """
WITH base AS (
  SELECT event_type AS g, epoch_us(ts) / 3600000000.0 AS x, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), means AS (
  SELECT g, count(*) AS n, avg(x) AS mx, avg(y) AS my FROM base GROUP BY g
), mom AS (
  SELECT b.g, max(m.n) AS n, max(m.mx) AS mx, max(m.my) AS my,
         sum((b.x - m.mx) * (b.y - m.my)) AS sxy,
         sum((b.x - m.mx) * (b.x - m.mx)) AS sxx,
         sum((b.y - m.my) * (b.y - m.my)) AS syy
  FROM base b JOIN means m ON b.g = m.g GROUP BY b.g
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
  round(CASE WHEN sxx > 0 THEN sxy / sxx END, 4) AS slope,
  round(CASE WHEN sxx > 0 THEN my - (sxy / sxx) * mx END, 4) AS intercept,
  round(CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) END, 4) AS r2
FROM mom
""",
)
def e62_grouped_ols(spark, sf_dir):
    from pivot_spark.operators.analytics import grouped_ols

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("unix_micros(cast(ts as timestamp))").cast("double") / F.lit(3600000000.0)).alias("x"),
        "value",
    )
    return grouped_ols(ev, ["event_type"], "x", "value")
