"""Declared queries e182-e207: split from the original single-module
registry; the package __init__ imports the parts in sequence so
QUERIES/ORACLES keep their registration order."""

from __future__ import annotations

from ._base import (F, _read, _read_spread, query)  # noqa: F401
from ._q_e29_e62 import (_E54_DIM)  # noqa: F401
from ._q_e156_e181 import (_E174_N, _E182_ORACLE, _e174_payload)  # noqa: F401



@query("e182_audio_mixdown", _E182_ORACLE)
def e182_audio_mixdown(spark, sf_dir):
    """Stereo corpus -> genuine mono PCM-16 files, decoded back
    (operators/codecs.py::wav_mixdown)."""
    from pivot_spark.operators.codecs import decode_wav, make_wav, wav_mixdown

    need = 2 * _E174_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    au = d.select(
        "doc_id", make_wav(2, 8000, _e174_payload("pp")).alias("audio")
    )
    mono = wav_mixdown(au).select("doc_id", F.col("mono").alias("audio"))
    out = decode_wav(mono)
    return out.select(
        "doc_id",
        F.col("meta.n_channels").alias("n_channels"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_samples").alias("n_samples"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.round("mean_ch0", 4).alias("mean_ch0"),
        F.round("rms_ch0", 4).alias("rms_ch0"),
    )


# --- E183: KWIC keyword-in-context extraction — grep-at-scale over the
# corpus (every occurrence of the audit keywords with its ±3-token
# window). Oracle replays the position/slice arithmetic with DuckDB
# list ops; both engines tokenize with the same \s+ split.
_E183_KW = ["table", "stream", "vector"]
_E183_W = 3

_E183_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
  FROM documents
), hits AS (
  SELECT doc_id, w, CAST(t.i AS BIGINT) AS pos, w[t.i] AS keyword
  FROM toks, LATERAL unnest(range(1, len(w) + 1)) AS t(i)
  WHERE list_contains({_E183_KW!r}, w[t.i])
)
SELECT doc_id, pos, keyword,
       array_to_string(
         w[CAST(greatest(1, pos - {_E183_W}) AS INTEGER):
           CAST(least(len(w), pos + {_E183_W}) AS INTEGER)], ' ') AS context
FROM hits
"""


@query("e183_keyword_contexts", _E183_ORACLE)
def e183_keyword_contexts(spark, sf_dir):
    """Hit rows only rejoin the corpus; the token array never rides the
    explode (operators/tfidf.py::keyword_contexts)."""
    from pivot_spark.operators.tfidf import keyword_contexts

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return keyword_contexts(docs, _E183_KW, window=_E183_W)


# --- E184: Unicode text normalization (the punctuation/whitespace
# subset of NFKC a crawl pipeline applies scan-side). The corpus is
# ASCII word soup, so deterministic Unicode noise (curly quotes, em
# dash, NBSP, ZWSP, ellipsis char, a control byte, tab runs) is
# injected from ONE python constant shared by both engines; the
# normalization chain itself is spliced verbatim from the
# functions/text.py module constants (e171 technique), so the oracle
# cannot drift.
_E184_PRE = "\u201Cnoisy\u201D \u2014 "
_E184_A = "\t\t caf\u00E9 mix\u2026 end\u200B"
_E184_B = " \u2013dash \u0007ctl \u2009thin"


def _e184_oracle() -> str:
    from pivot_spark.functions import text as _t

    fold_to_sql = _t.NORM_FOLD_TO.replace("'", "''")
    a = _E184_A.replace("'", "''")
    b = _E184_B.replace("'", "''")
    return f"""
WITH aug AS (
  SELECT doc_id,
         '{_E184_PRE}' || substring(text, 1, 40)
         || CASE WHEN doc_id % 2 = 0 THEN '{a}' ELSE '{b}' END AS t
  FROM documents
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(
           replace(translate(regexp_replace(regexp_replace(t,
             '{_t.NORM_CTRL_RE}', '', 'g'),
             '{_t.NORM_ZEROWIDTH_RE}', '', 'g'),
             '{_t.NORM_FOLD_FROM}', '{fold_to_sql}'),
             '…', '...'),
           '{_t.NORM_USPACE_RE}', ' ', 'g'),
           '{_t.NORM_WS_RUN_RE}', ' ', 'g')) AS n,
         t
  FROM aug
)
SELECT doc_id, n AS norm_text,
       CAST(length(n) AS BIGINT) AS n_chars,
       n <> t AS changed
FROM norm
"""


@query("e184_text_normalize", _e184_oracle())
def e184_text_normalize(spark, sf_dir):
    """Scan-stage Unicode noise folding
    (functions/text.py::normalize_unicode)."""
    from pivot_spark.functions.text import normalize_unicode

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    aug = F.concat(
        F.lit(_E184_PRE),
        F.expr("substring(text, 1, 40)"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_E184_A)).otherwise(
            F.lit(_E184_B)
        ),
    )
    t = d.select("doc_id", aug.alias("t"))
    return t.select(
        "doc_id",
        normalize_unicode(F.col("t")).alias("norm_text"),
        F.length(normalize_unicode(F.col("t"))).cast("long").alias("n_chars"),
        (normalize_unicode(F.col("t")) != F.col("t")).alias("changed"),
    )


# --- E185/E186: energy-delta acoustic fingerprint + audio near-dup pairs
# over REAL PCM-16 WAVs (the e174 signed-sample convention, stretched to
# 48 samples so the 17-frame fingerprint carries 16 informative bits).
# The corpus's duplicate/near-duplicate texts produce identical payloads,
# so hamming-0 clusters genuinely exist and the banded pair join's
# verify path carries rows. Sample values from ASCII text stay <= 32382,
# so v*v fits INT32 in DuckDB — but the oracle casts to BIGINT anyway
# (DuckDB hard-errors on INT32 multiply overflow; no silent promotion).
_E185_N, _E185_NF = 48, 17

_E185_FP_CTE = f"""
WITH au AS (
  SELECT doc_id,
         rpad(substring(text, 1, {2 * _E185_N}), {2 * _E185_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {_E185_N}), i ->
           (ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
            + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1)))
           * (CASE WHEN ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1)) % 2 = 1
                   THEN -1 ELSE 1 END)) AS v
  FROM au
), en AS (
  SELECT doc_id,
         list_transform(range(0, {_E185_NF}), f ->
           coalesce(list_sum(list_transform(
             range((f * {_E185_N}) // {_E185_NF},
                   ((f + 1) * {_E185_N}) // {_E185_NF}),
             i -> CAST(v[i + 1] AS BIGINT) * v[i + 1])), 0)) AS e
  FROM sm
), fp AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(range(0, {_E185_NF - 1}), b ->
           CASE WHEN e[b + 2] > e[b + 1]
                THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0) AS BIGINT) AS afp
  FROM en
)
"""

_E185_ORACLE = _E185_FP_CTE + "SELECT doc_id, afp FROM fp"


def _e185_audio(spark, sf_dir):
    from pivot_spark.operators.codecs import make_wav

    need = 2 * _E185_N
    d = _read_spread(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    return d.select(
        "doc_id", make_wav(1, 8000, _e174_payload("pp", _E185_N)).alias("audio")
    )


@query("e185_audio_fingerprint", _E185_ORACLE)
def e185_audio_fingerprint(spark, sf_dir):
    """Haitsma-Kalker-family energy-delta fingerprint over real WAV
    bytes — the audio leg of the perceptual-hash dedup stack
    (operators/codecs.py::audio_fingerprint): one cumulative energy
    sum per file, scan-stage, no shuffle."""
    from pivot_spark.operators.codecs import audio_fingerprint

    return audio_fingerprint(
        _e185_audio(spark, sf_dir), n_frames=_E185_NF
    ).select("doc_id", "afp")


_E186_ORACLE = _E185_FP_CTE + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 2
"""


@query("e186_audio_neardup", _E186_ORACLE)
def e186_audio_neardup(spark, sf_dir):
    """Near-duplicate audio pairs by fingerprint Hamming distance: the
    generic block-permutation band join (neardup.py::hamming_pairs) on
    the e185 signature — candidate volume scales with block-bucket
    load, never n²; oracle is the brute-force O(n²) twin."""
    from pivot_spark.operators.codecs import audio_fingerprint_pairs

    return audio_fingerprint_pairs(
        _e185_audio(spark, sf_dir), max_hamming=2, n_frames=_E185_NF
    ).select("id_a", "id_b", "hamming")


# --- E187/E188: image dHash (gradient perceptual hash over REAL P6
# pixels, NN-sampled 9x7 luma grid) + image near-dup pairs. Corpus is
# the e175 builder (w=4+id%5, h=3+id%4, every 7th doc solid) so the
# all-zero-hash branch (solid image -> no gradients) and a genuine
# hamming-0 cluster (~72 solid docs at sf0.01) both carry rows.
_E187_IMG_CTE = """
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
         list_transform(range(0, 63), k ->
             299 * ascii(substring(p, CAST(1 + ((((k // 9) * h) // 7) * w + (((k % 9) * w) // 9)) * 3 AS INTEGER), 1))
           + 587 * ascii(substring(p, CAST(2 + ((((k // 9) * h) // 7) * w + (((k % 9) * w) // 9)) * 3 AS INTEGER), 1))
           + 114 * ascii(substring(p, CAST(3 + ((((k // 9) * h) // 7) * w + (((k % 9) * w) // 9)) * 3 AS INTEGER), 1))) AS l
  FROM img
), dh AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(range(0, 56), b ->
           CASE WHEN l[(b // 8) * 9 + (b % 8) + 2] > l[(b // 8) * 9 + (b % 8) + 1]
                THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0) AS BIGINT) AS dhash
  FROM lm
)
"""

_E187_ORACLE = _E187_IMG_CTE + "SELECT doc_id, dhash FROM dh"


def _e187_images(spark, sf_dir):
    from pivot_spark.operators.codecs import make_ppm

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
    return d.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )


@query("e187_image_dhash", _E187_ORACLE)
def e187_image_dhash(spark, sf_dir):
    """Gradient perceptual hash (dHash) over real P6 pixels — survives
    the brightness shifts that break aHash's global-mean threshold
    (operators/codecs.py::ppm_dhash): grid lumas + bit packing per
    image, scan-stage, no shuffle."""
    from pivot_spark.operators.codecs import ppm_dhash

    return ppm_dhash(_e187_images(spark, sf_dir)).select("doc_id", "dhash")


_E188_ORACLE = _E187_IMG_CTE + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM dh a JOIN dh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
"""


@query("e188_image_neardup_dhash", _E188_ORACLE)
def e188_image_neardup_dhash(spark, sf_dir):
    """Near-duplicate image pairs by dHash Hamming distance through the
    SAME generic band join the audio path uses (hamming_pairs) — one
    scale-safe join for every perceptual-hash modality. The ~72-doc
    solid-image cluster stresses the verify path with a dense
    hamming-0 block."""
    from pivot_spark.operators.codecs import ppm_dhash
    from pivot_spark.operators.neardup import hamming_pairs

    sigs = ppm_dhash(_e187_images(spark, sf_dir))
    return hamming_pairs(
        sigs, "doc_id", "dhash", num_bits=56, max_hamming=6
    ).select("id_a", "id_b", "hamming")


# --- E189: leading/trailing-silence trim emitting REAL WAV bytes,
# verified by decoding the TRIMMED file. Corpus: (doc_id%3) zero samples
# + 24 signed e174 samples (every 11th doc all-zero instead -> the
# fully-silent 44-byte-output branch) + (1+doc_id%2) zero samples. Text
# chars below 0x20 (newlines) can make interior/edge samples fall under
# the 4096 threshold, so the oracle replays the generic first/last
# active-index logic, not a fixed [lead, lead+23] window. Means round
# via floor(x*1e4+0.5)/1e4 on BOTH sides (kept-length denominators 5,
# 10, 15, 20 can tie at the 4th decimal; the floor form is
# IEEE-identical in any engine).
_E189_ORACLE = f"""
WITH au AS (
  SELECT doc_id,
         rpad(substring(text, 1, {2 * _E174_N}), {2 * _E174_N}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, CAST(doc_id % 3 AS INTEGER)), z1 -> 0)
         || (CASE WHEN doc_id % 11 = 0
                  THEN list_transform(range(0, {_E174_N}), z2 -> 0)
                  ELSE list_transform(range(0, {_E174_N}), i ->
                    (ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
                     + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1)))
                    * (CASE WHEN ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1)) % 2 = 1
                            THEN -1 ELSE 1 END)) END)
         || list_transform(range(0, CAST(1 + doc_id % 2 AS INTEGER)), z3 -> 0) AS v
  FROM au
), bounds AS (
  SELECT doc_id, v,
         list_min(list_filter(range(0, len(v)), i -> abs(v[i + 1]) >= 4096)) AS lo,
         list_max(list_filter(range(0, len(v)), i -> abs(v[i + 1]) >= 4096)) AS hi
  FROM sm
), kept AS (
  SELECT doc_id,
         CASE WHEN lo IS NULL THEN CAST([] AS INTEGER[])
              ELSE list_transform(range(lo, hi + 1), i -> v[i + 1]) END AS k
  FROM bounds
)
SELECT doc_id,
       CAST(len(k) AS BIGINT) AS n_samples,
       CAST(44 + 2 * len(k) AS BIGINT) AS n_bytes,
       CASE WHEN len(k) > 0
            THEN floor(list_avg(k) * 10000 + 0.5) / 10000 END AS mean_ch0,
       CASE WHEN len(k) > 0
            THEN floor(sqrt(list_avg(list_transform(k, x -> CAST(x AS DOUBLE) * x)))
                 * 10000 + 0.5) / 10000 END AS rms_ch0
FROM kept
"""


@query("e189_audio_trim", _E189_ORACLE)
def e189_audio_trim(spark, sf_dir):
    """Silence trim (VAD-lite) producing real WAV bytes, decoded back
    (operators/codecs.py::wav_trim_silence): active-sample bounds +
    one frame slice per file, scan-stage, no shuffle."""
    from pivot_spark.operators.codecs import (
        decode_wav,
        make_wav,
        wav_trim_silence,
    )

    need = 2 * _E174_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    payload = F.concat(
        F.expr("substring(X'00000000', 1, CAST((doc_id % 3) * 2 AS INT))"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(b"\x00" * (2 * _E174_N))
        ).otherwise(_e174_payload("pp")),
        F.expr("substring(X'00000000', 1, CAST((1 + doc_id % 2) * 2 AS INT))"),
    )
    au = d.select("doc_id", make_wav(1, 8000, payload).alias("audio"))
    tr = wav_trim_silence(au, threshold_abs=4096).select(
        "doc_id", F.col("trimmed").alias("audio")
    )
    out = decode_wav(tr)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "doc_id",
        F.col("meta.n_samples").alias("n_samples"),
        F.col("meta.n_bytes").alias("n_bytes"),
        r4("mean_ch0").alias("mean_ch0"),
        r4("rms_ch0").alias("rms_ch0"),
    )


# --- E190: fixed-window crop (x=2, y=1, 4x2) of the e175 P6 corpus,
# verified by decoding the CROPPED file. Widths run 4..8, so rows with
# w < 6 exercise the window-does-not-fit NULL branch (~2/5 of the
# corpus); 8-pixel channel means are dyadic (/8) and CAN tie at the 4th
# decimal, hence the floor(x*1e4+0.5)/1e4 convention on both sides.
_E190_X, _E190_Y, _E190_W, _E190_H = 2, 1, 4, 2
_E190_NB = len(f"P6\n{_E190_W} {_E190_H}\n255\n") + 3 * _E190_W * _E190_H

_E190_ORACLE = f"""
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INTEGER) AS w,
         CAST(3 + doc_id % 4 AS INTEGER) AS h,
         CASE WHEN doc_id % 7 = 0
              THEN repeat('x', CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER))
              ELSE rpad(substring(text, 1, CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER)),
                        CAST((4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS INTEGER), ' ') END AS p
  FROM documents
), ch AS (
  SELECT doc_id, w,
         list_transform(range(0, {_E190_W * _E190_H}), k ->
           ascii(substring(p, CAST(1 + ((({_E190_Y} + k // {_E190_W}) * w
                + {_E190_X} + k % {_E190_W}) * 3) AS INTEGER), 1))) AS r,
         list_transform(range(0, {_E190_W * _E190_H}), k ->
           ascii(substring(p, CAST(2 + ((({_E190_Y} + k // {_E190_W}) * w
                + {_E190_X} + k % {_E190_W}) * 3) AS INTEGER), 1))) AS g,
         list_transform(range(0, {_E190_W * _E190_H}), k ->
           ascii(substring(p, CAST(3 + ((({_E190_Y} + k // {_E190_W}) * w
                + {_E190_X} + k % {_E190_W}) * 3) AS INTEGER), 1))) AS b
  FROM img
)
SELECT doc_id,
       CASE WHEN w >= {_E190_X + _E190_W} THEN CAST({_E190_W} AS INTEGER) END AS width,
       CASE WHEN w >= {_E190_X + _E190_W} THEN CAST({_E190_H} AS INTEGER) END AS height,
       CASE WHEN w >= {_E190_X + _E190_W}
            THEN CAST({_E190_NB} AS BIGINT) END AS n_bytes,
       CASE WHEN w >= {_E190_X + _E190_W}
            THEN floor(list_avg(r) * 10000 + 0.5) / 10000 END AS mean_r,
       CASE WHEN w >= {_E190_X + _E190_W}
            THEN floor(list_avg(g) * 10000 + 0.5) / 10000 END AS mean_g,
       CASE WHEN w >= {_E190_X + _E190_W}
            THEN floor(list_avg(b) * 10000 + 0.5) / 10000 END AS mean_b
FROM ch
"""


@query("e190_image_crop", _E190_ORACLE)
def e190_image_crop(spark, sf_dir):
    """Region-of-interest crop producing real P6 bytes, decoded back
    (operators/codecs.py::ppm_crop): out_h scanline substrings per
    image, scan-stage, no Python; window-misses -> NULL."""
    from pivot_spark.operators.codecs import decode_ppm, ppm_crop

    img = _e187_images(spark, sf_dir)
    cr = ppm_crop(img, _E190_X, _E190_Y, _E190_W, _E190_H).select(
        "doc_id", F.col("cropped").alias("image")
    )
    out = decode_ppm(cr)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        r4("mean_r").alias("mean_r"),
        r4("mean_g").alias("mean_g"),
        r4("mean_b").alias("mean_b"),
    )


# --- E191: ranked-retrieval evaluation (nDCG@k + reciprocal rank) over
# graded event relevance. Candidates = a user's events scored by value;
# graded labels from event_type (purchase 3, signup 2, click 1, else 0).
# DCG discount weights are integer-quantized at 1e6 (analytics.py::
# ranking_metrics) so both engines sum exact BIGINTs; the only float
# steps are the final divisions, rounded floor(x*1e4+0.5)/1e4 on both
# sides (dcg = int/1e6 can sit exactly on a 4th-decimal tie).
_E191_K = 10


def _e191_oracle() -> str:
    import math

    w = [round(1_000_000 / math.log2(r + 1)) for r in range(1, _E191_K + 1)]
    dcg = " + ".join(
        f"(CASE WHEN len(cs) >= {i} THEN cs[{i}] * CAST({w[i-1]} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(1, _E191_K + 1)
    )
    idcg = " + ".join(
        f"(CASE WHEN len(ideal) >= {i} THEN ideal[{i}] * CAST({w[i-1]} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(1, _E191_K + 1)
    )
    rr = " ".join(
        f"WHEN len(cs) >= {i} AND cs[{i}] > 0 THEN CAST(1.0 / {i} AS DOUBLE)"
        for i in range(1, _E191_K + 1)
    )
    return f"""
WITH c AS (
  SELECT user_id, value AS s, event_id AS t,
         CAST(CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
                              WHEN 'click' THEN 1 ELSE 0 END AS BIGINT) AS rel
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
), g AS (
  SELECT user_id,
         list(rel ORDER BY s DESC, t) AS cs,
         list(rel ORDER BY rel DESC) AS ideal,
         count(*) AS n_cands
  FROM c GROUP BY user_id
), m AS (
  SELECT user_id, n_cands,
         ({dcg}) AS dcg_s, ({idcg}) AS idcg_s,
         CASE {rr} ELSE CAST(0.0 AS DOUBLE) END AS rr
  FROM g
)
SELECT user_id, n_cands,
       floor(dcg_s / 1000000.0 * 10000 + 0.5) / 10000 AS dcg,
       floor(idcg_s / 1000000.0 * 10000 + 0.5) / 10000 AS idcg,
       CASE WHEN idcg_s <> 0
            THEN floor(CAST(dcg_s AS DOUBLE) / CAST(idcg_s AS DOUBLE)
                       * 10000 + 0.5) / 10000 END AS ndcg,
       floor(rr * 10000 + 0.5) / 10000 AS rr
FROM m
"""


@query("e191_ranking_ndcg", _e191_oracle())
def e191_ranking_ndcg(spark, sf_dir):
    """Per-query nDCG@10 + reciprocal rank — the retrieval-eval loop of
    an embedding pipeline (analytics.py::ranking_metrics): ONE
    groupBy(query) shuffle, per-rank sums unrolled into one codegen'd
    expression, quantized-integer DCG weights for engine-exact
    determinism."""
    from pivot_spark.operators.analytics import ranking_metrics

    ev = _read(spark, sf_dir, "events")
    rel = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
    )
    base = ev.select(
        "user_id", "value", rel.alias("rel"), "event_id"
    )
    out = ranking_metrics(
        base, "user_id", "value", "rel", "event_id", k=_E191_K
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "user_id",
        "n_cands",
        r4("dcg").alias("dcg"),
        r4("idcg").alias("idcg"),
        r4("ndcg").alias("ndcg"),
        r4("rr").alias("rr"),
    )


# --- E192: deterministic difficulty-stratified training order
# (packing.py::curriculum_order): corpus ranked by n_chars, split into 8
# exact-ntile strata, strata interleaved round-robin — the reproducible
# no-RNG curriculum layout. Integer-only output, no rounding concerns.
_E192_B = 8

_E192_ORACLE = f"""
WITH r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars, doc_id) AS r,
         count(*) OVER () AS n
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
), b AS (
  SELECT doc_id, r, n, ((r - 1) * {_E192_B}) // n AS bkt
  FROM r
)
SELECT doc_id,
       r AS difficulty_rank,
       CAST(bkt AS INTEGER) AS bucket,
       r - ((bkt * n + {_E192_B - 1}) // {_E192_B}) AS pos_in_bucket,
       row_number() OVER (
         ORDER BY r - ((bkt * n + {_E192_B - 1}) // {_E192_B}), bkt
       ) AS train_order
FROM b
"""


@query("e192_curriculum_order", _E192_ORACLE)
def e192_curriculum_order(spark, sf_dir):
    """Difficulty-stratified deterministic training order: two
    parallel-prefix row ranks (no global sort), exact ntile strata,
    round-robin interleave — balanced mini-batches with zero RNG
    state."""
    from pivot_spark.operators.packing import curriculum_order

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = curriculum_order(
        docs, "n_chars", "doc_id", n_buckets=_E192_B, out_col="train_order"
    )
    return out.select(
        "doc_id", "difficulty_rank", "bucket", "pos_in_bucket", "train_order"
    )


# --- E193: variance-of-Laplacian blur screen over REAL P6 pixels
# (codecs.py::ppm_blur_score) on the e187 corpus (w 4..8, h 3..6 — every
# image has an interior; the solid every-7th image pins the var=0
# branch). Exact BIGINT (sum, sumsq) of integer-luma Laplacians; the
# oracle replays the same bytes from the source text with the identical
# division shape num/ni^2/1e6.
def _e193_luma_sql(dx: int, dy: int) -> str:
    # luma at interior pixel (x+dx, y+dy) for interior index i:
    # x = 1 + i % (w-2), y = 1 + i // (w-2); payload char base is
    # (y*w + x)*3 + 1 (1-based text positions)
    pos = f"((1 + i // (w - 2) + {dy}) * w + (1 + i % (w - 2) + {dx})) * 3"
    return (
        f"(299 * ascii(substring(p, CAST({pos} + 1 AS INTEGER), 1))"
        f" + 587 * ascii(substring(p, CAST({pos} + 2 AS INTEGER), 1))"
        f" + 114 * ascii(substring(p, CAST({pos} + 3 AS INTEGER), 1)))"
    )


_E193_ORACLE = _E187_IMG_CTE + f"""
, lp AS (
  SELECT doc_id, CAST((w - 2) * (h - 2) AS BIGINT) AS ni,
         list_transform(range(0, (w - 2) * (h - 2)), i ->
           CAST(4 * {_e193_luma_sql(0, 0)} - {_e193_luma_sql(-1, 0)}
                - {_e193_luma_sql(1, 0)} - {_e193_luma_sql(0, -1)}
                - {_e193_luma_sql(0, 1)} AS BIGINT)) AS lap
  FROM img
)
SELECT doc_id, ni AS n_interior,
       floor(CAST(ni * list_sum(list_transform(lap, zbl -> zbl * zbl))
                  - list_sum(lap) * list_sum(lap) AS DOUBLE)
             / CAST(ni * ni AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000
         AS lap_var
FROM lp
"""


@query("e193_image_blur", _E193_ORACLE)
def e193_image_blur(spark, sf_dir):
    """Variance-of-Laplacian blur/focus screen over real P6 pixels
    (codecs.py::ppm_blur_score): one integer stencil per image, exact
    BIGINT moments, scan-stage, no shuffle — the vision-curation
    quality gate next to ppm_luma_stats' blank screen."""
    from pivot_spark.operators.codecs import ppm_blur_score

    out = ppm_blur_score(_e187_images(spark, sf_dir))
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "doc_id", "n_interior", r4("lap_var").alias("lap_var")
    )


# --- E194: quantized-DFT spectral-energy screen over REAL PCM-16 WAVs
# (codecs.py::wav_spectral) on the e174 signed-sample corpus. The trig
# basis is integer-quantized at 1e3 (codecs.py::dft_coeffs — the SAME
# Python literals feed both engines), so band correlations are exact
# BIGINT and only the final normalization divides; dom_bin is an
# integer argmax (ties to the lowest bin), hash-exact by construction.
_E194_BINS = (1, 2, 3, 6)


def _e194_oracle() -> str:
    from pivot_spark.operators.codecs import dft_coeffs

    n = _E174_N
    coeffs = dft_coeffs(n, _E194_BINS, 1000)

    def corr(row):
        terms = [
            f"v[{i + 1}] * CAST({row[i]} AS BIGINT)"
            for i in range(n)
            if row[i] != 0
        ]
        return "(" + (" + ".join(terms) if terms else "CAST(0 AS BIGINT)") + ")"

    pw = {
        k: f"({corr(c)} * {corr(c)} + {corr(s)} * {corr(s)})"
        for k, (c, s) in coeffs.items()
    }
    sel_pw = ", ".join(f"{pw[k]} AS pw{k}" for k in _E194_BINS)
    whens = []
    for k in _E194_BINS:
        conds = [
            (f"pw{k} > pw{j}" if j < k else f"pw{k} >= pw{j}")
            for j in _E194_BINS
            if j != k
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {k}")
    denom = float(1000) ** 2 * float(n) ** 2
    p_cols = ", ".join(
        f"floor(CAST(pw{k} AS DOUBLE) / {denom!r} * 10000 + 0.5) / 10000"
        f" AS p_bin{k}"
        for k in _E194_BINS
    )
    return f"""
WITH au AS (
  SELECT doc_id, rpad(substring(text, 1, {2 * n}), {2 * n}, ' ') AS p
  FROM documents
), sm AS (
  SELECT doc_id,
         list_transform(range(0, {n}), i ->
           (ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1))
            + 256 * ascii(substring(p, CAST(2 + i * 2 AS INTEGER), 1)))
           * (CASE WHEN ascii(substring(p, CAST(1 + i * 2 AS INTEGER), 1)) % 2 = 1
                   THEN -1 ELSE 1 END)) AS v
  FROM au
), pw AS (
  SELECT doc_id, {sel_pw} FROM sm
)
SELECT doc_id, {p_cols},
       CAST(CASE {' '.join(whens)} END AS INTEGER) AS dom_bin
FROM pw
"""


@query("e194_audio_spectral", _e194_oracle())
def e194_audio_spectral(spark, sf_dir):
    """Quantized-DFT band powers + dominant bin over real WAV bytes
    (codecs.py::wav_spectral): tone/hum detection and bandwidth triage
    for audio curation — one integer dot product per basis row,
    scan-stage, no shuffle."""
    from pivot_spark.operators.codecs import make_wav, wav_spectral

    need = 2 * _E174_N
    d = _read(spark, sf_dir, "documents").withColumn(
        "pp", F.expr(f"rpad(substring(text, 1, {need}), {need}, ' ')")
    )
    au = d.select(
        "doc_id", make_wav(1, 8000, _e174_payload("pp")).alias("audio")
    )
    out = wav_spectral(au, n_samples=_E174_N, bins=_E194_BINS)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "doc_id",
        *[r4(f"p_bin{k}").alias(f"p_bin{k}") for k in _E194_BINS],
        "dom_bin",
    )


# --- E195-E198: privacy screens before data release
# (operators/anonymity.py): k-anonymity / l-diversity equivalence-class
# audits (one groupBy, answer-sized output) and Laplace-mechanism DP
# aggregates whose noise is DETERMINISTIC per (salt, cell) — the
# repeated-release discipline; the md5 uniform and inverse-CDF ln are
# the established engine-portable idioms (e61/e83), replayed verbatim.
_E195_ORACLE = """
SELECT c_nationkey, c_mktsegment,
       count(*) AS class_size,
       count(*) < 5 AS at_risk
FROM customer GROUP BY c_nationkey, c_mktsegment
"""


@query("e195_k_anonymity", _E195_ORACLE)
def e195_k_anonymity(spark, sf_dir):
    """k-anonymity audit over customer quasi-identifiers (nation x
    market segment): classes smaller than k re-identify under a join
    with outside data. One shuffle, answer-sized."""
    from pivot_spark.operators.anonymity import k_anonymity_report

    cust = _read(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"], k=5)


_E196_ORACLE = """
SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(*) AS class_size,
       count(DISTINCT event_type) AS n_sensitive,
       count(DISTINCT event_type) >= 3 AS diverse
FROM events GROUP BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
"""


@query("e196_l_diversity", _E196_ORACLE)
def e196_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit: per (user, day) class, how many
    distinct event types — a homogeneous class leaks the attribute
    even when k-anonymous. Per-class count_distinct is bounded by the
    sensitive alphabet, so partial aggregation stays map-side."""
    from pivot_spark.operators.anonymity import l_diversity_report

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").cast("string").alias("day"),
        "event_type",
    )
    return l_diversity_report(ev, ["user_id", "day"], "event_type", l=3)


# 48-bit md5 uniform + Laplace inverse CDF, replayed with the identical
# expression shapes; noisy outputs rounded floor(x*1e4+0.5)/1e4 on both
# sides (codec-family convention).
_E197_SALT = "dp195"

_E197_ORACLE = f"""
WITH g AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
), u AS (
  SELECT event_type, n,
         (('0x' || substring(md5('{_E197_SALT}:' || event_type), 1, 12))::BIGINT
          + 0.5) / 281474976710656.0 AS uu
  FROM g
)
SELECT event_type,
       floor((n + ((-2.0) * sign(uu - 0.5))
                  * ln(1.0 - 2.0 * abs(uu - 0.5))) * 10000 + 0.5) / 10000
         AS noisy_count
FROM u
"""


@query("e197_dp_count", _E197_ORACLE)
def e197_dp_count(spark, sf_dir):
    """Laplace-mechanism event counts (epsilon 0.5, sensitivity 1)
    with cell-keyed deterministic noise — re-releases return the same
    answer, so noise cannot be averaged away."""
    from pivot_spark.operators.anonymity import dp_count

    ev = _read(spark, sf_dir, "events")
    out = dp_count(ev, ["event_type"], epsilon=0.5, salt=_E197_SALT)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("event_type", r4("noisy_count").alias("noisy_count"))


_E198_SALT = "dpsum195"
_E198_CLIP = 100.0

_E198_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         sum(least(greatest(coalesce(value, 0.0), 0.0), {_E198_CLIP})) AS s
  FROM events GROUP BY event_type
), u AS (
  SELECT event_type, s,
         (('0x' || substring(md5('{_E198_SALT}:' || event_type), 1, 12))::BIGINT
          + 0.5) / 281474976710656.0 AS uu
  FROM g
)
SELECT event_type,
       floor((s + ((-{_E198_CLIP}) * sign(uu - 0.5))
                  * ln(1.0 - 2.0 * abs(uu - 0.5))) * 10000 + 0.5) / 10000
         AS noisy_sum
FROM u
"""


@query("e198_dp_sum", _E198_ORACLE)
def e198_dp_sum(spark, sf_dir):
    """Laplace-mechanism clipped sums (clip 100, epsilon 1): each
    contribution clamped into [0, clip] at scan stage to bound the
    sensitivity — the standard DP-SQL recipe — then cell-keyed noise
    on the answer-sized aggregate."""
    from pivot_spark.operators.anonymity import dp_sum

    ev = _read(spark, sf_dir, "events")
    out = dp_sum(
        ev, ["event_type"], "value", clip=_E198_CLIP,
        epsilon=1.0, salt=_E198_SALT,
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("event_type", r4("noisy_sum").alias("noisy_sum"))


# --- E199: corpus-level PII exposure audit (anonymity.py::pii_report)
# — per-source docs-containing / total-hits for each redaction pattern,
# the release gate that decides whether a feed needs e27's scrub. The
# oracle splices the SAME pattern strings from functions/redact.py
# (Java-regex∩RE2 subset — the e171 shared-pattern discipline).
def _e199_oracle() -> str:
    from pivot_spark.functions.redact import PII_PATTERNS

    cols = []
    for pattern, repl in PII_PATTERNS:
        name = repl.strip("<>").lower()
        hits = f"len(regexp_extract_all(text, '{pattern}'))"
        cols.append(
            f"CAST(sum(CASE WHEN {hits} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {name}_docs"
        )
        cols.append(f"CAST(sum({hits}) AS BIGINT) AS {name}_hits")
    return (
        "SELECT source, count(*) AS n_docs, "
        + ", ".join(cols)
        + " FROM documents GROUP BY source"
    )


@query("e199_pii_report", _e199_oracle())
def e199_pii_report(spark, sf_dir):
    """Per-source PII density dashboard: scan-stage regexp_count per
    pattern + one groupBy, patterns shared verbatim with the redaction
    scrub so audit and scrub cannot disagree."""
    from pivot_spark.operators.anonymity import pii_report

    docs = _read(spark, sf_dir, "documents")
    return pii_report(docs, "text", "source")


# --- E200: order-independent bucketed table checksum
# (validate.py::table_checksum) — the migration/parity audit: identical
# on any engine/partitioning because the per-bucket aggregate is a
# commutative exact-decimal sum of 60-bit md5 row hashes. The oracle IS
# the cross-engine parity claim: DuckDB recomputes the same buckets.
_E200_ORACLE = """
WITH h AS (
  SELECT ('0x' || substring(md5('ck' || chr(1) || CAST(doc_id AS VARCHAR)
           || chr(1) || coalesce(text, chr(0) || 'null')
           || chr(1) || coalesce(lang, chr(0) || 'null')
           || chr(1) || coalesce(source, chr(0) || 'null')), 1, 15))::BIGINT AS hh
  FROM documents
)
SELECT hh % 64 AS bucket, count(*) AS n_rows,
       CAST(sum(hh) AS VARCHAR) AS checksum
FROM h GROUP BY hh % 64
"""


@query("e200_table_checksum", _E200_ORACLE)
def e200_table_checksum(spark, sf_dir):
    """Bucketed content checksum over documents' exact-typed columns;
    comparing this 64-row frame against another copy of the corpus IS
    the engine-parity check (a mismatch names the 1/64 slice to
    diff)."""
    from pivot_spark.operators.validate import table_checksum

    docs = _read(spark, sf_dir, "documents")
    out = table_checksum(
        docs, ["doc_id", "text", "lang", "source"], n_buckets=64, salt="ck"
    )
    return out.select(
        "bucket", "n_rows", F.col("checksum").cast("string").alias("checksum")
    )


# --- E201: Bradley–Terry preference strengths (preference.py) — the
# RLHF/eval head-to-head analysis. Win decisions are exact-integer
# (quantized sums cross-multiplied); the MM fixed point (25 iterations,
# mean-1 renorm, +0.5 pseudo-count per pair direction) is replayed by
# the oracle as 25 unrolled CTE iterations over the same pair matrix.
_E201_ITERS = 25


def _e201_oracle() -> str:
    head = """
WITH per AS MATERIALIZED (
  SELECT user_id, event_type AS item,
         CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
), pw AS MATERIALIZED (
  SELECT a.item AS ia, b.item AS ib,
         CAST(sum(CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END) AS BIGINT) AS wa,
         CAST(sum(CASE WHEN b.s * a.n > a.s * b.n THEN 1 ELSE 0 END) AS BIGINT) AS wb
  FROM per a JOIN per b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
  HAVING sum(CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END)
       + sum(CASE WHEN b.s * a.n > a.s * b.n THEN 1 ELSE 0 END) > 0
), dir AS MATERIALIZED (
  SELECT ia AS i, ib AS j, wa + 0.5 AS w, wa + wb + 1.0 AS nn FROM pw
  UNION ALL
  SELECT ib AS i, ia AS j, wb + 0.5 AS w, wa + wb + 1.0 AS nn FROM pw
), wt AS MATERIALIZED (
  SELECT i AS item, sum(w) AS ww, CAST(sum(nn - 1.0) AS BIGINT) AS n_comparisons
  FROM dir GROUP BY 1
), t0 AS MATERIALIZED (
  SELECT item, 1.0 AS p FROM wt
)"""
    ctes = []
    for k in range(1, _E201_ITERS + 1):
        ctes.append(f""", t{k}r AS MATERIALIZED (
  SELECT d.i AS item, w.ww / sum(d.nn / (pa.p + pb.p)) AS p
  FROM dir d
  JOIN t{k - 1} pa ON pa.item = d.i
  JOIN t{k - 1} pb ON pb.item = d.j
  JOIN wt w ON w.item = d.i
  GROUP BY d.i, w.ww
), t{k} AS MATERIALIZED (
  SELECT item, p / (avg(p) OVER ()) AS p FROM t{k}r
)""")
    tail = f"""
SELECT w.item, w.n_comparisons,
       floor(w.ww * 10000 + 0.5) / 10000 AS wins,
       floor(t.p * 10000 + 0.5) / 10000 AS strength
FROM wt w JOIN t{_E201_ITERS} t USING (item)
"""
    return head + "".join(ctes) + tail


@query("e201_bradley_terry", _e201_oracle())
def e201_bradley_terry(spark, sf_dir):
    """Bradley–Terry strengths over per-user event-type preferences:
    corpus-sized pair mining (subject-keyed join, alphabet-bounded
    fan-out, exact-integer win decisions) + alphabet-sized MM fit
    (Hunter 2004) — driver state bounded by |items|^2 like k-means
    centroids."""
    from pivot_spark.operators.preference import bradley_terry_from_scores

    ev = _read(spark, sf_dir, "events")
    out = bradley_terry_from_scores(
        ev, "user_id", "event_type", "value", iterations=_E201_ITERS
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "item", "n_comparisons", r4("wins").alias("wins"),
        r4("strength").alias("strength"),
    )


# --- E202: MinHash estimator-quality audit (neardup.py::
# minhash_estimate_report) — |est - true| per true-Jaccard bucket on a
# deterministic doc sample. The oracle replays the PRODUCTION signature
# (md5 top-8-bytes signed int64, the same affine (a,b) literals from
# _affine_params(16, 42)) so the hash check covers the signature math
# itself, not just the report plumbing. All aggregates are exact BIGINT
# sums of per-pair quantized ints.
def _e202_oracle() -> str:
    from pivot_spark.operators.neardup import MERSENNE_PRIME, _affine_params

    P = MERSENNE_PRIME
    params = _affine_params(16, 42)
    sig_cols = ",\n         ".join(
        f"list_min(list_transform(hm, x{k} -> (x{k} * {a} + {b}) % {P})) AS s{k}"
        for k, (a, b) in enumerate(params)
    )
    matches = " + ".join(
        f"CASE WHEN a.s{k} = b.s{k} THEN 1 ELSE 0 END" for k in range(16)
    )
    h64 = (
        "CASE WHEN ('0x' || substring(md5(g),1,16))::UBIGINT >= "
        "9223372036854775808::UBIGINT "
        "THEN (('0x' || substring(md5(g),1,16))::UBIGINT::HUGEINT "
        "- 18446744073709551616::HUGEINT)::BIGINT "
        "ELSE ('0x' || substring(md5(g),1,16))::UBIGINT::BIGINT END"
    )
    inter = "len(list_intersect(a.hset, b.hset))"
    union = f"(len(a.hset) + len(b.hset) - {inter})"
    return rf"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))-2, 1)+1),
    i -> array_to_string(list_filter(string_split_regex(text,'\s+'), w -> w <> '')[i:i+2], ' ')
  )) AS grams
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
    AND doc_id IN (
      SELECT doc_id FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
      ORDER BY md5('mh_audit:' || CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 256
    )
), hh AS (
  SELECT doc_id, list_distinct(list_transform(grams, g -> {h64})) AS hset
  FROM sh
), sg AS (
  SELECT doc_id, hset,
         {sig_cols}
  FROM (SELECT doc_id, hset,
               list_transform(hset, x -> ((x % {P}) + {P}) % {P}) AS hm
        FROM hh)
), pr AS (
  SELECT least(9, (10 * {inter}::BIGINT) // {union}) AS bucket,
         ({matches}) * 62500 AS qe,
         CAST(floor({inter}::DOUBLE / {union} * 1000000 + 0.5) AS BIGINT) AS qt
  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
)
SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_pairs,
       floor(sum(qe)::DOUBLE / count(*) / 1000000.0 * 10000 + 0.5) / 10000 AS mean_est,
       floor(sum(qt)::DOUBLE / count(*) / 1000000.0 * 10000 + 0.5) / 10000 AS mean_true,
       floor(sum(abs(qe - qt))::DOUBLE / count(*) / 1000000.0 * 10000 + 0.5) / 10000 AS mean_abs_err
FROM pr GROUP BY bucket
"""


@query("e202_minhash_audit", _e202_oracle())
def e202_minhash_audit(spark, sf_dir):
    """Signature-vs-truth calibration report for the production MinHash:
    ABSOLUTE-size deterministic sample (md5 top-k over ids, so the pair
    stage is O(k^2) at any corpus size), zero-shuffle Arrow signature
    pass, broadcast pair stage, exact-BIGINT quantized error sums."""
    from pivot_spark.operators.neardup import minhash_estimate_report

    docs = _read(spark, sf_dir, "documents")
    return minhash_estimate_report(
        docs, num_hashes=16, seed=42, sample_size=256, n_buckets=10
    )


# --- E203: cross-source score calibration (calibrate.py::
# quantile_normalize) — within-source quantile position of n_chars +
# the equal-rate top-30%-per-source keep flag. Rank comes from the
# skew-free parallel-prefix row_rank, not a per-source window sort; all
# divisions are exact-int/exact-int so the oracle's window form agrees.
_E203_ORACLE = """
WITH base AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL AND source IS NOT NULL
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM base
)
SELECT doc_id, source,
       CASE WHEN n = 1 THEN 0.5
            ELSE floor((rn - 1)::DOUBLE / (n - 1) * 10000 + 0.5) / 10000
       END AS q_norm,
       CASE WHEN n = 1 THEN 0.5 > 1.0 - 0.3
            ELSE ((rn - 1)::DOUBLE / (n - 1)) > 1.0 - 0.3
       END AS keep
FROM r
"""


@query("e203_quantile_normalize", _E203_ORACLE)
def e203_quantile_normalize(spark, sf_dir):
    """Per-source quantile normalization of a quality signal + the
    top-30%-of-every-source filter — the calibration step before one
    global threshold can be applied across heterogeneous corpora."""
    from pivot_spark.operators.calibrate import quantile_normalize

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = quantile_normalize(
        docs, "n_chars", ["source"], "doc_id", keep_top=0.3
    )
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("doc_id", "source", r4("q_norm").alias("q_norm"), "keep")


# --- E204: min-max contrast-stretch audit over REAL P6 pixels
# (codecs.py::ppm_contrast_stretch) on the e187 corpus — exact-integer
# remap v' = ((v-lo)*2000 + rng) div (2*rng) (flat image -> 500), full
# stretched moments as BIGINTs; the oracle replays the bytes from the
# source text like e193.
_E204_ORACLE = _E187_IMG_CTE + """
, lum AS (
  SELECT doc_id, w, h,
         list_transform(range(0, w * h), i ->
           CAST(299 * ascii(substring(p, CAST(i*3 + 1 AS INTEGER), 1))
              + 587 * ascii(substring(p, CAST(i*3 + 2 AS INTEGER), 1))
              + 114 * ascii(substring(p, CAST(i*3 + 3 AS INTEGER), 1)) AS BIGINT)) AS l
  FROM img
), mm AS (
  SELECT doc_id, w, h, l, list_min(l) AS lo, list_max(l) AS hi FROM lum
), st AS (
  SELECT doc_id, CAST(w * h AS BIGINT) AS n_px, lo, hi,
         list_transform(l, v -> CASE WHEN hi > lo
             THEN ((v - lo) * 2000 + (hi - lo)) // (2 * (hi - lo))
             ELSE CAST(500 AS BIGINT) END) AS sv
  FROM mm
)
SELECT doc_id, n_px,
       lo / 1000.0 AS luma_lo, hi / 1000.0 AS luma_hi,
       floor((hi - lo) / 255000.0 * 10000 + 0.5) / 10000 AS contrast,
       CAST(list_sum(sv) AS BIGINT) AS stretch_sum,
       CAST(list_sum(list_transform(sv, q204 -> q204 * q204)) AS BIGINT) AS stretch_sumsq
FROM st
"""


@query("e204_contrast_stretch", _E204_ORACLE)
def e204_contrast_stretch(spark, sf_dir):
    """Per-image dynamic range + exact stretched-histogram moments: a
    min/max pass and an integer remap per image, zero shuffle — the
    vision-normalize parity audit next to e193's blur screen."""
    from pivot_spark.operators.codecs import ppm_contrast_stretch

    out = ppm_contrast_stretch(_e187_images(spark, sf_dir))
    return out.select(
        "doc_id", "n_px", "luma_lo", "luma_hi", "contrast",
        "stretch_sum", "stretch_sumsq",
    )


# --- E205: held-out Stupid-Backoff scoring (lm.py::
# stupid_backoff_score) — train counts on even doc_ids, score the odd
# ones; unseen bigrams genuinely exercise the alpha*c(b)/N backoff
# branch (vocab 300 forces <unk> traffic). Same r4 avg(-ln .) shape as
# the green e85.
_E205_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')"

_E205_ORACLE = rf"""
WITH ttoks AS (
  SELECT doc_id, {_E205_TOKS} AS w FROM documents WHERE doc_id % 2 = 0
), texpl AS (
  SELECT unnest(w) AS tok FROM ttoks
), uc_raw AS (
  SELECT tok, count(*) AS c FROM texpl GROUP BY 1
), vocab AS (
  SELECT tok FROM uc_raw ORDER BY c DESC, tok LIMIT 300
), tm AS (
  SELECT CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok ELSE '<unk>' END AS tok
  FROM texpl
), uc AS (
  SELECT tok, count(*) AS c FROM tm GROUP BY 1
), nt AS (
  SELECT sum(c)::DOUBLE AS n FROM uc
), tpraw AS (
  SELECT w[i] AS a, w[i+1] AS b
  FROM ttoks, LATERAL unnest(range(1, len(w))) t(i)
), tp AS (
  SELECT CASE WHEN a IN (SELECT tok FROM vocab) THEN a ELSE '<unk>' END AS a,
         CASE WHEN b IN (SELECT tok FROM vocab) THEN b ELSE '<unk>' END AS b
  FROM tpraw
), bc AS (
  SELECT a, b, count(*) AS cb FROM tp GROUP BY 1, 2
), stoks AS (
  SELECT doc_id, {_E205_TOKS} AS w FROM documents WHERE doc_id % 2 = 1
), spraw AS (
  SELECT doc_id, w[i] AS a, w[i+1] AS b
  FROM stoks, LATERAL unnest(range(1, len(w))) t(i)
), sp AS (
  SELECT doc_id,
         CASE WHEN a IN (SELECT tok FROM vocab) THEN a ELSE '<unk>' END AS a,
         CASE WHEN b IN (SELECT tok FROM vocab) THEN b ELSE '<unk>' END AS b
  FROM spraw
), scored AS (
  SELECT sp.doc_id, count(*) AS n_bigrams,
         round(avg(-ln(CASE WHEN bc.cb IS NOT NULL THEN bc.cb / u1.c
                            ELSE 0.4 * coalesce(u2.c, 1) / nt.n END)), 4)
           AS avg_neg_logs
  FROM sp
  LEFT JOIN bc USING (a, b)
  LEFT JOIN uc u1 ON sp.a = u1.tok
  LEFT JOIN uc u2 ON sp.b = u2.tok
  CROSS JOIN nt
  GROUP BY sp.doc_id
)
SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.avg_neg_logs
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN scored s USING (doc_id)
"""


@query("e205_stupid_backoff", _E205_ORACLE)
def e205_stupid_backoff(spark, sf_dir):
    """Web-scale held-out LM filter: Stupid Backoff (Brants 2007) —
    counts-only scoring, so it distributes as plain counting; train and
    score shards are disjoint halves of the corpus."""
    from pivot_spark.operators.lm import stupid_backoff_score

    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    return stupid_backoff_score(train, score, vocab_size=300, alpha=0.4)


# --- E206: annotation-agreement audit (analytics.py::cohens_kappa) —
# Cohen's kappa between the declared ``lang`` column and the e05
# lang_guess heuristic. The oracle rebuilds the IDENTICAL CASE chain
# from LANG_STOPWORDS (the e05 device) and the same exact-count ratios;
# the p_e numerator is HUGEINT/DECIMAL(38,0) on the two engines.
def _lang_guess_sql(with_id: bool = False) -> str:
    from pivot_spark.functions.text import LANG_STOPWORDS

    score = {}
    for lang, words in LANG_STOPWORDS.items():
        if lang == "zh":
            score[lang] = "len(regexp_extract_all(text, '[一-鿿]'))"
        else:
            wl = ", ".join(f"'{w}'" for w in words)
            score[lang] = (
                "len(list_filter("
                r"list_filter(string_split_regex(lower(text), '\s+'), w -> w <> ''),"
                f" w -> list_contains([{wl}], w)))"
            )
    langs = list(score)
    cases = " ".join(
        "WHEN s_{0} > 0 AND {1} THEN '{0}'".format(
            lang,
            " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang),
        )
        for lang in langs
    )
    sel = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    idc = "doc_id, " if with_id else ""
    return f"SELECT {idc}lang, CASE {cases} ELSE 'und' END AS guess FROM (SELECT {idc}lang, {sel} FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL)"


_E206_ORACLE = f"""
WITH lab AS MATERIALIZED (
  {_lang_guess_sql()}
), conf AS MATERIALIZED (
  SELECT lang AS a, guess AS b, count(*) AS c FROM lab GROUP BY 1, 2
), tot AS (
  SELECT sum(c)::BIGINT AS n,
         coalesce(sum(c) FILTER (a = b), 0)::BIGINT AS agree
  FROM conf
), pe AS (
  SELECT coalesce(sum(r.ra::HUGEINT * co.cb), 0) AS pe_num
  FROM (SELECT a, sum(c) AS ra FROM conf GROUP BY 1) r
  JOIN (SELECT b, sum(c) AS cb FROM conf GROUP BY 1) co ON r.a = co.b
)
SELECT n, agree,
       floor(agree::DOUBLE / n * 10000 + 0.5) / 10000 AS po,
       floor(pe_num::DOUBLE / n / n * 10000 + 0.5) / 10000 AS pe,
       CASE WHEN pe_num::DOUBLE / n / n < 1.0
            THEN floor((agree::DOUBLE / n - pe_num::DOUBLE / n / n)
                       / (1.0 - pe_num::DOUBLE / n / n) * 10000 + 0.5) / 10000
       END AS kappa
FROM tot CROSS JOIN pe
"""


@query("e206_cohens_kappa", _E206_ORACLE)
def e206_cohens_kappa(spark, sf_dir):
    """Agreement-beyond-chance between the corpus's declared language
    labels and the heuristic lang-ID — the audit run before trusting
    either labeler. One |labels|^2-bounded shuffle, answer-sized rest."""
    from pivot_spark.functions.text import lang_guess
    from pivot_spark.operators.analytics import cohens_kappa

    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("text").isNotNull())
        .select("lang", lang_guess(F.col("text")).alias("guess"))
    )
    return cohens_kappa(docs, "lang", "guess")


# --- E207: farthest-point sampling coreset (coreset.py) — Gonzalez
# k-center over the embeddings, k=6. Selection is replayed center by
# center: each oracle step is a MATERIALIZED CTE picking argmax of the
# least of the unrolled left-assoc squared distances (the e54 fold
# contract), ties to the smallest vec_id.
_E207_K = 6


def _e207_oracle() -> str:
    def dist(e: str, c: str) -> str:
        terms = " + ".join(
            f"({e}[{i}]::DOUBLE - {c}[{i}]::DOUBLE) * ({e}[{i}]::DOUBLE - {c}[{i}]::DOUBLE)"
            for i in range(1, _E54_DIM + 1)
        )
        return f"(0.0 + {terms})"

    parts = [
        """WITH b AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), c0 AS MATERIALIZED (
  SELECT vec_id, embedding AS v, CAST(NULL AS DOUBLE) AS dm
  FROM b ORDER BY vec_id LIMIT 1
)"""
    ]
    for s in range(1, _E207_K):
        ds = [dist("e.embedding", f"c{j}.v") for j in range(s)]
        mind = ds[0] if s == 1 else f"least({', '.join(ds)})"
        joins = " ".join(f"CROSS JOIN c{j}" for j in range(s))
        excl = ", ".join(f"(SELECT vec_id FROM c{j})" for j in range(s))
        parts.append(f""", c{s} AS MATERIALIZED (
  SELECT e.vec_id, e.embedding AS v, {mind} AS dm
  FROM b e {joins}
  WHERE e.vec_id NOT IN ({excl})
  ORDER BY dm DESC, e.vec_id LIMIT 1
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {s} AS step, vec_id, floor(dm * 10000 + 0.5) / 10000 AS min_dist FROM c{s}"
        if s > 0
        else "SELECT 0 AS step, vec_id, dm AS min_dist FROM c0"
        for s in range(_E207_K)
    )
    return "".join(parts) + "\n" + sel


@query("e207_fps_coreset", _e207_oracle())
def e207_fps_coreset(spark, sf_dir):
    """Diversity-maximizing coreset: k scan-stage passes, each a
    broadcast-literal min-distance + distributed TakeOrdered(1); no
    shuffle, driver state = k x dim."""
    from pivot_spark.operators.coreset import farthest_point_sample

    emb = _read(spark, sf_dir, "embeddings")
    out = farthest_point_sample(emb, "vec_id", "embedding", k=_E207_K)
    r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
    return out.select("step", "vec_id", r4("min_dist").alias("min_dist"))


# --- E208: isotonic calibration curve (calibrate.py::isotonic_fit) —
# P(returnflag = 'R') as a monotone function of extended price, 32
# equal-width bins, fitted via the Barlow minimax closed form. The
# oracle replays the identical binning + O(bins²) minimax algebra; all
# per-bin sums are exact integers-in-doubles so every division is
# engine-identical.
_E208_BINS = 32
_E208_ORACLE = f"""
WITH base AS (
  SELECT l_extendedprice::DOUBLE AS s,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), rng AS (
  SELECT min(s) AS mn, max(s) AS mx FROM base
), binned AS (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE least({_E208_BINS - 1},
                         floor((s - mn) / (mx - mn) * {_E208_BINS}))::INT
         END AS bin, y, mn, mx
  FROM base, rng
), per AS (
  SELECT bin, count(*) AS n, sum(y) AS sy,
         min(mn + bin * (mx - mn) / {_E208_BINS}) AS bin_lo
  FROM binned GROUP BY bin
), pre AS (
  SELECT bin, n, sy, bin_lo,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(sy) OVER (ORDER BY bin) AS cy
  FROM per
), seg AS (
  SELECT a.bin AS ab, b.bin AS bb,
         (b.cy - a.cy + a.sy) / (b.cn - a.cn + a.n) AS v
  FROM pre a, pre b WHERE a.bin <= b.bin
), mm AS (
  SELECT i.bin, s.ab, min(s.v) AS mnv
  FROM pre i JOIN seg s ON s.ab <= i.bin AND i.bin <= s.bb
  GROUP BY i.bin, s.ab
), fit AS (
  SELECT bin, max(mnv) AS fitted FROM mm GROUP BY bin
)
SELECT p.bin, floor(p.bin_lo * 10000 + 0.5) / 10000 AS bin_lo,
       p.n::BIGINT AS n,
       floor(p.sy / p.n * 10000 + 0.5) / 10000 AS mean_label,
       floor(f.fitted * 10000 + 0.5) / 10000 AS fitted
FROM per p JOIN fit f USING (bin)
"""
