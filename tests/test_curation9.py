"""Tests for session-6 operators: isotonic_fit, krippendorff_alpha,
local_clustering, span_corruption, matryoshka_recall."""

import math

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.analytics import krippendorff_alpha
from pivot_spark.operators.augment import span_corruption
from pivot_spark.operators.calibrate import isotonic_fit
from pivot_spark.operators.components import local_clustering
from pivot_spark.operators.similarity import matryoshka_recall


# ---------------------------------------------------------------- isotonic
def _pav(ns, ys):
    """Reference pool-adjacent-violators on (n, sum_y) bin lists."""
    blocks = [[n, y] for n, y in zip(ns, ys)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] / blocks[i][0] > blocks[i + 1][1] / blocks[i + 1][0]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    out = []
    for n, y in blocks:
        out.extend([y / n] * 1)  # one value per block; expand below
    # expand block means back to per-bin values
    vals = []
    bi = 0
    remaining = blocks[0][0] if blocks else 0
    for n in ns:
        if remaining == 0:
            bi += 1
            remaining = blocks[bi][0]
        vals.append(blocks[bi][1] / blocks[bi][0])
        remaining -= n
    return vals


def test_isotonic_matches_pav_and_is_monotone(spark):
    # scores 0..9 in 10 bins; labels deliberately non-monotone
    ys = [0, 1, 1, 0, 0, 1, 0, 1, 1, 1]
    rows = [(float(s), float(y)) for s, y in zip(range(10), ys)]
    # two rows per bin to make bin means 0/0.5/1 style
    rows += [(float(s), float(y)) for s, y in zip(range(10), ys)]
    df = spark.createDataFrame(rows, ["s", "y"])
    out = {r["bin"]: r for r in isotonic_fit(df, "s", "y", bins=10).collect()}
    assert sorted(out) == list(range(10))
    fitted = [out[b]["fitted"] for b in range(10)]
    # non-decreasing
    assert all(a <= b + 1e-12 for a, b in zip(fitted, fitted[1:]))
    # equals classic PAV on the same bins
    ref = _pav([out[b]["n"] for b in range(10)],
               [out[b]["mean_label"] * out[b]["n"] for b in range(10)])
    assert all(abs(f - r) < 1e-9 for f, r in zip(fitted, ref))
    # least-squares property vs the raw bin means: PAV solution cannot
    # be improved by the trivial constant fit
    means = [out[b]["mean_label"] for b in range(10)]
    sse_fit = sum(n * (m - f) ** 2 for n, m, f in zip(
        [out[b]["n"] for b in range(10)], means, fitted))
    const = sum(m * out[b]["n"] for b, m in zip(range(10), means)) / sum(
        out[b]["n"] for b in range(10))
    sse_const = sum(out[b]["n"] * (m - const) ** 2
                    for b, m in zip(range(10), means))
    assert sse_fit <= sse_const + 1e-9


def test_isotonic_constant_score_single_bin(spark):
    df = spark.createDataFrame([(1.0, 0.0), (1.0, 1.0)], ["s", "y"])
    rows = isotonic_fit(df, "s", "y", bins=8).collect()
    assert len(rows) == 1 and rows[0]["bin"] == 0
    assert rows[0]["fitted"] == pytest.approx(0.5)


def test_isotonic_rejects_bad_bins(spark):
    df = spark.createDataFrame([(1.0, 0.0)], ["s", "y"])
    with pytest.raises(ValueError):
        isotonic_fit(df, "s", "y", bins=0)


# ---------------------------------------------------------- krippendorff
def test_krippendorff_perfect_agreement(spark):
    rows = [(u, v) for u in range(5) for v in ["x", "x"]]
    df = spark.createDataFrame(rows, ["u", "v"])
    r = krippendorff_alpha(df, "u", "v").collect()[0]
    # single category overall -> D_e = 0 -> alpha NULL (degenerate)
    assert r["alpha"] is None
    rows = [(u, c) for u, c in [(0, "a"), (0, "a"), (1, "b"), (1, "b"),
                                (2, "a"), (2, "a"), (3, "b"), (3, "b")]]
    df = spark.createDataFrame(rows, ["u", "v"])
    r = krippendorff_alpha(df, "u", "v").collect()[0]
    assert r["alpha"] == pytest.approx(1.0)
    assert r["n_units"] == 4 and r["n_pairable"] == 8


def test_krippendorff_known_value_with_missing(spark):
    # Krippendorff (2004) style worked example: 3 raters, some units
    # missing one rating; single-rating units must be dropped.
    ratings = {
        1: ["a", "a", "a"],
        2: ["b", "b", "b"],
        3: ["b", "b", "b"],
        4: ["b", "b", "b"],
        5: ["b", "b", "b"],
        6: ["a", "b"],        # disagreement, m=2
        7: ["a"],             # unpairable -> dropped
    }
    rows = [(u, v) for u, vs in ratings.items() for v in vs]
    df = spark.createDataFrame(rows, ["u", "v"])
    r = krippendorff_alpha(df, "u", "v").collect()[0]
    assert r["n_units"] == 6
    assert r["n_pairable"] == 17
    # reference computation (coincidence matrix by hand):
    # unit 6 contributes o_ab = o_ba = 1 each (m=2); units 1: o_aa = 3;
    # 2-5: o_bb = 3 each -> o_aa=3, o_bb=12, o_ab=o_ba=1; n=17
    # n_a = 4, n_b = 13; D_o = 2/17
    # D_e = (4*13 + 13*4) / (17*16) = 104/272
    d_o = 2 / 17
    d_e = 104 / 272
    assert r["d_o"] == pytest.approx(d_o)
    assert r["d_e"] == pytest.approx(d_e)
    assert r["alpha"] == pytest.approx(1 - d_o / d_e)


def test_krippendorff_nulls_excluded(spark):
    rows = [(1, "a"), (1, "a"), (1, None), (None, "b"), (2, "b")]
    df = spark.createDataFrame(rows, ["u", "v"])
    r = krippendorff_alpha(df, "u", "v").collect()[0]
    # unit 2 has one rating -> dropped; unit 1 has two non-null
    assert r["n_units"] == 1 and r["n_pairable"] == 2


# ------------------------------------------------------ local clustering
def test_local_clustering_triangle_plus_tail(spark):
    # graph: triangle 1-2-3 plus pendant 3-4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    out = {r["node"]: r for r in local_clustering(edges).collect()}
    assert out[1]["triangles"] == 1 and out[1]["lcc"] == pytest.approx(1.0)
    assert out[2]["triangles"] == 1 and out[2]["lcc"] == pytest.approx(1.0)
    # node 3 has degree 3, one triangle among 3 possible pairs
    assert out[3]["degree"] == 3 and out[3]["triangles"] == 1
    assert out[3]["lcc"] == pytest.approx(2 * 1 / (3 * 2))
    assert out[4]["degree"] == 1 and out[4]["triangles"] == 0
    assert out[4]["lcc"] == 0.0


def test_local_clustering_dedupes_and_ignores_self_loops(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)], ["src", "dst"]
    )
    out = {r["node"]: r for r in local_clustering(edges).collect()}
    assert out[1]["degree"] == 2 and out[1]["triangles"] == 1
    assert out[1]["lcc"] == pytest.approx(1.0)


def test_local_clustering_agrees_with_global_census(spark):
    from pivot_spark.operators.components import triangle_stats

    # K4 plus a chain
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    per_node = local_clustering(df).agg(F.sum("triangles")).collect()[0][0]
    census = triangle_stats(df).collect()[0]["n_triangles"]
    assert per_node == 3 * census  # each triangle counted at 3 corners


# ------------------------------------------------------- span corruption
def test_span_corruption_deterministic_and_consistent(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "alpha beta"),
         (3, None),
         (4, "   ")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           span_corruption(docs, "doc_id", "text", mask_rate=0.5).collect()}
    # NULL text and whitespace-only text yield no row
    assert set(out) <= {1, 2}
    r = out[1]
    assert r["n_tokens"] == 12
    assert 0 <= r["n_masked"] <= 12 and r["n_spans"] <= r["n_masked"]
    # every sentinel in the input appears in the target exactly once
    for k in range(r["n_spans"]):
        assert f"<extra_id_{k}>" in r["input_text"]
        assert r["target_text"].count(f"<extra_id_{k}>") == 1
    # reconstruction: replacing sentinels in input with target spans
    # restores the original token sequence
    tgt = r["target_text"]
    spans = {}
    parts = tgt.split("<extra_id_")
    for p in parts[1:]:
        k, rest = p.split(">", 1)
        spans[int(k)] = rest.strip()
    rebuilt = []
    for tok in r["input_text"].split(" "):
        if tok.startswith("<extra_id_"):
            k = int(tok[len("<extra_id_"):-1])
            if spans[k]:
                rebuilt.extend(spans[k].split(" "))
        else:
            rebuilt.append(tok)
    assert rebuilt == "the quick brown fox jumps over the lazy dog again and again".split()
    # determinism
    out2 = {r["doc_id"]: r for r in
            span_corruption(docs, "doc_id", "text", mask_rate=0.5).collect()}
    assert out2[1]["input_text"] == r["input_text"]
    assert out2[1]["target_text"] == r["target_text"]


def test_span_corruption_rate_zero_like_and_validation(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        span_corruption(docs, "doc_id", "text", mask_rate=0.0)
    with pytest.raises(ValueError):
        span_corruption(docs, "doc_id", "text", mask_rate=1.0)
    # tiny rate: most likely nothing masked -> input == original text
    r = span_corruption(docs, "doc_id", "text", mask_rate=0.0001).collect()[0]
    if r["n_masked"] == 0:
        assert r["input_text"] == "a b c" and r["target_text"] == ""
        assert r["n_spans"] == 0


def test_span_corruption_mask_rate_statistics(spark):
    # over ~2000 tokens the md5 draw should land near the rate
    text = " ".join(f"tok{i}" for i in range(2000))
    docs = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    r = span_corruption(docs, "doc_id", "text", mask_rate=0.15).collect()[0]
    assert r["n_tokens"] == 2000
    frac = r["n_masked"] / 2000
    assert 0.10 < frac < 0.20


# ------------------------------------------------------ matryoshka recall
def test_matryoshka_full_dim_recall_is_one(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 5)
    out = {r["dim"]: r for r in
           matryoshka_recall(emb, q, k=3, dims=[2, 8]).collect()}
    assert out[8]["mean_recall"] == pytest.approx(1.0)
    assert out[8]["min_recall"] == pytest.approx(1.0)
    assert out[8]["n_queries"] == 5
    # truncation can only lose recall
    assert out[2]["mean_recall"] <= 1.0 + 1e-12


def test_matryoshka_recall_zero_when_orthogonal_prefix(spark):
    # first coordinate identical -> truncated dim=1 ranking is a
    # norm-insensitive tie broken by id; recall well below 1 is expected
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 10.0, 0.0]),
        (2, [1.0, 0.0, 10.0]),
        (3, [1.0, -10.0, 0.0]),
        (4, [1.0, 0.0, -10.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0)
    out = {r["dim"]: r for r in
           matryoshka_recall(emb, q, k=2, dims=[1, 3]).collect()}
    assert out[3]["mean_recall"] == pytest.approx(1.0)
    # dim=1: all cosines tie at 1.0 -> ids 1,2 chosen; full-dim top-2
    # under cos desc are also deterministic; just sanity-bound it
    assert 0.0 <= out[1]["mean_recall"] <= 1.0


def test_matryoshka_requires_dims(spark):
    emb = spark.createDataFrame([(0, [1.0, 2.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        matryoshka_recall(emb, emb, k=1, dims=[])


# ------------------------------------------------------ threshold select
def test_threshold_select_perfect_separation(spark):
    from pivot_spark.operators.analytics import threshold_select

    rows = [(float(s), 1 if s >= 5 else 0) for s in range(10)]
    df = spark.createDataFrame(rows, ["s", "y"])
    out = threshold_select(df, "s", "y", bins=10).collect()
    best = max(out, key=lambda r: r["f1"])
    # the optimal cut recovers the true boundary: all 5 positives, 0 FP
    assert best["tp"] == 5 and best["fp"] == 0 and best["fn"] == 0
    assert best["f1"] == pytest.approx(1.0)
    assert best["youden_j"] == pytest.approx(1.0)
    # lowest threshold predicts everything positive
    lo = min(out, key=lambda r: r["threshold"])
    assert lo["tp"] == 5 and lo["fp"] == 5 and lo["recall"] == pytest.approx(1.0)


def test_threshold_select_counts_consistent(spark):
    from pivot_spark.operators.analytics import threshold_select

    import random
    rng = random.Random(3)
    rows = [(rng.uniform(0, 1), rng.randint(0, 1)) for _ in range(200)]
    df = spark.createDataFrame(rows, ["s", "y"])
    total_pos = sum(y for _, y in rows)
    for r in threshold_select(df, "s", "y", bins=16).collect():
        assert r["tp"] + r["fn"] == total_pos
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == 200


# ----------------------------------------------------------------- IPW
def test_ipw_recovers_effect_under_confounding(spark):
    from pivot_spark.operators.analytics import ipw_estimate

    # confounded assignment: group A (e=0.8) has outcome base 10,
    # group B (e=0.2) base 0; true treatment effect is +1 everywhere.
    rows = []
    for g, e, base, n in [("a", 0.8, 10.0, 500), ("b", 0.2, 0.0, 500)]:
        n_t = int(n * e)
        rows += [(1, base + 1.0, e)] * n_t
        rows += [(0, base, e)] * (n - n_t)
    df = spark.createDataFrame(rows, ["t", "y", "e"])
    r = ipw_estimate(df, "t", "y", "e").collect()[0]
    # naive diff is badly biased upward (treated skew toward group a)
    assert r["naive_diff"] > 3.0
    # IPW recovers the true effect
    assert r["ate"] == pytest.approx(1.0, abs=1e-9)


def test_ipw_clip_and_validation(spark):
    from pivot_spark.operators.analytics import ipw_estimate

    df = spark.createDataFrame([(1, 1.0, 0.0001), (0, 0.0, 0.9999)],
                               ["t", "y", "e"])
    r = ipw_estimate(df, "t", "y", "e", clip=(0.1, 0.9)).collect()[0]
    # clipped to 0.1/0.9: weights bounded, estimate finite
    assert math.isfinite(r["ate"])
    with pytest.raises(ValueError):
        ipw_estimate(df, "t", "y", "e", clip=(0.5, 0.4))


# ------------------------------------------------------------ jackknife
def test_jackknife_ratio_exact_on_constant_ratio(spark):
    from pivot_spark.operators.analytics import jackknife_ratio

    # num = 0.5 * den everywhere -> every leave-one-out ratio is 0.5,
    # jackknife variance is exactly 0
    rows = [(i, 0.5 * (i + 1.0), i + 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "num", "den"])
    r = jackknife_ratio(df, "num", "den", "k", buckets=10).collect()[0]
    assert r["ratio"] == pytest.approx(0.5)
    assert r["se_jack"] == pytest.approx(0.0, abs=1e-12)
    assert r["ci_lo"] == pytest.approx(0.5) and r["ci_hi"] == pytest.approx(0.5)
    assert r["n_buckets"] == 10 and r["n"] == 200


def test_jackknife_ratio_se_positive_and_brackets(spark):
    from pivot_spark.operators.analytics import jackknife_ratio

    import random
    rng = random.Random(9)
    rows = [(i, rng.uniform(0, 2), 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "num", "den"])
    r = jackknife_ratio(df, "num", "den", "k", buckets=25).collect()[0]
    true_mean = sum(x for _, x, _ in rows) / 500
    assert r["ratio"] == pytest.approx(true_mean)
    assert r["se_jack"] > 0
    assert r["ci_lo"] < true_mean < r["ci_hi"]
    with pytest.raises(ValueError):
        jackknife_ratio(df, "num", "den", "k", buckets=1)


# ------------------------------------------------------ class separability
def test_class_separability_signal_vs_noise_dim(spark):
    from pivot_spark.operators.embedding import class_separability

    # dim 1 separates classes perfectly (means -1 vs +1, tiny within);
    # dim 2 is identical noise in both classes
    rows = []
    for i in range(40):
        c = i % 2
        rows.append((c, [(-1.0 if c == 0 else 1.0) + (i % 5) * 1e-3,
                         float(i % 7)]))
    df = spark.createDataFrame(rows, ["label", "embedding"])
    out = {r["dim"]: r for r in
           class_separability(df, "embedding", "label", dim=2).collect()}
    assert out[1]["n_classes"] == 2
    assert out[1]["fisher_ratio"] > 100 * (out[2]["fisher_ratio"] or 0.0)
    # ANOVA identity: between + within == total variance (population)
    import statistics
    col1 = [(-1.0 if i % 2 == 0 else 1.0) + (i % 5) * 1e-3 for i in range(40)]
    total = statistics.pvariance(col1)
    assert out[1]["between_var"] + out[1]["within_var"] == pytest.approx(total)


def test_class_separability_single_class_and_validation(spark):
    from pivot_spark.operators.embedding import class_separability

    df = spark.createDataFrame([(0, [1.0, 2.0]), (0, [3.0, 4.0])],
                               ["label", "embedding"])
    out = class_separability(df, "embedding", "label", dim=2).collect()
    for r in out:
        assert r["between_var"] == pytest.approx(0.0)
    with pytest.raises(ValueError):
        class_separability(df, "embedding", "label", dim=0)


# ----------------------------------------------------------- bpe decode
def test_bpe_roundtrip_identity(spark):
    from pivot_spark.operators.bpe import bpe_decode, bpe_encode, bpe_learn

    docs = spark.createDataFrame(
        [(1, "The cat  sat on THE mat"), (2, "cat cat cat"), (3, None)],
        ["doc_id", "text"],
    )
    merges = [(r.left, r.right)
              for r in bpe_learn(docs, "text", num_merges=6).collect()]
    enc = bpe_encode(docs, "text", merges)
    dec = {r["doc_id"]: r["decoded"] for r in
           bpe_decode(enc, "tokens").collect()}
    assert dec[1] == "the cat sat on the mat"
    assert dec[2] == "cat cat cat"
    assert dec[3] is None


# ----------------------------------------------------------- equalize
def test_pgm_equalize_known_image(spark):
    from pivot_spark.operators.codecs import pgm_equalize

    # 2x2 gray image with values 10,10,20,250 ; maxval 255
    hdr = b"P5\n2 2\n255\n"
    img = hdr + bytes([10, 10, 20, 250])
    df = spark.createDataFrame([(1, bytearray(img))], "id long, gray binary")
    out = pgm_equalize(df, "gray").collect()[0]["equalized"]
    assert out is not None
    body = bytes(out)
    assert body.startswith(b"P5\n2 2\n255\n")
    px = list(body[len(hdr):])
    # cdf: 10 -> 2, 20 -> 3, 250 -> 4 ; cdfmin = 2 ; denom = 2
    # out(10) = round(0/2*255) = 0 ; out(20) = round(1/2*255) = 128
    # out(250) = round(2/2*255) = 255
    assert px == [0, 0, 128, 255]


def test_pgm_equalize_constant_and_invalid(spark):
    from pivot_spark.operators.codecs import pgm_equalize

    hdr = b"P5\n3 1\n255\n"
    img = hdr + bytes([7, 7, 7])
    rows = [(1, bytearray(img)), (2, bytearray(b"NOTPGM"))]
    df = spark.createDataFrame(rows, "id long, gray binary")
    out = {r["id"]: r["equalized"] for r in
           pgm_equalize(df, "gray").collect()}
    # constant image: denominator 0 -> all pixels map to 0
    assert list(bytes(out[1])[len(hdr):]) == [0, 0, 0]
    assert out[2] is None


# --------------------------------------------------------------- otsu
def test_otsu_bimodal_image(spark):
    from pivot_spark.operators.codecs import pgm_binarize_otsu

    # clear bimodal: cluster at 10-20, cluster at 200-210
    vals = [10, 12, 14, 20, 200, 205, 210, 208]
    hdr = b"P5\n4 2\n255\n"
    df = spark.createDataFrame(
        [(1, bytearray(hdr + bytes(vals)))], "id long, gray binary"
    )
    r = pgm_binarize_otsu(df, "gray").collect()[0]
    assert 20 <= r["otsu_threshold"] < 200
    body = list(bytes(r["binarized"])[len(hdr):])
    assert body == [0, 0, 0, 0, 255, 255, 255, 255]


def test_otsu_constant_image_and_invalid(spark):
    from pivot_spark.operators.codecs import pgm_binarize_otsu

    hdr = b"P5\n2 1\n255\n"
    rows = [(1, bytearray(hdr + bytes([9, 9]))), (2, bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "id long, gray binary")
    out = {r["id"]: r for r in pgm_binarize_otsu(df, "gray").collect()}
    # constant image: threshold = the single value, all pixels -> 0
    assert out[1]["otsu_threshold"] == 9
    assert list(bytes(out[1]["binarized"])[len(hdr):]) == [0, 0]
    assert out[2]["binarized"] is None and out[2]["otsu_threshold"] is None


# ------------------------------------------------------------- wav gain
def _wav(samples, rate=8000, n_ch=1):
    import struct
    data = b"".join(struct.pack("<h", s) for s in samples)
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
           + struct.pack("<IHHIIHH", 16, 1, n_ch, rate, rate * 2 * n_ch,
                         2 * n_ch, 16)
           + b"data" + struct.pack("<I", len(data)))
    return hdr + data


def test_wav_gain_peak_lands_on_target(spark):
    from pivot_spark.operators.codecs import decode_wav, wav_gain

    import struct
    src = _wav([100, -50, 25, -100])
    df = spark.createDataFrame([(1, bytearray(src))], "id long, audio binary")
    out = wav_gain(df, target_peak=30000).collect()[0]["normalized"]
    body = bytes(out)[44:]
    vals = list(struct.unpack("<4h", body))
    # scale = 30000/100: 100 -> 30000, -100 -> -30000, 50 -> 15000
    assert vals == [30000, -15000, 7500, -30000]
    # emitted file is a valid WAV: decode it back
    df2 = spark.createDataFrame([(1, bytearray(bytes(out)))],
                                "id long, audio binary")
    meta = decode_wav(df2).collect()[0]["meta"]
    assert meta["n_samples"] == 4 and meta["sample_rate"] == 8000


def test_wav_gain_rounding_silent_and_validation(spark):
    from pivot_spark.operators.codecs import wav_gain

    import struct
    # peak 3, target 10: 1 -> round(10/3) = 3.33 -> floor(3.33+?) half-up:
    # floor((2*1*10+3)/6) = floor(23/6) = 3 ; 2 -> floor(43/6) = 7
    src = _wav([1, 2, 3, -3])
    df = spark.createDataFrame([(1, bytearray(src)),
                                (2, bytearray(_wav([0, 0])))],
                               "id long, audio binary")
    out = {r["id"]: r["normalized"]
           for r in wav_gain(df, target_peak=10).collect()}
    assert list(struct.unpack("<4h", bytes(out[1])[44:])) == [3, 7, 10, -10]
    # silent file passes through unchanged
    assert bytes(out[2]) == _wav([0, 0])
    with pytest.raises(ValueError):
        wav_gain(df, target_peak=0)


# --------------------------------------------------------------- OOD
def test_mahalanobis_flags_outlier_and_ignores_constant_dim(spark):
    from pivot_spark.operators.embedding import mahalanobis_ood

    rows = [(i, [float(i % 3), 5.0]) for i in range(30)]   # dim2 constant
    rows.append((99, [100.0, 5.0]))                        # clear outlier
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["md2"] for r in
           mahalanobis_ood(df, "vec_id", "embedding", dim=2).collect()}
    assert out[99] == max(out.values())
    assert out[99] > 10 * max(v for k, v in out.items() if k != 99)
    # constant dim contributes zero -> md2 equals the 1-d z^2
    one_d = {r["vec_id"]: r["md2"] for r in mahalanobis_ood(
        df.select("vec_id",
                  F.slice("embedding", 1, 1).alias("embedding")),
        "vec_id", "embedding", dim=1).collect()}
    for k in out:
        assert out[k] == pytest.approx(one_d[k])
    with pytest.raises(ValueError):
        mahalanobis_ood(df, "vec_id", "embedding", dim=0)


# --------------------------------------------------------- gibberish
def test_char_gibberish_separates_mash_from_text(spark):
    from pivot_spark.operators.lm import char_bigram_gibberish

    english = ("the quick brown fox jumps over the lazy dog and then "
               "the dog sleeps while the fox runs through the field")
    train = spark.createDataFrame(
        [(i, english) for i in range(10)], ["doc_id", "text"]
    )
    score = spark.createDataFrame(
        [(1, "the brown dog runs over the field"),
         (2, "xq zk jx qv wz kq xj zv qx kz jw"),
         (3, "a"),            # shorter than one bigram after canon
         (4, None)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           char_bigram_gibberish(train, score).collect()}
    assert set(out) == {1, 2}
    assert out[2]["avg_neg_log"] > out[1]["avg_neg_log"] + 1.0
    with pytest.raises(ValueError):
        char_bigram_gibberish(train, score, laplace=0.0)


# ---------------------------------------------------- markov attribution
def test_markov_attribution_hand_computed_chain(spark):
    from pivot_spark.operators.attribution import markov_attribution

    # A: c1 -> CONV ; B: c2 -> NULL ; C: c1 -> c2 -> CONV
    # START: c1 2/3, c2 1/3 ; c1: CONV .5, c2 .5 ; c2: CONV .5, NULL .5
    # P(conv) = 2/3 ; remove c1 -> 1/6 (RE .75) ; remove c2 -> 1/3 (RE .5)
    rows = [
        ("A", "2024-01-01 00:00:00", 1, "c1"),
        ("A", "2024-01-01 00:01:00", 2, "purchase"),
        ("B", "2024-01-01 00:00:00", 3, "c2"),
        ("C", "2024-01-01 00:00:00", 4, "c1"),
        ("C", "2024-01-01 00:01:00", 5, "c2"),
        ("C", "2024-01-01 00:02:00", 6, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "channel"]
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "channel",
    )
    out = {r["channel"]: r for r in markov_attribution(
        df, "user_id", "ts", "channel",
        is_conversion=F.col("channel") == "purchase",
        tiebreak_col="event_id", steps=40,
    ).collect()}
    assert set(out) == {"c1", "c2"}
    assert out["c1"]["p_conv_base"] == pytest.approx(2 / 3, abs=1e-9)
    assert out["c1"]["removal_effect"] == pytest.approx(0.75, abs=1e-9)
    assert out["c2"]["removal_effect"] == pytest.approx(0.5, abs=1e-9)
    assert out["c1"]["attribution_share"] == pytest.approx(0.6, abs=1e-9)
    assert out["c2"]["attribution_share"] == pytest.approx(0.4, abs=1e-9)


def test_markov_attribution_truncates_at_first_conversion(spark):
    from pivot_spark.operators.attribution import markov_attribution

    # events AFTER the first purchase must not contribute transitions:
    # without truncation c9 would appear as a channel
    rows = [
        ("A", "2024-01-01 00:00:00", 1, "c1"),
        ("A", "2024-01-01 00:01:00", 2, "purchase"),
        ("A", "2024-01-01 00:02:00", 3, "c9"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "channel"]
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "channel",
    )
    out = markov_attribution(
        df, "user_id", "ts", "channel",
        is_conversion=F.col("channel") == "purchase",
        tiebreak_col="event_id",
    ).collect()
    assert [r["channel"] for r in out] == ["c1"]
    with pytest.raises(ValueError):
        markov_attribution(
            df, "user_id", "ts", "channel",
            is_conversion=F.col("channel") == "purchase",
            tiebreak_col="event_id", steps=0,
        )


# ------------------------------------------------------- group quantiles
def test_group_quantiles_matches_type7(spark):
    from pivot_spark.operators.profile import group_quantiles

    # group a: 1..5 -> p50 = 3, p25 = 2.0, p75 = 4.0 (type-7)
    # group b: 10, 20 -> p50 = 15 (interpolated)
    rows = [("a", float(v), v) for v in range(1, 6)]
    rows += [("b", 10.0, 10), ("b", 20.0, 11)]
    df = spark.createDataFrame(rows, ["g", "v", "k"])
    out = {(r["g"], r["prob"]): r["value"] for r in group_quantiles(
        df, ["g"], "v", "k", probs=(0.25, 0.5, 0.75)).collect()}
    assert out[("a", 0.5)] == pytest.approx(3.0)
    assert out[("a", 0.25)] == pytest.approx(2.0)
    assert out[("a", 0.75)] == pytest.approx(4.0)
    assert out[("b", 0.5)] == pytest.approx(15.0)
    # extremes
    out2 = {(r["g"], r["prob"]): r["value"] for r in group_quantiles(
        df, ["g"], "v", "k", probs=(0.0, 1.0)).collect()}
    assert out2[("a", 0.0)] == 1.0 and out2[("a", 1.0)] == 5.0
    with pytest.raises(ValueError):
        group_quantiles(df, ["g"], "v", "k", probs=(1.5,))


def test_group_quantiles_single_row_group(spark):
    from pivot_spark.operators.profile import group_quantiles

    df = spark.createDataFrame([("a", 7.0, 1)], ["g", "v", "k"])
    out = group_quantiles(df, ["g"], "v", "k", probs=(0.5,)).collect()
    assert out[0]["value"] == pytest.approx(7.0)


# --------------------------------------------------------------- zipf
def test_zipf_fit_exact_power_law(spark):
    from pivot_spark.operators.profile import zipf_fit

    import math
    # construct counts EXACTLY c(r) = round(1000 / r): slope ~ -1, r2 ~ 1
    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * round(1000 / r)
    docs = spark.createDataFrame([(1, " ".join(words))], ["id", "text"])
    r = zipf_fit(docs, "text").collect()[0]
    assert r["n_types"] == 20 and r["n_fit"] == 20
    assert r["slope"] == pytest.approx(-1.0, abs=0.05)
    assert r["r2"] > 0.999
    # intercept ~ ln(1000)
    assert r["intercept"] == pytest.approx(math.log(1000), abs=0.1)


def test_zipf_fit_min_count_and_degenerate(spark):
    from pivot_spark.operators.profile import zipf_fit

    docs = spark.createDataFrame(
        [(1, "a a a b b c")], ["id", "text"]
    )
    r = zipf_fit(docs, "text", min_count=2).collect()[0]
    assert r["n_types"] == 3 and r["n_fit"] == 2
    # single distinct word -> sxx = 0 -> NULL fit
    r2 = zipf_fit(
        spark.createDataFrame([(1, "x x x")], ["id", "text"]), "text"
    ).collect()[0]
    assert r2["slope"] is None and r2["r2"] is None
    with pytest.raises(ValueError):
        zipf_fit(docs, "text", min_count=0)


# --------------------------------------------------------- robust scale
def test_robust_scale_outlier_proof(spark):
    from pivot_spark.operators.bucketize import robust_scale

    # values 1..9 plus a huge outlier: median 5.5 -> with outlier the
    # quartiles barely move, so the outlier's score is large but the
    # bulk stays near 0 (z-score would compress the bulk instead)
    rows = [("g", float(v), v) for v in range(1, 10)] + [("g", 1000.0, 99)]
    df = spark.createDataFrame(rows, ["g", "v", "k"])
    out = {r["k"]: r["robust_z"] for r in
           robust_scale(df, ["g"], "v", "k").collect()}
    assert abs(out[5]) < 0.5            # bulk value stays near center
    assert out[99] > 100                # outlier scores far out
    # constant group -> IQR 0 -> all zeros
    df2 = spark.createDataFrame([("c", 4.0, 1), ("c", 4.0, 2)],
                                ["g", "v", "k"])
    out2 = [r["robust_z"] for r in robust_scale(df2, ["g"], "v", "k").collect()]
    assert out2 == [0.0, 0.0]


# --------------------------------------------------------------------------
# augment.py::fim_transform
# --------------------------------------------------------------------------

def test_fim_parts_reassemble_and_are_deterministic(spark):
    from pivot_spark.operators.augment import fim_transform

    rows = [(i, f"doc {i} " + "abcdefghij" * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["id"]: r for r in fim_transform(df, "doc_id", "text").collect()}
    b = {r["id"]: r for r in fim_transform(df, "doc_id", "text").collect()}
    assert a.keys() == b.keys() and len(a) == 20
    texts = dict(rows)
    for i, r in a.items():
        # lossless split: prefix+middle+suffix reassembles the document
        assert r["prefix"] + r["middle"] + r["suffix"] == texts[i]
        assert 0 <= r["split_lo"] <= r["split_hi"] <= len(texts[i])
        # canonical reorderings carry the same three parts
        assert r["fim_psm"] == (
            "<PRE>" + r["prefix"] + "<SUF>" + r["suffix"] + "<MID>" + r["middle"]
        )
        assert r["fim_spm"] == (
            "<SUF>" + r["suffix"] + "<PRE>" + r["prefix"] + "<MID>" + r["middle"]
        )
        # deterministic across invocations
        assert tuple(r) == tuple(b[i])
    # the splits actually vary across documents (not degenerate)
    assert len({(r["split_lo"], r["split_hi"]) for r in a.values()}) > 5


def test_fim_edge_cases(spark):
    from pivot_spark.operators.augment import fim_transform

    rows = [(1, ""), (2, "x"), (3, None), (None, "y")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["id"]: r for r in fim_transform(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}  # NULL id/text excluded
    r = out[1]
    assert (r["prefix"], r["middle"], r["suffix"]) == ("", "", "")
    assert r["fim_psm"] == "<PRE><SUF><MID>"
    r2 = out[2]
    assert r2["prefix"] + r2["middle"] + r2["suffix"] == "x"


def test_fim_long_text_no_int64_overflow(spark):
    # Regression: a 48-bit draw overflows v*(L+1) past 2^63 once
    # L+1 > 2^15, silently wrapping (non-ANSI Spark) into negative
    # split points. The 32-bit draw must stay exact up to 2^31 chars.
    from pivot_spark.operators.augment import fim_transform

    long_text = "z" * 40000  # > 32768, the old wrap threshold
    df = spark.createDataFrame([(1, long_text)], ["doc_id", "text"])
    r = fim_transform(df, "doc_id", "text").collect()[0]
    assert 0 <= r["split_lo"] <= r["split_hi"] <= 40000
    assert r["prefix"] + r["middle"] + r["suffix"] == long_text


def test_fim_is_scan_stage(spark):
    from pivot_spark.operators.augment import fim_transform

    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    plan = (
        fim_transform(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
