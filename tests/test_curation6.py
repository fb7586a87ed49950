"""Tests for kmeans, semdedup, c4 line filters, unigram LM, upsert,
int8 quantization."""

import math

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.embedding import quantize_int8
from pivot_spark.operators.kmeans import (
    _assign_clusters_fold,
    _assign_clusters_gemm,
    assign_clusters,
    kmeans,
    kmeans_fit,
)
from pivot_spark.operators.lm import unigram_lm_score
from pivot_spark.operators.merge import upsert
from pivot_spark.operators.quality import C4Thresholds, c4_line_signals
from pivot_spark.operators.semdedup import semdedup


# --- kmeans ---------------------------------------------------------------


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["vid", "vec"])


def test_assign_clusters_argmin_and_ties(spark):
    df = _vec_df(spark, [(1, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [5.0, 0.0])])
    out = assign_clusters(df, "vec", [[0.0, 0.0], [10.0, 0.0]]).collect()
    by = {r["vid"]: r for r in out}
    assert by[1]["cluster"] == 0 and by[1]["dist_sq"] == 0.0
    assert by[2]["cluster"] == 1
    # equidistant -> smallest cid wins
    assert by[3]["cluster"] == 0 and by[3]["dist_sq"] == 25.0


def test_kmeans_converges_two_blobs(spark):
    blob_a = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
    blob_b = [(100 + i, [50.0 + i * 0.01, 0.0]) for i in range(10)]
    df = _vec_df(spark, blob_a + blob_b)
    # init = two smallest ids -> both from blob A; Lloyd must separate
    centers = kmeans_fit(df, "vec", k=2, n_iter=4, id_col="vid")
    xs = sorted(c[0] for c in centers)
    assert abs(xs[0] - 0.045) < 0.5 and abs(xs[1] - 50.045) < 0.5
    assigned = kmeans(df, "vec", 2, 4, "vid")
    groups = assigned.groupBy("cluster").count().collect()
    assert sorted(r["count"] for r in groups) == [10, 10]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # k=2 but all points identical: cluster 1 gets no members after
    # iteration 1 and must keep its init centroid
    df = _vec_df(spark, [(1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0, 1.0])])
    centers = kmeans_fit(df, "vec", k=2, n_iter=2, id_col="vid")
    assert centers[0] == [1.0, 1.0] and centers[1] == [1.0, 1.0]


def test_kmeans_validates(spark):
    df = _vec_df(spark, [(1, [1.0])])
    with pytest.raises(ValueError):
        kmeans_fit(df, "vec", k=0, n_iter=1, id_col="vid")
    with pytest.raises(ValueError):
        kmeans_fit(df, "vec", k=5, n_iter=1, id_col="vid")


# --- semdedup -------------------------------------------------------------


def test_semdedup_drops_later_similar_same_cluster(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),   # ~same direction as 1 -> dropped
        (3, [0.0, 1.0]),      # orthogonal, same cluster region? far
        (4, [10.0, 0.1]),     # same direction as 1 but other cluster
    ]
    df = _vec_df(spark, rows)
    centers = [[1.0, 0.0], [10.0, 0.0], [0.0, 1.0]]
    out = {r["vid"]: r for r in semdedup(df, "vid", "vec", centers, eps=0.95).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False
    assert out[3]["keep"] is True
    # 4 lands in cluster 1 alone -> kept even though cosine-similar to 1
    assert out[4]["cluster"] == 1 and out[4]["keep"] is True


def test_semdedup_matches_numpy_bruteforce(spark):
    """semdedup against a numpy brute force of its keep-min-id rule:
    each row joins its nearest center, and is dropped iff a smaller-id
    row of the same cluster has cosine >= eps."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(120)
    ] + [(200 + i, [float(x) for x in np.array([1.0] * 8) + rng.randn(8) * 0.01])
         for i in range(10)]
    df = _vec_df(spark, rows)
    centers = [r[1] for r in rows[:4]]
    X = {i: np.array(v) for i, v in rows}
    C = np.array(centers)
    cluster = {i: int(np.argmin(((C - x) ** 2).sum(axis=1))) for i, x in X.items()}
    unit = {i: x / np.linalg.norm(x) for i, x in X.items()}
    want = {
        (
            i,
            cluster[i],
            not any(
                j < i and cluster[j] == cluster[i] and unit[i] @ unit[j] >= 0.95
                for j in X
            ),
        )
        for i in X
    }
    got = {tuple(r) for r in semdedup(df, "vid", "vec", centers, eps=0.95).collect()}
    assert got == want
    assert sum(not keep for _, _, keep in want) >= 9  # the planted group


def test_semdedup_counts(spark):
    # chain a~b, b~c in one cluster: b dropped by a, c dropped by a or b
    rows = [(i, [1.0, 0.001 * i]) for i in range(5)]
    df = _vec_df(spark, rows)
    out = semdedup(df, "vid", "vec", [[1.0, 0.0]], eps=0.9).collect()
    kept = [r["vid"] for r in out if r["keep"]]
    assert kept == [0]


# --- c4 line signals ------------------------------------------------------


def test_c4_line_signals(spark):
    good = "\n".join(f"this is sentence number {i}." for i in range(6))
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "no punctuation here\nshort line\n"),
            (3, good + "\nlorem ipsum dolor."),
            (4, good + "\nvar x = {"),
            (5, good + "\nenable javascript to view this."),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in c4_line_signals(df).collect()}
    assert out[1]["keep"] is True and out[1]["n_kept_lines"] == 6
    assert out[1]["frac_terminal_lines"] == 1.0
    assert out[2]["keep"] is False and out[2]["n_kept_lines"] == 0
    assert out[3]["keep"] is False and out[3]["has_lorem_ipsum"] is True
    assert out[4]["keep"] is False and out[4]["has_brace"] is True
    # javascript line is excluded from kept but doc still keepable
    assert out[5]["n_kept_lines"] == 6 and out[5]["keep"] is True
    assert out[5]["clean_text"] == good


def test_c4_dup_line_frac(spark):
    df = spark.createDataFrame(
        [(1, "same line here.\nsame line here.\nother line text.")],
        ["doc_id", "text"],
    )
    r = c4_line_signals(df).collect()[0]
    assert r["dup_line_frac"] == round(1 - 2 / 3, 4)
    assert r["n_lines"] == 3


# --- unigram LM -----------------------------------------------------------


def test_unigram_lm_score_exact(spark):
    # corpus: "a a a b" -> N=4, p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame([(1, "a a a"), (2, "b"), (3, "c")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_lm_score(df, vocab_size=10).collect()}
    n = 5.0
    assert out[1]["avg_neg_logp"] == round(-math.log(3 / n), 4)
    assert out[2]["avg_neg_logp"] == round(-math.log(1 / n), 4)
    assert out[1]["n_tokens"] == 3


def test_unigram_lm_oov_floor(spark):
    # vocab_size=1 keeps only 'a' (count 3); 'b' is OOV -> p = 1/N
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_lm_score(df, vocab_size=1).collect()}
    assert out[2]["avg_neg_logp"] == round(-math.log(1 / 4), 4)


# --- upsert ---------------------------------------------------------------


def _kv(spark, rows, cols=("k", "v", "ver")):
    return spark.createDataFrame(rows, list(cols))


def test_upsert_basic(spark):
    base = _kv(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    delta = _kv(spark, [(2, "B", 2), (4, "d", 2)])
    out = {r["k"]: r["v"] for r in upsert(base, delta, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_upsert_delta_conflicts_resolved_by_order(spark):
    base = _kv(spark, [(1, "a", 1)])
    delta = _kv(spark, [(1, "x", 5), (1, "y", 9), (1, "z", 7)])
    out = upsert(base, delta, ["k"], order_col="ver").collect()
    assert len(out) == 1 and out[0]["v"] == "y" and out[0]["ver"] == 9


def test_upsert_deletes(spark):
    base = _kv(spark, [(1, "a", 1), (2, "b", 1)])
    delta = spark.createDataFrame(
        [(1, "ignored", 2, True), (3, "c", 2, False)],
        ["k", "v", "ver", "is_deleted"],
    )
    out = {r["k"]: r["v"] for r in upsert(base, delta, ["k"], deleted_col="is_deleted").collect()}
    assert out == {2: "b", 3: "c"}


# --- int8 quantization ----------------------------------------------------


def test_quantize_int8_roundtrip(spark):
    df = _vec_df(spark, [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])])
    out = {r["vid"]: r for r in quantize_int8(df, "vec").collect()}
    r1 = out[1]
    assert r1["qvec"] == [127, -63, 32]  # -0.5/ (1/127) = -63.5 -> floor(-63.0)=-63
    assert r1["scale"] == round(1.0 / 127, 8)
    assert r1["max_abs_err"] <= r1["scale"] / 2 + 1e-12
    r2 = out[2]
    assert r2["qvec"] == [0, 0, 0] and r2["scale"] == 0.0 and r2["max_abs_err"] == 0.0


def test_quantize_int8_clamps(spark):
    df = _vec_df(spark, [(1, [127.0, -127.0, 1.0])])
    r = quantize_int8(df, "vec").collect()[0]
    assert r["qvec"][0] == 127 and r["qvec"][1] == -127


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assign_both(df, centers):
    """Run the fold and the GEMM assignment directly: {path: {vid: row}}."""
    return {
        name: {
            r["vid"]: r
            for r in fn(df, "vec", centers, "cluster", "dist_sq").collect()
        }
        for name, fn in (
            ("fold", _assign_clusters_fold),
            ("gemm", _assign_clusters_gemm),
        )
    }


def test_assign_clusters_arrow_matches_expr(spark):
    """The GEMM (mapInPandas) assignment and the Catalyst fold must
    agree on cluster ids and on dist_sq to float tolerance — including
    a null vector (cluster 0 + null dist on both paths) — and
    assign_clusters must pick the GEMM path above the k threshold."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ] + [(999, None)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    centers = [[rnd.uniform(-1, 1) for _ in range(8)] for _ in range(20)]

    both = _assign_both(df, centers)
    fold, gemm = both["fold"], both["gemm"]
    assert set(gemm) == set(fold)
    for vid, r in gemm.items():
        e = fold[vid]
        assert r["cluster"] == e["cluster"], vid
        if e["dist_sq"] is None:
            assert r["dist_sq"] is None
        else:
            assert math.isclose(
                r["dist_sq"], e["dist_sq"], rel_tol=1e-9, abs_tol=1e-9
            )
    # k=20 > threshold: the public entry point takes the GEMM path
    assert "MapInPandas" in plan_of(assign_clusters(df, "vec", centers))
    assert "MapInPandas" not in plan_of(assign_clusters(df, "vec", centers[:16]))


def test_assign_clusters_gemm_near_tie_refinement(spark):
    """SemDeDup's hard case: the row vector IS a center, and another
    center sits closer than the expanded form's cancellation band
    (eps * |x|^2 ~ 1e-3 at |x| ~ 1e6, vastly above the true 1e-14 gap).
    Without exact refinement the expanded-form argmin is a coin flip;
    with it the GEMM path must return the true winner and dist 0.0,
    agreeing with the fold path."""
    big = [1e6] * 8
    near = list(big)
    near[0] += 1e-7  # true dist 1e-14 — inside the cancellation band
    centers = [[float(i)] * 8 for i in range(17)]  # pad k above threshold
    centers[5] = big
    centers[6] = near
    df = spark.createDataFrame([(1, big), (2, near)], "vid long, vec array<double>")
    for path, out in _assign_both(df, centers).items():
        assert out[1]["cluster"] == 5, path
        assert out[1]["dist_sq"] == 0.0, path
        assert out[2]["cluster"] == 6, path
        assert out[2]["dist_sq"] == 0.0, path


def test_assign_clusters_gemm_ragged_vector_matches_expr(spark):
    """A vector whose length differs from the center dim follows the
    fold path's null-fold semantics on BOTH paths (cluster 0, null
    dist) instead of crashing the Python worker with a ragged
    np.stack."""
    rows = [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [1.0]), (4, None)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    centers = [[0.0, 0.0], [5.0, 5.0]]
    for path, out in _assign_both(df, centers).items():
        assert out[1]["cluster"] == 0 and out[1]["dist_sq"] == 5.0, path
        for vid in (2, 3, 4):
            assert out[vid]["cluster"] == 0, (path, vid)
            assert out[vid]["dist_sq"] is None, (path, vid)
