"""Tests for decayed_aggregates (e88), ngram_containment_pairs (e89),
skew_report (e90)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.neardup import ngram_containment_pairs
from pivot_spark.operators.rolling import decayed_aggregates
from pivot_spark.operators.skew import skew_report

REF = "2024-01-08 00:00:00"


def test_decayed_weights(spark):
    # one event exactly one half-life (7 d) before ref -> weight 0.5;
    # one event at ref -> weight 1.0
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (1, dt.datetime(2024, 1, 8, 0, 0, 0), 4.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = decayed_aggregates(df, ["k"], "ts", "v", ref_ts=REF, half_life_days=7.0)
    r = out.collect()[0]
    assert r["n"] == 2
    assert r["decayed_n"] == pytest.approx(1.5)
    assert r["decayed_sum"] == pytest.approx(0.5 * 10.0 + 1.0 * 4.0)
    assert r["last_ts"] == dt.datetime(2024, 1, 8)


def test_decayed_validation(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)], "k int, ts timestamp, v double"
    )
    with pytest.raises(ValueError):
        decayed_aggregates(df, ["k"], "ts", "v", ref_ts=REF, half_life_days=0)


def test_containment_detects_subset(spark):
    # doc 2 is a strict prefix of doc 1 -> C(2,1) = 1.0; C(1,2) < 1
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "alpha beta gamma delta epsilon"
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, long), (2, short), (3, other)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in ngram_containment_pairs(df, threshold=0.8, shingle_len=3).collect()
    }
    assert (2, 1) in pairs
    c, j = pairs[(2, 1)]
    assert c == pytest.approx(1.0)
    assert j < 0.8  # Jaccard alone would have missed this pair
    assert (1, 2) not in pairs  # asymmetric: the long doc is not in the short
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_containment_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        ngram_containment_pairs(df, threshold=0.0)


def test_containment_clone_collapse_is_exact(spark):
    """collapse_exact_dups (default) must return the exact pair
    multiset of the uncollapsed pipeline on a corpus dominated by
    exact clones — within-group pairs (identical sets, scores 1.0),
    cross-group clone fan-out, an empty doc (no pairs despite its
    clones), and a null doc."""
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "alpha beta gamma delta epsilon"
    rows = (
        [(i, long) for i in range(1, 6)]        # 5 clones of the long doc
        + [(10 + i, short) for i in range(4)]   # 4 clones of the short doc
        + [(50, "one two three four five six")]
        # empty texts shingle to the single "" gram (identical sets ->
        # they pair with each other); a null text never pairs
        + [(60, ""), (61, ""), (62, None)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def run(collapse):
        return sorted(
            (r["id_a"], r["id_b"], round(r["containment"], 6), round(r["jaccard"], 6))
            for r in ngram_containment_pairs(
                df, threshold=0.8, shingle_len=3,
                collapse_exact_dups=collapse,
            ).collect()
        )

    want, got = run(False), run(True)
    assert want == got
    assert run("auto") == want  # clone-heavy corpus: probe engages collapse
    # sanity on the fixture: 4 short clones each contained in 5 long
    # clones (20 cross pairs) + within-group pairs 5*4 + 4*3 + 2*1 = 34
    assert len(want) == 20 + 34
    assert (60, 61, 1.0, 1.0) in want  # ""-shingle twins pair
    assert all(a != 62 and b != 62 for a, b, *_ in want)  # null never


def _gini(sizes):
    xs = sorted(sizes)
    n = len(xs)
    s = sum(xs)
    return sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs)) / (n * s)


def test_skew_report_uniform_vs_skewed(spark):
    uniform = spark.createDataFrame([(i % 10,) for i in range(100)], ["k"])
    r = skew_report(uniform, ["k"], num_ranges=4).collect()[0]
    assert r["n_keys"] == 10 and r["n_rows"] == 100
    assert r["gini"] == pytest.approx(0.0)
    assert r["max_share"] == pytest.approx(0.1)

    skewed_sizes = [60, 20, 10, 5, 5]
    rows = [(k,) for k, sz in enumerate(skewed_sizes) for _ in range(sz)]
    skewed = spark.createDataFrame(rows, ["k"]).repartition(5)
    r = skew_report(skewed, ["k"], num_ranges=4).collect()[0]
    assert r["max_count"] == 60
    assert r["gini"] == pytest.approx(round(_gini(skewed_sizes), 4), abs=1e-4)


def test_wilson_rank(spark):
    from pivot_spark.operators.analytics import wilson_rank

    rows = [("a", True)] * 2 + [("b", True)] * 80 + [("b", False)] * 20
    df = spark.createDataFrame(rows, ["k", "ok"])
    out = {r["k"]: r for r in wilson_rank(df, ["k"], "ok").collect()}
    # 2/2 has the higher raw rate but the LOWER Wilson bound than 80/100
    assert out["a"]["rate"] == 1.0 and out["b"]["rate"] == 0.8
    assert out["a"]["wilson_lb"] < out["b"]["wilson_lb"]
    # textbook value: 80/100 at z=1.96 -> lb ~ 0.7112
    assert out["b"]["wilson_lb"] == pytest.approx(0.7112, abs=2e-3)
    with pytest.raises(ValueError):
        wilson_rank(df, ["k"], "ok", z=0)
    with pytest.raises(ValueError):
        wilson_rank(df, ["k"], "ok", min_trials=0)


def test_line_dedup(spark):
    from pivot_spark.operators.quality import line_dedup

    docs = [
        (1, "unique one\ncommon footer\nunique two"),
        (2, "other text\ncommon footer"),
        (3, "standalone doc"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert out[1]["clean_text"] == "unique one\nunique two"
    assert out[1]["n_removed"] == 1 and out[1]["n_lines"] == 3
    assert out[2]["clean_text"] == "other text"
    assert out[3]["clean_text"] == "standalone doc" and out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 0
    with pytest.raises(ValueError):
        line_dedup(df, max_doc_freq=0)


def test_mutual_information(spark):
    import math

    from pivot_spark.operators.analytics import mutual_information

    # perfectly dependent: y == x -> mi == h_x == h_y, nmi == 1
    df = spark.createDataFrame([(i % 4, i % 4) for i in range(100)], ["x", "y"])
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["mi"] == pytest.approx(round(math.log(4), 4))
    assert r["nmi"] == pytest.approx(1.0)
    # independent uniform: mi ~ 0
    df2 = spark.createDataFrame(
        [(i % 2, (i // 2) % 2) for i in range(100)], ["x", "y"]
    )
    r2 = mutual_information(df2, "x", "y").collect()[0]
    assert abs(r2["mi"]) < 1e-3
    assert r2["h_x"] == pytest.approx(round(math.log(2), 4))


def test_mode_by_key(spark):
    from pivot_spark.operators.topk import mode_by_key

    rows = [(1, "a")] * 3 + [(1, "b")] * 5 + [(2, "x")] * 2 + [(2, "y")] * 2
    df = spark.createDataFrame(rows, ["k", "v"])
    out = {r["k"]: (r["mode"], r["mode_count"]) for r in mode_by_key(df, ["k"], "v").collect()}
    assert out[1] == ("b", 5)
    assert out[2] == ("x", 2)  # tie 2-2 -> smallest value wins


def test_random_projection_preserves_distances(spark):
    import math
    import random

    from pivot_spark.operators.embedding import random_projection

    rng = random.Random(0)
    dim, k = 32, 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {r["id"]: r["proj"] for r in random_projection(df, "v", k, dim, seed=1).collect()}
    vecs = dict(rows)

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    # JL: projected distances approximate original within a loose factor
    ratios = []
    for i in range(0, 20, 2):
        orig = d(vecs[i], vecs[i + 1])
        proj = d(out[i], out[i + 1])
        ratios.append(proj / orig)
    avg = sum(ratios) / len(ratios)
    assert 0.6 < avg < 1.4
    assert all(len(p) == k for p in out.values())
    with pytest.raises(ValueError):
        random_projection(df, "v", 0, dim)


def test_denormalize_chain_and_dups(spark):
    from pivot_spark.operators.denorm import Dim, denormalize

    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], ["id", "k"])
    dim = spark.createDataFrame([(10, 100), (20, 200)], ["dk", "ck"])
    dim2 = spark.createDataFrame([(100, "x")], ["d2k", "label"])
    wide = denormalize(fact, [Dim(dim, "k", "dk"), Dim(dim2, "ck", "d2k")])
    rows = {r["id"]: (r["ck"], r["label"]) for r in wide.collect()}
    assert rows[1] == (100, "x")
    assert rows[2] == (200, None)
    assert rows[3] == (None, None)  # left join keeps unmatched fact rows
    # duplicate column rejection
    dup = spark.createDataFrame([(10, 1)], ["dk2", "k"])
    with pytest.raises(ValueError):
        denormalize(fact, [Dim(dup, "k", "dk2")])
    with pytest.raises(ValueError):
        denormalize(fact, [Dim(dim, "k", "dk")], how="full")


def test_winsorized_stats(spark):
    from pivot_spark.operators.outliers import winsorized_stats

    # 0..9 plus one huge outlier
    rows = [("g", float(i)) for i in range(10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, ["k", "v"])
    r = winsorized_stats(df, ["k"], "v", lo=0.1, hi=0.9).collect()[0]
    assert r["n"] == 11
    assert r["mean"] > 90  # outlier dominates the raw mean
    assert r["winsorized_mean"] < 10  # clamped
    assert r["trimmed_mean"] < 10
    with pytest.raises(ValueError):
        winsorized_stats(df, ["k"], "v", lo=0.9, hi=0.1)


def test_chi_square(spark):
    from pivot_spark.operators.analytics import chi_square

    # perfectly dependent 2x2 -> chi2 == n, V == 1
    dep = spark.createDataFrame([(i % 2, i % 2) for i in range(40)], ["x", "y"])
    r = chi_square(dep, "x", "y").collect()[0]
    assert r["n"] == 40 and r["dof"] == 1
    assert r["chi2"] == pytest.approx(40.0)
    assert r["cramers_v"] == pytest.approx(1.0)
    # independent -> chi2 ~ 0
    ind = spark.createDataFrame(
        [(i % 2, (i // 2) % 2) for i in range(40)], ["x", "y"]
    )
    r2 = chi_square(ind, "x", "y").collect()[0]
    assert r2["chi2"] == pytest.approx(0.0, abs=1e-6)


def test_chi_square_zero_cells(spark):
    import math

    from pivot_spark.operators.analytics import chi_square

    # a structurally missing cell: x=1 never sees y=2
    rows = [(0, 0)] * 5 + [(0, 2)] * 5 + [(1, 0)] * 5
    df = spark.createDataFrame(rows, ["x", "y"])
    r = chi_square(df, "x", "y").collect()[0]
    # python replay including the zero cell (o=0, e=cx*cy/n)
    obs = {(0, 0): 5, (0, 2): 5, (1, 0): 5}
    cx = {0: 10, 1: 5}
    cy = {0: 10, 2: 5}
    n = 15
    chi = sum(
        (obs.get((x, y), 0) - cx[x] * cy[y] / n) ** 2 / (cx[x] * cy[y] / n)
        for x in cx
        for y in cy
    )
    assert r["chi2"] == pytest.approx(round(chi, 4))


def test_psi_drift(spark):
    from pivot_spark.operators.analytics import psi_drift

    a = spark.createDataFrame([(i % 4,) for i in range(100)], ["b"])
    same = spark.createDataFrame([(i % 4,) for i in range(200)], ["b"])
    r = psi_drift(a, same, "b").collect()[0]
    assert r["psi"] == pytest.approx(0.0)
    shifted = spark.createDataFrame([(0,)] * 90 + [(1,)] * 10, ["b"])
    r2 = psi_drift(a, shifted, "b").collect()[0]
    assert r2["psi"] > 0.25  # strong drift


def test_user_journeys(spark):
    from pivot_spark.operators.analytics import user_journeys

    rows = []
    # 3 users do a->b->c; 1 user does b->a
    for u in (1, 2, 3):
        rows += [(u, "a", 1, 1), (u, "b", 2, 2), (u, "c", 3, 3)]
    rows += [(4, "b", 1, 4), (4, "a", 2, 5)]
    df = spark.createDataFrame(rows, ["u", "s", "t", "eid"])
    out = {r["journey"]: (r["n_keys"], r["rank"]) for r in
           user_journeys(df, "u", "s", ["t", "eid"], max_len=5).collect()}
    assert out["a>b>c"] == (3, 1)
    assert out["b>a"] == (1, 2)
    # max_len truncation
    out2 = user_journeys(df, "u", "s", ["t", "eid"], max_len=2).collect()
    assert {r["journey"] for r in out2} == {"a>b", "b>a"}
    with pytest.raises(ValueError):
        user_journeys(df, "u", "s", ["t"], max_len=0)


def test_association_rules(spark):
    from pivot_spark.operators.analytics import association_rules

    # baskets: {a,b} x3, {a} x1, {b,c} x1
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
            (4, "a"), (5, "b"), (5, "c")]
    df = spark.createDataFrame(rows, ["u", "i"])
    out = {(r["item_a"], r["item_b"]): r for r in association_rules(df, "u", "i").collect()}
    ab = out[("a", "b")]
    assert ab["n_ab"] == 3 and ab["n_a"] == 4 and ab["n_b"] == 4
    assert ab["support"] == pytest.approx(0.6)
    assert ab["conf_a_to_b"] == pytest.approx(0.75)
    assert ab["lift"] == pytest.approx(round(3 * 5 / 16, 4))
    bc = out[("b", "c")]
    assert bc["n_ab"] == 1 and bc["conf_b_to_a"] == 1.0


def test_triangle_stats(spark):
    from pivot_spark.operators.components import triangle_stats

    # K4 has 4 triangles; plus a pendant edge
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 9), (9, 3)], ["src", "dst"])
    r = triangle_stats(edges).collect()[0]
    assert r["n_nodes"] == 5 and r["n_edges"] == 7
    assert r["n_triangles"] == 4
    # clustering = 3*4 / sum(d*(d-1)/2); degrees 3,3,3,4,1 -> triads 3+3+3+6+0=15
    assert r["clustering"] == pytest.approx(round(12 / 15, 4))


def test_triangle_stats_no_triangles(spark):
    from pivot_spark.operators.components import triangle_stats

    path = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    r = triangle_stats(path).collect()[0]
    assert r["n_triangles"] == 0
    assert r["clustering"] == pytest.approx(0.0)


def test_benford_audit(spark):
    import math

    from pivot_spark.operators.profile import benford_audit

    # exact Benford sample: digit d appears round(1000*log10(1+1/d)) times
    rows = []
    for d in range(1, 10):
        rows += [(float(d * 10 + 3),)] * round(1000 * math.log10(1 + 1 / d))
    df = spark.createDataFrame(rows, ["x"])
    out = {r["digit"]: r for r in benford_audit(df, ["x"]).collect()}
    assert set(out) == set(range(1, 10))
    for d in range(1, 10):
        assert out[d]["observed"] == pytest.approx(out[d]["expected"], abs=2e-3)
    assert out[1]["chi2"] < 0.01  # near-perfect fit
    with pytest.raises(ValueError):
        benford_audit(df, ["nope"])


def test_column_entropy(spark):
    import math

    from pivot_spark.operators.profile import column_entropy

    df = spark.createDataFrame(
        [(i % 4, 7, i) for i in range(64)], ["uniform4", "const", "uid"]
    )
    out = {r["column"]: r for r in column_entropy(df, ["uniform4", "const", "uid"]).collect()}
    assert out["uniform4"]["entropy"] == pytest.approx(round(math.log(4), 4))
    assert out["uniform4"]["norm_entropy"] == pytest.approx(1.0)
    assert out["const"]["entropy"] == 0.0 and out["const"]["norm_entropy"] is None
    assert out["uid"]["n_distinct"] == 64
    assert out["uid"]["norm_entropy"] == pytest.approx(1.0)
