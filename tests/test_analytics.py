"""Tests for grouped and multivariate OLS, cohort retention, transition
matrix, conformal threshold, ranking metrics and the KS test."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.analytics import (
    US_PER_WEEK,
    cohort_retention,
    grouped_ols,
    linear_regression,
    transition_matrix,
)


def test_grouped_ols_exact_line(spark):
    # g=a: y = 2x + 1 exactly; g=b: constant x -> NULL fit
    rows = [("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0),
            ("b", 4.0, 1.0), ("b", 4.0, 2.0)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {r["g"]: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    a = out["a"]
    assert a["n"] == 3 and a["slope"] == 2.0 and a["intercept"] == 1.0 and a["r2"] == 1.0
    b = out["b"]
    assert b["slope"] is None and b["intercept"] is None and b["r2"] is None


def test_grouped_ols_zero_y_variance(spark):
    rows = [("a", 0.0, 5.0), ("a", 1.0, 5.0)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    r = grouped_ols(df, ["g"], "x", "y").collect()[0]
    assert r["slope"] == 0.0 and r["intercept"] == 5.0 and r["r2"] is None


def test_cohort_retention(spark):
    w = US_PER_WEEK
    rows = [
        (1, 0), (1, w), (1, 2 * w),       # cohort 0, active weeks 0,1,2
        (2, 0), (2, 2 * w),               # cohort 0, weeks 0,2
        (3, w), (3, w + 1),               # cohort 1, week 1 (dup week)
    ]
    df = spark.createDataFrame(rows, ["uid", "ts_us"])
    out = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(df, "uid", "ts_us").collect()}
    assert out[(0, 0)] == 2 and out[(0, 1)] == 1 and out[(0, 2)] == 2
    assert out[(1, 0)] == 1 and (1, 1) not in out


def test_transition_matrix(spark):
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),   # a->b, b->a
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),   # a->b, b->c
    ]
    df = spark.createDataFrame(rows, ["uid", "seq", "state"])
    out = {(r["from_state"], r["to_state"]): r
           for r in transition_matrix(df, "uid", "state", ["seq"]).collect()}
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["prob"] == 1.0
    assert out[("b", "a")]["prob"] == 0.5 and out[("b", "c")]["prob"] == 0.5
    assert ("c", None) not in out and len(out) == 3


def test_ols_recovers_coefficients(spark):
    # y = 3 + 2*x1 - 5*x2 exactly -> R2 = 1, coefficients exact
    rows = []
    for i in range(50):
        x1, x2 = float(i % 7), float((i * 3) % 5)
        rows.append((x1, x2, 3.0 + 2.0 * x1 - 5.0 * x2))
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    r = linear_regression(df, ["x1", "x2"], "y").first()
    assert r.coef[0] == pytest.approx(2.0, abs=1e-9)
    assert r.coef[1] == pytest.approx(-5.0, abs=1e-9)
    assert r.intercept == pytest.approx(3.0, abs=1e-9)
    assert r.r2 == pytest.approx(1.0, abs=1e-12)
    assert r.n == 50
    # k=3 with noise column still solves (numpy path)
    df3 = df.withColumn("x3", F.col("x1") * 0.5 + 1.0)  # collinear -> singular
    with pytest.raises(Exception):
        linear_regression(df3, ["x1", "x2", "x3"], "y").first()
    with pytest.raises(ValueError):
        linear_regression(df, [], "y")


def test_conformal_threshold_and_coverage(spark):
    from pivot_spark.operators.analytics import conformal_threshold

    # residuals 1..100: alpha=0.1 -> k = ceil(101*0.9) = 91 -> q_hat = 91
    calib = spark.createDataFrame([(float(i),) for i in range(1, 101)], "resid double")
    test = spark.createDataFrame([(float(i),) for i in range(1, 101)], "resid double")
    r = conformal_threshold(calib, "resid", alpha=0.1, test=test).first()
    assert (r.n_calib, r.k) == (100, 91)
    assert r.q_hat == 91.0
    assert r.coverage == pytest.approx(0.91)
    import pytest as _pt

    with _pt.raises(ValueError):
        conformal_threshold(calib, "resid", alpha=0.0)


def test_lift_curve_perfect_classifier(spark):
    from pivot_spark.operators.analytics import lift_curve_ranked

    # top 20% scores are exactly the positives -> bins 1-2 capture all
    rows = [(i, float(100 - i), 1.0 if i < 20 else 0.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, score double, label double")
    out = {r.bin: r for r in lift_curve_ranked(df, "score", "label", "id").collect()}
    assert len(out) == 10
    assert all(out[b].n == 10 for b in out)
    assert out[1].n_pos == 10 and out[2].n_pos == 10
    assert out[1].lift == pytest.approx(1 / 0.2)
    assert out[2].cum_pos_share == pytest.approx(1.0)
    assert out[10].n_pos == 0
    assert out[10].cum_pop_share == pytest.approx(1.0)


def test_auc_and_ap_hand_computed(spark):
    from pivot_spark.operators.analytics import average_precision, binary_auc

    # perfect separation -> AUC 1, AP 1
    rows = [(i, float(i), 1.0 if i >= 5 else 0.0) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, score double, label double")
    r = binary_auc(df, "score", "label").first()
    assert (r.n_pos, r.n_neg) == (5, 5)
    assert r.auc == pytest.approx(1.0)
    assert average_precision(df, "score", "label", "id").first().ap == pytest.approx(1.0)

    # random-ish interleave: compute AUC by brute force pair counting
    rows2 = [(0, 1.0, 0.0), (1, 2.0, 1.0), (2, 2.0, 0.0), (3, 3.0, 1.0), (4, 0.5, 0.0)]
    df2 = spark.createDataFrame(rows2, "id long, score double, label double")
    pos = [r[1] for r in rows2 if r[2] == 1.0]
    neg = [r[1] for r in rows2 if r[2] == 0.0]
    brute = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    ) / (len(pos) * len(neg))
    r2 = binary_auc(df2, "score", "label").first()
    assert r2.auc == pytest.approx(brute)

    # AP by hand on (score desc, id): order 3(+), 1(+), 2(-), 0(-), 4(-)
    ap = (1 / 1 + 2 / 2) / 2
    assert average_precision(df2, "score", "label", "id").first().ap == pytest.approx(ap)


def test_brier_decomposition_identity(spark):
    from pivot_spark.operators.analytics import brier_decomposition

    rows = [(0.1, 0.0), (0.1, 0.0), (0.1, 1.0), (0.8, 1.0), (0.8, 1.0), (0.8, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    r = brier_decomposition(df, "score", "label").first()
    bs = sum((s - y) ** 2 for s, y in rows) / len(rows)
    assert r.brier == pytest.approx(bs)
    # Murphy identity holds exactly for bin-constant scores
    assert r.brier == pytest.approx(
        r.reliability - r.resolution + r.uncertainty, abs=1e-12
    )
    assert r.base_rate == pytest.approx(0.5)
    assert r.uncertainty == pytest.approx(0.25)


def test_ks_test(spark):
    from pivot_spark.operators.analytics import ks_test

    a = spark.createDataFrame([(float(i % 100),) for i in range(1000)], ["v"])
    same = spark.createDataFrame([(float(i % 100),) for i in range(500)], ["v"])
    r = ks_test(a, same, "v").collect()[0]
    assert r["n_a"] == 1000 and r["n_b"] == 500
    assert r["ks_d"] == pytest.approx(0.0)
    assert r["p_value"] == pytest.approx(1.0)
    # shifted distribution: D = 0.5, tiny p
    shifted = spark.createDataFrame([(float(i % 100 + 50),) for i in range(1000)], ["v"])
    r2 = ks_test(a, shifted, "v").collect()[0]
    assert r2["ks_d"] == pytest.approx(0.5)
    assert r2["p_value"] < 0.001


def test_ks_matches_scipy_formula(spark):
    from pivot_spark.operators.analytics import ks_test

    a_vals = [1.0, 2.0, 2.0, 3.0, 7.0]
    b_vals = [2.0, 3.0, 4.0, 9.0]
    a = spark.createDataFrame([(v,) for v in a_vals], ["v"])
    b = spark.createDataFrame([(v,) for v in b_vals], ["v"])
    r = ks_test(a, b, "v", num_ranges=2).collect()[0]

    # python ECDF replay
    import bisect

    sa, sb = sorted(a_vals), sorted(b_vals)
    pts = sorted(set(sa + sb))
    d = max(
        abs(
            bisect.bisect_right(sa, p) / len(sa)
            - bisect.bisect_right(sb, p) / len(sb)
        )
        for p in pts
    )
    assert r["ks_d"] == pytest.approx(round(d, 4))
