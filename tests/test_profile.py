"""Column profiling, histogram and correlation-matrix unit tests
(operators/profile.py)."""

import pytest

from pivot_spark.operators.profile import corr_matrix, histogram, profile


@pytest.fixture()
def df(spark):
    rows = [
        (1, "a", 1.5, None),
        (2, "b", 2.5, "x"),
        (2, None, None, "y"),
        (3, "a", 4.0, "y"),
    ]
    return spark.createDataFrame(rows, "id long, s string, v double, t string")


def _by_col(out):
    return {r.column: r for r in out.collect()}


def test_counts_and_nulls(df):
    p = _by_col(profile(df, exact_distinct=True))
    assert all(p[c].n_rows == 4 for c in p)
    assert p["id"].n_nulls == 0 and p["s"].n_nulls == 1 and p["v"].n_nulls == 1


def test_distinct_ignores_nulls(df):
    p = _by_col(profile(df, exact_distinct=True))
    assert p["id"].n_distinct == 3 and p["s"].n_distinct == 2


def test_numeric_stats(df):
    p = _by_col(profile(df, exact_distinct=True))
    assert (p["v"].num_min, p["v"].num_max) == (1.5, 4.0)
    assert p["v"].num_mean == pytest.approx(round((1.5 + 2.5 + 4.0) / 3, 4))
    assert p["v"].str_min is None


def test_string_stats(df):
    p = _by_col(profile(df, exact_distinct=True))
    assert (p["s"].str_min, p["s"].str_max) == ("a", "b")
    assert p["s"].num_mean is None


def test_column_subset_and_order(df):
    out = profile(df, ["v", "id"], exact_distinct=True)
    assert [r.column for r in out.collect()] == ["v", "id"]


def test_approx_distinct_close(spark):
    big = spark.range(5000).withColumnRenamed("id", "x")
    p = _by_col(profile(big))
    assert abs(p["x"].n_distinct - 5000) / 5000 < 0.05


def test_unknown_column_raises(df):
    with pytest.raises(ValueError):
        profile(df, ["nope"])


def test_dtype_reported(df):
    p = _by_col(profile(df))
    assert p["id"].dtype == "bigint" and p["s"].dtype == "string"


@pytest.fixture()
def num_df(spark):
    rows = [(float(i), float(2 * i), float(-i), None if i == 3 else float(i)) for i in range(10)]
    return spark.createDataFrame(rows, "x double, y double, z double, w double")


def test_histogram_bins_and_edges(num_df):
    out = {r.bin: r for r in histogram(num_df, "x", lo=0.0, width=2.0, n_bins=5).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(out[b].n == 2 for b in out)
    assert (out[1].bin_lo, out[1].bin_hi) == (2.0, 4.0)


def test_histogram_clamps_outliers(spark):
    df = spark.createDataFrame([(-100.0,), (0.5,), (100.0,)], "x double")
    out = {r.bin: r.n for r in histogram(df, "x", lo=0.0, width=1.0, n_bins=3).collect()}
    assert out == {0: 2, 2: 1}  # underflow -> bin 0, overflow -> last


def test_histogram_drops_nulls(num_df):
    out = histogram(num_df, "w", lo=0.0, width=5.0, n_bins=2)
    assert sum(r.n for r in out.collect()) == 9


def test_histogram_validation(num_df):
    with pytest.raises(ValueError):
        histogram(num_df, "x", 0.0, 0.0, 5)


def test_corr_matrix_values(num_df):
    out = {(r.col_a, r.col_b): r.pearson for r in corr_matrix(num_df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == 1.0  # y = 2x
    assert out[("x", "z")] == -1.0  # z = -x
    assert out[("y", "z")] == -1.0
    assert len(out) == 3  # upper triangle only


def test_corr_matrix_validation(num_df):
    with pytest.raises(ValueError):
        corr_matrix(num_df, ["x"])
    with pytest.raises(ValueError):
        corr_matrix(num_df, ["x", "nope"])


def test_corr_matrix_single_row_plan(num_df):
    plan = corr_matrix(num_df, ["x", "y", "z"])._jdf.queryExecution().executedPlan().toString()
    # one scalar aggregate: single-partition exchange, no hashpartitioning
    assert "Exchange SinglePartition" in plan
    assert "Exchange hashpartitioning" not in plan
