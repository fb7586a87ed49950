"""Column profiling, histogram, correlation-matrix, ranking and
range-scan unit tests (operators/profile.py)."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.profile import corr_matrix, histogram, pareto_frontier_2d, profile


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


def test_pareto_frontier_small(spark):
    pts = [
        (1, 1.0, 9.0),   # frontier (max y)
        (2, 5.0, 5.0),   # frontier
        (3, 9.0, 1.0),   # frontier (max x)
        (4, 4.0, 4.0),   # dominated by 2
        (5, 5.0, 5.0),   # duplicate of 2 -> only smaller id survives
        (6, 9.0, 1.0),   # duplicate of 3
        (7, 0.5, 9.0),   # dominated by 1 (same y, smaller x)
    ]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    out = sorted(r.id for r in pareto_frontier_2d(df, "x", "y", "id").collect())
    assert out == [1, 2, 3]


def test_row_rank_is_permutation(spark):
    from pivot_spark.operators.profile import row_rank
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, float(i % 17)) for i in range(2000)], "id long, v double")
    ranked = row_rank(df, [F.col("v").desc(), F.col("id")], out_col="r")
    rs = sorted(r.r for r in ranked.collect())
    assert rs == list(range(1, 2001))


def test_vocab_richness_hand_computed(spark):
    from pivot_spark.operators.profile import vocab_richness

    # corpus: a a a b b c d -> N=7, D=4, f1=2 (c,d), f2=1 (b)
    df = spark.createDataFrame([("a a a b b",), ("c d",)], "text string")
    r = vocab_richness(df, "text").first()
    assert (r.n_tokens, r.n_types, r.f1, r.f2) == (7, 4, 2, 1)
    assert r.chao1 == pytest.approx(4 + 4 / 2)
    assert r.p_unseen == pytest.approx(2 / 7)
    assert r.ttr == pytest.approx(4 / 7)
    import math

    assert r.herdan_c == pytest.approx(math.log(4) / math.log(7))
    # f2 = 0 -> bias-corrected form
    df2 = spark.createDataFrame([("x y z",)], "text string")
    r2 = vocab_richness(df2, "text").first()
    assert r2.chao1 == pytest.approx(3 + 3 * 2 / 2)


def test_weighted_quantile_hand_computed(spark):
    from pivot_spark.operators.profile import weighted_quantile

    # values 1..4 with weights 1,1,1,7 -> half the mass sits on value 4
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 7.0)], "v double, w double"
    )
    out = {r.prob: r for r in weighted_quantile(df, "v", "w", [0.3, 0.5, 0.99]).collect()}
    assert out[0.3].value == 3.0   # cum 3 >= 0.3*10
    assert out[0.5].value == 4.0
    assert out[0.99].value == 4.0
    assert out[0.5].total_weight == pytest.approx(10.0)
    import pytest as _pt

    with _pt.raises(ValueError):
        weighted_quantile(df, "v", "w", [0.0])


# --- range scan (profile._range_scan) ---------------------------------------

PKG = pathlib.Path(__file__).resolve().parents[1] / "pivot_spark"


def _sites(match) -> "list[tuple[str, str]]":
    """(module, enclosing function) of every ast node in the package
    that ``match`` accepts."""
    out = []

    def visit(node, path, fn):
        for child in ast.iter_child_nodes(node):
            if match(child):
                out.append((path, fn))
            inner = child.name if isinstance(child, ast.FunctionDef) else fn
            visit(child, path, inner)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(PKG).as_posix(), None)
    return out


def _partition_id(node) -> bool:
    return (
        (isinstance(node, ast.Attribute) and node.attr == "spark_partition_id")
        or (isinstance(node, ast.Name) and node.id == "spark_partition_id")
        or (isinstance(node, ast.alias) and node.name == "spark_partition_id")
        or (isinstance(node, ast.Constant) and "spark_partition_id" in str(node.value))
    )


def _pid_window(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "orderBy"
        and any(isinstance(a, ast.Constant) and a.value == "__pid" for a in node.args)
    )


def test_range_scan_is_the_only_partition_id_reader():
    """The range-partitioned prefix exists once: ``spark_partition_id``
    and the ``__pid`` offset window appear only inside ``_range_scan``,
    which pins the range-partitioned frame."""
    helper = ("operators/profile.py", "_range_scan")
    assert _sites(_partition_id) == [helper]
    assert _sites(_pid_window) == [helper]


# 14 rows over 4 distinct values: ties everywhere, and with 32 ranges
# most ranges are empty. Weights and sizes are whole numbers, so running
# sums are exact whatever the range boundaries.
SCAN_ROWS = [
    (i, float(i * 7 % 4), float(1 + i % 3), float(i * 5 % 3), f"k{i * 3 % 4}")
    for i in range(14)
]


@pytest.fixture()
def scan_df(spark):
    return spark.createDataFrame(SCAN_ROWS, "id long, v double, w double, y double, k string")


def _at(spark, partitions, build):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        return sorted(tuple(r) for r in build().collect())
    finally:
        spark.conf.set(key, prev)


def test_range_scan_operators_invariant_to_ranges_and_partitions(spark, scan_df):
    """Each range-scan operator gives the same rows at 1 and 32 ranges
    and at 1 and 4 shuffle partitions."""
    from pivot_spark.operators.analytics import conformal_threshold, ks_test
    from pivot_spark.operators.fuzzy import sorted_neighborhood_pairs
    from pivot_spark.operators.layout import plan_compaction
    from pivot_spark.operators.profile import row_rank, spearman_matrix, weighted_quantile

    df = scan_df
    even, odd = df.filter(F.col("id") % 2 == 0), df.filter(F.col("id") % 2 == 1)
    builds = {
        "row_rank": lambda n: row_rank(df, ["v", "id"], "r", n),
        "pareto_frontier_2d": lambda n: pareto_frontier_2d(df, "v", "y", "id", n),
        "weighted_quantile": lambda n: weighted_quantile(df, "v", "w", (0.25, 0.5, 1.0), n),
        "ks_test": lambda n: ks_test(even, odd, "v", n),
        "conformal_threshold": lambda n: conformal_threshold(df, "v", 0.2),
        "plan_compaction": lambda n: plan_compaction(df, "id", "w", 4),
        "sorted_neighborhood_pairs": lambda n: sorted_neighborhood_pairs(
            df, "id", "k", 3, num_ranges=n
        ),
        "spearman_matrix": lambda n: spearman_matrix(df, ["v", "y"], n),
    }
    for name, build in builds.items():
        runs = {
            (n, p): _at(spark, p, lambda: build(n)) for n in (1, 32) for p in (1, 4)
        }
        first = runs[(1, 1)]
        assert first, name
        assert all(rows == first for rows in runs.values()), (name, runs)


def test_range_scan_matches_single_partition_window(spark, scan_df):
    """``row_rank``, an inclusive sum and an exclusive max equal the
    single-partition ``Window.orderBy`` they replace."""
    from pyspark.sql import Window

    from pivot_spark.operators.profile import _range_scan, row_rank

    df = scan_df
    w = Window.orderBy("v", "id")
    ref = df.select(
        "id",
        F.row_number().over(w).alias("r"),
        F.sum("w").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("c"),
        F.coalesce(
            F.max("y").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(float("-inf")),
        ).alias("m"),
    )
    scans = [("c", "sum", "w", True), ("m", "max", "y", False)]
    got = row_rank(
        _range_scan(df, ["v", "id"], scans, "test.range_scan"), ["v", "id"], "r"
    ).select("id", "r", "c", "m")
    assert _at(spark, 4, lambda: got) == _at(spark, 4, lambda: ref)
