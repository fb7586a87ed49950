"""Incremental maintenance: aggregate states (operators/incremental.py)
and the MinHash near-dup index (operators/neardup.py)."""

import math

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.incremental import (
    agg_state,
    finalize_state,
    incremental_agg,
    merge_states,
)


@pytest.fixture(scope="module")
def data(spark):
    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0),
        ("b", 10.0), ("b", None),
        ("c", None),  # NULL-only group
    ]
    return spark.createDataFrame(rows, "k string, x double").cache()


def _final_map(df):
    return {r["k"]: r.asDict() for r in df.collect()}


def test_state_then_finalize_matches_direct(data):
    out = finalize_state(agg_state(data, ["k"], ["x"]), ["k"], ["x"])
    got = _final_map(out)
    assert got["a"]["rows"] == 3 and got["a"]["x_n"] == 3
    assert got["a"]["x_avg"] == pytest.approx(2.0)
    assert got["a"]["x_stddev_pop"] == pytest.approx(math.sqrt(2.0 / 3.0))
    assert got["b"]["x_n"] == 1 and got["b"]["x_avg"] == 10.0
    assert got["b"]["x_stddev_pop"] == 0.0
    # NULL-only group: counts exist, stats NULL
    assert got["c"]["rows"] == 1 and got["c"]["x_n"] == 0
    assert got["c"]["x_avg"] is None and got["c"]["x_min"] is None


def test_merge_equals_state_of_union(spark, data):
    a = data.filter(F.col("x") < 2.5)
    b = data.subtract(a.select(data.columns))
    merged = merge_states(
        [agg_state(a, ["k"], ["x"]), agg_state(b, ["k"], ["x"])], ["k"], ["x"]
    )
    direct = agg_state(data, ["k"], ["x"])
    f = lambda df: _final_map(finalize_state(df, ["k"], ["x"]))
    assert f(merged) == f(direct)


def test_incremental_matches_full_recompute(spark):
    rows = [(i % 7, float(i * i % 101)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k int, x double")
    base = df.filter(F.col("x") < 50)
    delta = df.filter(F.col("x") >= 50)
    state = agg_state(base, ["k"], ["x"])
    updated = incremental_agg(state, delta, ["k"], ["x"])
    full = agg_state(df, ["k"], ["x"])
    fin = lambda s: {
        r["k"]: tuple(
            round(v, 9) if isinstance(v, float) else v
            for v in r.asDict().values()
        )
        for r in finalize_state(s, ["k"], ["x"]).collect()
    }
    assert fin(updated) == fin(full)


def test_merge_is_associative(spark, data):
    parts = [
        agg_state(data.filter(F.col("k") == k), ["k"], ["x"])
        for k in ("a", "b", "c")
    ]
    left = merge_states(
        [merge_states(parts[:2], ["k"], ["x"]), parts[2]], ["k"], ["x"]
    )
    right = merge_states(parts, ["k"], ["x"])
    f = lambda df: _final_map(finalize_state(df, ["k"], ["x"]))
    assert f(left) == f(right)


# -- HLL distinct states ----------------------------------------------------

from pivot_spark.operators.incremental import (  # noqa: E402
    distinct_state,
    estimate_distinct,
    incremental_distinct,
    merge_distinct_states,
)


def test_distinct_state_merge_equals_full(spark):
    rows = [(i % 3, f"v{i % 500}") for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, v string")
    a = df.filter("k = 0 OR v < 'v25'")
    b = df.subtract(a)
    merged = merge_distinct_states(
        [distinct_state(a, ["k"], "v"), distinct_state(b, ["k"], "v")], ["k"]
    )
    full = distinct_state(df, ["k"], "v")
    em = {r["k"]: r["n_distinct"] for r in estimate_distinct(merged, ["k"]).collect()}
    ef = {r["k"]: r["n_distinct"] for r in estimate_distinct(full, ["k"]).collect()}
    # union promotes the sketch representation (HLL_4 -> HLL_8), so
    # estimates may differ by a register rounding — not by real error
    for k in ef:
        assert abs(em[k] - ef[k]) / ef[k] < 0.02
        assert abs(ef[k] - 500) / 500 < 0.05


def test_distinct_estimate_accuracy(spark):
    df = spark.createDataFrame(
        [(1, f"u{i}") for i in range(10_000)], "k int, v string"
    )
    est = estimate_distinct(distinct_state(df, ["k"], "v"), ["k"]).first()
    assert abs(est["n_distinct"] - 10_000) / 10_000 < 0.05


def test_incremental_distinct_matches_full(spark):
    rows = [(i % 2, i % 700) for i in range(4000)]
    df = spark.createDataFrame(rows, "k int, v int")
    state = distinct_state(df.filter("v < 350"), ["k"], "v")
    upd = incremental_distinct(state, df.filter("v >= 350"), ["k"], "v")
    full = distinct_state(df, ["k"], "v")
    a = {r["k"]: r["n_distinct"] for r in estimate_distinct(upd, ["k"]).collect()}
    b = {r["k"]: r["n_distinct"] for r in estimate_distinct(full, ["k"]).collect()}
    for k in b:
        assert abs(a[k] - b[k]) / b[k] < 0.02


def test_incremental_minhash_matches_full_rebuild(spark):
    from pivot_spark.operators.neardup import (
        minhash_signatures,
        neardup_minhash_incremental,
        neardup_minhash_lsh,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    delta = d.filter(F.col("doc_id") % 5 == 0)
    index = minhash_signatures(corpus, "doc_id", "text")
    pairs, new_index = neardup_minhash_incremental(index, delta, "doc_id", "text")
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}

    full = neardup_minhash_lsh(d, threshold=0.5).collect()
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in full
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    assert got == want
    # updated index covers the whole corpus, ready for the next delta
    assert new_index.count() == d.count()
