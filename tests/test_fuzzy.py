"""Blocked fuzzy join and sorted-neighborhood blocking (operators/fuzzy.py)."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.fuzzy import best_fuzzy_match, fuzzy_join, sorted_neighborhood_pairs


@pytest.fixture(scope="module")
def names(spark):
    clean = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt"), (3, "red gadget"), (4, "hot gear")],
        "rid int, rname string",
    )
    dirty = spark.createDataFrame(
        [(10, "red widgit"), (11, "blu bolt"), (12, "red gadget"), (13, "cold spring")],
        "lid int, lname string",
    )
    return dirty, clean


def _block(col):
    # block on the first character
    return F.substring(F.col(col), 1, 1)


def test_pairs_within_threshold(names):
    dirty, clean = names
    out = fuzzy_join(
        dirty, clean, "lname", "rname", 2, _block("lname"), _block("rname")
    )
    got = {(r["lid"], r["rid"]): r["dist"] for r in out.collect()}
    assert got[(10, 1)] == 1     # widgit -> widget
    assert got[(11, 2)] == 1     # blu -> bolt block, one edit
    assert got[(12, 3)] == 0     # exact
    assert (10, 3) not in got    # widgit -> gadget: dist 3 > 2
    assert all(k[0] != 13 for k in got)  # cold spring matches nothing


def test_blocking_bounds_candidates(names):
    dirty, clean = names
    # "cold spring" vs "hot gear": different blocks ('c' vs 'h') — even a
    # permissive threshold cannot produce the pair
    out = fuzzy_join(
        dirty, clean, "lname", "rname", 10, _block("lname"), _block("rname")
    )
    assert out.filter((F.col("lid") == 13) & (F.col("rid") == 4)).count() == 0


def test_length_prefilter_and_threshold(spark):
    l = spark.createDataFrame([(1, "abc")], "lid int, lname string")
    r = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abd")], "rid int, rname string"
    )
    out = fuzzy_join(
        l, r, "lname", "rname", 2, F.lit("b"), F.lit("b")
    )
    got = {r["rid"] for r in out.collect()}
    assert got == {2}  # length gap 5 > 2 pruned before levenshtein


def test_best_match_min_dist_then_name(names):
    dirty, clean = names
    pairs = fuzzy_join(
        dirty, clean, "lname", "rname", 3, _block("lname"), _block("rname")
    )
    best = best_fuzzy_match(pairs, ["lid", "lname"], "rname")
    got = {r["lid"]: (r["rname"], r["dist"]) for r in best.collect()}
    assert got[10] == ("red widget", 1)
    assert got[12] == ("red gadget", 0)


def _brute_pairs(spark, dirty, clean, max_dist, lblk, rblk):
    """Reference result: the naive quadratic block join."""
    return fuzzy_join(
        dirty, clean, "lname", "rname", max_dist, lblk, rblk,
        dedup_verify=False, length_band=False,
    )


@pytest.mark.parametrize(
    "dedup,band", [(True, True), (True, False), (False, True)]
)
def test_skew_defenses_are_exactness_preserving(spark, dedup, band):
    """Every defense combination must return the exact multiset of
    (lid, rid, dist) rows the naive quadratic block join returns — on
    a skewed fixture mixing cloned keys (hot block, identical
    lengths), heterogeneous-length keys in one block, and band-edge
    pairs whose lengths straddle a band boundary."""
    dirty_rows = (
        # 30 clones of two dirty names in the same hot 'a'-block
        [(i, "acme corp llx") for i in range(30)]
        + [(100 + i, "acme corp inx") for i in range(30)]
        # band-edge: length differs by exactly max_dist
        + [(200, "ab"), (201, "abcd")]
        + [(202, "zzz done")]
    )
    clean_rows = (
        [(1, "acme corp llc"), (2, "acme corp inc"), (3, "acme corporation ltd")]
        + [(4, "abcd"), (5, "ab")]
        + [(6, "zzz gone")]
    )
    dirty = spark.createDataFrame(dirty_rows, "lid int, lname string")
    clean = spark.createDataFrame(clean_rows, "rid int, rname string")
    lblk, rblk = _block("lname"), _block("rname")
    want = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in _brute_pairs(spark, dirty, clean, 2, lblk, rblk).collect()
    )
    assert len(want) > 60  # the fixture really is skewed
    got = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_join(
            dirty, clean, "lname", "rname", 2, lblk, rblk,
            dedup_verify=dedup, length_band=band,
        ).collect()
    )
    assert got == want


def test_skew_defense_block_from_other_column(spark):
    """dedup_verify keys on (block, key) pairs, so a block derived from
    a DIFFERENT column (two rows, same key, different blocks) must not
    cross-contaminate."""
    dirty = spark.createDataFrame(
        [(1, "g1", "name"), (2, "g2", "name")], "lid int, lgrp string, lname string"
    )
    clean = spark.createDataFrame(
        [(7, "g1", "nam"), (8, "g2", "names")], "rid int, rgrp string, rname string"
    )
    out = fuzzy_join(
        dirty, clean, "lname", "rname", 2,
        F.col("lgrp"), F.col("rgrp"),
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == {(1, 7), (2, 8)}


def test_distinct_reference_side_is_exact_for_best_match(spark):
    """The e73 scale fix: when the reference side contributes only its
    key column to a multiplicity-insensitive arg-min, pre-distincting it
    must leave best_fuzzy_match's result bit-identical while removing
    the clone-count re-expansion (the sf10 soak measured 2.1e9
    pre-aggregate rows / slope 688 without it on a 100x-cloned corpus).
    Fixture clones every reference name 7x."""
    dirty = spark.createDataFrame(
        [(1, "acme corp llx"), (2, "blue boltz"), (3, "nomatch qq")],
        "lid int, lname string",
    )
    clean_rows = [
        (100 * c + j, nm)
        for j, nm in enumerate(
            ["acme corp llc", "acme corp inc", "blue bolts", "blue bolt"]
        )
        for c in range(7)  # 7 clones of each reference name
    ]
    clean_full = spark.createDataFrame(clean_rows, "rid int, rname string")
    lblk, rblk = _block("lname"), _block("rname")

    def _best(ref):
        pairs = fuzzy_join(dirty, ref, "lname", "rname", 2, lblk, rblk)
        return sorted(
            (r["lid"], r["rname"], r["dist"])
            for r in best_fuzzy_match(pairs, ["lid", "lname"], "rname").collect()
        )

    full = _best(clean_full.select("rname"))
    collapsed = _best(clean_full.select("rname").distinct())
    assert full == collapsed
    assert [t[0] for t in collapsed] == [1, 2]  # lid 3 matches nothing
    # and the collapsed pair volume really is clone-free
    n_pairs = fuzzy_join(
        dirty, clean_full.select("rname").distinct(),
        "lname", "rname", 2, lblk, rblk,
    ).count()
    assert n_pairs == fuzzy_join(
        dirty, clean_full.select("rname"), "lname", "rname", 2, lblk, rblk
    ).count() / 7


def test_no_python_udf_in_plan(names):
    dirty, clean = names
    out = fuzzy_join(
        dirty, clean, "lname", "rname", 2, _block("lname"), _block("rname")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sorted_neighborhood_matches_window_semantics(spark):
    rows = [(i, f"name{i:03d}") for i in range(20)]
    rows.append((100, "name005X"))  # sorts right after name005
    df = spark.createDataFrame(rows, "id long, k string")
    out = sorted_neighborhood_pairs(df, "id", "k", window=2)
    got = {(r.id_a, r.id_b): r.rank_gap for r in out.collect()}
    # expected: every pair within 2 positions of the (k, id) order
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {}
    for i in range(len(ordered)):
        for j in range(i + 1, min(i + 3, len(ordered))):
            want[(ordered[i][0], ordered[j][0])] = j - i
    assert got == want
    # with distance verify only the near-identical pair survives
    v = sorted_neighborhood_pairs(df, "id", "k", window=2, max_dist=1).collect()
    assert {(r.id_a, r.id_b) for r in v} >= {(5, 100)}
    for r in v:
        assert r.dist <= 1
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", "k", window=0)
