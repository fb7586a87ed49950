"""Round-3 fix pins: weighted_sample_k nonpositive weights, pmi_pairs
per-doc cap, tfidf_cosine_pairs max_df prune."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.cooccur import pmi_pairs
from pivot_spark.operators.sample import weighted_sample_k
from pivot_spark.operators.tfidf import tfidf_cosine_pairs


def test_weighted_sample_rejects_nonpositive_weights(spark):
    rows = [("neg", -5.0), ("zero", 0.0), ("a", 1.0), ("b", 2.0), ("c", 3.0)]
    df = spark.createDataFrame(rows, "id string, w double")
    out = weighted_sample_k(df, "id", "w", k=3)
    ids = {r.id for r in out.collect()}
    assert ids == {"a", "b", "c"}  # nonpositive weights can never win


def test_weighted_sample_grouped_rejects_nonpositive(spark):
    rows = [
        ("g1", "neg", -5.0), ("g1", "a", 1.0), ("g1", "b", 2.0),
        ("g2", "zero", 0.0), ("g2", "c", 3.0),
    ]
    df = spark.createDataFrame(rows, "g string, id string, w double")
    out = weighted_sample_k(df, "id", "w", k=2, group_col="g")
    ids = {r.id for r in out.collect()}
    assert ids == {"a", "b", "c"}


def test_pmi_long_doc_cap(spark):
    # doc L has 6 distinct terms; cap=3 keeps its top-3 by (count desc,
    # term asc): x appears 3x, y 2x, then a,b,c,d tie at 1 -> keep x,y,a
    rows = [
        ("L", ["x", "x", "x", "y", "y", "a", "b", "c", "d"]),
        ("S1", ["x", "y"]),
        ("S2", ["x", "y"]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    out = pmi_pairs(df, "doc_id", "toks", min_pair_count=1,
                    max_terms_per_doc=3).collect()
    pair_terms = {(r.term_a, r.term_b) for r in out}
    # L contributes only pairs among {x, y, a}; b/c/d never appear
    assert ("a", "x") in pair_terms and ("x", "y") in pair_terms
    assert not any("b" in p or "c" in p or "d" in p for p in pair_terms)
    # n_ab for (x, y) counts all three docs
    nxy = [r.n_ab for r in out if (r.term_a, r.term_b) == ("x", "y")][0]
    assert nxy == 3


def test_pmi_uncapped_matches_small_corpus(spark):
    rows = [("A", ["p", "q"]), ("B", ["p", "q"]), ("C", ["p", "r"])]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    capped = pmi_pairs(df, "doc_id", "toks", min_pair_count=1).collect()
    uncapped = pmi_pairs(
        df, "doc_id", "toks", min_pair_count=1, max_terms_per_doc=None
    ).collect()
    key = lambda r: (r.term_a, r.term_b)
    assert sorted(map(key, capped)) == sorted(map(key, uncapped))


def test_tfidf_max_df_prunes_stop_terms(spark):
    # 'stop' is in 5/5 docs (df share 1.0 -> idf 0, pruned at 0.8);
    # the discriminative pair terms survive
    rows = [
        ("d1", ["stop", "aa", "bb"]),
        ("d2", ["stop", "aa", "bb"]),
        ("d3", ["stop", "cc"]),
        ("d4", ["stop", "dd"]),
        ("d5", ["stop", "ee"]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, grams array<string>")
    out = tfidf_cosine_pairs(df, "doc_id", "grams", threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert pairs == {("d1", "d2")}
    # strict mode keeps the stop term (idf 0 -> contributes nothing,
    # same pair set here)
    strict = tfidf_cosine_pairs(
        df, "doc_id", "grams", threshold=0.5, max_df_share=1.0
    ).collect()
    assert {(r.id_a, r.id_b) for r in strict} == {("d1", "d2")}


def test_tfidf_max_df_validation(spark):
    df = spark.createDataFrame([("d", ["a"])], "doc_id string, grams array<string>")
    with pytest.raises(ValueError):
        tfidf_cosine_pairs(df, "doc_id", "grams", max_df_share=0.0)


def test_syllable_count_mixed_case(spark):
    from pivot_spark.functions.text import syllable_count

    df = spark.createDataFrame([("A It HELLO world",)], "t string")
    # a(1) it(1) hel-lo(2) world(1) = 5 regardless of case
    got = df.select(syllable_count(F.col("t")).alias("s")).collect()[0].s
    assert got == 5


def test_semdedup_default_k_scales(spark):
    """centers=None fits k-means with k = max(8, n // target_cluster_size)."""
    import random

    from pivot_spark.operators.semdedup import semdedup

    random.seed(7)
    rows = [(i, [random.random() for _ in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, vec array<double>")
    out = semdedup(df, "id", "vec", target_cluster_size=5)
    clusters = {r.cluster for r in out.collect()}
    # k = max(8, 40 // 5) = 8 clusters fit; every row assigned
    assert len(clusters) <= 8 and out.count() == 40
