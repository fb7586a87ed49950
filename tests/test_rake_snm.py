"""rake_weights + cdf_transform."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.profile import cdf_transform
from pivot_spark.operators.sample import rake_weights


def test_rake_hits_both_margins(spark):
    # joint counts deliberately skewed vs uniform targets
    rows = (
        [("en", "web")] * 6 + [("en", "book")] * 2
        + [("fr", "web")] * 1 + [("fr", "book")] * 3
    )
    df = spark.createDataFrame(
        [(i, l, s) for i, (l, s) in enumerate(rows)], "id long, lang string, src string"
    )
    out = rake_weights(
        df, "lang", "src", {"en": 0.5, "fr": 0.5}, {"web": 0.5, "book": 0.5},
        iterations=4,
    )
    n = 12
    m_lang = {
        r.lang: r.s for r in out.groupBy("lang").agg(F.sum("weight").alias("s")).collect()
    }
    m_src = {
        r.src: r.s for r in out.groupBy("src").agg(F.sum("weight").alias("s")).collect()
    }
    for v in m_lang.values():
        assert v == pytest.approx(0.5 * n, rel=1e-3)
    for v in m_src.values():
        assert v == pytest.approx(0.5 * n, rel=1e-3)
    with pytest.raises(ValueError):
        rake_weights(df, "lang", "src", {"en": 0.9}, {"web": 1.0})
    with pytest.raises(ValueError):
        rake_weights(df, "lang", "src", {"en": 1.0}, {"web": 1.0}, iterations=0)


def test_cdf_transform_uniform_and_ties(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 40.0), (5, None)],
        "id long, v double",
    )
    out = {r.id: r.u for r in cdf_transform(df, "v").collect()}
    # ranks: 10->1, 20->2.5 (tie), 40->4; n=4 -> u = r/5
    assert out[1] == pytest.approx(1 / 5)
    assert out[2] == pytest.approx(2.5 / 5)
    assert out[2] == out[3]
    assert out[4] == pytest.approx(4 / 5)
    assert out[5] is None
    assert all(u is None or 0 < u < 1 for u in out.values())


def test_cross_source_dup_matrix(spark):
    from pivot_spark.operators.chunk_dedup import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "book"), (4, "wiki")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {(r.source_a, r.source_b): r for r in
           cross_source_dup_matrix(pairs, docs).collect()}
    assert out[("web", "web")].n_pairs == 1
    assert out[("web", "web")].within_source
    assert out[("book", "web")].n_pairs == 2
    assert not out[("book", "web")].within_source
    assert out[("book", "wiki")].n_pairs == 1


def test_key_containment_fk_shape(spark):
    from pivot_spark.operators.profile import key_containment

    child = spark.createDataFrame([(i % 5,) for i in range(20)], "fk long")
    parent = spark.createDataFrame([(i,) for i in range(10)], "pk long")
    r = key_containment(child, parent, "fk", "pk").first()
    assert (r.n_left_distinct, r.n_right_distinct, r.n_shared) == (5, 10, 5)
    assert r.containment == 1.0 and r.right_unique
    # reversed: parent keys not contained in child
    r2 = key_containment(parent, child, "pk", "fk").first()
    assert r2.containment == 0.5 and not r2.right_unique


def test_trending_keys(spark):
    import datetime as dt

    from pivot_spark.operators.analytics import trending_keys

    d0 = dt.datetime(2024, 1, 1)
    rows = []
    # key 1: 2 prev, 8 cur (surge); key 2: 5 prev, 0 cur (drop);
    # key 3: only ancient history (excluded)
    for i in range(2):
        rows.append((1, d0 + dt.timedelta(days=1, hours=i)))
    for i in range(8):
        rows.append((1, d0 + dt.timedelta(days=2, hours=i)))
    for i in range(5):
        rows.append((2, d0 + dt.timedelta(days=1, hours=i)))
    rows.append((3, d0 - dt.timedelta(days=10)))
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    out = {r.key: r for r in trending_keys(df, "k", "ts").collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_prev, out[1].n_cur) == (2, 8)
    assert out[1].lift == pytest.approx(9 / 3)
    assert out[1].z == pytest.approx(6 / (10 ** 0.5))
    assert (out[2].n_prev, out[2].n_cur) == (5, 0)
    assert out[2].z < 0


def test_sequence_surprise(spark):
    import math

    from pivot_spark.operators.analytics import sequence_surprise

    # corpus: a->b dominates (3 of 4 from-a transitions); a->c is rare
    rows = [
        (1, 1, "a"), (1, 2, "b"),
        (2, 1, "a"), (2, 2, "b"),
        (3, 1, "a"), (3, 2, "b"),
        (4, 1, "a"), (4, 2, "c"),     # the surprising user
    ]
    df = spark.createDataFrame(rows, "k long, seq long, s string")
    out = {r.key: r for r in sequence_surprise(df, "k", "s", ["seq"]).collect()}
    assert out[1].surprise == pytest.approx(-math.log(0.75))
    assert out[4].surprise == pytest.approx(-math.log(0.25))
    assert out[4].surprise > out[1].surprise
    assert out[1].n_transitions == 1


def test_source_diversity_redundant_vs_diverse(spark):
    from pivot_spark.operators.chunk_dedup import source_diversity

    boiler = "the quick brown fox jumps over the lazy dog again"
    rows = []
    for i in range(5):
        rows.append((i, "dup", boiler))                   # identical docs
    for i in range(5, 10):
        rows.append((i, "var", f"unique words {i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"))
    rows.append((99, "solo", "one lonely doc here"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in source_diversity(df, sample_k=5).collect()}
    assert out["dup"].mean_jaccard == pytest.approx(1.0)
    assert out["dup"].n_pairs == 10
    assert out["var"].mean_jaccard < 0.2
    assert out["solo"].n_pairs == 0 and out["solo"].mean_jaccard is None
    import pytest as _pt

    with _pt.raises(ValueError):
        source_diversity(df, sample_k=1)
