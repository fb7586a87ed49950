"""Count-Min Sketch: over-count guarantee, exactness at ample width,
merge == full-build, bounded state; HLL overlap accuracy."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.sketch import cms_build, cms_estimate, cms_merge, hll_overlap_matrix


@pytest.fixture(scope="module")
def words(spark):
    # zipf-ish: value i appears i times -> 1+2+...+12 = 78 rows
    rows = [(f"w{i:02d}",) for i in range(1, 13) for _ in range(i)]
    return spark.createDataFrame(rows, ["w"]).repartition(4)


def _est_map(sketch, probes, width, depth):
    out = cms_estimate(sketch, probes, "w", width=width, depth=depth)
    return {r["w"]: r["cms_est"] for r in out.collect()}


def test_overcount_never_undercount(spark, words):
    # tiny width forces collisions: estimates may exceed, never trail
    sketch = cms_build(words, "w", width=8, depth=3)
    probes = words.select("w").distinct()
    est = _est_map(sketch, probes, 8, 3)
    true = {r["w"]: r["n"] for r in words.groupBy("w").count().withColumnRenamed("count", "n").collect()}
    assert set(est) == set(true)
    for w, n in true.items():
        assert est[w] >= n, (w, est[w], n)


def test_exact_when_wide(spark, words):
    sketch = cms_build(words, "w", width=4096, depth=4)
    probes = words.select("w").distinct()
    est = _est_map(sketch, probes, 4096, 4)
    true = {r["w"]: r["count"] for r in words.groupBy("w").count().collect()}
    assert est == true


def test_merge_equals_full_build(spark, words):
    a = words.filter(F.col("w") < "w07")
    b = words.filter(F.col("w") >= "w07")
    merged = cms_merge(cms_build(a, "w", 64, 3), cms_build(b, "w", 64, 3))
    full = cms_build(words, "w", 64, 3)
    m = {(r["d"], r["pos"]): r["cnt"] for r in merged.collect()}
    f = {(r["d"], r["pos"]): r["cnt"] for r in full.collect()}
    assert m == f


def test_state_bounded(spark, words):
    sketch = cms_build(words, "w", width=8, depth=3)
    assert sketch.count() <= 8 * 3


def test_absent_key_reads_small(spark, words):
    sketch = cms_build(words, "w", width=4096, depth=4)
    probes = spark.createDataFrame([("never-seen",)], ["w"])
    est = _est_map(sketch, probes, 4096, 4)
    assert est["never-seen"] == 0


def test_invalid_params(spark, words):
    with pytest.raises(ValueError):
        cms_build(words, "w", width=0, depth=3)
    with pytest.raises(ValueError):
        cms_merge()


def test_hll_overlap_close_to_exact(spark):
    # groups with engineered overlap: A = 0..999, B = 500..1499, C = 0..99
    rows = (
        [("A", i) for i in range(1000)]
        + [("B", i) for i in range(500, 1500)]
        + [("C", i) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, m long")
    out = {(r.group_a, r.group_b): r for r in hll_overlap_matrix(df, "g", "m").collect()}
    exact = {("A", "B"): (1000, 1000, 1500, 500), ("A", "C"): (1000, 100, 1000, 100),
             ("B", "C"): (1000, 100, 1100, 0)}
    for k, (na, nb, nu, ov) in exact.items():
        r = out[k]
        # lg_k=14 -> rel err ~0.8%; allow 3 sigma ~ 2.5% (+abs slack for 0)
        assert r.n_a == pytest.approx(na, rel=0.025)
        assert r.n_b == pytest.approx(nb, rel=0.025)
        assert r.n_union == pytest.approx(nu, rel=0.025)
        assert r.n_overlap == pytest.approx(ov, rel=0.1, abs=60)
        assert r.n_overlap >= 0
    assert len(out) == 3
