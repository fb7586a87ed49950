"""The materialization fence (operators/_fence.py): one persist site,
scoped release, and results that do not depend on partitioning."""

import ast
import pathlib

from pyspark.sql import functions as F

from pivot_spark.operators._fence import fence_scope, pin

PKG = pathlib.Path(__file__).resolve().parents[1] / "pivot_spark"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3, "el perro corre en el parque y la casa es grande que bonita"),
    (4, "completely different content about spark query engines and shuffles"),
    (6, "der hund und die katze ist von den nicht ein haus"),
]


def _persisted(sc):
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def test_persist_only_in_fence_module():
    """Every shared frame is pinned through ``_fence``: a
    ``.persist(`` call anywhere else in the package is a hand-rolled
    fence that no scope releases."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "_fence.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == []


def test_scope_releases_and_repeat_builds_run_the_same_jobs(spark):
    """Two builds of ngram_jaccard_pairs in one session, each inside its
    own scope, run the same jobs: the first build's frames are released
    when its scope exits, so the second cannot skip a fence by finding
    them still cached."""
    from pivot_spark.operators.neardup import ngram_jaccard_pairs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    before = _persisted(sc)
    jobs = []
    for i in range(2):
        group = f"test_fence_scope_{i}"
        with fence_scope():
            sc.setJobGroup(group, group)
            try:
                ngram_jaccard_pairs(docs, threshold=0.5)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert _persisted(sc) - before  # the build pinned its frames
        assert _persisted(sc) - before == set()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(tracker.getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] > 0, jobs


def test_pin_labels_its_jobs_and_scope_releases_it(spark):
    """``pin`` runs the frame's shuffle stages under its label and keeps
    the rows for the first action; the scope drops them on exit."""
    sc = spark.sparkContext
    group = "test_pin"
    before = _persisted(sc)
    with fence_scope():
        sc.setJobGroup(group, "caller description")
        try:
            df = pin(
                spark.range(100).groupBy((F.col("id") % 7).alias("k")).count(),
                "test.pin",
            )
            assert sc.getLocalProperty("spark.job.description") == "caller description"
            assert sorted(r["count"] for r in df.collect()) == [14] * 5 + [15] * 2
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        labels = [
            store.job(j).description() for j in sc.statusTracker().getJobIdsForGroup(group)
        ]
        labels = [d.get() if d.isDefined() else None for d in labels]
        assert "test.pin" in labels, labels
        assert _persisted(sc) - before  # the action stored the rows
    assert _persisted(sc) - before == set()


def _at_partitions(spark, n, build):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        with fence_scope():
            return sorted(tuple(r) for r in build().collect())
    finally:
        spark.conf.set(key, prev)


def test_calibrate_invariant_to_shuffle_partitions(spark):
    """isotonic_fit reads its fenced per-bin frame from several
    consumers; the curve is the same at 1 and at 4 shuffle partitions."""
    from pivot_spark.operators.calibrate import isotonic_fit

    rows = [(i, (i * 37 % 101) / 101.0, int(i * 37 % 101 > 40 + i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    one = _at_partitions(spark, 1, lambda: isotonic_fit(df, "score", "label", bins=16))
    four = _at_partitions(spark, 4, lambda: isotonic_fit(df, "score", "label", bins=16))
    assert one and one == four


def test_tfidf_invariant_to_shuffle_partitions(spark):
    """tfidf_cosine_pairs pins its normalized-weight frame (and, with
    a df cap, its tf and df frames); the pairs are the same at 1 and at
    4 shuffle partitions, on the plain and the prefix-filter path. The
    cosine is a double sum whose order follows the partitioning, so it
    is compared to 12 decimals (the declared queries keep 4)."""
    from pivot_spark.functions.text import tokens
    from pivot_spark.operators.tfidf import tfidf_cosine_pairs

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"]).select(
        "doc_id", tokens(F.col("text")).alias("terms")
    )
    for prefix in (False, True):
        def build():
            return tfidf_cosine_pairs(
                docs, "doc_id", "terms", threshold=0.3, prefix_filter=prefix
            )

        one, four = (
            [(a, b, round(c, 12)) for a, b, c in _at_partitions(spark, n, build)]
            for n in (1, 4)
        )
        assert [r[:2] for r in one] == [(1, 2)]
        assert one == four, prefix
