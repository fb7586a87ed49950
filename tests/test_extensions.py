"""Tests for the training-data-pipeline extension operators: text
analysis, dedup (exact + near-dup), similarity search, multimodal."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near-dup of 1
        (3, "el perro corre en el parque y la casa es grande que bonita"),
        (4, "completely different content about spark query engines and shuffles"),
        (5, ""),
        (6, "der hund und die katze ist von den nicht ein haus"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_text_stats(docs_df):
    from pivot_spark.functions import text as X

    out = docs_df.select(
        "doc_id",
        X.token_count(F.col("text")).alias("tc"),
        X.char_count(F.col("text")).alias("cc"),
        X.alpha_ratio(F.col("text")).alias("ar"),
        X.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["tc"] == 14
    assert by_id[5]["tc"] == 0 and by_id[5]["ar"] == 0.0
    assert len(by_id[1]["fp"]) == 32
    assert by_id[1]["fp"] != by_id[2]["fp"]


def test_fingerprint_normalization(spark):
    from pivot_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("  HELLO WORLD  ",)], ["t"]
    )
    fps = [r[0] for r in df.select(fingerprint(F.col("t"))).collect()]
    assert len(set(fps)) == 1


def test_lang_guess(docs_df):
    from pivot_spark.functions.text import lang_guess

    out = {r["doc_id"]: r["lg"] for r in docs_df.select("doc_id", lang_guess(F.col("text")).alias("lg")).collect()}
    assert out[1] == "en"
    assert out[3] == "es"
    assert out[6] == "de"
    assert out[5] == "und"


def test_dedup_exact_deterministic(spark):
    from pivot_spark.operators.dedup import dedup_exact

    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "a", 40.0)]
    df = spark.createDataFrame(rows, ["id", "k", "v"])
    out = dedup_exact(df, ["k"], order_by=["id"]).collect()
    got = {(r["k"], r["id"], r["v"]) for r in out}
    assert got == {("a", 1, 10.0), ("b", 3, 30.0)}


def test_minhash_lsh_finds_planted_pair(docs_df):
    from pivot_spark.operators.neardup import neardup_minhash_lsh

    out = neardup_minhash_lsh(
        docs_df.filter(F.col("text") != ""), threshold=0.5, num_hashes=64, bands=32
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs
    assert all(r["jaccard"] >= 0.5 for r in out)
    assert (3, 4) not in pairs


def test_ngram_jaccard_exact(docs_df):
    from pivot_spark.operators.neardup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(docs_df.filter(F.col("text") != ""), threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}
    j = out[0]["jaccard"]
    assert 0.5 <= j < 1.0


def test_ngram_jaccard_max_comparisons_guard(docs_df):
    """max_comparisons fail-fast: a tiny bound raises with the measured
    volume; a generous bound returns the same pairs as the default-off
    path (the probe must not perturb results)."""
    import pytest as _pytest

    from pivot_spark.operators.neardup import ngram_jaccard_pairs

    docs = docs_df.filter(F.col("text") != "")
    with _pytest.raises(ValueError, match="candidate pairs"):
        ngram_jaccard_pairs(docs, threshold=0.5, max_comparisons=0)
    out = ngram_jaccard_pairs(docs, threshold=0.5, max_comparisons=10**8).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}


def test_verify_join_broadcasts_only_under_budget(spark):
    """The exact-verify join broadcasts the id->payload map while its
    estimate (8 B per element + 48 B per row) is within the 256 MiB
    budget and shuffles one element past it — sized in BYTES, so 40
    documents with millions of shingles are not broadcast. Spark's own
    size-based broadcast is off here, so only the hint can broadcast."""
    from pivot_spark.operators import neardup as nd

    cand = spark.createDataFrame([(1, 2)], "__ida long, __idb long")
    payload = spark.createDataFrame(
        [(1, [1, 2]), (2, [2, 3])], "__id long, __hs array<long>"
    )
    rows = 40
    elems = (nd._VERIFY_BROADCAST_BYTES - 48 * rows) // 8

    def plan(n):
        out = nd._verify_join(cand, payload, rows, n)
        return out._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert plan(elems).count("BroadcastHashJoin") == 2
        assert "Broadcast" not in plan(elems + 1)
    finally:
        spark.conf.set(key, prev)


def test_ngram_jaccard_build_runs_only_its_fences(spark, docs_df):
    """Building ngram_jaccard_pairs submits only its two fence
    aggregates (shingle sets, prefix tokens) — 8 jobs, since adaptive
    execution runs each query stage as a job — and every one carries
    the operator's label as its job description, so an event log
    charges the fences to the operator. The verify join's size estimate
    rides on the first fence instead of a probe job of its own. The
    caller's job group and description are in place after the call."""
    from pivot_spark.operators.neardup import ngram_jaccard_pairs

    sc = spark.sparkContext
    docs = docs_df.filter(F.col("text") != "")
    group = "test_ngram_jaccard_build"
    sc.setJobGroup(group, "caller description")
    try:
        out = ngram_jaccard_pairs(docs, threshold=0.5)
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    store = sc._jsc.sc().statusStore()
    labels = [store.job(j).description() for j in jobs]
    labels = {d.get() if d.isDefined() else None for d in labels}
    assert len(jobs) == 8 and labels == {"neardup.ngram_jaccard_pairs"}, (
        len(jobs),
        labels,
    )
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2)}


def test_simhash_neardup(docs_df):
    from pivot_spark.operators.neardup import neardup_simhash, simhash

    sigs = {
        r["doc_id"]: r["s"]
        for r in docs_df.filter(F.col("text") != "")
        .select("doc_id", simhash(F.col("text")).alias("s"))
        .collect()
    }
    assert all(isinstance(v, int) for v in sigs.values())
    out = neardup_simhash(docs_df.filter(F.col("text") != ""), max_hamming=7).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs


@pytest.fixture(scope="module")
def vec_df(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # planted near-duplicate of vector 0
    base = rows[0][1]
    rows.append((100, [v + 0.01 for v in base]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_cosine_topk_exact(vec_df):
    from pivot_spark.operators.similarity import cosine_topk

    q = vec_df.filter(F.col("vec_id") == 0)
    out = cosine_topk(vec_df, q, k=3).collect()
    assert len(out) == 3
    assert out[0]["neighbor_id"] == 100 and out[0]["rank"] == 1
    assert out[0]["cos"] > 0.999
    # ranks are ordered by descending cosine
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["cos"] >= out[1]["cos"] >= out[2]["cos"]


def test_cosine_topk_lsh_recall_of_planted_dup(vec_df):
    from pivot_spark.operators.similarity import cosine_topk_lsh

    q = vec_df.filter(F.col("vec_id") == 0)
    out = cosine_topk_lsh(vec_df, q, k=3, dim=16, n_planes=8, n_tables=6).collect()
    assert out and out[0]["neighbor_id"] == 100  # near-identical vector always shares buckets


def test_embedding_neardup_exact_and_lsh(vec_df):
    from pivot_spark.operators.neardup import neardup_embedding_cosine

    exact = neardup_embedding_cosine(vec_df, threshold=0.99, exact=True, dim=16).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(0, 100)}
    approx = neardup_embedding_cosine(
        vec_df, threshold=0.99, exact=False, dim=16, n_planes=8, n_tables=6
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in approx} == {(0, 100)}


def test_multimodal_plumbing(spark):
    from pivot_spark.operators import multimodal as M

    df = spark.createDataFrame([(1, 32, 16, b"pixeldata"), (2, 8, 8, b"xy")], ["id", "w", "h", "payload"])
    imgs = df.select(
        "id", M.make_fake_image(F.col("w"), F.col("h"), F.col("payload")).alias("image")
    )
    decoded = M.decode_image(imgs, "image").collect()
    by_id = {r["id"]: r["meta"] for r in decoded}
    assert by_id[1]["width"] == 32 and by_id[1]["height"] == 16
    assert by_id[1]["format"] == "fimg" and by_id[1]["n_bytes"] == 12 + 9
    assert by_id[2]["width"] == 8

    resized = M.resize_stub(imgs, "image", 4, 4)
    meta2 = {r["id"]: r["meta"] for r in M.decode_image(resized, "image").collect()}
    assert meta2[1]["width"] == 4 and meta2[1]["height"] == 4

    frames = M.frame_sample_stub(imgs.filter(F.col("id") == 1), "image", every_n=3).collect()
    assert [r["frame_idx"] for r in frames] == [0, 3, 6]
    assert frames[0]["frame"] == b"p"


def test_decode_image_real_builtin_png_and_graceful_unknown(spark):
    """decode_image_real's built-in leg: a genuine zlib-compressed PNG
    decodes with no third-party dependency; bytes no available decoder
    accepts (JPEG magic without Pillow, plain garbage, NULL) yield
    NULL meta instead of raising."""
    import random

    from pyspark.sql import functions as F

    from pivot_spark.operators.codecs import make_png_deflate
    from pivot_spark.operators.multimodal import decode_image_real

    rnd = random.Random(5)
    payload = bytes(rnd.randrange(256) for _ in range(4 * 3 * 3))
    src = spark.createDataFrame([(1, payload)], "id long, p binary")
    png = src.select(
        "id", make_png_deflate(4, 3, F.col("p")).alias("image")
    )
    rest = spark.createDataFrame(
        [(2, b"\xff\xd8\xff\xe0 fake jpeg header"), (3, b"x"), (4, None)],
        "id long, image binary",
    )
    got = {
        r["id"]: r["meta"]
        for r in decode_image_real(png.unionByName(rest)).collect()
    }
    assert got[1]["width"] == 4 and got[1]["height"] == 3
    assert got[1]["format"] == "png"
    try:
        import PIL  # noqa: F401
    except ImportError:
        assert got[2] is None  # Pillow absent: NULL meta, no exception
    assert got[3] is None and got[4] is None


def test_skewness_kurtosis_pivot(spark, sales_df):
    from pivot_spark import PivotConfig, pivot

    cfg = PivotConfig(
        pivot_columns="Quarter=Q1,Q2",
        pivot_rows="Product",
        aggregates="sk:skewness(Sales),ku:kurtosis(Sales)",
    )
    out = pivot(sales_df, cfg).output
    assert dict(out.dtypes)["Q1_sk"] == "double"
    row = {r["Product"]: r for r in out.collect()}
    # single-value cells: moments degenerate -> NaN/null, never crash
    assert "Shoes" in row


def test_select_extreme(spark, sales_df):
    from pivot_spark.operators.select_extreme import select_extreme

    top = select_extreme(sales_df, ["Quarter"], "Sales", mode="max")
    got = {r["Quarter"]: (r["Product"], r["Sales"]) for r in top.collect()}
    assert got["Q1"] == ("Shirts", 60)
    low = select_extreme(sales_df, ["Quarter"], "Sales", mode="min")
    assert low.count() == top.count()
    import pytest as _pt

    with _pt.raises(ValueError):
        select_extreme(sales_df, ["Quarter"], "Sales", mode="median")


def test_ivf_full_probe_equals_bruteforce(spark, vec_df):
    from pivot_spark.operators.ivf import cosine_topk_ivf
    from pivot_spark.operators.similarity import cosine_topk

    q = vec_df.filter(F.col("vec_id") <= 2)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(vec_df, q, k=2).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_ivf(
            vec_df, q, k=2, n_clusters=4, nprobe=4
        ).collect()
    }
    assert ivf == exact


def test_ivf_partial_probe_subset(spark, vec_df):
    from pivot_spark.operators.ivf import cosine_topk_ivf

    q = vec_df.filter(F.col("vec_id") <= 2)
    out = cosine_topk_ivf(vec_df, q, k=2, n_clusters=4, nprobe=1).collect()
    # partial probing returns <= k deterministic rows per query
    assert all(r["rank"] in (1, 2) for r in out)
    assert len(out) <= 6


def test_count_distinct_skewed(spark):
    from pivot_spark.operators.skew import count_distinct_skewed

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 5), ("b", None)],
        "k string, v int",
    )
    out = {r["k"]: r["n_distinct"] for r in count_distinct_skewed(df, ["k"], "v").collect()}
    # NULL is ignored, matching F.count_distinct semantics
    assert out == {"a": 2, "b": 1}
    exact = {
        r["k"]: r["cd"]
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("cd")).collect()
    }
    assert out == exact


def test_salted_join_matches_plain(spark):
    from pivot_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w")], "k int, payload string"
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    plain = {tuple(r) for r in fact.join(dim, "k").select("k", "payload", "name").collect()}
    salted = {tuple(r) for r in salted_join(fact, dim, "k", salt=4).collect()}
    assert salted == plain
    # row counts preserved under replication (no dup joins)
    assert salted_join(fact, dim, "k", salt=8).count() == fact.join(dim, "k").count()
    # right/full outer would emit salt-fold duplicates of unmatched dim rows
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(fact, dim, "k", salt=4, how="right")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(fact, dim, "k", salt=4, how="full")


def test_gemm_guard_refuses_oversized_corpus(vec_df):
    from pivot_spark.operators.neardup import neardup_embedding_cosine

    with pytest.raises(ValueError, match="exact_max_rows"):
        neardup_embedding_cosine(
            vec_df, threshold=0.99, exact=True, dim=16, exact_max_rows=10
        )


def test_bpe_pretokenizer(spark):
    from pivot_spark.functions.text import bpe_pretoken_count, bpe_pretokens

    df = spark.createDataFrame(
        [("Hello world, it's 2024!",), ("",), ("  spaced  out  ",)], "text string"
    )
    rows = df.select(
        bpe_pretokens(F.col("text")).alias("toks"),
        bpe_pretoken_count(F.col("text")).alias("n"),
    ).collect()
    # GPT-2 segmentation: ["Hello", " world", ",", " it", "'s", " 2024", "!"]
    assert rows[0]["toks"] == ["Hello", " world", ",", " it", "'s", " 2024", "!"]
    assert rows[0]["n"] == 7
    assert rows[1]["n"] == 0
    assert rows[2]["n"] == sum(1 for _ in rows[2]["toks"])


def test_winnow_fingerprints(spark):
    from pivot_spark.functions.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),    # identical
        (3, "PREFIX then the quick brown fox jumps over the lazy dog"),  # shifted
        (4, "completely different words entirely here"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    fps = {
        r["id"]: set(r["fp"])
        for r in df.select("id", winnow_fingerprints(F.col("text")).alias("fp")).collect()
    }
    assert fps[1] == fps[2]
    overlap_shifted = len(fps[1] & fps[3]) / len(fps[1])
    overlap_diff = len(fps[1] & fps[4]) / len(fps[1])
    assert overlap_shifted > 0.8        # shared run survives the shift
    assert overlap_diff < 0.2


def test_simhash_md5_60_matches_brute_force(docs_df):
    """The md5_60 block join finds exactly the all-pairs hamming<=k set
    (block candidates are a guaranteed superset; verify filters)."""
    from pivot_spark.operators.neardup import hamming64, neardup_simhash, simhash_df

    import itertools

    base = docs_df.filter(F.col("text") != "")
    sigs = {
        r["__id"]: r["__sig"]
        for r in simhash_df(base, "doc_id", "text", 60, 2, "md5_60").collect()
    }
    assert all(0 <= v < (1 << 60) for v in sigs.values())
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in neardup_simhash(
            base, max_hamming=7, num_bits=60, base_hash="md5_60"
        ).collect()
    }
    assert got == brute


def test_simhash_md5_60_validation(docs_df):
    from pivot_spark.operators.neardup import simhash_df

    import pytest as _pt

    with _pt.raises(ValueError):
        simhash_df(docs_df, "doc_id", "text", 64, 2, "md5_60")
    with _pt.raises(ValueError):
        simhash_df(docs_df, "doc_id", "text", 60, 2, "nope")


def test_semantic_decontaminate(spark):
    from pivot_spark.operators.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),     # parallel to bench 100 -> cos 1.0, contaminated
            (2, [1.0, 1.0]),     # cos ~0.7071 to both -> tie -> match_id 100
            (3, [-1.0, 0.0]),    # cos -1 / 0 -> best is bench 101 at 0.0
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, bench, threshold=0.99).collect()
    }
    assert out[1].contaminated is True and out[1].match_id == 100
    assert out[1].max_sim == pytest.approx(1.0)
    assert out[2].match_id == 100  # tie broken by ascending bench id
    assert out[2].max_sim == pytest.approx(2 ** -0.5)
    assert out[2].contaminated is False
    assert out[3].match_id == 101 and out[3].max_sim == pytest.approx(0.0)


def test_semantic_decontaminate_guards(spark):
    from pivot_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = corpus.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(corpus, empty)
    with pytest.raises(ValueError, match="bench_max_rows"):
        semantic_decontaminate(corpus, corpus, bench_max_rows=0)


def test_keyword_contexts(spark):
    from pivot_spark.operators.tfidf import keyword_contexts

    docs = spark.createDataFrame(
        [
            (1, "a b KEY c d"),
            (2, "KEY x y z KEY"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    out = keyword_contexts(docs, ["KEY"], window=2).collect()
    rows = {(r.doc_id, r.pos): r for r in out}
    assert rows[(1, 3)].context == "a b KEY c d"
    assert rows[(2, 1)].context == "KEY x y"      # left edge clamped
    assert rows[(2, 5)].context == "y z KEY"      # right edge clamped
    assert (3, 1) not in rows and len(out) == 3
    assert all(r.keyword == "KEY" for r in out)


def test_keyword_contexts_max_hits(spark):
    from pivot_spark.operators.tfidf import keyword_contexts

    docs = spark.createDataFrame(
        [(1, "k k k k k")], "doc_id long, text string"
    )
    out = keyword_contexts(docs, ["k"], window=1, max_hits_per_doc=2).collect()
    assert sorted(r.pos for r in out) == [1, 2]  # first-N by position


def test_keyword_contexts_validates(spark):
    from pivot_spark.operators.tfidf import keyword_contexts

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        keyword_contexts(docs, [])
    with pytest.raises(ValueError):
        keyword_contexts(docs, ["x"], window=-1)
    with pytest.raises(ValueError):
        keyword_contexts(docs, ["x"], max_hits_per_doc=0)
