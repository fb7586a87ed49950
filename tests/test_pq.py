"""Product-quantization ANN (operators/pq.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.pq import (
    cosine_topk_pq,
    pq_encode,
    pq_search,
    pq_train,
)
from pivot_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    # 6 well-separated cluster directions in 16-d
    centers = rng.randn(6, 16) * 4
    rows = []
    for i in range(300):
        v = centers[i % 6] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<float>"
    ).cache()


def test_train_encode_shapes(emb):
    books = pq_train(emb, m=4, ksub=8, train_sample=300, seed=1)
    assert books.shape == (4, 8, 4)
    enc = pq_encode(emb, books)
    row = enc.first()
    assert len(row["__codes"]) == 4
    assert all(0 <= c < 8 for c in row["__codes"])
    assert enc.count() == 300


def test_adc_retrieves_query_cluster(emb):
    # coarse PQ collapses each tight cluster to one code word: every ADC
    # hit must come from the query's own cluster (vec_id % 6)
    q = emb.filter(F.col("vec_id") < 5)
    approx = cosine_topk_pq(emb, q, k=10, m=4, ksub=8, seed=1)
    rows = approx.collect()
    assert len(rows) == 50
    assert all(r["neighbor_id"] % 6 == r["query_id"] % 6 for r in rows)


def test_rerank_recovers_exact_ranking(emb):
    # ADC candidates (one full cluster, ~50 rows) + exact rerank ->
    # near-perfect recall@10
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=10)
    approx = cosine_topk_pq(emb, q, k=10, m=4, ksub=8, rerank=60, seed=1)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, recall


def test_rerank_all_equals_brute_force(emb):
    """rerank >= corpus size: exact parity with cosine_topk including
    tie-breaks — the correctness-anchor configuration."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    anchored = cosine_topk_pq(emb, q, k=5, m=4, ksub=8, rerank=400, seed=1)
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cos"], 9))
         for r in exact.collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cos"], 9))
         for r in anchored.collect()}
    assert a == b


def test_self_excluded(emb):
    q = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk_pq(emb, q, k=5, m=4, ksub=8, seed=1)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_dim_not_divisible_raises(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=5, ksub=8)


def test_adc_topk_is_a_prefix_of_the_full_ranking(emb):
    """Tight clusters share code words, so ADC scores tie across a
    cluster: the local top-k must still cut by (adc desc, id asc), so
    the top 10 equal the first 10 ranks of the full ranking."""
    books = pq_train(emb, m=4, ksub=8, train_sample=300, seed=1)
    enc = pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 5)

    def ranked(k):
        return {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in pq_search(enc, books, q, k).collect()
        }

    full = ranked(300)
    assert ranked(10) == {key: v for key, v in full.items() if key[1] <= 10}


def test_batch_topk_matches_a_full_sort_on_ties():
    from pivot_spark.operators.similarity import _batch_topk

    rng = np.random.RandomState(0)
    for _ in range(200):
        n, nq = rng.randint(2, 40), rng.randint(1, 4)
        k = rng.randint(1, n + 2)
        S = rng.randint(0, 3, size=(nq, n)).astype("float64")
        cids = rng.permutation(n).astype("int64")
        qids = cids[:nq]
        got = _batch_topk(S, qids, cids, k)
        for i, qid in enumerate(qids):
            keep = cids != qid
            ref = np.lexsort((cids[keep], -S[i, keep]))[:k]
            mine = got[got["__qid"] == qid]
            assert mine["__cid"].tolist() == cids[keep][ref].tolist()
            assert mine["__score"].tolist() == S[i, keep][ref].tolist()
