"""Product-quantization ANN (PQ / IVF-PQ): compress vectors to m 1-byte
codes and score queries against the codes with asymmetric distance
computation (ADC) — the classic memory-bound ANN scale path (Jegou,
Douze, Schmid, "Product quantization for nearest neighbor search",
TPAMI 2011; FAISS IVFPQ).

Why this matters at 100 TB: a 1024-dim float32 embedding is 4 KB; its
m=64 PQ code is 64 bytes — a 64x smaller scan. The scored pass reads
ONLY (id, codes); full vectors are touched again just for the optional
exact rerank of the few surviving candidates.

Spark shape (all scan-stage until the final bounded top-k):
* train: driver-side numpy k-means per subspace on a bounded sample —
  codebooks are (m, ksub, dsub), a few KB, broadcast;
* encode: one ``mapInPandas`` pass — per subspace a (batch, ksub) GEMM
  argmin; output is ``array<tinyint-ish>`` codes (no shuffle);
* search: queries are collected (at most 100 000 rows), their ADC
  lookup tables T[q] = q_sub . codebook_sub^T precomputed driver-side
  and broadcast; one ``mapInPandas`` pass over the encoded corpus does
  ``T[q][arange(m), codes].sum()`` per (query, row) and keeps a local
  top-k per batch, then a global groupBy(query) top-k merges bounded
  state (k x partitions rows, same two-level shape as
  ``similarity.cosine_topk``);
* rerank (optional): surviving candidate ids join back to full vectors
  for exact cosine — candidates are k' x |queries| rows, broadcast side.

Vectors are L2-normalized at train/encode/search time, so the ADC inner
product approximates cosine directly and ranking parity with
``cosine_topk`` holds in the exact-rerank configuration.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.operators import similarity
from pivot_spark.operators.similarity import (
    _batch_topk,
    _broadcast_rows,
    _merge_topk,
    _unit_rows,
    cosine_pd,
)


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 10_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Fit per-subspace codebooks; returns array (m, ksub, d//m).

    Driver-side Lloyd per subspace on a bounded deterministic sample
    (same contract as ``ivf.ivf_index`` — swap the ``limit`` for
    ``sample(fraction, seed)`` at scale). d must be divisible by m.
    """
    sample = corpus.select(vec_col).limit(train_sample).toPandas()
    M = _unit_rows(np.stack(sample[vec_col].values).astype("float64"))
    d = M.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = M[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(iters):
            # (n, ksub) squared L2 via the expansion; argmin per row
            d2 = (
                (S * S).sum(1, keepdims=True)
                - 2.0 * (S @ C.T)
                + (C * C).sum(1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
        if len(C) < ksub:  # tiny sample: pad with copies, never selected twice
            books[j, len(C) :] = C[0]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, codes array<smallint>[, vec]) — one scan-stage Arrow pass."""
    m, ksub, dsub = codebooks.shape
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    fields = [
        T.StructField("__id", corpus.schema[id_col].dataType),
        T.StructField("__codes", T.ArrayType(T.ShortType())),
    ]
    cols = [F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")]
    if keep_vec:
        fields.append(T.StructField("__vec", corpus.schema[vec_col].dataType))
    base = corpus.select(*cols)

    def encode(batches):
        B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _unit_rows(np.stack(pdf["__vec"].values).astype("float64"))
            codes = np.empty((len(A), m), dtype="int16")
            for j in range(m):
                S = A[:, j * dsub : (j + 1) * dsub]
                C = B[j]
                d2 = -2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
                codes[:, j] = np.argmin(d2, axis=1)
            out = {"__id": pdf["__id"], "__codes": list(codes)}
            if keep_vec:
                out["__vec"] = pdf["__vec"]
            yield pd.DataFrame(out)

    return base.mapInPandas(encode, schema=T.StructType(fields))


def pq_search(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc, rank) by approximate
    cosine (inner product of normalized vectors). Bounded two-level
    top-k; the corpus scan reads only (id, codes). A zero query vector
    scores adc 0 with every row. Past 100 000 query rows it raises."""
    m, ksub, dsub = codebooks.shape
    spark = encoded.sparkSession
    qids, Q = _broadcast_rows(
        queries,
        id_col,
        vec_col,
        similarity._QUERY_MAX_ROWS,
        f"pq_search ships the ADC tables of every query to every task; "
        f"query set exceeds {similarity._QUERY_MAX_ROWS} rows.",
    )
    # ADC tables: tables[q, j, c] = q_sub(j) . codebook[j, c]
    tables = np.empty((len(Q), m, ksub))
    for j in range(m):
        tables[:, j, :] = Q[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T
    bc = spark.sparkContext.broadcast((tables, qids))
    q_type = queries.schema[id_col].dataType

    out_schema = T.StructType(
        [
            T.StructField("__qid", q_type),
            T.StructField("__cid", encoded.schema["__id"].dataType),
            T.StructField("__score", T.DoubleType()),
        ]
    )

    def score(batches):
        Tq, ids = bc.value
        arange_m = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["__codes"].values).astype("int64")  # (n, m)
            # sims[q, n] = sum_j Tq[q, j, codes[n, j]]
            sims = Tq[:, arange_m, codes].sum(axis=2)  # (nq, n)
            yield _batch_topk(sims, ids, pdf["__id"].to_numpy(), k)

    local = encoded.select("__id", "__codes").mapInPandas(score, out_schema)
    return _merge_topk(local, k, "adc")


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    ksub: int = 16,
    rerank: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """One-shot PQ ANN. With ``rerank=r`` the ADC pass keeps r candidates
    per query and the final top-k is EXACT cosine over those candidates
    (vectors joined back, candidate side broadcast). ``rerank`` >= corpus
    size degrades to brute force — the hash-checkable correctness anchor
    (same role as ``ivf`` full-probe). A zero vector scores cos 0."""
    books = pq_train(
        corpus, vec_col=vec_col, m=m, ksub=ksub, seed=seed
    )
    encoded = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
    if rerank is None:
        return pq_search(encoded, books, queries, k, id_col=id_col, vec_col=vec_col)

    cand = pq_search(
        encoded, books, queries, max(rerank, k), id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vec")
    )
    # candidates are k' x |queries| rows -> broadcast; corpus scanned once
    scored = (
        base.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            F.col("query_id").alias("__qid"),
            F.col("neighbor_id").alias("__cid"),
            cosine_pd(F.col("__qvec"), F.col("__vec")).alias("__score"),
        )
    )
    return _merge_topk(scored, k)
