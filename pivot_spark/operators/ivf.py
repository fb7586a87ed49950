"""IVF (inverted-file) approximate nearest-neighbor search: k-means
coarse quantizer + per-cluster inverted lists — the other classic ANN
scale path next to SRP-LSH (``similarity.cosine_topk_lsh``).

Public-knowledge design (IVF-Flat as in the FAISS paper, Johnson et al.
2017, and every vector DB): train centroids on a sample, assign each
corpus vector to its nearest centroid, and at query time score only the
``nprobe`` closest clusters' lists.

Spark shape:
* train: driver-side numpy Lloyd iterations on a bounded sample
  (deterministic seed) — centroids are tiny and broadcast;
* assign: one ``mapInPandas`` GEMM pass over the corpus (scan-stage, no
  shuffle); the assignment column is a plain int — at 100 TB the
  assigned corpus would be written bucketed/partitioned by cluster so
  query-time cluster pruning becomes partition pruning;
* search: queries join only their ``nprobe`` cluster ids (broadcast),
  exact cosine within the probed lists, two-level bounded top-k.

Recall is tunable via (n_clusters, nprobe); nprobe = n_clusters is
exact brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.operators import similarity
from pivot_spark.operators.similarity import _broadcast_rows, _merge_topk, _unit_rows, cosine_pd


def _kmeans_fit(M: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain Lloyd on L2-normalized rows (spherical k-means): cosine
    assignment == dot product against normalized centroids."""
    rng = np.random.RandomState(seed)
    M = _unit_rows(M)
    C = M[rng.choice(len(M), size=min(k, len(M)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(M @ C.T, axis=1)
        for j in range(len(C)):
            members = M[assign == j]
            if len(members):
                C[j] = members.sum(axis=0)
        C = _unit_rows(C)
    return C


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    train_sample: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> "tuple[DataFrame, np.ndarray]":
    """Returns (assigned corpus with ``__cluster`` int column, centroids).

    Training sample is a deterministic limit — at scale swap for
    ``df.sample(fraction, seed)``; the assignment pass is the only
    full-corpus work and it is scan-stage (no shuffle).
    """
    sample = corpus.select(vec_col).limit(train_sample).toPandas()
    M = np.stack(sample[vec_col].values).astype("float64")
    C = _kmeans_fit(M, n_clusters, iters, seed)
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    id_type = corpus.schema[id_col].dataType
    vec_type = corpus.schema[vec_col].dataType
    schema = T.StructType(
        [
            T.StructField("__id", id_type),
            T.StructField("__vec", vec_type),
            T.StructField("__cluster", T.IntegerType()),
        ]
    )
    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))

    def assign(batches):
        Cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _unit_rows(np.stack(pdf["__vec"].values).astype("float64"))
            cl = np.argmax(A @ Cb.T, axis=1).astype("int32")
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__vec": pdf["__vec"], "__cluster": cl}
            )

    return base.mapInPandas(assign, schema=schema), C


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank): top-k within the ``nprobe``
    nearest clusters of each query. Query side (ids + probed clusters)
    is broadcast; the corpus is scanned once, pruned to probed lists.
    A zero vector scores cos 0. Past 100 000 query rows it raises."""
    spark = assigned.sparkSession
    qids, Q = _broadcast_rows(
        queries,
        id_col,
        vec_col,
        similarity._QUERY_MAX_ROWS,
        f"ivf_search ships the query probes to every task; query set "
        f"exceeds {similarity._QUERY_MAX_ROWS} rows.",
    )
    order = np.argsort(-(Q @ centroids.T), axis=1)[:, :nprobe]
    probes = spark.createDataFrame(
        list(zip(np.repeat(qids, order.shape[1]).tolist(), order.ravel().tolist())),
        T.StructType(
            [
                T.StructField("__qid", queries.schema[id_col].dataType),
                T.StructField("__cluster", T.IntegerType()),
            ]
        ),
    )
    # the probed queries carry their vectors back from ``queries``
    qside = queries.select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).join(F.broadcast(probes), "__qid")
    cand = assigned.join(
        F.broadcast(qside),
        on=[
            assigned["__cluster"] == qside["__cluster"],
            assigned["__id"] != qside["__qid"],
        ],
    ).select(
        "__qid",
        F.col("__id").alias("__cid"),
        cosine_pd(F.col("__qvec"), F.col("__vec")).alias("__score"),
    )
    return _merge_topk(cand, k)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF ANN: index + search."""
    assigned, C = ivf_index(
        corpus, id_col, vec_col, n_clusters=n_clusters, seed=seed
    )
    return ivf_search(
        assigned, C, queries, k, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
