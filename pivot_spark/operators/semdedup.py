"""SemDeDup — semantic deduplication via within-cluster cosine pruning
(public method: Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication").

The whole point of the method is scale: the O(n^2) pairwise cosine is
confined to k-means clusters, so the candidate-pair count is
sum(|cluster|^2) instead of n^2 — clusters are the blocking unit, the
same role LSH bands play for MinHash.

One physical plan: one ``applyInPandas`` pass grouped by cluster —
each task normalizes its cluster block once and computes the
within-cluster similarity matrix as a single numpy GEMM (the paper's
own formulation). Data transfer is each vector ONCE (not once per
pair), compute is vectorized; memory is O(|cluster|^2) doubles per
task, which is exactly the quantity the method already bounds by
choosing k (production runs use tens of thousands of clusters, the
paper uses 50k; with ``centers=None`` k grows with n). Measured ~5x
over a cluster equi-join with a per-pair interpreted dot product at
5k x 64-dim, k=8.

Determinism (the paper drops a random/farthest member per pair; we
declare an engine-portable rule): a row is DROPPED iff some
smaller-``id_col`` row in the same cluster has cosine similarity
>= ``eps`` with it. Keep-min-id is replayable by any engine and stable
under re-partitioning.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators.kmeans import assign_clusters
from pivot_spark.operators.similarity import _unit_rows


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers: "Sequence[Sequence[float]] | None" = None,
    eps: float = 0.95,
    cluster_col: str = "cluster",
    keep_col: str = "keep",
    target_cluster_size: int = 2000,
    fit_iters: int = 2,
) -> DataFrame:
    """Returns one row per input row: ``id_col``, ``cluster`` (nearest
    centroid, deterministic tie-break) and ``keep`` (False iff a
    smaller-id same-cluster row is cosine-similar >= ``eps``).

    ``centers`` typically comes from ``kmeans_fit`` — any centroid list
    works (the method's guarantees are per-cluster, not global). When
    ``centers`` is None, a k-means is fit internally with
    ``k = max(8, n // target_cluster_size)`` — k MUST scale with n or
    the per-cluster O(|cluster|^2) degenerates back to O(n^2/k_fixed)
    at corpus growth; scaling k holds expected cluster size (and so
    per-task pair work) constant. See the module docstring for the
    per-cluster GEMM.
    """
    if centers is None:
        if target_cluster_size <= 0:
            raise ValueError("target_cluster_size must be positive")
        from pivot_spark.operators.kmeans import kmeans_fit

        n = df.filter(F.col(vec_col).isNotNull()).count()
        k = max(8, n // target_cluster_size)
        centers = kmeans_fit(df, vec_col, int(min(k, n)), fit_iters, id_col)
    assigned = assign_clusters(
        df.select(id_col, vec_col), vec_col, centers, cluster_col, dist_col=None
    )

    thin = assigned.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__c"),
        F.col(vec_col).alias("__v"),
    )
    id_type = df.schema[id_col].dataType
    out_schema = f"__id {id_type.simpleString()}"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].values
        order = np.argsort(ids)
        V = _unit_rows(np.stack(pdf["__v"].values[order]).astype("float64"))
        S = V @ V.T
        # dropped: any strictly-earlier (smaller-id) row >= eps
        drop = np.triu(S >= eps, k=1).any(axis=0)
        return pd.DataFrame({"__id": ids[order][drop]})

    dropped = thin.groupBy("__c").applyInPandas(prune, out_schema)
    dropped = dropped.select(F.col("__id").alias(id_col))

    flag = dropped.withColumn("__dropped", F.lit(True))
    out = (
        assigned.join(F.broadcast(flag), id_col, "left")
        .withColumn(keep_col, F.col("__dropped").isNull())
        .select(id_col, cluster_col, keep_col)
    )
    return out
