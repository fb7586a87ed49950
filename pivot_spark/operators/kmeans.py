"""Distributed Lloyd k-means over an embedding column — the classic
iterative algorithm done Spark-first.

Per iteration the data NEVER leaves the executors:

1. **Assign** (scan stage, zero shuffle): the k current centroids are
   embedded in the plan as literal arrays; squared-L2 distance to each is
   a ``zip_with`` + ``aggregate`` fold (pure Catalyst, codegen'd), and
   the argmin is ``array_min`` over ``struct(dist, cid)`` structs —
   lexicographic struct comparison gives deterministic smallest-cid
   tie-breaking. Above 16 centers the assignment is one numpy GEMM
   per Arrow batch instead (``assign_clusters``).
2. **Update** (one shuffle of k x dim scalars): new centroids via the
   ``centroids`` operator (posexplode -> per-(cluster, position) partial
   SUM/COUNT with map-side combine). Only the k x dim mean vector — a
   few KB — is collected to the driver to build the next iteration's
   literals.

At 100 TB each iteration is therefore one corpus scan plus a shuffle
whose size depends only on k x dim, not on the row count. The driver
round-trip per iteration is the standard Lloyd synchronization point
(same structure as Spark MLlib's KMeans, which also broadcasts centers
each step). k x dim literals in the plan bound practical k to a few
thousand — beyond that, switch the assign step to a broadcast-join
against a centroid table plus a groupBy argmin.

Determinism: seeded-free init = the vectors of the k smallest
``id_col`` values (explicit, engine-portable — reproducible on any
partitioning, unlike sample-based init). Empty clusters keep their
previous centroid.

The reference repo has no ML surface; this is north-star extension
scope (SURVEY.md §2.4 E54).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators.embedding import centroids as _group_centroids
from pivot_spark.operators.embedding import lit_double_array as _lit_double_array


def sq_dist_to(vec: Column, centroid: Sequence[float]) -> Column:
    """Squared L2 distance from an array<numeric> column to a constant
    centroid: left-to-right fold of (x_i - c_i)^2 — the exact
    association order is part of the declared semantics (oracles replay
    it term by term)."""
    c = _lit_double_array(centroid)
    diffs = F.zip_with(
        vec,
        c,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)


# past this many centers the per-center interpreted fold (higher-order
# lambdas don't codegen) switches to one numpy GEMM per Arrow batch
_GEMM_K_THRESHOLD = 16


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centers: Sequence[Sequence[float]],
    cluster_col: str = "cluster",
    dist_col: Optional[str] = "dist_sq",
) -> DataFrame:
    """Append the argmin-centroid id (INT) and optionally the squared
    distance. Ties break to the smallest centroid id (struct min /
    first-argmin).

    The center count picks the implementation: up to
    ``_GEMM_K_THRESHOLD`` (16) centers, ``_assign_clusters_fold`` — the
    pure-Catalyst fold (k struct distances + ``array_min``, exact
    left-to-right association order, the form the e54/e57 oracles
    replay term by term); above it, ``_assign_clusters_gemm`` — one
    numpy GEMM per Arrow batch (``|x|^2 - 2 x.C^T + |c|^2``). The
    fold's cost is k INTERPRETED folds per row (higher-order lambdas
    never reach codegen), so at the k = n/2000 scaling a growing corpus
    demands it degenerates from "slow" to "stuck" (measured: k=100 over
    200k vectors never finished; the GEMM path is seconds).

    Agreement: the expanded form suffers catastrophic cancellation
    near zero distance (absolute error ~eps * (|x|^2 + |c|^2), so two
    centers within that band — NOT just exact ties — could swap argmin;
    SemDeDup's centers ARE corpus vectors, so true-zero distances are
    the common case there, not the corner). The GEMM path therefore
    REFINES every near-tie: candidates within an |x|^2- and
    |c|^2-scaled error band of the batch minimum are recomputed with
    the exact left-to-right (x_i-c_i)^2 fold — the same association
    order as the fold path — and the winner (smallest-cid on true
    ties) plus its distance come from that exact recompute. Rows whose
    minimum is uncontested keep the (clamped) GEMM distance, which
    differs from the fold only in the last ulp."""
    if len(centers) > _GEMM_K_THRESHOLD:
        return _assign_clusters_gemm(df, vec_col, centers, cluster_col, dist_col)
    return _assign_clusters_fold(df, vec_col, centers, cluster_col, dist_col)


def _assign_clusters_fold(
    df: DataFrame,
    vec_col: str,
    centers: Sequence[Sequence[float]],
    cluster_col: str,
    dist_col: Optional[str],
) -> DataFrame:
    """Catalyst assignment: one ``sq_dist_to`` fold per center, argmin
    by ``array_min`` over ``struct(d, cid)``."""
    cands = F.array(
        *[
            F.struct(
                sq_dist_to(F.col(vec_col), c).alias("d"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centers)
        ]
    )
    best = F.array_min(cands)
    out = df.withColumn("__best", best).withColumn(
        cluster_col, F.col("__best.cid")
    )
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__best.d"))
    return out.drop("__best")


def _assign_clusters_gemm(
    df: DataFrame,
    vec_col: str,
    centers: Sequence[Sequence[float]],
    cluster_col: str,
    dist_col: Optional[str],
) -> DataFrame:
    """Arrow ``mapInPandas`` assignment: per batch, distances to all k
    centers via one float64 GEMM. State shipped to each task is the
    k x dim center matrix (a closure constant — k = n/2000 keeps it
    megabytes even at 10^9 vectors); per-row work is O(k x dim)
    vectorized instead of k interpreted lambda folds. Null/None
    vectors — and vectors whose length differs from the center dim —
    get cluster 0 and a null distance, matching the fold path,
    where ``zip_with`` null-pads a length mismatch into a null fold
    and ``array_min`` over all-null-``d`` structs resolves to the
    first (cid 0) struct. Near-tied argmins are re-decided by an exact
    left-to-right fold (see ``assign_clusters``)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.asarray([[float(x) for x in c] for c in centers], dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    dim = C.shape[1]
    # cancellation band of the expanded form: |computed - true| is
    # O(eps * (|x|^2 + max|c|^2)); 64 eps covers the GEMM's summation
    # error growth with plenty of margin while keeping the refinement
    # set empty for any row whose winner is not genuinely contested
    _tie_eps = 64.0 * np.finfo(np.float64).eps

    def _fold_dist(x: "np.ndarray", c: "np.ndarray") -> float:
        # exact left-to-right association — the declared (oracle-
        # replayed) semantics of sq_dist_to; numpy reductions use
        # pairwise summation, which is NOT that order
        s = 0.0
        for xi, ci in zip(x, c):
            d = xi - ci
            s += d * d
        return s

    base = [
        f for f in df.schema.fields if f.name not in (cluster_col, dist_col)
    ]
    new_fields = [T.StructField(cluster_col, T.IntegerType())]
    if dist_col is not None:
        new_fields.append(T.StructField(dist_col, T.DoubleType()))
    schema = T.StructType(base + new_fields)
    names = [f.name for f in schema.fields]

    def gen(batches):
        for pdf in batches:
            pdf = pdf.copy()
            vecs = pdf[vec_col]
            # usable = non-null AND exactly center-dim long (a length
            # mismatch is the fold path's null-fold -> cluster 0 case)
            mask = np.array(
                [v is not None and len(v) == dim for v in vecs], dtype=bool
            )
            cid_out = np.zeros(len(pdf), dtype=np.int64)  # null vec -> cid 0
            dist_out: "list[float | None]" = [None] * len(pdf)
            if mask.any():
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
                )
                x_sq = (X * X).sum(axis=1)
                d = x_sq[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
                cid = d.argmin(axis=1)  # first min == smallest-cid tie-break
                dmin = d[np.arange(len(cid)), cid]
                # rows where a second center sits inside the expanded
                # form's error band of the minimum: re-decide exactly
                tol = _tie_eps * (x_sq + c_sq.max())
                contested = (d <= (dmin + tol)[:, None]).sum(axis=1) > 1
                # expansion can dip a true 0 distance to ~-1e-12: clamp
                best = np.maximum(dmin, 0.0)
                for i in np.nonzero(contested)[0]:
                    cand = np.nonzero(d[i] <= dmin[i] + tol[i])[0]
                    exact = [_fold_dist(X[i], C[j]) for j in cand]
                    w = int(np.argmin(exact))  # first min = smallest cid
                    cid[i] = cand[w]
                    best[i] = exact[w]
                cid_out[mask] = cid
                for row, val in zip(np.nonzero(mask)[0], best):
                    dist_out[row] = float(val)
            pdf[cluster_col] = cid_out.astype("int32")
            if dist_col is not None:
                pdf[dist_col] = pd.array(dist_out, dtype="float64")
            yield pdf[names]

    return df.mapInPandas(gen, schema=schema)


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    n_iter: int,
    id_col: str,
) -> list[list[float]]:
    """Run ``n_iter`` Lloyd iterations; returns the final centroid list
    (k x dim Python floats — the only data that ever reaches the
    driver). Init = vectors of the k smallest ``id_col`` values."""
    if k <= 0 or n_iter < 0:
        raise ValueError("k must be positive and n_iter non-negative")
    init_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"need >= {k} non-null vectors, got {len(init_rows)}")
    centers = [[float(x) for x in r[vec_col]] for r in init_rows]
    for _ in range(n_iter):
        assigned = assign_clusters(df, vec_col, centers, dist_col=None)
        means = _group_centroids(assigned, "cluster", vec_col).collect()
        by_cid = {r["cluster"]: [float(x) for x in r["centroid"]] for r in means}
        # empty cluster -> keep previous centroid
        centers = [by_cid.get(i, centers[i]) for i in range(k)]
    return centers


def kmeans(
    df: DataFrame,
    vec_col: str,
    k: int,
    n_iter: int,
    id_col: str,
    cluster_col: str = "cluster",
    dist_col: str = "dist_sq",
) -> DataFrame:
    """Fit + final assignment in one call: returns ``df`` with cluster
    id and squared distance to the final centroid."""
    centers = kmeans_fit(df, vec_col, k, n_iter, id_col)
    return assign_clusters(df, vec_col, centers, cluster_col, dist_col)
