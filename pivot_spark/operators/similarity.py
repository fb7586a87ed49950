"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; random-hyperplane LSH
bucketing is the approximate scale path. Bulk vector math (pairwise
cosine, SRP signatures) runs in Arrow-batched pandas UDFs — numpy matrix
ops per batch.

Every search in this module, in ``ivf`` and in ``pq`` shares one core:

* ``_broadcast_rows`` collects a side small enough to ship in a task
  closure (queries, a benchmark, the exact near-dup corpus), bounded by
  ``limit(max_rows + 1)`` so no count job runs;
* ``_unit_rows`` is the one normalization: an all-zero vector stays
  zero, so a zero vector scores cosine 0 in every search, never NaN;
* ``_batch_topk`` is the local top-k of one score block and
  ``_merge_topk`` (``topk.topk_per_group_agg``) the global one.

Scale design (100 TB corpus, small query set):
* the query side is broadcast — the corpus is scanned exactly once, no
  shuffle of corpus vectors;
* top-k uses TWO-LEVEL selection: partial top-k per (query, corpus
  batch) then final top-k per query. Per-group state is bounded by
  k × batches, never the corpus size — a plain window/row_number
  or collect_list over the full corpus per query would sort/hold N rows
  per query and die at scale;
* ties broken by corpus id ascending → fully deterministic output;
* the LSH variant prunes the corpus scan to matching signature buckets:
  candidates ∝ bucket load, recall tunable via (n_planes, n_tables).
"""

from __future__ import annotations

import random
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators.topk import topk_per_group_agg

# The most query rows ``ivf_search`` and ``pq_search`` ship to every
# task; ``cosine_topk``'s ``query_max_rows`` defaults to it.
_QUERY_MAX_ROWS = 100_000


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """The float64 rows of ``M`` scaled to unit L2 norm. An all-zero row
    stays zero, so it scores cosine 0 against everything."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return np.divide(M, n, out=np.zeros_like(M), where=n > 0)


def _broadcast_rows(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int, what: str
) -> "tuple[np.ndarray, np.ndarray]":
    """Collect the (id, vector) side that a search ships to every task:
    ``(ids, U)``, the ids as an array and the vectors as ``_unit_rows``.
    ``limit(max_rows + 1)`` bounds the collect itself (no count job);
    the one extra row only arrives when ``df`` is too big, and then
    ``ValueError(what)`` is raised. An empty ``df`` gives empty arrays."""
    pdf = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise ValueError(what)
    ids = pdf["__id"].to_numpy()
    if len(pdf) == 0:
        return ids, np.zeros((0, 0))
    return ids, _unit_rows(np.stack(pdf["__vec"].to_numpy()).astype("float64"))


def _batch_topk(
    S: np.ndarray, qids: np.ndarray, cids: np.ndarray, k: int
) -> pd.DataFrame:
    """Local top-k of one score block, ``S[i, j]`` scoring query
    ``qids[i]`` against candidate ``cids[j]``: per query the ``k`` best
    candidates by (score desc, id asc), never the query itself. Every
    candidate tied with the k-th score takes part in the id order, so
    the cut is exact. Returns (__qid, __cid, __score) rows."""
    q_out, c_out, s_out = [], [], []
    for i, qid in enumerate(qids):
        keep = cids != qid
        ids, s = cids[keep], S[i, keep]
        take = min(k, len(ids))
        if take == 0:
            continue
        kth = np.partition(s, len(s) - take)[len(s) - take]
        cand = np.flatnonzero(s >= kth)
        sel = cand[np.lexsort((ids[cand], -s[cand]))][:take]
        q_out.extend([qid] * take)
        c_out.extend(ids[sel].tolist())
        s_out.extend(s[sel].tolist())
    return pd.DataFrame({"__qid": q_out, "__cid": c_out, "__score": s_out})


def _merge_topk(scored: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """The global top-k per query over (__qid, __cid, __score) rows:
    (query_id, neighbor_id, ``score``, rank) by (score desc, id asc)."""
    return topk_per_group_agg(
        scored.select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neighbor_id"),
            F.col("__score").alias(score),
        ),
        ["query_id"],
        score,
        k,
        tie_cols=["neighbor_id"],
    )


def _cosine_pd():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.values).astype("float64")
        B = np.stack(b.values).astype("float64")
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.divide(num, den, out=np.zeros_like(num), where=den != 0))

    return cos


def cosine_pd(a: Column, b: Column, nondeterministic: bool = False) -> Column:
    """Arrow-batched pairwise cosine: one numpy pass per batch. A pair
    with a zero vector scores 0.

    ``nondeterministic=True`` marks the (pure) UDF non-deterministic as
    an optimizer fence (guide §4.4): when a threshold filter sits right
    above the projection computing the score, the pushed filter
    otherwise duplicates the UDF (two ArrowEvalPython nodes — every
    candidate pair scored twice, seen in the e12 plan). Opt-in only:
    the mark also blocks common-subexpression collapsing, so callers
    that reference the score several times in one projection must not
    set it."""
    f = _cosine_pd()
    if nondeterministic:
        f = f.asNondeterministic()
    return f(a, b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    query_max_rows: int = _QUERY_MAX_ROWS,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cos, rank) — k rows per query,
    neighbors ordered by (cos desc, neighbor_id asc); a query never
    matches itself. A zero vector scores cos 0 with everything.

    Plan: the query matrix is collected (bounded by ``query_max_rows``)
    and shipped in the ``mapInPandas`` closure; each Arrow batch of a
    corpus partition is scored against ALL queries as one float64 GEMM
    and keeps its own top-k (``_batch_topk``). Each corpus vector
    crosses the Python boundary exactly once — the previous
    broadcast-join form serialized every corpus vector once per query.
    Batch outputs are ≤ n_queries × k rows, merged by one tiny final
    aggregation: at 100 TB the corpus is scanned once, no corpus-sized
    shuffle exists, and reducer state stays k × batches.
    """
    query_id_col = query_id_col or id_col
    qids, Q = _broadcast_rows(
        queries,
        query_id_col,
        vec_col,
        query_max_rows,
        f"cosine_topk ships the query matrix to every task; query set "
        f"exceeds query_max_rows={query_max_rows}. Use the LSH/IVF "
        f"path for query sets past broadcast size.",
    )
    if len(qids) == 0:
        raise ValueError("queries is empty")

    c = corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec"))
    q_type = queries.schema[query_id_col].dataType.simpleString()
    c_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"__qid {q_type}, __cid {c_type}, __score double"

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = _unit_rows(np.stack(pdf["__cvec"].to_numpy()).astype("float64"))
            S = B @ Q.T  # (batch, n_q)
            yield _batch_topk(S.T, qids, pdf["__cid"].to_numpy(), k)

    return _merge_topk(c.mapInPandas(score_batches, schema=out_schema), k)


def _srp_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def srp_signatures_pd(
    vec: Column,
    n_planes: int,
    dim: int,
    n_tables: int,
    seed: int = 42,
    nondeterministic: bool = False,
) -> Column:
    """All ``n_tables`` SRP signatures at once as ``array<long>``: one
    (batch x dim) @ (dim x n_planes) numpy multiply per table per Arrow
    batch. Table ``t`` uses the planes ``_srp_planes(n_planes, dim,
    seed + 1000 * t)``.

    ``nondeterministic=True`` is the guide-§4.4 optimizer fence for
    callers that explode the signature array directly: the generate's
    pushed size/isnotnull filter otherwise duplicates the (pure) kernel
    — see ``word_shingles_pd`` for the full rationale."""
    from pyspark.sql.functions import pandas_udf

    def mats():
        return (
            [
                np.array(_srp_planes(n_planes, dim, seed + 1000 * t)).T
                for t in range(n_tables)
            ],
            np.left_shift(np.int64(1), np.arange(n_planes, dtype=np.int64)),
        )

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        planes, pows = mats()
        M = np.stack(v.values).astype("float64")
        per_table = [((M @ P) > 0).astype(np.int64) @ pows for P in planes]
        return pd.Series(list(np.stack(per_table, axis=1)))

    if nondeterministic:
        sigs = sigs.asNondeterministic()
    return sigs(vec)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an SRP signature with
    the query (in any of ``n_tables`` independent tables) are scored.

    At scale this replaces the full corpus scan per query with a bucket
    equi-join: corpus signatures are computed once in the scan stage, the
    join prunes to ~corpus/2^n_planes per table. Recall rises with
    n_tables and falls with n_planes; exactness is NOT guaranteed. A
    pair with a zero vector scores cos 0.
    """
    def with_sigs(df: DataFrame, idc: str) -> DataFrame:
        rows = df.select(
            F.col(idc).alias("__id"),
            F.col(vec_col).alias("__vec"),
            # nondeterministic fence: the posexplode below otherwise
            # pushes its size/isnotnull filter under this projection and
            # the signature kernel runs TWICE per row (guide §4.4)
            srp_signatures_pd(
                F.col(vec_col), n_planes, dim, n_tables, seed,
                nondeterministic=True,
            ).alias("__sigs"),
        )
        return rows.select(
            "__id", "__vec", F.posexplode("__sigs").alias("__table", "__sig")
        )

    c = with_sigs(corpus, id_col)
    q = with_sigs(queries, id_col)
    cand = (
        c.alias("c")
        .join(
            F.broadcast(q.alias("q")),
            (F.col("c.__table") == F.col("q.__table"))
            & (F.col("c.__sig") == F.col("q.__sig"))
            & (F.col("c.__id") != F.col("q.__id")),
        )
        .select(
            F.col("q.__id").alias("__qid"),
            F.col("c.__id").alias("__cid"),
            F.col("q.__vec").alias("__qvec"),
            F.col("c.__vec").alias("__cvec"),
        )
        .dropDuplicates(["__qid", "__cid"])
    )
    scored = cand.select(
        "__qid", "__cid", cosine_pd(F.col("__qvec"), F.col("__cvec")).alias("__score")
    )
    return _merge_topk(scored, k)


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: Optional[str] = None,
    bench_max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC member of the
    decontamination family (fingerprint / n-gram / Bloom screens are
    lexical and miss paraphrased benchmark leakage): every corpus vector
    is scored against the full benchmark matrix; rows whose max cosine
    >= ``threshold`` are contaminated. Returns (id_col, max_sim DOUBLE,
    match_id, contaminated BOOLEAN); ``match_id`` is the arg-max
    benchmark id, ties broken by benchmark id ascending.

    Plan: the benchmark matrix is collected (guarded by
    ``bench_max_rows``), L2-normalized ONCE, sorted by id (so numpy's
    first-hit argmax IS the ascending-id tie-break) and shipped in the
    ``mapInPandas`` closure; each corpus partition scores as one float64
    GEMM per Arrow batch and emits only (id, max, argmax). The corpus is
    scanned exactly once, nothing shuffles, output is one row per corpus
    row — the only shape that works at 100 TB, where benchmark suites
    are broadcast-small and the corpus is not. Past ``bench_max_rows``
    the guard raises toward the LSH/IVF bucketed path."""
    bench_id_col = bench_id_col or id_col
    bids, B = _broadcast_rows(
        bench,
        bench_id_col,
        vec_col,
        bench_max_rows,
        f"semantic_decontaminate ships the benchmark matrix to every "
        f"task; benchmark exceeds bench_max_rows={bench_max_rows}. Use "
        f"the LSH/IVF bucketed path for benchmark sets past broadcast "
        f"size.",
    )
    if len(bids) == 0:
        raise ValueError("bench is empty")
    order = np.argsort(bids, kind="stable")
    bids, Bn = bids[order], B[order].T

    c = corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec"))
    c_type = corpus.schema[id_col].dataType.simpleString()
    b_type = bench.schema[bench_id_col].dataType.simpleString()
    out_schema = f"__cid {c_type}, __sim double, __mid {b_type}"

    def score_partition(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Mn = _unit_rows(np.stack(pdf["__cvec"].to_numpy()).astype("float64"))
            S = Mn @ Bn  # (batch, n_bench)
            j = S.argmax(axis=1)  # first max -> smallest bench id (sorted)
            yield pd.DataFrame(
                {
                    "__cid": pdf["__cid"].to_numpy(),
                    "__sim": S[np.arange(len(S)), j],
                    "__mid": bids[j],
                }
            )

    out = c.mapInPandas(score_partition, schema=out_schema)
    return out.select(
        F.col("__cid").alias(id_col),
        F.col("__sim").alias("max_sim"),
        F.col("__mid").alias("match_id"),
        (F.col("__sim") >= float(threshold)).alias("contaminated"),
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dims: "list[int]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_rows: int = _QUERY_MAX_ROWS,
) -> DataFrame:
    """Recall@k of *truncated-dimension* cosine search vs the full-dim
    answer — the audit behind Matryoshka-style embeddings (Kusupati et
    al. 2022): how much retrieval quality survives keeping only the
    first d coordinates? Run before committing an index to a truncated
    width (a 4x narrower index is only a win if recall holds).

    For every d in ``dims``: exact top-k on vectors sliced to their
    first d coordinates (same (cos desc, id asc) total order as
    ``cosine_topk``), intersected with the full-width top-k. Per-dim
    summary over ALL queries (a query whose truncated list misses every
    true neighbor counts as recall 0).

    Plan: one ``cosine_topk`` pass per dim + one full-width pass —
    each a single corpus scan with no corpus-sized shuffle (the audit
    is meant to run on a query SAMPLE; pass the corpus persisted if
    |dims| scans should not re-read the source). Intersections and
    summaries are (queries x k)-sized. Output: one row per dim —
    (dim, n_queries, mean_recall, min_recall).
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    full = cosine_topk(
        corpus, queries, k, id_col, vec_col, query_max_rows=query_max_rows
    ).select("query_id", "neighbor_id")

    per_dim = []
    for d in dims:
        c_d = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        q_d = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        t_d = cosine_topk(
            c_d, q_d, k, id_col, vec_col, query_max_rows=query_max_rows
        )
        hits = (
            t_d.join(full, ["query_id", "neighbor_id"], "leftsemi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("__hits"))
            .select(F.lit(d).alias("dim"), "query_id", "__hits")
        )
        per_dim.append(hits)
    all_hits = per_dim[0]
    for h in per_dim[1:]:
        all_hits = all_hits.unionByName(h)

    qids = queries.select(F.col(id_col).alias("query_id")).distinct()
    grid = qids.crossJoin(
        F.broadcast(
            all_hits.sparkSession.createDataFrame(
                [(int(d),) for d in dims], "dim int"
            )
        )
    )
    per_q = grid.join(all_hits, ["dim", "query_id"], "left").select(
        "dim",
        "query_id",
        (F.coalesce(F.col("__hits"), F.lit(0)).cast("double") / k).alias(
            "__r"
        ),
    )
    return per_q.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("__r").alias("mean_recall"),
        F.min("__r").alias("min_recall"),
    )
