"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
public: arXiv:2302.03169). Scores every raw document by how much it
looks like a target corpus, using hashed-n-gram bag features and two
smoothed unigram bucket models:

    logweight(doc) = Σ_{gram g in doc} [ ln p_target(h(g)) − ln p_raw(h(g)) ]

with p_*(b) = (count_b + α) / (total + α·B) (Laplace smoothing over B
hash buckets). High-weight docs are up-sampled into the training mix —
the method behind "sample CommonCrawl to look like Wikipedia".

Spark shape, built for 100 TB:
* features are unigrams + bigrams hashed into B buckets with md5
  arithmetic (deterministic, engine-replayable — no Python in the scan);
* both bucket models come from ONE aggregation over the exploded gram
  frame (conditional count for the target slice) — map-side combine
  collapses the explode to ≤ B rows per task;
* the bucket→log-ratio table is ≤ B rows, broadcast back for scoring;
  the per-doc weight is one hash aggregate keyed by doc id;
* the optional keep threshold is an exact percentile over the per-doc
  weight frame (rows = docs, not grams), folded in as a 1-row cross
  join — no driver round-trip in the plan.

The reference has no corpus-selection surface; north-star scope
(SURVEY.md §2.4 E83).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin


def _grams(text: Column) -> Column:
    """Unigram + bigram bag (duplicates kept — DSIR counts occurrences)
    over whitespace tokens."""
    w = F.filter(F.split(text, r"\s+"), lambda x: x != "")
    n = F.size(w)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams)


def _bucket(gram: Column, num_buckets: int) -> Column:
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long"),
        F.lit(num_buckets),
    )


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_cond: Column,
    num_buckets: int = 4096,
    alpha: float = 1.0,
    keep_fraction: "float | None" = None,
) -> DataFrame:
    """(id_col, dsir_logweight DOUBLE rounded 4[, keep BOOLEAN]) for
    every row of ``df``. ``target_cond`` marks the target slice (its
    grams fit p_target; ALL rows fit p_raw and are scored). Docs with
    no tokens get weight 0.0 (empty feature bag). With
    ``keep_fraction=f``, ``keep`` marks the top-f fraction by weight
    (boundary compares on 4-decimal-rounded values so the flag is
    engine-stable)."""
    if not 0 < num_buckets:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    if keep_fraction is not None and not 0.0 < keep_fraction <= 1.0:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    B = num_buckets
    g = df.select(
        F.col(id_col),
        target_cond.cast("int").alias("__tgt"),
        F.explode(_grams(F.col(text_col))).alias("__gram"),
    ).select(id_col, "__tgt", _bucket(F.col("__gram"), B).alias("__b"))

    # the bucket models and the scoring pass read the (doc, bucket) counts
    db = g.groupBy(id_col, "__tgt", "__b").agg(F.count(F.lit(1)).alias("__n"))
    db = pin(db, "dsir.dsir_logweights")
    stats = db.groupBy("__b").agg(
        F.sum("__n").alias("__n_raw"),
        F.sum(F.col("__n") * F.col("__tgt")).alias("__n_tgt"),
    )
    totals = stats.agg(
        F.sum("__n_raw").alias("__t_raw"), F.sum("__n_tgt").alias("__t_tgt")
    )
    ratio = stats.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log((F.col("__n_tgt") + alpha) / (F.col("__t_tgt") + alpha * B))
            - F.log((F.col("__n_raw") + alpha) / (F.col("__t_raw") + alpha * B))
        ).alias("__lr"),
    )
    scored = (
        db.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("__n") * F.col("__lr")), 4).alias("dsir_logweight"))
    )
    out = df.select(id_col).join(scored, id_col, "left").select(
        id_col, F.coalesce(F.col("dsir_logweight"), F.lit(0.0)).alias("dsir_logweight")
    )
    if keep_fraction is None:
        return out
    thr = out.agg(
        F.round(
            F.percentile(F.col("dsir_logweight"), F.lit(1.0 - keep_fraction)), 4
        ).alias("__thr")
    )
    return out.crossJoin(F.broadcast(thr)).select(
        id_col,
        "dsir_logweight",
        (F.col("dsir_logweight") >= F.col("__thr")).alias("keep"),
    )
