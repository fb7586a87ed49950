"""Hashed-feature linear text classifier scoring — fastText-style model
inference as a pure scan-stage expression (the quality-filter family:
train a linear model offline, score every document in the corpus during
ingestion; CCNet / GPT-3 Wikipedia-vs-CommonCrawl filtering is exactly
this shape).

The model is (num_buckets weights + bias): tokens hash into buckets
(feature hashing, Weinberger et al. 2009), the document score is
``sigmoid(bias + mean of bucket weights over tokens)``. Here the weight
table is a deterministic seeded function of the bucket id (md5-derived
uniform in [-1, 1]) so the whole computation — tokenize, hash, look up,
fold, squash — is engine-portable arithmetic; a real trained model swaps
``_weight_expr`` for an ``element_at`` into a broadcast literal array,
with an identical plan shape.

Scale shape: zero shuffles and zero Python — tokenization is
``split``, the weight fold is ``F.aggregate`` over the token array, all
inside whole-stage codegen at the scan. 100 TB of documents score at
read bandwidth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket_expr(token: Column, num_buckets: int, seed: str) -> Column:
    """Feature-hash a token to [0, num_buckets): top-60-bit md5 mod n —
    replayable as ``('0x' || substring(md5(...), 1, 15))::BIGINT % n``."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"fh:{seed}:"), token)), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(num_buckets))


def _weight_expr(bucket: Column, seed: str) -> Column:
    """Deterministic pseudo-weight for a bucket: uniform in [-1, 1] from
    the bucket's own md5 — stands in for a trained weight table."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"w:{seed}:"), bucket.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (F.pmod(h, F.lit(2000001)).cast("double") / F.lit(1000000.0)) - F.lit(1.0)


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    num_buckets: int = 1024,
    seed: str = "quality",
    bias: float = 0.0,
    threshold: float = 0.5,
    out_col: str = "score",
) -> DataFrame:
    """Adds ``score`` (sigmoid of the hashed-bag-of-words linear model,
    DOUBLE; NULL for token-less text) and ``keep`` (score >= threshold,
    NULL-safe false) to ``df``. Tokens: whitespace-split, lowercased.
    """
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    tokens = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    w_sum = F.aggregate(
        tokens,
        F.lit(0.0),
        lambda acc, t: acc + _weight_expr(_bucket_expr(t, num_buckets, seed), seed),
    )
    n = F.size(tokens)
    z = F.lit(bias) + w_sum / n
    score = F.when(n > 0, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    # ``keep`` reads the MATERIALIZED score column, not a second copy of
    # the score tree: the old form inlined the whole tokenize+md5 fold
    # twice per row (CollapseProject keeps the two projections apart
    # here because the aggregate is not a cheap expression, so the fold
    # runs once — measured 2x on the scoring pass)
    scored = df.withColumn(out_col, score)
    return scored.withColumn(
        "keep", F.coalesce(F.col(out_col) >= F.lit(threshold), F.lit(False))
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error (Guo et al.
    2017) for a probabilistic classifier — the ML-ops check that a
    quality-filter score of 0.8 actually means ~80% positives before
    the score is used as a sampling weight (e83/e37) or keep threshold.

    Scores in [0, 1] are cut into ``n_bins`` equal-width bins (bin i
    covers [i/n, (i+1)/n); score 1.0 clamps into the last bin); one
    hash aggregate computes per-bin count, mean score (confidence) and
    positive rate (accuracy); the corpus total joins back as a
    broadcast for shares. ECE = sum share*|acc - conf| is emitted on
    every row (``ece`` — constant column, the scalar summary).
    Output: (bin, bin_lo, n, share, mean_score, pos_rate, gap, ece)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        b.alias("bin"), s.alias("__s"), y.alias("__y")
    )
    per = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__s").alias("mean_score"),
        F.avg("__y").alias("pos_rate"),
    )
    tot = per.agg(
        F.sum("n").alias("__tot"),
        F.sum(
            F.col("n") * F.abs(F.col("pos_rate") - F.col("mean_score"))
        ).alias("__werr"),
    )
    j = per.crossJoin(F.broadcast(tot))
    return j.select(
        "bin",
        (F.col("bin").cast("double") / n_bins).alias("bin_lo"),
        "n",
        (F.col("n") / F.col("__tot")).alias("share"),
        "mean_score",
        "pos_rate",
        F.abs(F.col("pos_rate") - F.col("mean_score")).alias("gap"),
        (F.col("__werr") / F.col("__tot")).alias("ece"),
    )


def rocchio_train(
    df: DataFrame,
    label_col: str,
    text_col: str,
    num_buckets: int = 256,
    seed: str = "rocchio",
) -> DataFrame:
    """Train a Rocchio / nearest-centroid text classifier (the
    centroid method of Rocchio 1971, the fastText-speed baseline):
    tokens feature-hash into ``num_buckets`` (the e109 md5 idiom,
    engine-replayable), per-label bucket counts accumulate in ONE
    (label, bucket)-keyed aggregate, and each label's vector is
    L2-normalized. Returns the model frame (label, bucket, w) —
    k*num_buckets rows, broadcast-sized by construction."""
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    pairs = df.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col).alias("label"), F.explode(toks).alias("__t")
    )
    bc = pairs.select(
        "label", _bucket_expr(F.col("__t"), num_buckets, seed).alias("bucket")
    ).groupBy("label", "bucket").agg(F.count(F.lit(1)).alias("__c"))
    nrm = bc.groupBy("label").agg(
        F.sqrt(F.sum(F.col("__c").cast("double") * F.col("__c"))).alias("__n")
    )
    return bc.join(nrm, "label").select(
        "label", "bucket", (F.col("__c") / F.col("__n")).alias("w")
    )


def rocchio_predict(
    df: DataFrame,
    model: "DataFrame | list",
    text_col: str,
    num_buckets: int = 256,
    seed: str = "rocchio",
    out_col: str = "pred",
) -> DataFrame:
    """Score every row against the Rocchio centroids and pick the
    argmax label (ties -> smallest label). The k centroid vectors are
    collected to the driver (k*num_buckets doubles — the e54
    centroid-literal contract) and inlined as in-plan array literals,
    so scoring is a pure scan-stage fold per label over the token
    array: zero shuffles, zero joins, zero Python at inference time.
    Adds ``pred`` (STRING, NULL for token-less text) and ``margin``
    (best minus second-best dot product, 0.0 when k == 1)."""
    if hasattr(model, "collect"):
        rows = model.collect()
    else:
        rows = model
    cents: dict[str, list[float]] = {}
    for r in rows:
        cents.setdefault(r["label"], [0.0] * num_buckets)[int(r["bucket"])] = float(
            r["w"]
        )
    if not cents:
        raise ValueError("empty model")
    labels = sorted(cents)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    # hash every token ONCE into a projected bucket array — the k label
    # folds then index their literal vectors without re-running md5
    # (measured 6.6s -> 2.0s at sf0.1, k=5)
    buckets = F.transform(
        toks, lambda t: (_bucket_expr(t, num_buckets, seed) + 1).cast("int")
    )
    df = df.withColumn("__bks", buckets)

    def dot_with(vec):
        return F.aggregate(
            F.col("__bks"),
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(vec, b),
        )

    # ONE parsed SQL literal per centroid instead of num_buckets F.lit
    # py4j round-trips (k=5 x 256 buckets cost ~1.3s of driver time per
    # build)
    from pivot_spark.operators.embedding import lit_double_array

    scores = [dot_with(lit_double_array(cents[lab])) for lab in labels]
    arr = F.array(
        *[
            F.struct(s.alias("s"), F.lit(-i).alias("ni"))
            for i, s in enumerate(scores)
        ]
    )
    srt = F.reverse(F.array_sort(arr))
    best = F.element_at(srt, 1)
    second = F.when(F.lit(len(labels)) > 1, F.element_at(srt, 2)["s"]).otherwise(
        F.lit(0.0)
    )
    lab_arr = F.array(*[F.lit(l) for l in labels])
    pred = F.when(
        F.size(F.col("__bks")) > 0,
        F.element_at(lab_arr, (-best["ni"] + 1).cast("int")),
    )
    margin = F.when(
        F.size(F.col("__bks")) > 0,
        F.when(F.lit(len(labels)) > 1, best["s"] - second).otherwise(F.lit(0.0)),
    )
    return (
        df.withColumn(out_col, pred).withColumn("margin", margin).drop("__bks")
    )
