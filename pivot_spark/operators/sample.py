"""Deterministic sampling for training-data curation.

Training pipelines need samples that are (a) reproducible across runs
and engines, (b) stable under re-partitioning, and (c) stratifiable by
arbitrary keys (language, source, quality bucket) without an extra
shuffle. RNG-based ``df.sample`` gives none of that: its output depends
on partition layout and seed plumbing, and can't be replayed by another
engine for auditing.

The tool here is **hash-threshold sampling**: a row is kept iff a
cryptographic hash of its (salt, stable id) falls below ``rate`` of the
hash space. Properties:

* deterministic & engine-portable — md5 is bit-identical everywhere
  (the correctness oracle replays the exact sample in DuckDB);
* scan-stage — pure row-local predicate, no shuffle, pushes through
  Catalyst like any filter; at 100 TB it is exactly as cheap as a scan;
* consistent — the same id is kept at rate 0.2 whenever it is kept at
  rate 0.1 (thresholds nest), enabling progressive data scaling;
* stratified for free — prefix the hash input with the stratum key and
  per-stratum rates via a tiny broadcast map.

This mirrors the standard "hash-mod sharding" used by public web-corpus
pipelines (e.g. the CCNet / C4 processing descriptions) rather than any
engine-specific sampler.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import materialize

# 16^4 buckets give rate granularity of 6.1e-5 while keeping the
# threshold a 4-char hex-string compare (no bigint parsing needed).
_HEX_DIGITS = 4
_BUCKETS = 16**_HEX_DIGITS


def _hash_bucket(id_col: Column, salt: str) -> Column:
    """First 4 hex digits of md5(salt:id) as a lexicographic bucket."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string"))), 1, _HEX_DIGITS
    )


def _threshold(rate: float) -> str:
    """Hex cutoff such that P(bucket < cutoff) == round(rate * _BUCKETS)
    / _BUCKETS under a uniform hash. Buckets are fixed-width 4-hex
    strings, so a 4-hex cutoff compares correctly lexicographically;
    rate 1.0 returns "g", which sorts above every hex digit."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = min(int(round(rate * _BUCKETS)), _BUCKETS)
    return "g" if n >= _BUCKETS else format(n, f"0{_HEX_DIGITS}x")


def hash_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by hashed id.

    Exactly reproducible: the kept set is a pure function of
    (id, salt, rate), independent of partitioning, ordering, or engine.
    """
    return df.filter(_hash_bucket(F.col(id_col), salt) < F.lit(_threshold(rate)))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    downsample en, keep all yo). ``rates`` maps stratum value -> keep
    rate; strata not listed use ``default_rate``.

    The per-stratum threshold is folded into one CASE expression — still
    a scan-stage predicate, no join, no shuffle. The hash input includes
    the stratum so changing one stratum's rate never perturbs another's
    sample.
    """
    thr = F.lit(_threshold(default_rate))
    for value, rate in rates.items():
        thr = F.when(
            F.col(stratum_col) == F.lit(value), F.lit(_threshold(rate))
        ).otherwise(thr)
    bucket = _hash_bucket(
        F.concat(F.col(stratum_col), F.lit("/"), F.col(id_col).cast("string")),
        salt,
    )
    return df.filter(bucket < thr)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic, disjoint, exhaustive train/valid/test split: every
    row is assigned exactly one split name by its hash bucket, so the
    partition is reproducible across runs, engines, and shards — and
    membership never changes when the corpus grows (a given id keeps its
    split forever, the property that prevents silent eval contamination
    across training epochs).

    ``weights`` maps split name -> fraction; must sum to 1 (±1e-9).
    Insertion order defines the bucket ranges, so declare splits in a
    stable order. Pure scan-stage CASE expression — no shuffle, no join.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if not weights:
        raise ValueError("weights must be non-empty")
    bucket = _hash_bucket(F.col(id_col), salt)
    names = list(weights)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < F.lit(_threshold(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # last split catches the remainder (exhaustive even under rounding)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def mixture_rates(
    df: DataFrame,
    stratum_col: str,
    weight_col: "Column | str",
    targets: Mapping[str, float],
    budget: float,
) -> dict[str, float]:
    """Compute per-stratum keep rates that hit a target *mixture*.

    Training mixes are specified as proportions ("30% code, 60% web,
    10% books" of a B-token budget), but the raw corpus has whatever
    proportions it has. For stratum s with target share p_s and
    available weight w_s (tokens, bytes, docs — any additive measure),
    the keep rate is ``min(1, p_s * budget / w_s)``: strata with excess
    data are downsampled to quota; strata with too little keep
    everything (rate capped at 1 — the standard "single-epoch" cap;
    upsampling is a repeat-factor concern, not a sampling one).

    One small groupBy over the stratum key computes w_s (strata
    cardinality ≈ sources/languages, so the agg output is tiny);
    combined with ``stratified_hash_sample`` the whole pipeline is one
    aggregate + one scan-stage predicate — no joins, deterministic,
    engine-replayable.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    tot = sum(targets.values())
    if abs(tot - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1, got {tot}")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    avail = {
        r["s"]: r["w"]
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.sum(w).alias("w"))
        .collect()
    }
    rates = {}
    for s, share in targets.items():
        w_s = avail.get(s, 0)
        rates[s] = 1.0 if not w_s else min(1.0, share * budget / w_s)
    return rates


def mixture_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    weight_col: "Column | str",
    targets: Mapping[str, float],
    budget: float,
    salt: str = "mixture",
) -> DataFrame:
    """Deterministically sample ``df`` toward a target mixture: compute
    per-stratum rates from the corpus (``mixture_rates``), then apply the
    stratified hash predicate. Strata not in ``targets`` are dropped
    (share 0)."""
    rates = mixture_rates(df, stratum_col, weight_col, targets, budget)
    return stratified_hash_sample(df, id_col, stratum_col, rates, 0.0, salt)


def repeat_upsample(
    df: DataFrame,
    id_col: str,
    factor: float,
    salt: str = "repeat",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic fractional upsampling: emit each row
    ``floor(factor)`` times, plus one more copy for the hash-selected
    ``factor - floor(factor)`` fraction of ids. The complement of
    mixture downsampling — data-constrained strata get repeat "epochs"
    (target mixes quote repeat factors like 1.5x books; public examples:
    the Pile / Llama data tables).

    ``copy_col`` numbers the copies 0..k-1 so downstream shuffles can
    decorrelate them. Scan-stage: explode over a literal-sized sequence,
    no shuffle, no join; the fractional copy reuses the nested
    md5-threshold predicate (same id is upsampled at 1.6 whenever it is
    at 1.5 — thresholds nest like ``hash_sample``'s).
    """
    if factor <= 0:
        raise ValueError(f"factor must be positive, got {factor}")
    whole = int(factor)
    frac = factor - whole
    n_copies = (
        F.lit(whole)
        + (
            _hash_bucket(F.col(id_col), salt) < F.lit(_threshold(frac))
        ).cast("int")
    )
    return df.withColumn(copy_col, F.explode(_copies(n_copies)))


def _copies(n_copies):
    """[0..n-1] as an array; empty when n == 0 (sequence(0,-1) would
    count DOWN, so the zero case needs an explicit empty branch —
    explode of an empty array drops the row, which is the point)."""
    return F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))


def stratified_repeat_upsample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    factors: Mapping[str, float],
    default_factor: float = 1.0,
    salt: str = "repeat",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Per-stratum repeat factors folded into one CASE expression —
    still a scan-stage explode, no join. Strata not listed use
    ``default_factor`` (1.0 = passthrough)."""
    for v in list(factors.values()) + [default_factor]:
        if v < 0:
            raise ValueError(f"factors must be >= 0, got {v}")
    whole = F.lit(int(default_factor))
    thr = F.lit(_threshold(default_factor - int(default_factor)))
    for value, factor in factors.items():
        match = F.col(stratum_col) == F.lit(value)
        whole = F.when(match, F.lit(int(factor))).otherwise(whole)
        thr = F.when(match, F.lit(_threshold(factor - int(factor)))).otherwise(thr)
    bucket = _hash_bucket(
        F.concat(F.col(stratum_col), F.lit("/"), F.col(id_col).cast("string")), salt
    )
    n_copies = whole + (bucket < thr).cast("int")
    return df.withColumn(copy_col, F.explode(_copies(n_copies)))


def group_hash_sample_k(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int,
    salt: str = "groupk",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen uniformly-ish and
    DETERMINISTICALLY: rank rows within each group by md5(salt:id) (a
    reproducible random order — same winners on any engine/partitioning,
    unlike reservoir sampling) and keep rank <= k. Adds ``sample_rank``.

    One window shuffle keyed by the group; per-row state is the rank
    counter. For the rate-based variant (no exact count) use
    ``stratified_hash_sample`` — it needs no shuffle at all."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    h = _hash_bucket16(F.col(id_col), salt)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def _hash_bucket16(id_col: Column, salt: str) -> Column:
    """Full md5 hex of (salt:id) — a 128-bit deterministic sort key
    (collision-free ordering for sampling ranks, unlike the 4-hex
    threshold bucket)."""
    return F.md5(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string")))


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: "str | None" = None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (k items,
    optionally per group): the Efraimidis–Spirakis A-ES scheme — each
    row gets key ln(u)/w with u a reproducible uniform in (0,1) from
    md5(salt:id), and the k LARGEST keys win (equivalent to u^(1/w)
    order). Inclusion probability is proportional to weight in the
    without-replacement sense, and the sample is replayable on any
    engine: u = (int(md5[:12], 16) + 0.5) / 16^12 — a 48-bit uniform,
    exact in a double.

    Plan: scan-stage key expression + one TakeOrdered (global k) or one
    window shuffle (per-group k). Adds ``sample_key`` (DOUBLE).
    Zero/negative weights are rejected rows: their key is NULL and NULLs
    sort last, so they can never enter the sample (ln(u)/w alone would
    give negative weights a positive — winning — key).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = F.substring(_hash_bucket16(F.col(id_col), salt), 1, 12)
    u = (F.conv(h, 16, 10).cast("double") + F.lit(0.5)) / F.lit(float(16**12))
    w_d = F.col(weight_col).cast("double")
    key = F.when(w_d > 0, F.log(u) / w_d)
    # nonpositive weights -> NULL key; drop them outright so they can't
    # back-fill a group that has fewer than k valid rows
    out = df.withColumn("sample_key", key).filter(
        F.col("sample_key").isNotNull()
    )
    if group_col is None:
        return out.orderBy(
            F.col("sample_key").desc_nulls_last(), F.col(id_col)
        ).limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col("sample_key").desc_nulls_last(), F.col(id_col)
    )
    return (
        out.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def negative_sample_k(
    df: DataFrame,
    id_col: str,
    k: int,
    positives: "DataFrame | None" = None,
    pos_a: str = "id_a",
    pos_b: str = "id_b",
    salt: str = "neg",
    oversample: int = 3,
    num_ranges: int = 32,
) -> DataFrame:
    """Deterministic k-negatives-per-anchor for contrastive training:
    every id in ``df`` gets up to ``k`` pseudo-random OTHER ids as
    negatives — reproducible on any engine/partitioning (md5 probe
    positions), with known positives (``positives`` pair frame, either
    orientation) and self-pairs excluded. Output: (``anchor``,
    ``negative``, ``neg_rank`` 1..k).

    Scale shape: ids get a dense 0-based index from the DISTRIBUTED
    range-partitioned ranker (``profile._avg_rank_map`` — no global
    single-partition sort); each anchor emits ``k*oversample`` probe
    positions scan-stage; candidates resolve by an equi-join on the
    position (shuffle ∝ probes, never n²); known-positive/self hits are
    dropped and the first k survivors per anchor kept by probe order.
    Only the id COUNT touches the driver. Anchors with fewer than k
    survivors (hash collisions + dense positive neighborhoods eating
    probes) emit what survived — raise ``oversample`` for more slack.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    from pivot_spark.operators.profile import _avg_rank_map

    # the count, the rank index and the anchor probes read the ids
    ids, (n,) = materialize(df.select(F.col(id_col)).distinct(), "sample.negative_sample_k")
    if n < 2:
        raise ValueError("need at least 2 distinct ids to sample negatives")
    ranks = _avg_rank_map(ids, id_col, num_ranges)
    idx = ranks.select(
        F.col(id_col).alias("__cand"),
        (F.col(f"__r_{id_col}") - 1).cast("long").alias("__pos"),
    )
    m = k * oversample
    anchors = ids.select(F.col(id_col).alias("__anchor"))
    probes = anchors.select(
        "__anchor",
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("__j"),
    )
    probe_pos = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"),
                        F.col("__anchor").cast("string"),
                        F.lit(":"),
                        F.col("__j").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n),
    )
    cand = (
        probes.withColumn("__pos", probe_pos)
        .join(idx, "__pos")
        .filter(F.col("__cand") != F.col("__anchor"))
    )
    if positives is not None:
        pos = positives.select(
            F.col(pos_a).alias("__anchor"), F.col(pos_b).alias("__cand")
        ).unionByName(
            positives.select(
                F.col(pos_b).alias("__anchor"), F.col(pos_a).alias("__cand")
            )
        )
        cand = cand.join(pos, ["__anchor", "__cand"], "left_anti")
    best = cand.groupBy("__anchor", "__cand").agg(F.min("__j").alias("__j"))
    from pyspark.sql import Window

    w = Window.partitionBy("__anchor").orderBy("__j", "__cand")
    return (
        best.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__anchor").alias("anchor"),
            F.col("__cand").alias("negative"),
            F.col("__rk").alias("neg_rank"),
        )
    )


def temperature_mixture_rates(
    df: DataFrame,
    stratum_col: str,
    weight_col: "Column | str",
    alpha: float = 0.3,
    budget: "float | None" = None,
) -> DataFrame:
    """Temperature-scaled sampling shares (Conneau & Lample 2019 /
    XLM-R): target share q_s ∝ p_s^alpha where p_s is the stratum's raw
    corpus share — alpha < 1 flattens the distribution toward the tail
    (low-resource languages), alpha = 1 is proportional, alpha -> 0 is
    uniform. With ``budget`` (same additive unit as ``weight_col``) the
    per-stratum keep rate min(1, q_s*budget/w_s) is emitted for feeding
    ``stratified_hash_sample``.

    ONE stratum-keyed aggregate (strata ≈ languages/sources, tiny)
    plus a broadcast total — the corpus is scanned once; the
    exponentiation/normalization is driver-free scan-stage arithmetic
    on the aggregate frame. Output: (stratum, weight, share,
    target_share[, keep_rate])."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(w.cast("double")).alias("weight")
    )
    tot = per.agg(
        F.sum("weight").alias("__tot"),
        F.sum(F.pow(F.col("weight"), F.lit(alpha))).alias("__pow_tot_raw"),
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("weight") / F.col("__tot")
    # q_s = w_s^a / sum(w^a)  ==  p_s^a / sum(p^a) (totals cancel)
    target = F.pow(F.col("weight"), F.lit(alpha)) / F.col("__pow_tot_raw")
    cols = [
        F.col("stratum"),
        F.col("weight"),
        share.alias("share"),
        target.alias("target_share"),
    ]
    if budget is not None:
        if budget <= 0:
            raise ValueError(f"budget must be positive, got {budget}")
        cols.append(
            F.least(F.lit(1.0), target * F.lit(float(budget)) / F.col("weight")).alias(
                "keep_rate"
            )
        )
    return j.select(*cols)


def rake_weights(
    df: DataFrame,
    dim_a: str,
    dim_b: str,
    targets_a: Mapping[str, float],
    targets_b: Mapping[str, float],
    iterations: int = 2,
    weight_col: str = "weight",
) -> DataFrame:
    """Raking / iterative proportional fitting (Deming & Stephan 1940)
    — the survey-weighting staple: per-row weights that make BOTH
    marginal distributions (e.g. language and source) match target
    shares simultaneously, without requiring the full joint target.
    Starting from weight 1, each half-iteration rescales within one
    dimension's categories to hit that margin exactly; alternating
    converges geometrically (2 iterations ~ exact for compatible
    margins).

    Distributed shape per half-iteration: ONE category-keyed aggregate
    (categories ≈ languages/sources, tiny) + a broadcast ratio join,
    with the weighted frame lazily localCheckpoint'ed after each
    half-iteration. The truncation is load-bearing twice over: each
    round's margin aggregate references the previous round's frame
    TWICE (main side + inside the ratio), so without it the logical
    plan doubles per half-iteration — 2^(2*iterations) copies of the
    base subtree (a 2-iteration rake re-scanned the source 16 times;
    4 iterations made Catalyst itself the bottleneck) — and at corpus
    scale every margin pass would re-derive the whole upstream chain.
    With it: one source scan, 2*iterations map-side passes over the
    checkpointed frame, constant-size plans. The base is fenced
    (``_fence.materialize``), and its fence job's row count is n. Rows
    in categories absent from the targets get weight 0. Output: input
    columns + ``weight``."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    for name, t in (("targets_a", targets_a), ("targets_b", targets_b)):
        tot = sum(t.values())
        if abs(tot - 1.0) > 1e-9:
            raise ValueError(f"{name} shares must sum to 1, got {tot}")
    df, (n_rows,) = materialize(df, "sample.rake_weights")
    cur = df.withColumn(weight_col, F.lit(1.0))
    spark = df.sparkSession
    for _ in range(iterations):
        for dim, targets in ((dim_a, targets_a), (dim_b, targets_b)):
            tgt = F.create_map(
                *[x for k, v in targets.items() for x in (F.lit(k), F.lit(float(v)))]
            )
            sums = cur.groupBy(dim).agg(F.sum(weight_col).alias("__s"))
            ratio = sums.select(
                dim,
                F.coalesce(
                    F.try_divide(
                        F.element_at(tgt, F.col(dim)) * F.lit(float(n_rows)),
                        F.col("__s"),
                    ),
                    F.lit(0.0),
                ).alias("__ratio"),
            )
            cur = (
                cur.join(F.broadcast(ratio), dim)
                .withColumn(weight_col, F.col(weight_col) * F.col("__ratio"))
                .drop("__ratio")
                .localCheckpoint(eager=False)
            )
    return cur
