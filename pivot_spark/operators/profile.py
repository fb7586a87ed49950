"""One-pass column profiling: the classic data-quality summary table.

``profile(df)`` computes, for every requested column, in ONE scan and
one single-row aggregate: row count, null count, distinct count (HLL++
sketch by default — bounded state at any cardinality; ``exact=True``
switches to ``count(DISTINCT)``, which Catalyst plans via Expand — one
projected copy of the scan per distinct column, the classic exactness
tax), numeric min/max/mean (DOUBLE) and string min/max.

The wide single-row aggregate is then transposed to one row per column
with ``inline(array(struct(...)))`` — a constant-width projection of
the 1-row frame, so the transpose is free. Plan: Scan → partial agg →
single-partition exchange of ONE row → final agg → project. At 100 TB
the only data movement is the partial-aggregate row per task.

Output schema (fixed regardless of input types — engine-portable):
``column, dtype, n_rows, n_nulls, n_distinct, num_min, num_max,
num_mean, str_min, str_max``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.operators._fence import pin

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact_distinct: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-column profile; see module docstring. ``n_distinct`` ignores
    NULLs (count them via ``n_nulls``). Doubles rounded to 4 places.
    ``rsd`` is the HLL++ relative error target (sketch size grows as
    1/rsd²; 0.02 ≈ 12 KB per column — still O(1) in the row count)."""
    cols = list(columns) if columns is not None else df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    nd_aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        dt = df.schema[c].dataType
        if exact_distinct:
            nd_aggs.append(F.count_distinct(col).cast("long").alias(f"__nd_{i}"))
        else:
            aggs.append(F.approx_count_distinct(col, rsd).cast("long").alias(f"__nd_{i}"))
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"__nulls_{i}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.round(F.min(col).cast("double"), 4).alias(f"__min_{i}"))
            aggs.append(F.round(F.max(col).cast("double"), 4).alias(f"__max_{i}"))
            aggs.append(F.round(F.avg(col), 4).alias(f"__mean_{i}"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.min(col).alias(f"__smin_{i}"))
            aggs.append(F.max(col).alias(f"__smax_{i}"))
    wide = df.agg(*aggs)
    if nd_aggs:
        # exact distincts run as a SEPARATE single-row aggregate: mixed
        # into the same agg, Catalyst's distinct-Expand duplicates every
        # row once per distinct column and re-evaluates all the plain
        # aggregates on each copy (measured 9s vs 0.85s+0.6s split at
        # sf0.1 x 4 columns). Two scans, each cheap; crossJoin of two
        # 1-row frames is free.
        wide = wide.crossJoin(df.agg(*nd_aggs))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType
        is_num = isinstance(dt, _NUMERIC)
        is_str = isinstance(dt, T.StringType)
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dt.simpleString()).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{i}").alias("n_nulls"),
                F.col(f"__nd_{i}").alias("n_distinct"),
                (F.col(f"__min_{i}") if is_num else null_d).alias("num_min"),
                (F.col(f"__max_{i}") if is_num else null_d).alias("num_max"),
                (F.col(f"__mean_{i}") if is_num else null_d).alias("num_mean"),
                (F.col(f"__smin_{i}") if is_str else null_s).alias("str_min"),
                (F.col(f"__smax_{i}") if is_str else null_s).alias("str_max"),
            )
        )
    return wide.select(F.inline(F.array(*rows)))


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    width: float,
    n_bins: int,
) -> DataFrame:
    """Fixed-width histogram of ``col``: (bin INT, bin_lo, bin_hi,
    n). The bin index ``floor((x - lo)/width)`` clamps into
    [0, n_bins-1] (width_bucket edge semantics: underflow -> first bin,
    overflow -> last). NULLs are dropped. Scan-stage bin expression +
    one groupBy keyed by <= n_bins values — the distribution companion
    to ``profile``; empty bins are absent (join a bin spine if a dense
    axis is needed)."""
    if width <= 0 or n_bins <= 0:
        raise ValueError("width and n_bins must be positive")
    x = F.col(col)
    bin_ = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        df.filter(x.isNotNull())
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 4).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 4).alias("bin_hi"),
            "n",
        )
    )


def corr_matrix(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Upper-triangle pairwise Pearson correlations: (col_a, col_b,
    pearson DOUBLE rounded 4). ALL pairs are computed in one single-row
    aggregate (k·(k-1)/2 ``F.corr`` columns — each is O(1) running
    state), then transposed with inline(array(struct)): one scan, one
    single-row exchange, regardless of pair count."""
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    wide = df.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"__c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    rows = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__c_{i}").alias("pearson"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.inline(F.array(*rows)))


def quantiles(
    df: DataFrame,
    columns: Sequence[str],
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-column quantiles: (column, prob DOUBLE, value DOUBLE rounded
    4). Default is ``percentile_approx`` (bounded GK-sketch state — the
    100 TB path; ``accuracy`` trades memory for error). ``exact=True``
    uses ``F.percentile`` (continuous interpolation, matches DuckDB
    ``quantile_cont`` — value-buffering, small-data/oracle mode).

    One single-row aggregate for ALL columns x probs, transposed via
    inline(array(struct)) like ``profile``."""
    cols = list(columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    ps = list(probs)
    if not ps or any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"probs must be within [0, 1], got {ps}")
    parr = F.array(*[F.lit(float(p)) for p in ps])
    aggs = []
    for i, c in enumerate(cols):
        q = (
            F.percentile(F.col(c), parr)
            if exact
            else F.percentile_approx(F.col(c), parr, F.lit(accuracy))
        )
        aggs.append(q.alias(f"__q_{i}"))
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(float(p)).alias("prob"),
            F.round(F.col(f"__q_{i}")[j].cast("double"), 4).alias("value"),
        )
        for i, c in enumerate(cols)
        for j, p in enumerate(ps)
    ]
    return wide.select(F.inline(F.array(*rows)))


def _range_scan(
    df: DataFrame,
    order: Sequence,
    scans: Sequence[tuple],
    label: str,
    num_ranges: int = 32,
) -> DataFrame:
    """Running sums or maxima over the global ``order`` of ``df`` without
    a global sort: the range-partitioned parallel prefix (first written
    for e81's rank maps). Every ordered operator that needs a running
    value over the whole frame calls this.

    - **Ranges.** ``df`` is range-partitioned on ``order`` into
      ``num_ranges`` ranges and each row's range id is kept in ``__pid``.
      The frame is pinned (``_fence.pin``, labelled ``label``): a
      RangePartitioner re-samples on each evaluation, so two reads could
      put a row in different ranges and the offsets below would no
      longer match the rows (duplicate or gapped ranks). Read the result
      inside the caller's ``fence_scope``.
    - **Totals.** One aggregate computes every scan's per-range total.
      There are at most ``num_ranges`` totals; an empty range has none.
    - **Offsets.** One window over the totals, ordered by ``__pid`` (the
      RangePartitioner numbers ranges in ``order``), gives each range
      the sum or max of all earlier ranges' totals (0 or -inf for the
      first). The offsets are broadcast-joined back to the rows.
    - **Scans.** ``scans`` holds ``(out_col, fn, col, inclusive)``:
      ``fn`` is ``"sum"`` or ``"max"``, ``col`` a column name or Column.
      One window per range, ordered by ``order``, folds ``col`` over the
      rows before the row (``inclusive=False``) or up to and including
      it (``inclusive=True``), and the range's offset is added (sum) or
      taken into the max. An exclusive scan of the first row reads 0 or
      -inf.

    Returns ``df``'s columns plus one ``out_col`` per scan. ``order``
    must be total when the scans must not depend on how ties fall.
    """
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    part = pin(
        df.repartitionByRange(num_ranges, *order).withColumn(
            "__pid", F.spark_partition_id()
        ),
        label,
    )
    folds = {
        "sum": (F.sum, F.lit(0), lambda a, b: a + b),
        "max": (F.max, F.lit(float("-inf")), F.greatest),
    }
    tot = part.groupBy("__pid").agg(
        *[folds[fn][0](col).alias(f"__t{i}") for i, (_, fn, col, _) in enumerate(scans)]
    )
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = tot.select(
        "__pid",
        *[
            F.coalesce(folds[fn][0](f"__t{i}").over(woff), folds[fn][1]).alias(f"__o{i}")
            for i, (_, fn, _, _) in enumerate(scans)
        ],
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    outs = {}
    for i, (out_col, fn, col, inclusive) in enumerate(scans):
        agg, zero, add = folds[fn]
        end = Window.currentRow if inclusive else -1
        within = agg(col).over(w.rowsBetween(Window.unboundedPreceding, end))
        if not inclusive:
            within = F.coalesce(within, zero)
        outs[out_col] = add(within, F.col(f"__o{i}"))
    return (
        part.join(F.broadcast(offs), "__pid")
        .withColumns(outs)
        .drop("__pid", *[f"__o{i}" for i in range(len(scans))])
    )


def _avg_rank_map(base: DataFrame, col: str, num_ranges: int = 32) -> DataFrame:
    """(value, __r_<col>) average-rank lookup table for ``base[col]``:
    the running row count over the distinct-value frame
    (``_range_scan``). Average rank for a tie group of size c starting
    after cum rows = cum + (c+1)/2 — identical to SQL
    ``rank() + (count(*) OVER (PARTITION BY v)-1)/2``. State: the map is
    distinct-value-sized; no row-sized global sort anywhere."""
    vc = base.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = _range_scan(
        vc, [col], [("__cum", "sum", "__cnt", True)], "profile.avg_rank_map", num_ranges
    )
    cum_before = F.col("__cum") - F.col("__cnt")
    return cum.select(
        col, (cum_before + (F.col("__cnt") + 1) / 2.0).alias(f"__r_{col}")
    )


def spearman_matrix(
    df: DataFrame, columns: Sequence[str], num_ranges: int = 32
) -> DataFrame:
    """Upper-triangle pairwise Spearman rank correlations: (col_a,
    col_b, spearman DOUBLE rounded 4) — Pearson over average ranks
    (the tie-correct definition). Listwise deletion: rows with a NULL
    in ANY requested column are dropped first, so every pair ranks the
    same row set (one rank map per column, not per pair).

    Shuffle economics: per column, one distinct-sized aggregate + one
    equi-join of the rank map back to the fact rows (AQE broadcasts
    small maps); ranking itself is the range-partitioned parallel
    prefix in ``_avg_rank_map`` — there is NO row-sized global sort.
    The final correlation is ONE single-row aggregate for all
    k·(k-1)/2 pairs, like ``corr_matrix``."""
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    base = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    ranked = base
    for c in cols:
        ranked = ranked.join(_avg_rank_map(base, c, num_ranges), c)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]

    # corr == covar/(sd*sd) on the same Welford states; the spelled-out
    # form lets try_divide return NULL for a zero-variance (constant)
    # column where ANSI-mode F.corr raises DIVIDE_BY_ZERO
    def _corr(a, b):
        ra, rb = F.col(f"__r_{a}"), F.col(f"__r_{b}")
        return F.try_divide(
            F.covar_samp(ra, rb), F.stddev_samp(ra) * F.stddev_samp(rb)
        )

    wide = ranked.agg(
        *[F.round(_corr(a, b), 4).alias(f"__c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    rows = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__c_{i}").alias("spearman"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.inline(F.array(*rows)))


def benford_audit(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law (public:
    Newcomb 1881 / Benford 1938 — the classic fabricated-data and
    unit-mixing audit): per column × digit 1-9, (column, digit INT,
    n BIGINT, observed DOUBLE, expected DOUBLE — log10(1+1/d),
    both rounded 4, plus the column-level chi2 DOUBLE rounded 4 —
    n·Σ(o−e)²/e repeated on each digit row).

    One conditional aggregate for ALL columns (first digits are
    scan-stage string ops on abs values; zeros/NULLs excluded),
    transposed via inline(array(struct)) like ``profile``."""
    import math

    cols = list(columns)
    if not cols:
        raise ValueError("need at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    def first_digit(c):
        # leading significant digit via pure arithmetic (no decimal
        # rendering — engine-identical): d = floor(|x| / 10^floor(log10|x|))
        x = F.abs(F.col(c).cast("double"))
        mag = F.floor(F.log10(x))
        return F.when(
            F.col(c).isNotNull() & (x > 0.0),
            F.floor(x / F.pow(F.lit(10.0), mag)).cast("int"),
        )

    aggs = []
    for i, c in enumerate(cols):
        d = first_digit(c)
        for dig in range(1, 10):
            aggs.append(
                F.count(F.when(d == dig, 1)).alias(f"__c_{i}_{dig}")
            )
    wide = df.agg(*aggs)
    # stage totals and chi2 as named columns: embedding these trees in
    # every struct row re-inlines them 9x per column and blows the 64 KB
    # codegen method limit (janino fallback to interpreted projection)
    staged = wide.select(
        "*",
        *[
            sum(F.col(f"__c_{i}_{d}") for d in range(1, 10)).alias(f"__t_{i}")
            for i in range(len(cols))
        ],
    )
    staged = staged.select(
        "*",
        *[
            (
                sum(
                    (
                        F.col(f"__c_{i}_{d}") / F.col(f"__t_{i}")
                        - F.lit(math.log10(1 + 1 / d))
                    )
                    * (
                        F.col(f"__c_{i}_{d}") / F.col(f"__t_{i}")
                        - F.lit(math.log10(1 + 1 / d))
                    )
                    / F.lit(math.log10(1 + 1 / d))
                    for d in range(1, 10)
                )
                * F.col(f"__t_{i}")
            ).alias(f"__chi2_{i}")
            for i in range(len(cols))
        ],
    )
    rows = []
    for i, c in enumerate(cols):
        total = F.col(f"__t_{i}")
        chi2 = F.col(f"__chi2_{i}")
        for d in range(1, 10):
            rows.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(d).alias("digit"),
                    F.col(f"__c_{i}_{d}").cast("long").alias("n"),
                    F.round(
                        F.try_divide(F.col(f"__c_{i}_{d}"), total), 4
                    ).alias("observed"),
                    F.round(F.lit(math.log10(1 + 1 / d)), 4).alias("expected"),
                    F.round(chi2, 4).alias("chi2"),
                )
            )
    return staged.select(F.inline(F.array(*rows)))


def column_entropy(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Shannon entropy of each column's value distribution (natural
    log): (column, n BIGINT — non-null rows, n_distinct BIGINT,
    entropy DOUBLE rounded 4, norm_entropy DOUBLE rounded 4 —
    entropy/ln(n_distinct), NULL for constant columns). The
    information-content screen for ID-like vs category-like columns.

    ONE melt (stack to (column, value) pairs — scan-stage), one
    (column, value) count aggregate, one per-column fold: every column
    shares the same two shuffles regardless of k."""
    cols = list(columns)
    if not cols:
        raise ValueError("need at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("__col"),
                        F.col(c).cast("string").alias("__v"),
                    )
                    for c in cols
                ]
            )
        ).alias("__p")
    ).select(F.col("__p.__col").alias("__col"), F.col("__p.__v").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    vc = pairs.groupBy("__col", "__v").agg(F.count(F.lit(1)).alias("__c"))
    from pyspark.sql import Window

    tot = F.sum("__c").over(Window.partitionBy("__col"))
    cells = vc.select("__col", "__c", tot.alias("__n"))
    p = F.col("__c").cast("double") / F.col("__n")
    agg = cells.groupBy("__col").agg(
        F.max("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        (-F.sum(p * F.log(p))).alias("__h"),
    )
    return agg.select(
        F.col("__col").alias("column"),
        "n",
        "n_distinct",
        F.round("__h", 4).alias("entropy"),
        F.round(
            F.when(
                F.col("n_distinct") > 1,
                F.col("__h") / F.log(F.col("n_distinct").cast("double")),
            ),
            4,
        ).alias("norm_entropy"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    on: str,
    top: int = 5,
) -> DataFrame:
    """Pre-join diagnostics — the optimizer-style equi-join cardinality
    check run BEFORE committing to a join: exact output size
    sum_k n_left(k) * n_right(k) from two per-key count aggregates
    joined on the (far smaller) distinct-key frames, never the join
    itself. Pairs with ``skew_report`` (e90): ``top_share`` tells you
    whether one hot key produces half the output (salt it — e47) and
    ``est_rows`` whether the join explodes (pre-aggregate first).

    Output is ONE row: (est_rows, n_keys_matched, n_keys_left,
    n_keys_right, top_contrib — output rows from the ``top`` hottest
    keys, top_share). Cost: two key-keyed aggs + one key-keyed join of
    key-cardinality-sized frames + a bounded TakeOrdered."""
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    lc = left.filter(F.col(on).isNotNull()).groupBy(on).agg(
        F.count(F.lit(1)).alias("__nl")
    )
    rc = right.filter(F.col(on).isNotNull()).groupBy(on).agg(
        F.count(F.lit(1)).alias("__nr")
    )
    per = lc.join(rc, on).select(
        F.col(on), (F.col("__nl") * F.col("__nr")).alias("__c")
    )
    tot = per.agg(
        F.sum("__c").alias("est_rows"), F.count(F.lit(1)).alias("n_keys_matched")
    )
    topc = per.orderBy(F.col("__c").desc(), F.col(on)).limit(top).agg(
        F.sum("__c").alias("top_contrib")
    )
    nl = lc.agg(F.count(F.lit(1)).alias("n_keys_left"))
    nr = rc.agg(F.count(F.lit(1)).alias("n_keys_right"))
    return (
        tot.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(topc))
        .select(
            "est_rows",
            "n_keys_matched",
            "n_keys_left",
            "n_keys_right",
            "top_contrib",
            F.try_divide(
                F.col("top_contrib").cast("double"), F.col("est_rows")
            ).alias("top_share"),
        )
    )


def cdf_transform(
    df: DataFrame,
    col: str,
    out_col: str = "u",
    num_ranges: int = 32,
) -> DataFrame:
    """Empirical-CDF (rank-uniform) feature transform — the RankGauss
    family's first stage: each value maps to its average-rank quantile
    u = avg_rank / (n + 1) in (0, 1) — the Weibull plotting position,
    flattening any distribution to uniform while preserving order (ties
    share one u). Feed u through a probit downstream for the full
    RankGauss.

    Distributed shape: the e81 average-rank map (range-partitioned
    parallel prefix over the DISTINCT-value frame — no row-sized global
    sort) joined back on value + a broadcast row count. NULLs pass
    through with NULL ``out_col``."""
    base = df.filter(F.col(col).isNotNull())
    n = base.count()
    rmap = _avg_rank_map(base.select(F.col(col).cast("double").alias("__v")), "__v", num_ranges)
    tagged = df.withColumn("__v", F.col(col).cast("double"))
    out = tagged.join(rmap, "__v", "left").withColumn(
        out_col, F.col("__r___v") / F.lit(float(n + 1))
    )
    return out.drop("__v", "__r___v")


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    num_ranges: int = 32,
) -> DataFrame:
    """2-D skyline / Pareto frontier (Börzsönyi et al. 2001, maximize
    both axes): the rows no other row dominates (x' >= x AND y' >= y
    with one strict) — multi-objective selection (quality vs brevity,
    score vs cost). A point survives iff its y strictly exceeds the
    max y over all points before it in (x DESC, y DESC, id) order — an
    exclusive running max (``_range_scan``), no global sort.

    Dominated ties: among rows with identical (x, y) only the smallest
    ``id_col`` survives (deterministic). Output: the surviving rows
    (``id_col``, x, y)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    order = [F.col("__x").desc(), F.col("__y").desc(), F.col("__id")]
    out = _range_scan(
        base, order, [("__pm", "max", "__y", False)], "profile.pareto_frontier_2d",
        num_ranges,
    ).filter(F.col("__y") > F.col("__pm"))
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__x").alias(x_col),
        F.col("__y").alias(y_col),
    )


def row_rank(
    df: DataFrame,
    order_cols: Sequence,
    out_col: str = "rank",
    num_ranges: int = 32,
) -> DataFrame:
    """Global 1-based row rank in ``order_cols`` order WITHOUT a global
    sort: the running row count (``_range_scan``, an inclusive sum of 1).
    ``order_cols`` must be a total order (include a unique tiebreaker)."""
    return _range_scan(
        df, order_cols, [(out_col, "sum", F.lit(1), True)], "profile.row_rank", num_ranges
    )


def vocab_richness(
    df: DataFrame,
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary-richness estimates — the "how much more is out
    there" summary for scaling decisions: from the token-type frequency
    spectrum, Chao1's unseen-species lower bound (Chao 1984)
    D + f1^2/(2 f2), the Good–Turing unseen-probability mass f1/N
    (the chance the next token is a NEW type), type–token ratio and
    Herdan's C (ln D / ln N — the TTR that doesn't collapse with
    corpus size).

    Plan: tokens explode -> per-type counts [one type-keyed agg,
    map-side combine absorbs hot types] -> frequency-of-frequency
    aggregate (f1, f2, D, N) in ONE single-row agg over the type frame.
    Output ONE row: (n_tokens, n_types, f1, f2, chao1, p_unseen, ttr,
    herdan_c)."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    types = (
        df.select(F.explode(toks).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = types.agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    d = F.col("n_types").cast("double")
    n = F.col("n_tokens").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao1 = F.when(F.col("f2") > 0, d + f1 * f1 / (2 * f2)).otherwise(
        d + f1 * (f1 - 1) / 2  # Chao1 bias-corrected form when f2 = 0
    )
    return agg.select(
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        chao1.alias("chao1"),
        F.try_divide(f1, n).alias("p_unseen"),
        F.try_divide(d, n).alias("ttr"),
        F.try_divide(F.log(d), F.log(n)).alias("herdan_c"),
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    num_ranges: int = 32,
) -> DataFrame:
    """Exact weighted quantiles — the token-weighted sibling of
    ``quantiles`` (a median document BY TOKEN MASS, not by document
    count, is what a packing or budget decision needs): quantile(p) =
    the smallest value whose cumulative weight reaches p of the total.

    Value-count collapse first (one value-keyed aggregate summing
    weights), then the running weight over the DISTINCT-value frame
    (``_range_scan``), then one bounded filter+min per prob — no
    row-sized sort anywhere. Output: (prob, value, cum_weight,
    total_weight) one row per prob."""
    ps = list(probs)
    if not ps or any(not 0.0 < p <= 1.0 for p in ps):
        raise ValueError(f"probs must be within (0, 1], got {ps}")
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    vc = (
        df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(v.alias("__v"))
        .agg(F.sum(w).alias("__w"))
    )
    # the total and every per-prob probe read the running sums
    cum = pin(
        _range_scan(
            vc, ["__v"], [("__cum", "sum", "__w", True)], "profile.weighted_quantile",
            num_ranges,
        ),
        "profile.weighted_quantile",
    )
    total = cum.agg(F.max("__cum").alias("__total"))
    outs = []
    for p in ps:
        hit = (
            cum.crossJoin(F.broadcast(total))
            .filter(F.col("__cum") >= F.lit(float(p)) * F.col("__total"))
            .agg(
                F.min(F.struct(F.col("__v"), F.col("__cum"), F.col("__total"))).alias(
                    "__h"
                )
            )
            .select(
                F.lit(float(p)).alias("prob"),
                F.col("__h.__v").alias("value"),
                F.col("__h.__cum").alias("cum_weight"),
                F.col("__h.__total").alias("total_weight"),
            )
        )
        outs.append(hit)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def key_containment(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """Inclusion-dependency / foreign-key discovery probe (the
    Metanome-family primitive): what fraction of ``left_col``'s
    distinct values appear in ``right_col``? containment ~ 1.0 with
    right unique means left->right is FK-shaped. Two distinct-value
    frames (value-keyed aggregates — bounded by cardinality, never row
    count) + one join. Output ONE row: (n_left_distinct,
    n_right_distinct, n_shared, containment = shared/left,
    right_unique BOOLEAN — whether right_col has no duplicate rows)."""
    lv = left.filter(F.col(left_col).isNotNull()).select(
        F.col(left_col).cast("string").alias("__v")
    )
    rv_all = right.filter(F.col(right_col).isNotNull()).select(
        F.col(right_col).cast("string").alias("__v")
    )
    ld = lv.distinct()
    rstats = rv_all.agg(
        F.count(F.lit(1)).alias("__rn"), F.count_distinct("__v").alias("__rd")
    )
    shared = ld.join(rv_all.distinct(), "__v").agg(
        F.count(F.lit(1)).alias("__sh")
    )
    nl = ld.agg(F.count(F.lit(1)).alias("__ln"))
    return (
        nl.crossJoin(F.broadcast(shared))
        .crossJoin(F.broadcast(rstats))
        .select(
            F.col("__ln").alias("n_left_distinct"),
            F.col("__rd").alias("n_right_distinct"),
            F.col("__sh").alias("n_shared"),
            (F.col("__sh") / F.col("__ln")).alias("containment"),
            (F.col("__rn") == F.col("__rd")).alias("right_unique"),
        )
    )


def group_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    tiebreak_col: str,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group continuous quantiles without a per-group sort —
    the skew-safe grouped sibling of ``quantiles`` (whose exact mode is
    global-only). The obvious ``percentile() OVER (PARTITION BY g)``
    sorts each group inside one task: with a handful of huge groups
    that is the canonical 100 TB bottleneck. Here the order comes from
    ONE global ``row_rank`` over (group, value, tiebreak) (range
    partition + broadcast offsets — a big group spans MANY partitions),
    and each quantile needs only the two bracketing ranks per group:

        h = (n-1)·p ;  v = v_floor(h) + (h - floor(h))·(v_ceil(h) - v_floor(h))

    (type-7 / ``quantile_cont`` interpolation). The bracketing rows are
    fetched with an EQUI-join on (group, rank) against an answer-sized
    (group × prob × 2) rank list — the corpus is shuffled exactly once,
    by the ranker. Output: one row per (group, prob) — group cols,
    ``prob`` DOUBLE, ``value`` DOUBLE. NULL values/groups are dropped.
    """
    groups = list(group_cols)
    ps = sorted(set(float(p) for p in probs))
    if not ps or any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"probs must be within [0, 1], got {probs}")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(tiebreak_col).isNotNull()
    )
    for g in groups:
        base = base.filter(F.col(g).isNotNull())
    ranked = row_rank(
        base.select(*groups, value_col, tiebreak_col),
        [*groups, value_col, tiebreak_col],
        out_col="__grank",
    )
    per_group = ranked.groupBy(*groups).agg(
        F.min("__grank").alias("__gmin"),
        F.count(F.lit(1)).alias("__n"),
    )
    pframe = per_group.sparkSession.createDataFrame(
        [(p,) for p in ps], "prob double"
    )
    # needed in-group ranks: floor(h) and ceil(h) per (group, prob)
    need = (
        per_group.crossJoin(F.broadcast(pframe))
        .select(
            *groups, "prob", "__gmin", "__n",
            ((F.col("__n") - 1) * F.col("prob")).alias("__h"),
        )
        .select(
            *groups, "prob", "__h",
            (F.col("__gmin") + F.floor("__h").cast("long")).alias("__rlo"),
            (F.col("__gmin") + F.ceil("__h").cast("long")).alias("__rhi"),
        )
    )
    lo = need.select(
        *groups, "prob", "__h", F.lit(0).alias("__hi_side"),
        F.col("__rlo").alias("__grank"),
    )
    hi = need.select(
        *groups, "prob", "__h", F.lit(1).alias("__hi_side"),
        F.col("__rhi").alias("__grank"),
    )
    wanted = lo.unionByName(hi)
    hit = ranked.select(
        *groups, "__grank", F.col(value_col).cast("double").alias("__v")
    ).join(wanted, [*groups, "__grank"])
    agg = hit.groupBy(*groups, "prob").agg(
        F.min(F.when(F.col("__hi_side") == 0, F.col("__v"))).alias("__vlo"),
        F.max(F.when(F.col("__hi_side") == 1, F.col("__v"))).alias("__vhi"),
        F.first("__h").alias("__h"),
    )
    frac = F.col("__h") - F.floor("__h")
    return agg.select(
        *groups, "prob",
        (
            F.col("__vlo") + frac * (F.col("__vhi") - F.col("__vlo"))
        ).alias("value"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    lowercase: bool = True,
    min_count: int = 1,
) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution — the
    corpus-health audit next to ``vocab_richness``: natural language
    follows ln(freq) ≈ a + s·ln(rank) with slope s ≈ -1; a much
    flatter slope means templated/duplicated text, a much steeper one
    a degenerate vocabulary (e.g. boilerplate-stripped fragments).

    Plan: token explode -> type counts (one type-keyed agg), ranks via
    the skew-free ``row_rank`` over (count desc, type) — no single-task
    vocabulary sort — then ONE single-row centered-moments OLS over
    (ln rank, ln count) restricted to types with count >=
    ``min_count`` (rank is assigned on the FULL vocabulary first).
    Output one row: (n_types BIGINT, n_fit BIGINT, slope, intercept,
    r2 — NULL when the fit is degenerate).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    types = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(toks).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("__t", "__c", (-F.col("__c")).alias("__negc"))
    )
    ranked = row_rank(types, ["__negc", "__t"], out_col="__rank")
    pts = ranked.filter(F.col("__c") >= min_count).select(
        F.log(F.col("__rank").cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
    )
    n_types = ranked.agg(F.count(F.lit(1)).alias("n_types"))
    means = pts.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
    )
    mom = (
        pts.crossJoin(F.broadcast(means))
        .agg(
            F.first("n_fit").alias("n_fit"),
            F.first("__mx").alias("__mx"),
            F.first("__my").alias("__my"),
            F.sum(
                (F.col("__x") - F.col("__mx")) * (F.col("__y") - F.col("__my"))
            ).alias("__sxy"),
            F.sum(
                (F.col("__x") - F.col("__mx")) * (F.col("__x") - F.col("__mx"))
            ).alias("__sxx"),
            F.sum(
                (F.col("__y") - F.col("__my")) * (F.col("__y") - F.col("__my"))
            ).alias("__syy"),
        )
    )
    slope = F.when(F.col("__sxx") > 0, F.col("__sxy") / F.col("__sxx"))
    return mom.crossJoin(F.broadcast(n_types)).select(
        "n_types",
        F.col("n_fit").cast("long").alias("n_fit"),
        slope.alias("slope"),
        F.when(
            F.col("__sxx") > 0,
            F.col("__my") - (F.col("__sxy") / F.col("__sxx")) * F.col("__mx"),
        ).alias("intercept"),
        F.when(
            (F.col("__sxx") > 0) & (F.col("__syy") > 0),
            (F.col("__sxy") * F.col("__sxy"))
            / (F.col("__sxx") * F.col("__syy")),
        ).alias("r2"),
    )
