"""Cross-corpus score calibration — make a per-document quality signal
comparable ACROSS heterogeneous sources before a single global filter
threshold is applied.

Raw quality scores are not comparable between corpora (a "good" web page
and a "good" arXiv paper live on different scales), so production
pipelines filter per-source by *quantile*, not by raw value: map every
score to its within-source quantile position, then keep the top p
fraction of EVERY source. ``quantile_normalize`` computes that map; its
output is uniform on [0, 1] within each group by construction.

Scale design: the obvious ``percent_rank() OVER (PARTITION BY source)``
window sorts each source inside a single task — with a handful of huge
sources that is the canonical 100 TB skew bottleneck. Instead the rank
comes from ONE global ``row_rank`` over (group, value, tiebreak)
(``profile.row_rank``: range partition + broadcast per-partition offsets
— a parallel prefix, no global sort, and a big source spans MANY range
partitions), and per-group offsets/counts arrive via a broadcast join of
the ≤ |groups|-row aggregate. Every division is exact-int / exact-int,
so the normalized score is engine- and partitioning-independent.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import materialize


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    tiebreak_col: str,
    out_col: str = "q_norm",
    keep_top: "float | None" = None,
    keep_col: str = "keep",
) -> DataFrame:
    """Within-group quantile position of ``value_col``.

    Adds ``out_col`` = (rank_in_group - 1) / (n_group - 1) in [0, 1]
    (single-row groups map to 0.5), ranking by (value, tiebreak) so the
    position is a total order — deterministic under ties. Rows with a
    NULL value, tiebreak, or group key are dropped (a quantile position
    is undefined for them). With ``keep_top`` = p, also adds boolean
    ``keep_col``: the top p fraction of each group
    (``out_col`` > 1 - p) — the equal-rate-per-source filter.
    """
    if keep_top is not None and not 0.0 < keep_top <= 1.0:
        raise ValueError(f"keep_top must be in (0, 1], got {keep_top}")
    from pivot_spark.operators.profile import row_rank

    groups = list(group_cols)
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(tiebreak_col).isNotNull()
    )
    for g in groups:
        base = base.filter(F.col(g).isNotNull())

    ranked = row_rank(
        base, [*groups, value_col, tiebreak_col], out_col="__grank"
    )
    per_group = ranked.groupBy(*groups).agg(
        F.min("__grank").alias("__gmin"),
        F.count(F.lit(1)).alias("__gn"),
    )
    out = (
        ranked.join(F.broadcast(per_group), groups)
        .withColumn(
            out_col,
            F.when(F.col("__gn") == 1, F.lit(0.5)).otherwise(
                (F.col("__grank") - F.col("__gmin")).cast("double")
                / (F.col("__gn") - 1).cast("double")
            ),
        )
        .drop("__grank", "__gmin", "__gn")
    )
    if keep_top is not None:
        out = out.withColumn(keep_col, F.col(out_col) > 1.0 - keep_top)
    return out


def isotonic_fit(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 64,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration curve of
    ``label_col`` against ``score_col`` — the non-parametric step-map
    behind sklearn's ``IsotonicRegression``, fitted at corpus scale.

    A classifier's raw score is rarely a probability; isotonic
    regression finds the least-squares monotone map score → P(label)
    without assuming a sigmoid shape (Platt). Binned formulation:

    1. one scan bins scores into ``bins`` equal-width buckets over the
       observed [min, max] (single-row range aggregate, broadcast);
    2. per-bin (n, sum_label) — a ≤``bins``-row aggregate;
    3. the isotonic fit on the bin means via the *minimax* closed form
       (Barlow et al. 1972, Thm 1.4.4):
           fitted(i) = max_{a<=i} min_{b>=i} mean(label over bins a..b)
       computed as an O(bins²) pair frame — pure relational algebra on
       an answer-sized frame, no PAV loop, no driver state beyond the
       plan. The result is provably the PAV solution, in particular
       non-decreasing in the bin index.

    At 100 TB the corpus is touched once (stage 1-2); everything after
    is ≤ bins² rows. Output: one row per non-empty bin — (bin, bin_lo,
    n, mean_label, fitted), ordered semantics left to the caller.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    base = df.select(
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())

    rng = base.agg(
        F.min("__s").alias("__mn"), F.max("__s").alias("__mx")
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(bins - 1),
                F.floor(
                    (F.col("__s") - F.col("__mn"))
                    / (F.col("__mx") - F.col("__mn"))
                    * bins
                ),
            )
        )
        .cast("int")
        .alias("bin"),
        "__y",
        "__mn",
        "__mx",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("__sy"),
        F.min(
            F.col("__mn") + F.col("bin") * (F.col("__mx") - F.col("__mn")) / bins
        ).alias("bin_lo"),
    )
    # the prefix self-join and the PAV segment joins read the <=bins-row
    # frame; unfenced, e208's plan carried 8 source scans (floor: 2)
    per_bin = materialize(per_bin, "calibrate.isotonic_fit")[0]
    # prefix sums over the <=bins-row frame (bounded single-task window)
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = per_bin.select(
        "bin", "n", "__sy", "bin_lo",
        F.sum("n").over(w).alias("__cn"),
        F.sum("__sy").over(w).alias("__cy"),
    )
    a = pre.select(
        F.col("bin").alias("__a"),
        (F.col("__cn") - F.col("n")).alias("__cna"),
        (F.col("__cy") - F.col("__sy")).alias("__cya"),
    )
    b = pre.select(
        F.col("bin").alias("__b"),
        F.col("__cn").alias("__cnb"),
        F.col("__cy").alias("__cyb"),
    )
    seg = (
        # broadcast the <=bins-row side: equal cost under AQE
        # (measured), and safe when AQE coalescing is off
        a.crossJoin(F.broadcast(b))
        .where(F.col("__a") <= F.col("__b"))
        .select(
            "__a", "__b",
            (
                (F.col("__cyb") - F.col("__cya"))
                / (F.col("__cnb") - F.col("__cna"))
            ).alias("__v"),
        )
    )
    idx = pre.select(F.col("bin").alias("__i"))
    fitted = (
        seg.join(
            idx,
            (F.col("__a") <= F.col("__i")) & (F.col("__i") <= F.col("__b")),
        )
        .groupBy("__i", "__a")
        .agg(F.min("__v").alias("__mnv"))
        .groupBy("__i")
        .agg(F.max("__mnv").alias("fitted"))
    )
    return (
        pre.join(fitted, pre["bin"] == fitted["__i"])
        .select(
            "bin",
            "bin_lo",
            "n",
            (F.col("__sy") / F.col("n")).alias("mean_label"),
            "fitted",
        )
    )
