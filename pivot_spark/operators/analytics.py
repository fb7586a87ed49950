"""Event-analytics operators: grouped linear regression, cohort
retention, and Markov transition matrices.

All three are pure Catalyst compositions chosen for their shuffle
economics at 100 TB:

* ``grouped_ols`` — per-group simple linear regression via the
  numerically stable TWO-PASS form: a tiny per-group means aggregate is
  broadcast back and the centered moments are summed in a second pass.
  The one-pass moment formula (n·Σxy − ΣxΣy) catastrophically cancels
  when x is a large epoch value; centering first keeps every partial
  well-conditioned, and the shuffled state is group-keyed scalars both
  times (same pattern as ``skew.zscore_normalize``).
* ``cohort_retention`` — classic weekly cohort table: one hash agg for
  per-user first-activity week, one shuffle join back on user id (AQE
  may broadcast the user→cohort side when small), one final
  (cohort, offset) count-distinct.
* ``transition_matrix`` — per-key next-state pairs from one
  window-sorted pass (single exchange), then a count + per-from-state
  normalization via a window sum over the tiny (from, to) matrix.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pivot_spark.operators._fence import materialize, pin
from pivot_spark.operators.profile import _range_scan

US_PER_WEEK = 7 * 24 * 3600 * 1_000_000


def grouped_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group OLS fit y = slope*x + intercept: (groups..., n BIGINT,
    slope, intercept, r2 — DOUBLE rounded 4). Rows with a NULL x or y
    are dropped. Groups with zero x-variance get NULL slope/intercept/
    r2; zero y-variance makes r2 NULL."""
    g = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        *g, x.alias("__x"), y.alias("__y")
    )
    means = base.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
    )
    cx = F.col("__x") - F.col("__mx")
    cy = F.col("__y") - F.col("__my")
    moments = (
        base.join(F.broadcast(means), g)
        .groupBy(*g)
        .agg(
            F.max("n").alias("n"),
            F.max("__mx").alias("__mx"),
            F.max("__my").alias("__my"),
            F.sum(cx * cy).alias("__sxy"),
            F.sum(cx * cx).alias("__sxx"),
            F.sum(cy * cy).alias("__syy"),
        )
    )
    slope = F.when(F.col("__sxx") > 0, F.col("__sxy") / F.col("__sxx"))
    intercept = F.when(
        F.col("__sxx") > 0, F.col("__my") - (F.col("__sxy") / F.col("__sxx")) * F.col("__mx")
    )
    r2 = F.when(
        (F.col("__sxx") > 0) & (F.col("__syy") > 0),
        (F.col("__sxy") * F.col("__sxy")) / (F.col("__sxx") * F.col("__syy")),
    )
    return moments.select(
        *g,
        "n",
        F.round(slope, 4).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
        F.round(r2, 4).alias("r2"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_us_col: str,
    max_offset: "int | None" = None,
) -> DataFrame:
    """Weekly cohort retention: (cohort_week BIGINT — epoch-week index
    of the user's first activity, week_offset BIGINT, n_users BIGINT —
    distinct users of that cohort active in cohort_week+offset).
    ``max_offset`` truncates the table (offset 0 row = cohort size)."""
    # integer division (not double /) — at epoch-boundary timestamps a
    # double quotient can land one ulp below the integer and truncate
    # into the previous week
    week = F.expr(f"CAST(`{ts_us_col}` AS BIGINT) DIV {US_PER_WEEK}")
    acts = df.select(F.col(user_col).alias("__u"), week.alias("__w")).distinct()
    first = acts.groupBy("__u").agg(F.min("__w").alias("__cw"))
    joined = acts.join(first, "__u").select(
        "__u", F.col("__cw").alias("cohort_week"), (F.col("__w") - F.col("__cw")).alias("week_offset")
    )
    if max_offset is not None:
        joined = joined.filter(F.col("week_offset") <= max_offset)
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("__u").alias("n_users"))
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Markov transition counts/probabilities over per-key state
    sequences: (from_state, to_state, n BIGINT, prob DOUBLE rounded 4 —
    n / Σn over the from_state row). ``order_cols`` must make the
    per-key order total (pass a unique tiebreaker)."""
    oc = [F.col(c) for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*oc)
    pairs = (
        df.select(
            F.col(state_col).alias("from_state"),
            F.lead(state_col).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("prob"),
    )


def wilson_rank(
    df: DataFrame,
    key_cols: Sequence[str],
    success_col: str,
    z: float = 1.96,
    min_trials: int = 1,
) -> DataFrame:
    """Per-key success-rate ranking by the Wilson score interval's
    LOWER bound (public formula: Wilson 1927 — the "sort by rating that
    won't embarrass you" estimator): a key with 2/2 successes ranks
    below one with 80/100, because the small sample's interval is wide.

        lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    Returns (keys..., n_trials BIGINT, n_success BIGINT, rate DOUBLE,
    wilson_lb DOUBLE — both rounded 4), ``success_col`` is a boolean
    column/expression. One partial/final hash aggregate + scan-stage
    arithmetic; nothing beyond the per-key counts ever shuffles."""
    if z <= 0:
        raise ValueError(f"z must be positive, got {z}")
    if min_trials < 1:
        raise ValueError(f"min_trials must be >= 1, got {min_trials}")
    keys = list(key_cols)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.sum(F.col(success_col).cast("long")).alias("n_success"),
    ).filter(F.col("n_trials") >= min_trials)
    n = F.col("n_trials").cast("double")
    p = F.col("n_success").cast("double") / n
    z2 = float(z * z)
    lb = (
        p + F.lit(z2) / (2.0 * n)
        - F.lit(float(z)) * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
    ) / (1.0 + F.lit(z2) / n)
    return agg.select(
        *keys,
        "n_trials",
        "n_success",
        F.round(p, 4).alias("rate"),
        F.round(lb, 4).alias("wilson_lb"),
    )


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information (and entropies) between two categorical
    columns — the dependence screen for feature selection and leakage
    checks. One row: (n BIGINT, h_x, h_y, h_xy, mi, nmi — all DOUBLE
    rounded 4, natural log; nmi = mi/max(h_x,h_y), NULL when either
    entropy is 0). Rows with a NULL in either column are dropped.

    Everything derives from the joint contingency table (ONE hash
    aggregate over the data; bounded by |X|·|Y| cells): the marginals
    are window sums over that tiny frame — the raw data is scanned
    once and never joined."""
    from pyspark.sql import Window

    base = df.select(F.col(col_x).alias("__x"), F.col(col_y).alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    joint = base.groupBy("__x", "__y").agg(F.count(F.lit(1)).alias("__c"))
    cx = F.sum("__c").over(Window.partitionBy("__x"))
    cy = F.sum("__c").over(Window.partitionBy("__y"))
    n = F.sum("__c").over(Window.partitionBy())
    cells = joint.select(
        "__c",
        cx.alias("__cx"),
        cy.alias("__cy"),
        n.alias("__n"),
    )
    c = F.col("__c").cast("double")
    t = F.col("__n").cast("double")
    p = c / t
    agg = cells.agg(
        F.max("__n").alias("n"),
        (-F.sum(p * F.log(p))).alias("__hxy"),
        F.sum(p * F.log(c * t / (F.col("__cx") * F.col("__cy")))).alias("__mi"),
        # marginal entropies: sum over cells of p*ln(cx/n) counts each
        # margin cell once per joint cell — weight by p gives the
        # correct expectation
        (-F.sum(p * F.log(F.col("__cx") / t))).alias("__hx"),
        (-F.sum(p * F.log(F.col("__cy") / t))).alias("__hy"),
    )
    hmax = F.greatest(F.col("__hx"), F.col("__hy"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round("__hx", 4).alias("h_x"),
        F.round("__hy", 4).alias("h_y"),
        F.round("__hxy", 4).alias("h_xy"),
        F.round("__mi", 4).alias("mi"),
        F.round(
            F.when(hmax > 0, F.col("__mi") / hmax), 4
        ).alias("nmi"),
    )


def chi_square(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: one row (n BIGINT, dof BIGINT, chi2 DOUBLE rounded 4,
    cramers_v DOUBLE rounded 4 — effect size √(χ²/(n·min(r-1,c-1)))).
    Rows with NULLs dropped. Same single-contingency-aggregate shape as
    ``mutual_information``: marginals are window sums over the tiny
    cell frame; expected counts never materialize row-wise.

    Note χ² sums over OBSERVED cells only minus a closed-form
    correction: Σ_obs (o-e)²/e == Σ_obs o²/e − n when every zero cell
    contributes e = cx·cy/n with o = 0 ⇒ (o−e)²/e = e; we add the
    missing-zero-cell mass as (n − Σ_obs e) exactly."""
    from pyspark.sql import Window

    base = df.select(F.col(col_x).alias("__x"), F.col(col_y).alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    joint = base.groupBy("__x", "__y").agg(F.count(F.lit(1)).alias("__c"))
    cells = joint.select(
        "__x",
        "__y",
        "__c",
        F.sum("__c").over(Window.partitionBy("__x")).alias("__cx"),
        F.sum("__c").over(Window.partitionBy("__y")).alias("__cy"),
        F.sum("__c").over(Window.partitionBy()).alias("__n"),
    )
    o = F.col("__c").cast("double")
    e = F.col("__cx").cast("double") * F.col("__cy") / F.col("__n")
    agg = cells.agg(
        F.max("__n").alias("n"),
        F.count_distinct("__x").alias("__r"),
        F.count_distinct("__y").alias("__k"),
        F.sum((o - e) * (o - e) / e).alias("__chi_obs"),
        F.sum(e).alias("__e_obs"),
    )
    # zero cells: each contributes e; their total is n - sum(e over
    # observed cells)
    chi2 = F.col("__chi_obs") + (F.col("n").cast("double") - F.col("__e_obs"))
    dof = (F.col("__r") - 1) * (F.col("__k") - 1)
    minside = F.least(F.col("__r") - 1, F.col("__k") - 1).cast("double")
    v = F.when(
        (F.col("n") > 0) & (minside > 0),
        F.sqrt(chi2 / (F.col("n").cast("double") * minside)),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        dof.cast("long").alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(v, 4).alias("cramers_v"),
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    bucket_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a bucketed
    column — the ML-ops drift alarm (PSI < 0.1 stable, > 0.25 drifted):

        PSI = Σ_buckets (p_a − p_b) · ln(p_a / p_b)

    with ``eps``-floored shares so one-sided buckets stay finite.
    Returns one row (n_a, n_b BIGINT, n_buckets BIGINT, psi DOUBLE
    rounded 4). Two per-bucket count aggregates (bucket-keyed, tiny) +
    one full-outer join of the two bucket tables."""
    ca = df_a.groupBy(F.col(bucket_col).alias("__b")).agg(
        F.count(F.lit(1)).alias("__ca")
    )
    cb = df_b.groupBy(F.col(bucket_col).alias("__b")).agg(
        F.count(F.lit(1)).alias("__cb")
    )
    both = ca.join(cb, "__b", "full").select(
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
    )
    tot = both.agg(
        F.sum("__ca").alias("n_a"),
        F.sum("__cb").alias("n_b"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    scored = both.crossJoin(F.broadcast(tot))
    pa = F.greatest(
        F.col("__ca").cast("double") / F.col("n_a"), F.lit(float(eps))
    )
    pb = F.greatest(
        F.col("__cb").cast("double") / F.col("n_b"), F.lit(float(eps))
    )
    return scored.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max("n_buckets").cast("long").alias("n_buckets"),
        F.round(F.sum((pa - pb) * F.log(pa / pb)), 4).alias("psi"),
    )


def ks_test(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    num_ranges: int = 32,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test — the distribution-drift
    significance companion to ``psi_drift``: one row (n_a, n_b BIGINT,
    ks_d DOUBLE rounded 4 — max |ECDF_a − ECDF_b|, p_value DOUBLE
    rounded 4 — the asymptotic 2·exp(−2λ²) tail with
    λ = D·√(n_a·n_b/(n_a+n_b))).

    Distributed ECDF: per-side value counts are full-outer merged on
    the value and both running counts come from one
    ``profile._range_scan`` — the cumulative distribution never passes
    through a single global sort; state is distinct-value-sized."""
    va = df_a.select(F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    ).groupBy("__v").agg(F.count(F.lit(1)).alias("__ca"))
    vb = df_b.select(F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    ).groupBy("__v").agg(F.count(F.lit(1)).alias("__cb"))
    m = va.join(vb, "__v", "full").select(
        "__v",
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
    )
    scans = [("__cuma", "sum", "__ca", True), ("__cumb", "sum", "__cb", True)]
    cum = _range_scan(m, ["__v"], scans, "analytics.ks_test", num_ranges)
    totals = cum.agg(
        F.sum("__ca").cast("double").alias("__na"),
        F.sum("__cb").cast("double").alias("__nb"),
    )
    stats = cum.crossJoin(F.broadcast(totals)).agg(
        F.max("__na").cast("long").alias("n_a"),
        F.max("__nb").cast("long").alias("n_b"),
        F.max(
            F.abs(F.col("__cuma") / F.col("__na") - F.col("__cumb") / F.col("__nb"))
        ).alias("__d"),
    )
    return stats.select(
        "n_a",
        "n_b",
        F.round("__d", 4).alias("ks_d"),
        F.round(
            F.least(
                F.lit(1.0),
                2.0
                * F.exp(
                    -2.0
                    * F.pow(
                        F.col("__d")
                        * F.sqrt(
                            F.col("n_a").cast("double") * F.col("n_b")
                            / (F.col("n_a") + F.col("n_b"))
                        ),
                        2,
                    )
                ),
            ),
            4,
        ).alias("p_value"),
    )


def user_journeys(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: Sequence[str],
    max_len: int = 5,
    top_n: "int | None" = 20,
    sep: str = ">",
) -> DataFrame:
    """Top event-sequence paths ("journeys"): per key, the first
    ``max_len`` states in ``order_cols`` order joined with ``sep``,
    then ranked by how many keys share that path — the session-path
    report behind funnels and UX analysis. Returns (journey STRING,
    n_keys BIGINT, rank INT), ties toward the lexicographically
    smaller journey.

    One hash aggregate per key (sorted-struct collect, state bounded by
    the per-key event count; cap long sessions upstream), one tiny
    count aggregate on the path string, one window over ≤ distinct
    paths for the rank. ``order_cols`` must totally order each key's
    events (pass a unique tiebreaker)."""
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    from pyspark.sql import Window

    ordered = df.select(
        F.col(key_col).alias("__k"),
        F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
            F.col(state_col).alias("__s"),
        ).alias("__e"),
    )
    paths = ordered.groupBy("__k").agg(
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("__e")), 1, max_len),
                lambda s: s["__s"],
            ),
            sep,
        ).alias("journey")
    )
    counts = paths.groupBy("journey").agg(F.count(F.lit(1)).alias("n_keys"))
    w = Window.orderBy(F.col("n_keys").desc(), F.col("journey"))
    out = counts.withColumn("rank", F.row_number().over(w).cast("int"))
    if top_n is not None:
        out = out.filter(F.col("rank") <= top_n)
    return out


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.0,
) -> DataFrame:
    """Pairwise association rules over (basket, item) rows — market-
    basket co-occurrence for event types, tags, or token classes:
    (item_a, item_b — item_a < item_b, n_a, n_b, n_ab BIGINT,
    support, conf_a_to_b, conf_b_to_a, lift — DOUBLE rounded 4).
    lift > 1 ⇒ positive co-occurrence.

    Shape: distinct (basket, item) — one shuffle, the dedup bounds a
    hot basket's fan-out — then a per-basket self-join (work ∝
    Σ items_per_basket², bounded by the item vocabulary), one pair
    count, and broadcast item-count/basket-count folds. Output is
    vocab²-bounded, never basket-bounded."""
    if not 0.0 <= min_support <= 1.0:
        raise ValueError(f"min_support must be in [0, 1], got {min_support}")
    bi = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .filter(F.col("__b").isNotNull() & F.col("__i").isNotNull())
        .distinct()
    )
    n_baskets = bi.select("__b").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    item_counts = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("__ci"))
    pairs = (
        bi.alias("a")
        .join(
            bi.alias("b"),
            (F.col("a.__b") == F.col("b.__b")) & (F.col("a.__i") < F.col("b.__i")),
        )
        .groupBy(
            F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ca = item_counts.select(
        F.col("__i").alias("item_a"), F.col("__ci").alias("n_a")
    )
    cb = item_counts.select(
        F.col("__i").alias("item_b"), F.col("__ci").alias("n_b")
    )
    out = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    supp = F.col("n_ab") / F.col("__n")
    res = out.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round(supp, 4).alias("support"),
        F.round(F.col("n_ab") / F.col("n_a"), 4).alias("conf_a_to_b"),
        F.round(F.col("n_ab") / F.col("n_b"), 4).alias("conf_b_to_a"),
        F.round(
            F.col("n_ab") * F.col("__n") / (F.col("n_a") * F.col("n_b")), 4
        ).alias("lift"),
    )
    if min_support > 0.0:
        res = res.filter(F.col("support") >= min_support)
    return res


def seasonal_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    sigma: float = 3.0,
    period_seconds: int = 86400,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Seasonal-profile anomaly detection: build the per-(key, phase)
    mean/stddev profile — phase = which ``bucket_seconds`` slot of the
    ``period_seconds`` cycle the event falls in (default: hour of day) —
    then flag observations deviating more than ``sigma`` population
    stddevs from their slot's profile. The ops-metrics / engagement
    anomaly alarm with day-of-cycle seasonality removed.

    Output: one row per observation — (event keys + ``phase INT``,
    ``v DOUBLE``, ``z DOUBLE`` rounded 4 (NULL when the slot's stddev
    is 0 or the slot has one row), ``is_anomaly BOOLEAN`` (NULL z →
    false)).

    Scale shape: the profile is ONE hash aggregate, keys×(period/bucket)
    rows — broadcast back onto the fact scan, which is never shuffled
    (the ``zscore_normalize`` pattern with a derived seasonal key).
    Phases are integer epoch arithmetic — engine-portable, no calendar
    functions in the hashed path.
    """
    if period_seconds <= 0 or bucket_seconds <= 0 or period_seconds % bucket_seconds:
        raise ValueError(
            "period_seconds must be a positive multiple of bucket_seconds, "
            f"got {period_seconds} / {bucket_seconds}"
        )
    if sigma <= 0:
        raise ValueError(f"sigma must be positive, got {sigma}")
    t = F.col(ts_col)
    v = F.col(value_col).cast("double")
    epoch = F.floor(F.unix_micros(t.cast("timestamp")) / F.lit(1_000_000))
    phase = F.pmod(F.floor(epoch / F.lit(bucket_seconds)), F.lit(period_seconds // bucket_seconds)).cast("int")
    base = df.filter(F.col(key_col).isNotNull() & t.isNotNull() & v.isNotNull()).withColumn(
        "phase", phase
    )
    prof = base.groupBy(key_col, "phase").agg(
        F.avg(v).alias("__mu"),
        F.stddev_pop(v).alias("__sd"),
        F.count(F.lit(1)).alias("__n"),
    )
    joined = base.join(F.broadcast(prof), [key_col, "phase"])
    z = F.when((F.col("__n") > 1) & (F.col("__sd") > 0), (v - F.col("__mu")) / F.col("__sd"))
    return joined.select(
        *[c for c in df.columns],
        F.col("phase"),
        v.alias("v"),
        F.round(z, 4).alias("z"),
        F.coalesce(F.abs(z) >= F.lit(sigma), F.lit(False)).alias("is_anomaly"),
    )


def welch_t_test(
    a: DataFrame, b: DataFrame, value_col: str
) -> DataFrame:
    """Two-sample Welch t statistic (unequal variances) + Satterthwaite
    degrees of freedom — the A/B-test significance summary (public
    textbook formulas; pair with ``ks_test`` for a distribution-level
    check). One row: (n_a, n_b BIGINT, mean_a, mean_b, t, dof DOUBLE
    rounded 4). The p-value needs a t-CDF, which neither engine has as
    a builtin — downstream tooling converts (t, dof).

    One aggregate per side (sample variance + mean + count — partial/
    final hash agg, no shuffle of raw rows beyond it), crossed into a
    single scalar row."""
    def stats(df, suffix):
        return df.select(F.col(value_col).cast("double").alias("v")).agg(
            F.count("v").alias(f"n_{suffix}"),
            F.avg("v").alias(f"m_{suffix}"),
            F.var_samp("v").alias(f"s2_{suffix}"),
        )

    sa, sb = stats(a, "a"), stats(b, "b")
    j = sa.crossJoin(F.broadcast(sb))
    va = F.col("s2_a") / F.col("n_a")
    vb = F.col("s2_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(va + vb)
    dof = (va + vb) * (va + vb) / (
        va * va / (F.col("n_a") - 1) + vb * vb / (F.col("n_b") - 1)
    )
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round(t, 4).alias("t"),
        F.round(dof, 4).alias("dof"),
    )


def cuped_adjust(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    out_col: str = "y_adj",
) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM 2013, public): adjust
    the experiment metric with a pre-experiment covariate,
    ``y_adj = y - theta * (x - mean(x))`` with
    ``theta = cov(x, y) / var(x)`` — same mean, strictly smaller
    variance when the covariate correlates.

    Scale shape: theta and mean(x) come from ONE tiny aggregate
    broadcast back onto the unshuffled fact scan (the
    ``zscore_normalize`` pattern); rows with NULL metric/covariate pass
    through unadjusted. Zero-variance covariate -> theta 0 (no-op)."""
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    stats = df.filter(x.isNotNull() & y.isNotNull()).agg(
        F.covar_pop(x, y).alias("__cxy"),
        F.var_pop(x).alias("__vx"),
        F.avg(x).alias("__mx"),
    )
    theta = F.when(
        F.col("__vx") > 0, F.col("__cxy") / F.col("__vx")
    ).otherwise(F.lit(0.0))
    j = df.crossJoin(F.broadcast(stats))
    adj = F.when(
        x.isNotNull() & y.isNotNull(), y - theta * (x - F.col("__mx"))
    ).otherwise(y)
    return j.select(*df.columns, F.round(adj, 4).alias(out_col))


def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    classic marketing-analytics cut: per key, days since last activity,
    activity count, and total spend, each scored 1..``n_tiles`` against
    exact corpus quantile boundaries (score = 1 + number of boundaries
    strictly exceeded; recency is scored on the *last-activity day* so
    more-recent keys get the higher score).

    Scale shape: one per-key hash aggregate (shuffle on key), then ONE
    single-row aggregate computing max(last_day) and all 3×(n_tiles-1)
    exact percentile boundaries, broadcast back onto the per-key frame
    — the fact table is scanned once and the per-key frame is never
    re-shuffled. Boundary scoring beats a global ``ntile`` window (a
    single-partition sort at scale); exact ``F.percentile`` keeps the
    cut points engine-portable (== DuckDB ``quantile_cont``); swap
    ``percentile_approx`` for bounded-state boundaries on huge key
    populations. Output: (key, recency_days, frequency, monetary,
    r_score, f_score, m_score, rfm)."""
    probs = [i / n_tiles for i in range(1, n_tiles)]
    day = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000) / F.lit(86400)
    )
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(amount_col).cast("double")).alias("__mon"),
        F.max(day).alias("__last_d"),
    )
    st = per.agg(
        F.max("__last_d").alias("__mx"),
        F.percentile(F.col("__last_d").cast("double"), probs).alias("__ql"),
        F.percentile(F.col("frequency").cast("double"), probs).alias("__qf"),
        F.percentile(F.col("__mon"), probs).alias("__qm"),
    )

    def score(col, qcol):
        s = F.lit(1)
        for i in range(1, n_tiles):
            s = s + F.when(col > F.element_at(F.col(qcol), i), 1).otherwise(0)
        return s.cast("int")

    j = per.crossJoin(F.broadcast(st))
    r = score(F.col("__last_d").cast("double"), "__ql")
    f = score(F.col("frequency").cast("double"), "__qf")
    m = score(F.col("__mon"), "__qm")
    return j.select(
        F.col("key").alias(key_col),
        (F.col("__mx") - F.col("__last_d")).cast("long").alias("recency_days"),
        "frequency",
        F.round("__mon", 4).alias("monetary"),
        r.alias("r_score"),
        f.alias("f_score"),
        m.alias("m_score"),
        F.concat(
            r.cast("string"), f.cast("string"), m.cast("string")
        ).alias("rfm"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier product-limit survival estimate (Kaplan & Meier
    1958) — time-to-event analysis with right-censoring: churn/retention
    curves, time-to-conversion, hardware failure. Input is one row per
    subject: ``duration_col`` (numeric time observed) and ``event_col``
    (1/true = the event happened at that time, 0/false = censored —
    observation ended event-free). Output is one row per distinct
    event time t with d > 0 plus censoring-only times: (t, n_risk,
    d, censored, survival) where survival = prod_{t_j <= t}
    (1 - d_j / n_j).

    Distributed shape: ONE duration-keyed aggregate collapses subjects
    to (t, d, c) — the frame is distinct-time-sized from here on — then
    two windows over it: a descending cumulative sum for the risk sets
    and an ascending sum of ln(1 - d/n) exponentiated back for the
    product (the log-sum trick keeps the running product associative;
    d == n at the last time yields ln 0 -> -inf -> survival 0.0,
    exactly the textbook curve). No subject-level sort or window ever
    happens."""
    t = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    base = df.filter(t.isNotNull() & ev.isNotNull())
    per = base.groupBy(t.alias("t")).agg(
        F.sum(ev).alias("d"),
        F.sum(1 - ev).alias("censored"),
    )
    w_desc = (
        Window.orderBy(F.col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    per = per.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("censored")).over(w_desc)
    )
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")),
    ).otherwise(F.lit(float("-inf")))
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(F.sum(F.when(F.col("d") > 0, term).otherwise(F.lit(0.0))).over(w_asc))
    return per.select(
        "t", "n_risk", "d", "censored", surv.alias("survival")
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 + overall accuracy from ONE
    contingency aggregate — the standard classifier evaluation
    (scikit-learn's report, distributed): the corpus is scanned once
    into (label, pred, n) cells (classes² rows, tiny), and every metric
    is algebra over that frame — true/predicted marginals as two
    class-keyed aggregates over the cells, never a second data pass.
    Classes = union of observed labels and predictions; zero-support
    precision/recall/F1 report 0.0. Output: (class, n_true, n_pred,
    tp, precision, recall, f1, accuracy — constant column)."""
    y = F.col(label_col).cast("string")
    p = F.col(pred_col).cast("string")
    ct = (
        df.filter(y.isNotNull() & p.isNotNull())
        .groupBy(y.alias("label"), p.alias("pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    true_m = ct.groupBy(F.col("label").alias("class")).agg(F.sum("n").alias("n_true"))
    pred_m = ct.groupBy(F.col("pred").alias("class")).agg(F.sum("n").alias("n_pred"))
    tp = (
        ct.filter(F.col("label") == F.col("pred"))
        .select(F.col("label").alias("class"), F.col("n").alias("tp"))
    )
    acc = ct.agg(
        (
            F.sum(F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(0))
            / F.sum("n")
        ).alias("accuracy")
    )
    base = (
        true_m.join(pred_m, "class", "full_outer")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.coalesce(
        F.try_divide(F.col("tp").cast("double"), F.col("n_pred")), F.lit(0.0)
    )
    rec = F.coalesce(
        F.try_divide(F.col("tp").cast("double"), F.col("n_true")), F.lit(0.0)
    )
    f1 = F.coalesce(
        F.try_divide(F.lit(2.0) * prec * rec, prec + rec), F.lit(0.0)
    )
    return base.crossJoin(F.broadcast(acc)).select(
        "class", "n_true", "n_pred", "tp",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"), "accuracy",
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic — the k-sample extension of the e119
    Welch pair test: does the metric's mean differ across groups
    (event types, experiment arms, sources)? Sums of squares come from
    ONE group-keyed aggregate (n, mean, population variance per group)
    followed by a single-row aggregate over the tiny group frame —
    SSW = sum n_g*var_g, SSB = sum n_g*(m_g - m)^2 with m the pooled
    mean; the fact table is scanned once. Output is ONE row: (k,
    n, ssb, ssw, df_between = k-1, df_within = n-k, f_stat,
    eta_sq = SSB/(SSB+SSW) — effect size). No p-value (no F CDF
    builtin in either engine; downstream converts)."""
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    per = (
        df.filter(g.isNotNull() & x.isNotNull())
        .groupBy(g.alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.avg(x).alias("m_g"),
            F.var_pop(x).alias("v_g"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        (F.sum(F.col("n_g") * F.col("m_g")) / F.sum("n_g")).alias("__m"),
        F.sum(F.col("n_g") * F.col("v_g")).alias("ssw"),
        F.sum(F.col("n_g") * F.col("m_g") * F.col("m_g")).alias("__sm2"),
    )
    ssb = F.col("__sm2") - F.col("n") * F.col("__m") * F.col("__m")
    fstat = F.try_divide(
        F.try_divide(ssb, (F.col("k") - 1).cast("double")),
        F.try_divide(F.col("ssw"), (F.col("n") - F.col("k")).cast("double")),
    )
    return agg.select(
        "k",
        "n",
        ssb.alias("ssb"),
        "ssw",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        fstat.alias("f_stat"),
        F.try_divide(ssb, ssb + F.col("ssw")).alias("eta_sq"),
    )


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) two-sample test — the
    nonparametric sibling of ``welch_t_test`` for skewed/heavy-tailed
    metrics where mean comparisons mislead. Combined-sample average
    ranks come from the e81 distributed ranker (range-partitioned
    parallel prefix over the DISTINCT-value frame — no row-sized global
    sort); U_a = R_a - n_a(n_a+1)/2, and z uses the normal
    approximation with the standard tie correction
    sigma^2 = n_a n_b/12 * ((N+1) - sum(t^3-t)/(N(N-1))).
    Output is ONE row: (n_a, n_b, u_a, u_b, mean_rank_a, mean_rank_b,
    z)."""
    from pivot_spark.operators.profile import _avg_rank_map

    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.filter(g.isin(group_a, group_b) & x.isNotNull()).select(
        (g == group_a).alias("__a"), x.alias("__v")
    )
    ranked = base.join(_avg_rank_map(base.select("__v"), "__v"), "__v")
    ties = (
        base.groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.sum(
                F.col("__c").cast("double") * F.col("__c") * F.col("__c")
                - F.col("__c")
            ).alias("__t3")
        )
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("__a"), F.col("__r___v"))).alias("__ra"),
        F.sum(F.when(~F.col("__a"), F.col("__r___v"))).alias("__rb"),
    )
    j = agg.crossJoin(F.broadcast(ties))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    ua = F.col("__ra") - na * (na + 1) / 2
    ub = F.col("__rb") - nb * (nb + 1) / 2
    var = na * nb / 12.0 * ((n + 1) - F.col("__t3") / (n * (n - 1)))
    z = F.try_divide(ua - na * nb / 2, F.sqrt(var))
    return j.select(
        "n_a",
        "n_b",
        ua.alias("u_a"),
        ub.alias("u_b"),
        F.try_divide(F.col("__ra"), na).alias("mean_rank_a"),
        F.try_divide(F.col("__rb"), nb).alias("mean_rank_b"),
        z.alias("z"),
    )


def linear_regression(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_col: str,
) -> DataFrame:
    """Multivariate OLS by normal equations — the k-feature extension
    of ``grouped_ols``: coefficients solve (X'X) b = X'y where every
    sufficient statistic (k(k+1)/2 Gram entries + k cross-moments +
    means) comes from ONE two-pass centered aggregate (the e62
    numerical-stability contract: raw moments cancel catastrophically
    on shifted data, so features and target are centered against
    broadcast means first). Only the k×k Gram matrix reaches the
    driver, where numpy solves it — the e54 centroid-literal contract
    for model fitting. Output is ONE row: (coef array<double> in
    ``feature_cols`` order, intercept, r2, n)."""
    import numpy as np

    feats = list(feature_cols)
    k = len(feats)
    if k < 1:
        raise ValueError("need at least 1 feature")
    y = F.col(target_col).cast("double")
    xs = [F.col(c).cast("double") for c in feats]
    base = df.filter(y.isNotNull())
    for x in xs:
        base = base.filter(x.isNotNull())
    means = base.agg(
        *[F.avg(x).alias(f"__mx{i}") for i, x in enumerate(xs)],
        F.avg(y).alias("__my"),
        F.count(F.lit(1)).alias("__n"),
    )
    c = base.crossJoin(F.broadcast(means))
    cx = [xs[i] - F.col(f"__mx{i}") for i in range(k)]
    cy = y - F.col("__my")
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(cx[i] * cx[j]).alias(f"__g_{i}_{j}"))
        aggs.append(F.sum(cx[i] * cy).alias(f"__xy_{i}"))
    aggs.append(F.sum(cy * cy).alias("__syy"))
    row = c.agg(*aggs).crossJoin(F.broadcast(means)).first()

    G = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = row[f"__g_{i}_{j}"]
    xy = np.array([row[f"__xy_{i}"] for i in range(k)])
    beta = np.linalg.solve(G, xy)
    ssr = float(beta @ xy)
    syy = float(row["__syy"])
    r2 = ssr / syy if syy > 0 else 0.0
    intercept = float(row["__my"]) - float(
        sum(beta[i] * row[f"__mx{i}"] for i in range(k))
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [([float(b) for b in beta], intercept, r2, int(row["__n"]))],
        "coef array<double>, intercept double, r2 double, n long",
    )


def conformal_threshold(
    calib: DataFrame,
    residual_col: str,
    alpha: float = 0.1,
    test: "DataFrame | None" = None,
) -> DataFrame:
    """Split conformal prediction calibration (Vovk; Angelopoulos &
    Bates 2021 tutorial): the residual threshold q_hat such that
    prediction intervals |y - y_hat| <= q_hat cover >= 1-alpha of
    future points — q_hat is the k-th smallest calibration residual
    with the finite-sample correction k = ceil((n+1)(1-alpha)).

    The order statistic comes from the residual VALUE-COUNT frame with
    a running count (``profile._range_scan``, no row-sized sort): q_hat =
    min r with cum_count(r) >= k. With ``test``, empirical coverage on
    the held-out split is appended (the conformal guarantee check).
    Output is ONE row: (n_calib, k, q_hat[, n_test, coverage])."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    import math

    r = F.col(residual_col).cast("double")
    base = calib.filter(r.isNotNull()).select(r.alias("__r"))
    n = base.count()
    if n == 0:
        raise ValueError("empty calibration set")
    k = min(n, int(math.ceil((n + 1) * (1.0 - alpha))))
    vc = base.groupBy("__r").agg(F.count(F.lit(1)).alias("__c"))
    qrow = (
        _range_scan(vc, ["__r"], [("__cum", "sum", "__c", True)], "analytics.conformal_threshold")
        .filter(F.col("__cum") >= k)
        .agg(F.min("__r").alias("q_hat"))
    )
    out = qrow.select(
        F.lit(n).alias("n_calib"), F.lit(k).alias("k"), "q_hat"
    )
    if test is not None:
        rt = F.col(residual_col).cast("double")
        tcov = (
            test.filter(rt.isNotNull())
            .crossJoin(F.broadcast(out))
            .agg(
                F.count(F.lit(1)).alias("n_test"),
                F.avg((rt <= F.col("q_hat")).cast("double")).alias("coverage"),
            )
        )
        out = out.crossJoin(F.broadcast(tcov))
    return out


def lift_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Lift / cumulative-gains table — the campaign-targeting view of a
    classifier: rows rank by score descending, split into ``n_bins``
    equal-population bins, and each bin reports its positive rate
    against the base rate. Ranking uses the parallel-prefix
    ``row_rank`` (no global sort); bin = floor((rank-1)*n_bins/n)+1 —
    the exact ntile identity, replayable anywhere. Output per bin:
    (bin, n, n_pos, pos_rate, lift, cum_pos_share, cum_pop_share)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    from pivot_spark.operators.profile import row_rank

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), y.alias("__y"), F.monotonically_increasing_id().alias("__m")
    )
    # monotonically_increasing_id is partition-dependent — callers who
    # need cross-engine determinism must pass a unique score tiebreak
    # themselves; the declared query ranks on (score DESC, event_id)
    ranked = row_rank(base, [F.col("__s").desc(), F.col("__m")], out_col="__rk")
    return _lift_from_ranked(ranked, n_bins)


def lift_curve_ranked(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """``lift_curve`` with an explicit unique tiebreaker — fully
    deterministic on any engine/partitioning (the declared form)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    from pivot_spark.operators.profile import row_rank

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), y.alias("__y"), F.col(tiebreak_col).alias("__m")
    )
    ranked = row_rank(base, [F.col("__s").desc(), F.col("__m")], out_col="__rk")
    return _lift_from_ranked(ranked, n_bins)


def _lift_from_ranked(ranked: DataFrame, n_bins: int) -> DataFrame:
    n = ranked.count()
    b = (F.floor((F.col("__rk") - 1) * n_bins / F.lit(n)) + 1).cast("int")
    per = ranked.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("n_pos")
    )
    tot = per.agg(F.sum("n_pos").alias("__tp"), F.sum("n").alias("__tn"))
    j = per.crossJoin(F.broadcast(tot))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j = j.withColumn("__cp", F.sum("n_pos").over(wcum)).withColumn(
        "__cn", F.sum("n").over(wcum)
    )
    base_rate = F.col("__tp") / F.col("__tn")
    return j.select(
        "bin",
        "n",
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n_pos") / F.col("n")).alias("pos_rate"),
        F.try_divide(F.col("n_pos") / F.col("n"), base_rate).alias("lift"),
        F.try_divide(F.col("__cp"), F.col("__tp")).alias("cum_pos_share"),
        (F.col("__cn") / F.col("__tn")).alias("cum_pop_share"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact tie-corrected ROC-AUC via the Mann–Whitney rank identity:
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with R_pos the
    sum of the positives' AVERAGE score ranks — ties contribute 1/2,
    matching the trapezoidal ROC definition exactly. Ranks come from
    the e81 distributed value ranker (distinct-score frame, parallel
    prefix, no row sort); one aggregate finishes. Output ONE row:
    (n_pos, n_neg, auc)."""
    from pivot_spark.operators.profile import _avg_rank_map

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__v"), (y > 0).alias("__p")
    )
    ranked = base.join(_avg_rank_map(base.select("__v"), "__v"), "__v")
    agg = ranked.agg(
        F.sum(F.when(F.col("__p"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~F.col("__p"), 1).otherwise(0)).alias("n_neg"),
        F.sum(F.when(F.col("__p"), F.col("__r___v"))).alias("__rp"),
    )
    np_, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = F.try_divide(F.col("__rp") - np_ * (np_ + 1) / 2, np_ * nn)
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Average precision (PR-AUC, the ranked-retrieval definition):
    AP = mean over positives of precision@their-rank, on the unique
    total order (score DESC, tiebreak). precision@rank for the i-th
    positive equals i / global_rank(i), so AP needs exactly TWO
    parallel-prefix row ranks — one over all rows, one over the
    positives — and one aggregate; no per-row running windows over the
    corpus. Output ONE row: (n_pos, n, ap)."""
    from pivot_spark.operators.profile import row_rank

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"), (y > 0).alias("__p"), F.col(tiebreak_col).alias("__t")
    )
    ranked = row_rank(base, [F.col("__s").desc(), F.col("__t")], out_col="__g")
    pos = ranked.filter(F.col("__p"))
    pranked = row_rank(pos, [F.col("__s").desc(), F.col("__t")], out_col="__i")
    agg = pranked.agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.avg(F.col("__i") / F.col("__g")).alias("ap"),
    )
    n = ranked.count()
    return agg.select("n_pos", F.lit(n).alias("n"), "ap")


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition — the proper
    scoring rule completing the e131 calibration family:
    BS = reliability - resolution + uncertainty, where reliability
    penalizes miscalibrated bins, resolution rewards bins that separate
    outcomes, and uncertainty = base_rate(1-base_rate) is the data's
    irreducible floor. Bins follow ``calibration_report`` (equal-width
    on [0,1], score 1.0 clamps into the last).

    ONE bin-keyed aggregate + one single-row aggregate over the bin
    frame (plus the exact BS as a direct mean for the identity check —
    same scan). Output ONE row: (n, brier, reliability, resolution,
    uncertainty, base_rate)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        b.alias("__b"), s.alias("__s"), y.alias("__y")
    )
    per = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__s").alias("__ms"),
        F.avg("__y").alias("__my"),
        F.avg((F.col("__s") - F.col("__y")) * (F.col("__s") - F.col("__y"))).alias(
            "__bs"
        ),
    )
    agg = per.agg(
        F.sum("__n").alias("n"),
        (F.sum(F.col("__n") * F.col("__bs")) / F.sum("__n")).alias("brier"),
        (
            F.sum(
                F.col("__n")
                * (F.col("__ms") - F.col("__my"))
                * (F.col("__ms") - F.col("__my"))
            )
            / F.sum("__n")
        ).alias("reliability"),
        (F.sum(F.col("__n") * F.col("__my")) / F.sum("__n")).alias("__rate"),
        F.sum(F.col("__n") * F.col("__my") * F.col("__my")).alias("__smy2"),
    )
    res = (
        F.col("__smy2") / F.col("n")
        - F.col("__rate") * F.col("__rate")
    )
    unc = F.col("__rate") * (1 - F.col("__rate"))
    return agg.select(
        "n",
        "brier",
        "reliability",
        res.alias("resolution"),
        unc.alias("uncertainty"),
        F.col("__rate").alias("base_rate"),
    )


def trending_keys(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_seconds: int = 86400,
) -> DataFrame:
    """Trending detection — which keys surged in the LATEST complete
    time window vs the one before: per-key counts in the two most
    recent ``window_seconds`` buckets (epoch-aligned), smoothed lift
    (c_cur+1)/(c_prev+1) and the two-Poisson rate z
    (c_cur - c_prev)/sqrt(c_cur + c_prev) — the standard burst score.

    One scan-stage bucket expression + ONE key-keyed conditional
    aggregate (the latest bucket id comes from a tiny max-aggregate
    broadcast back); keys absent from both windows don't appear.
    Output: (key, n_prev, n_cur, lift, z)."""
    if window_seconds <= 0:
        raise ValueError(f"window_seconds must be positive, got {window_seconds}")
    b = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(1_000_000)
        / F.lit(window_seconds)
    )
    base = df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("key"), b.alias("__b")
    )
    mx = base.agg(F.max("__b").alias("__mx"))
    j = base.crossJoin(F.broadcast(mx))
    per = (
        j.filter(F.col("__b") >= F.col("__mx") - 1)
        .groupBy("key")
        .agg(
            F.sum((F.col("__b") == F.col("__mx") - 1).cast("long")).alias("n_prev"),
            F.sum((F.col("__b") == F.col("__mx")).cast("long")).alias("n_cur"),
        )
    )
    z = F.when(
        F.col("n_cur") + F.col("n_prev") > 0,
        (F.col("n_cur") - F.col("n_prev"))
        / F.sqrt((F.col("n_cur") + F.col("n_prev")).cast("double")),
    )
    return per.select(
        "key",
        "n_prev",
        "n_cur",
        ((F.col("n_cur") + 1) / (F.col("n_prev") + 1.0)).alias("lift"),
        z.alias("z"),
    )


def sequence_surprise(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Markov sequence-surprise scoring — the behavioral-anomaly rung
    above ``transition_matrix`` (e64): each key's event sequence is
    scored by the corpus first-order model, surprise = mean -ln
    P(to|from) over its transitions. Bots and broken instrumentation
    surface as keys whose sequences the corpus model finds improbable.

    Plan: transitions via one lead window (the e64 exchange), corpus
    transition probabilities from a (from,to)-keyed aggregate with a
    window-sum normalizer (state-vocabulary-sized frame, broadcast
    back), one key-keyed aggregate for the mean. Every observed
    transition has p > 0 by construction (probs come from the same
    corpus). Output: (key, n_transitions, surprise DOUBLE)."""
    oc = [F.col(c) for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*oc)
    trans = (
        df.filter(F.col(key_col).isNotNull() & F.col(state_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.col(state_col).alias("__f"),
            F.lead(state_col).over(
                Window.partitionBy(key_col).orderBy(*oc)
            ).alias("__t"),
        )
        .filter(F.col("__t").isNotNull())
    )
    trans = pin(trans, "analytics.sequence_surprise")  # counts + join
    counts = trans.groupBy("__f", "__t").agg(F.count(F.lit(1)).alias("__n"))
    tot = Window.partitionBy("__f")
    probs = counts.select(
        "__f", "__t", (F.col("__n") / F.sum("__n").over(tot)).alias("__p")
    )
    scored = trans.join(F.broadcast(probs), ["__f", "__t"])
    return scored.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.avg(-F.log("__p")).alias("surprise"),
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """DAU / rolling-WAU engagement table — the product-analytics
    staple with the subtle exact-distinct trap: W-day active users is
    NOT the sum of daily actives. Exact plan: collapse to the DISTINCT
    (day, user) frame first [one shuffle — the frame is
    days x daily-actives], then fan each (day, user) out to the
    ``window_days`` window-end days it supports [scan-stage explode,
    x W] and count DISTINCT users per window-end [second shuffle].
    Output per day: (day BIGINT epoch-days, dau, wau, stickiness =
    dau/wau — the DAU/MAU-style ratio). Days with no activity are
    absent (join a day spine for a dense axis); the first W-1 days
    aggregate partial windows."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000) / F.lit(86400)
    )
    du = (
        df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(day.alias("__day"), F.col(user_col).alias("__u"))
        .distinct()
    )
    dau = du.groupBy(F.col("__day").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    span = du.select(
        F.explode(
            F.sequence(F.col("__day"), F.col("__day") + (window_days - 1))
        ).alias("day"),
        "__u",
    ).distinct()
    # keep only window-ends that are real activity days (partial
    # trailing windows past the last day would otherwise appear)
    wau = span.join(dau.select("day"), "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("wau")
    )
    return dau.join(wau, "day").select(
        "day", "dau", "wau", (F.col("dau") / F.col("wau")).alias("stickiness")
    )


def dispersion_test(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Index-of-dispersion / overdispersion test — is each group's
    event arrival Poisson-like or bursty? Counts per time bucket, then
    per group the variance-to-mean ratio (VMR = 1 under Poisson) and
    the chi-square statistic (n_buckets - 1) * VMR whose df is
    n_buckets - 1 (the classic count-data burstiness screen feeding
    rate-model choices and the e159 trend alarm's null). Buckets with
    zero events inside the group's observed span COUNT (a burst is
    precisely many-then-none) — the span is densified per group from
    its min/max bucket via a scan-stage sequence explode; state is
    buckets per group, never events. Output: (group, n_buckets,
    mean_per_bucket, vmr, chi2, df)."""
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    b = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(1_000_000)
        / F.lit(bucket_seconds)
    )
    base = df.filter(F.col(group_col).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(group_col).alias("grp"), b.alias("__b")
    )
    counts = base.groupBy("grp", "__b").agg(F.count(F.lit(1)).alias("__c"))
    span = counts.groupBy("grp").agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
    )
    dense = span.select(
        "grp", F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__b")
    )
    filled = dense.join(counts, ["grp", "__b"], "left").select(
        "grp", F.coalesce("__c", F.lit(0)).alias("__c")
    )
    agg = filled.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.avg("__c").alias("mean_per_bucket"),
        F.var_samp(F.col("__c").cast("double")).alias("__v"),
    )
    vmr = F.try_divide(F.col("__v"), F.col("mean_per_bucket"))
    return agg.select(
        F.col("grp").alias(group_col),
        "n_buckets",
        "mean_per_bucket",
        vmr.alias("vmr"),
        ((F.col("n_buckets") - 1) * vmr).alias("chi2"),
        (F.col("n_buckets") - 1).alias("df"),
    )


def interarrival_stats(
    df: DataFrame,
    group_col: str,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Inter-arrival time distribution per group — the continuous-time
    companion of ``dispersion_test``: per (group, key) the gaps between
    consecutive events (one lag window over the e14 exchange), then per
    group mean, coefficient of variation (CV = 1 under exponential /
    Poisson arrivals, > 1 bursty), and exact p50/p90 gap seconds.
    Output: (group, n_gaps, mean_gap_s, cv, p50_s, p90_s)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(group_col, key_col).orderBy(us, F.col(tiebreak_col))
    gaps = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("grp"),
            ((us - F.lag(us).over(w)) / F.lit(1_000_000.0)).alias("__g"),
        )
        .filter(F.col("__g").isNotNull())
    )
    agg = gaps.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("__g").alias("mean_gap_s"),
        F.stddev_pop("__g").alias("__sd"),
        F.percentile(F.col("__g"), [0.5, 0.9]).alias("__p"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_gaps",
        "mean_gap_s",
        F.try_divide(F.col("__sd"), F.col("mean_gap_s")).alias("cv"),
        F.element_at("__p", 1).alias("p50_s"),
        F.element_at("__p", 2).alias("p90_s"),
    )


def ranking_metrics(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    tiebreak_col: str,
    k: int = 10,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Per-query ranked-retrieval quality — nDCG@k and reciprocal rank —
    the evaluation loop of an embedding/retrieval data pipeline (judge a
    candidate generator against graded labels, per query).

    Semantics: candidates are ordered by (score DESC, tiebreak ASC);
    DCG@k = sum over the first k of rel_r * w_r and IDCG@k the same sum
    over the relevances sorted descending; rr = 1/rank of the first
    candidate with rel > 0 within the top k (0.0 if none). Discount
    weights w_r = round(weight_scale / log2(r+1)) are QUANTIZED to
    integers at build time, so DCG/IDCG are exact BIGINT sums — the
    engine-portable determinism contract (a float log2 chain would
    differ in ulps between engines); nDCG is a single exact-integer
    division. Declared divergence: weights are 1e-6-quantized, nDCG
    error vs the float definition < 1e-5.

    Scale: ONE groupBy(query) shuffle; candidate lists are collected
    per query, so the contract is the standard bounded-run shape
    (top-N candidates per query, N in the hundreds/thousands — TREC
    run format), never "all docs x all queries". The per-rank sums are
    unrolled into one parsed SQL expression (k terms, whole-stage
    codegen; no higher-order functions, no window, no second shuffle).

    Output: (query, n_cands, dcg, idcg, ndcg, rr)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import math

    w = [round(weight_scale / math.log2(r + 1)) for r in range(1, k + 1)]
    q = F.col(query_col)
    s = F.col(score_col).cast("double")
    rel = F.col(rel_col).cast("long")
    base = df.filter(
        q.isNotNull() & s.isNotNull() & rel.isNotNull()
    ).select(
        q.alias("__q"),
        F.struct(
            (-s).alias("ns"), F.col(tiebreak_col).alias("t"), rel.alias("r")
        ).alias("__c"),
        rel.alias("__r"),
    )
    agg = base.groupBy("__q").agg(
        F.sort_array(F.collect_list("__c")).alias("cs"),
        F.sort_array(F.collect_list("__r"), asc=False).alias("ideal"),
        F.count(F.lit(1)).alias("n_cands"),
    )
    dcg_s = " + ".join(
        f"(CASE WHEN size(cs) >= {i} THEN element_at(cs, {i}).r * {w[i-1]}L"
        f" ELSE 0L END)"
        for i in range(1, k + 1)
    )
    idcg_s = " + ".join(
        f"(CASE WHEN size(ideal) >= {i} THEN element_at(ideal, {i}) * {w[i-1]}L"
        f" ELSE 0L END)"
        for i in range(1, k + 1)
    )
    rr = " ".join(
        f"WHEN size(cs) >= {i} AND element_at(cs, {i}).r > 0"
        f" THEN CAST(1.0 / {i} AS DOUBLE)"
        for i in range(1, k + 1)
    )
    out = agg.withColumns(
        {"__dcg_s": F.expr(dcg_s), "__idcg_s": F.expr(idcg_s)}
    )
    return out.select(
        F.col("__q").alias(query_col),
        "n_cands",
        (F.col("__dcg_s") / F.lit(float(weight_scale))).alias("dcg"),
        (F.col("__idcg_s") / F.lit(float(weight_scale))).alias("idcg"),
        F.try_divide(
            F.col("__dcg_s").cast("double"), F.col("__idcg_s").cast("double")
        ).alias("ndcg"),
        F.expr(f"CASE {rr} ELSE CAST(0.0 AS DOUBLE) END").alias("rr"),
    )


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cohen's kappa agreement between two label columns — the
    annotation-pipeline audit: how much do two labelers (a gold column
    vs a heuristic classifier, or two model versions) agree beyond
    chance?

        kappa = (p_o - p_e) / (1 - p_e),
        p_o = sum_l n_ll / N,  p_e = sum_l row_l * col_l / N^2

    Rows where either label is NULL are excluded (no judgment). All
    counts are exact integers; the p_e numerator is accumulated in
    DECIMAL(38,0) (row_l * col_l overflows BIGINT once N approaches
    ~3e9 — real at corpus scale), so both ratios and kappa are a pure
    function of the confusion matrix, identical on any engine or
    partitioning. Degenerate case p_e = 1 (both columns constant)
    yields NULL kappa.

    Plan: ONE corpus shuffle (the label-pair aggregate, map-side
    combine; the confusion matrix is |labels|^2-bounded); everything
    downstream is answer-sized aggregates combined via broadcast.
    Returns one row: (n BIGINT, agree BIGINT, po, pe, kappa — 4dp).
    """
    base = df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    conf = base.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__c"))
    conf = materialize(conf, "analytics.cohens_kappa")[0]  # read by tot/rows/cols
    tot = conf.agg(
        F.sum("__c").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))),
            F.lit(0).cast("long"),
        ).alias("agree"),
    )
    rows = conf.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    cols = conf.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    pe_num = (
        rows.join(cols, F.col("__a") == F.col("__b"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__ra").cast("decimal(38,0)") * F.col("__cb")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__pe_num")
        )
    )
    out = tot.crossJoin(F.broadcast(pe_num))
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pe = F.col("__pe_num").cast("double") / n / n
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return out.select(
        "n",
        "agree",
        r4(po).alias("po"),
        r4(pe).alias("pe"),
        F.when(pe < 1.0, r4((po - pe) / (1.0 - pe))).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) over a LONG ratings frame — the
    agreement statistic that, unlike Cohen's kappa, handles any number
    of raters per unit AND missing ratings (units rated by a subset of
    raters simply contribute fewer pairable values).

    Input: one row per (unit, rating); rater identity is irrelevant for
    the coincidence-matrix formulation (Krippendorff 2004, §11.3).
    Units with fewer than 2 non-NULL ratings are dropped (nothing to
    pair). With per-unit value counts n_uc and m_u = sum_c n_uc:

        o_cc' = sum_u n_uc * (n_uc' - [c=c']) / (m_u - 1)   (coincidences)
        n_c   = sum_c' o_cc',  n = sum_c n_c  (= total pairable values)
        D_o   = sum_{c!=c'} o_cc' / n
        D_e   = sum_{c!=c'} n_c * n_c' / (n * (n - 1))
        alpha = 1 - D_o / D_e

    Plan: one (unit, value) count aggregate on the corpus, one unit-
    keyed m_u join, a per-unit value self-join whose fan-out is bounded
    by (ratings per unit)² — raters, not corpus — then |values|²-sized
    aggregates. ONE corpus-scale shuffle. Returns one row:
    (n_units BIGINT, n_pairable BIGINT, d_o, d_e, alpha as raw doubles;
    callers round). Degenerate D_e = 0 (a single value overall) yields
    NULL alpha. Its two fence jobs run at call time; outside a
    ``fence_scope()`` release their frames with ``clearCache()``.
    """
    base = df.filter(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(unit_col).alias("__u"), F.col(value_col).alias("__v"))
    uc = base.groupBy("__u", "__v").agg(F.count(F.lit(1)).alias("__nc"))
    mu = uc.groupBy("__u").agg(F.sum("__nc").alias("__m"))
    # the self-join + totals read uc2; n_units is a probe of the fence
    uc2, (_, n_units) = materialize(
        uc.join(mu, "__u").filter(F.col("__m") >= 2),
        "analytics.krippendorff_alpha",
        F.count_distinct("__u"),
    )
    left = uc2.select(
        "__u", F.col("__v").alias("__c"), F.col("__nc").alias("__na"), "__m"
    )
    right = uc2.select(
        "__u", F.col("__v").alias("__cp"), F.col("__nc").alias("__nb")
    )
    coin = (
        left.join(right, "__u")
        .select(
            "__c", "__cp",
            (
                F.col("__na").cast("double")
                * (
                    F.col("__nb")
                    - F.when(F.col("__c") == F.col("__cp"), 1).otherwise(0)
                ).cast("double")
                / (F.col("__m") - 1).cast("double")
            ).alias("__o"),
        )
        .groupBy("__c", "__cp")
        .agg(F.sum("__o").alias("__occ"))
    )
    coin = materialize(coin, "analytics.krippendorff_alpha")[0]
    marg = coin.groupBy("__c").agg(F.sum("__occ").alias("__nc"))
    tots = coin.agg(
        F.sum("__occ").alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__c") != F.col("__cp"), F.col("__occ"))),
            F.lit(0.0),
        ).alias("__dis"),
    )
    e_num = (
        marg.alias("x")
        .crossJoin(F.broadcast(marg.alias("y")))
        .where(F.expr("x.__c <> y.__c"))
        .agg(
            F.coalesce(F.sum(F.expr("x.__nc * y.__nc")), F.lit(0.0)).alias(
                "__en"
            )
        )
    )
    d_o = F.col("__dis") / F.col("__n")
    d_e = F.col("__en") / (F.col("__n") * (F.col("__n") - 1))
    return tots.crossJoin(F.broadcast(e_num)).select(
        F.lit(n_units).cast("long").alias("n_units"),
        F.round(F.col("__n")).cast("long").alias("n_pairable"),
        d_o.alias("d_o"),
        d_e.alias("d_e"),
        F.when(d_e > 0, 1.0 - d_o / d_e).alias("alpha"),
    )


def threshold_select(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 256,
) -> DataFrame:
    """Operating-point sweep for a binary score: confusion counts +
    precision/recall/F1/Youden-J at every candidate threshold — the
    audit run before freezing a quality-filter cutoff (e152's AUC says
    how good the score is; this says WHERE to cut it).

    Scores are binned into ``bins`` equal-width buckets over the
    observed [min, max] (the e208 binning device); thresholding at a
    bucket's lower edge predicts positive for every bucket >= it, so
    the whole curve falls out of one descending prefix sum over the
    ≤``bins``-row histogram. One corpus scan + one tiny aggregate;
    every count is an exact BIGINT, every rate an exact-int division.

    Output: one row per non-empty bucket — (threshold = bucket lower
    edge, tp, fp, fn, tn, precision, recall, fpr, f1, youden_j).
    Callers pick argmax(f1) or argmax(youden_j); precision is NULL
    when tp + fp = 0.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    base = df.select(
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    rng = base.agg(F.min("__s").alias("__mn"), F.max("__s").alias("__mx"))
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
        .alias("__b"),
        "__y",
        "__mn",
        "__mx",
    )
    hist = binned.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").cast("long").alias("__p"),
        F.min(
            F.col("__mn") + F.col("__b") * (F.col("__mx") - F.col("__mn")) / bins
        ).alias("threshold"),
    )
    from pyspark.sql import Window

    # descending prefix over the <=bins-row frame (bounded single task)
    wd = Window.orderBy(F.col("__b").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = hist.agg(
        F.sum("__n").alias("__tot"), F.sum("__p").alias("__pos")
    )
    cur = (
        hist.select(
            "__b", "threshold",
            F.sum("__p").over(wd).alias("tp"),
            (F.sum("__n").over(wd) - F.sum("__p").over(wd)).alias("fp"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "tp",
            "fp",
            (F.col("__pos") - F.col("tp")).alias("fn"),
            (F.col("__tot") - F.col("__pos") - F.col("fp")).alias("tn"),
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
            ).alias("precision"),
            F.when(
                F.col("__pos") > 0,
                F.col("tp").cast("double") / F.col("__pos"),
            ).alias("recall"),
            F.when(
                F.col("__tot") - F.col("__pos") > 0,
                F.col("fp").cast("double") / (F.col("__tot") - F.col("__pos")),
            ).alias("fpr"),
            F.when(
                2 * F.col("tp") + F.col("fp") + (F.col("__pos") - F.col("tp")) > 0,
                2.0 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + (F.col("__pos") - F.col("tp"))),
            ).alias("f1"),
        )
        .withColumn(
            "youden_j",
            F.coalesce(F.col("recall"), F.lit(0.0))
            - F.coalesce(F.col("fpr"), F.lit(0.0)),
        )
    )
    return cur


def ipw_estimate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    propensity_col: str,
    clip: "tuple[float, float]" = (0.01, 0.99),
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Hájek /
    self-normalized estimator) — the observational-data companion of
    ``cuped_adjust``: when treatment was NOT randomized but a
    propensity score e(x) = P(T=1|x) exists, reweighting by 1/e and
    1/(1-e) recovers the population means under both arms.

        ate = sum(T·y/e)/sum(T/e) - sum((1-T)·y/(1-e))/sum((1-T)/(1-e))

    Propensities are clipped into ``clip`` first (the standard
    positivity guard — an e of 0.001 would hand one row a weight of
    1000 and the estimate to the noisiest unit). ONE single-row
    aggregate over the corpus; no shuffle beyond it. Output: one row —
    (n, n_treat, mean_treat_w, mean_ctrl_w, ate, naive_diff) with the
    unweighted difference alongside so the correction itself is
    visible.
    """
    lo, hi = clip
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"clip must satisfy 0 < lo < hi < 1, got {clip}")
    t = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("double")
    e = F.least(F.greatest(F.col(propensity_col).cast("double"), F.lit(lo)), F.lit(hi))
    base = df.filter(
        F.col(treat_col).isNotNull()
        & F.col(outcome_col).isNotNull()
        & F.col(propensity_col).isNotNull()
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).cast("long").alias("n_treat"),
        F.sum(t * y / e).alias("__tw"),
        F.sum(t / e).alias("__tn"),
        F.sum((1 - t) * y / (1 - e)).alias("__cw"),
        F.sum((1 - t) / (1 - e)).alias("__cn"),
        F.sum(t * y).alias("__ty"),
        F.sum(1 - t).cast("long").alias("__nc"),
        F.sum((1 - t) * y).alias("__cy"),
    )
    mt = F.when(F.col("__tn") > 0, F.col("__tw") / F.col("__tn"))
    mc = F.when(F.col("__cn") > 0, F.col("__cw") / F.col("__cn"))
    return agg.select(
        "n",
        "n_treat",
        mt.alias("mean_treat_w"),
        mc.alias("mean_ctrl_w"),
        (mt - mc).alias("ate"),
        (
            F.when(F.col("n_treat") > 0, F.col("__ty") / F.col("n_treat"))
            - F.when(F.col("__nc") > 0, F.col("__cy") / F.col("__nc"))
        ).alias("naive_diff"),
    )


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    key_col: str,
    buckets: int = 50,
    seed: str = "s42",
) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    sum(num)/sum(den) — the correct uncertainty for CTR / revenue-per-
    order style metrics, where per-row variance formulas are wrong
    because numerator and denominator are correlated within a unit
    (Kish 1965; the delete-a-group jackknife used by large A/B
    platforms).

    Rows are assigned to ``buckets`` groups by the portable md5 draw on
    ``key_col`` (all rows of a unit land in the same bucket, preserving
    within-unit correlation); leave-one-out ratios R_b come from the
    B-row bucket-total frame and

        se = sqrt((B-1)/B * sum_b (R_b - mean(R_b))^2)

    ONE corpus aggregate (B-bounded), then answer-sized algebra.
    Output: one row — (ratio, se_jack, ci_lo, ci_hi at ±1.96·se,
    n_buckets BIGINT, n BIGINT).
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), F.col(key_col).cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % buckets
        ).alias("__b"),
        F.col(num_col).cast("double").alias("__n"),
        F.col(den_col).cast("double").alias("__d"),
    )
    per = base.groupBy("__b").agg(
        F.sum("__n").alias("__sn"),
        F.sum("__d").alias("__sd"),
        F.count(F.lit(1)).alias("__c"),
    )
    tot = per.agg(
        F.sum("__sn").alias("__tn"),
        F.sum("__sd").alias("__td"),
        F.sum("__c").alias("__n_rows"),
        F.count(F.lit(1)).alias("__nb"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "__nb", "__tn", "__td", "__n_rows",
        (
            (F.col("__tn") - F.col("__sn"))
            / (F.col("__td") - F.col("__sd"))
        ).alias("__rb"),
    )
    out = loo.groupBy("__nb", "__tn", "__td", "__n_rows").agg(
        F.avg("__rb").alias("__rbar"),
        F.sum(F.col("__rb") * F.col("__rb")).alias("__rb2"),
    )
    ratio = F.col("__tn") / F.col("__td")
    # sum (R_b - rbar)^2 = sum R_b^2 - B * rbar^2
    ss = F.col("__rb2") - F.col("__nb") * F.col("__rbar") * F.col("__rbar")
    se = F.sqrt(
        (F.col("__nb") - 1) / F.col("__nb") * F.greatest(ss, F.lit(0.0))
    )
    return out.select(
        ratio.alias("ratio"),
        se.alias("se_jack"),
        (ratio - 1.96 * se).alias("ci_lo"),
        (ratio + 1.96 * se).alias("ci_hi"),
        F.col("__nb").cast("long").alias("n_buckets"),
        F.col("__n_rows").cast("long").alias("n"),
    )
