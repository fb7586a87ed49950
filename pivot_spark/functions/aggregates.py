"""The 21 pivot aggregate functions as pure Catalyst column expressions.

The reference implements each function as a partial-aggregation class with
the lifecycle ``initialize → mergeValue* → mergeAggregates* → getAggregate``
(reference: ``function/AggregateFunction.java:31-66``) — exactly Spark's
partial/final aggregate contract, so every one maps to built-in JVM
aggregates and stays inside whole-stage codegen. No UDFs, no UDAFs.

Each builder receives the *cell condition* (a boolean Column selecting the
rows that belong to one pivot cell) and produces one aggregate expression of
the form ``AGG(CASE WHEN cond THEN field END)`` — semantically identical to
DuckDB/ANSI ``AGG(field) FILTER (WHERE cond)``, which is what the oracle SQL
uses. Rows whose pivot value is not in the declared list simply match no
cell, reproducing the reference's "undeclared value → excluded from all
aggregates" rule (``Pivot.java:337-344``). The routed pivot plan groups
rows by their cell first and calls each builder once, with an always-true
condition.

Empty-cell identities: the reference pre-initializes every cell of the
cartesian product, so functions with a non-null initial value yield it for
empty cells (COUNT→0, LOGICALAND→true, CONCAT→"", SUMOFSQUARES→0.0, ...),
where a naive Spark pivot yields NULL (SURVEY.md §2.2, "Empty cell"
column). We restore those identities with ``coalesce`` inside the aggregate
expression itself — still pure Catalyst — and record each as
``AggregateBuilder.empty`` for the routed plan, whose empty cells never
reach an aggregate.

Semantics notes (file:line cites into the reference):
* COUNTDISTINCT counts null as a distinct value (``CountDistinct.java:45-47``)
  and returns INT (``CountDistinct.java:31``).
* SUM is type-preserving — INT stays INT and may overflow
  (``Sum.java:51-67``); we cast the (long/double) Spark sum back.
* MIN/MAX on strings are case-insensitive (``compareToIgnoreCase``,
  ``Min.java:49`` / ``Max.java:50``); first-seen wins ties in the reference
  (nondeterministic) — we declare a binary-order tie-break (SURVEY.md §2.4
  P07) via min/max over a ``(lower(x), x)`` struct.
* STDDEV/VARIANCE are *population* (``Variance.java:112-119`` rescales the
  Welford sample variance by (n-1)/n) → ``stddev_pop`` / ``var_pop``.
* LONGESTSTRING initializes to ``""`` so empty/all-null cells yield ``""``
  (``LongestString.java:43``); SHORTESTSTRING initializes to null
  (``ShortestString.java:43``). Ties go to first-seen in the reference; we
  declare binary-min tie-break.
* LOGICALAND/LOGICALOR initialize true/false (``LogicalAnd.java:38``).
* CONCAT joins non-null values with ``", "`` (``Concat.java:52-62``).
  CONCATDISTINCT in the reference dedups by substring containment — a bug
  (``ConcatDistinct.java:54,74``, SURVEY.md §2.1); we implement true
  distinct semantics.
* CORRECTEDSUMOFSQUARES = Σx² − (Σx)²/n (``CorrectedSumOfSquares.java:86-92``);
  reference yields NaN on empty cells (0−0/0) — we declare null (SURVEY.md
  §2.4 P16).
* FIRST/LAST/CONCAT/COLLECTLIST are encounter-order nondeterministic in the
  reference (``First.java:52-55``). With an explicit ``order`` key we make
  them deterministic (arg-min/arg-max over the key; order-key-sorted
  collect); without one, FIRST/LAST fall back to Spark's ``first``/``last``
  and the collect/concat family uses value-sorted canonical form.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _masked(cond: Column, col: Column) -> Column:
    """field value for rows in the cell, NULL otherwise (≡ FILTER clause)."""
    return F.when(cond, col)


def _arg_extreme(
    cond: Column, col: Column, keys: Sequence[Column], extreme: str
) -> Column:
    """Deterministic arg-min/arg-max: value of `col` at the min/max of `keys`.

    Implemented as min/max over a struct ``(k1, ..., kn, value)`` — struct
    ordering is lexicographic, nulls are skipped by min/max, and the whole
    thing is a single codegen'd JVM aggregate (no min_by null-ordering
    surprises across Spark versions).
    """
    s = F.struct(*[k.alias(f"__k{i}") for i, k in enumerate(keys)], col.alias("__v"))
    masked = F.when(cond & col.isNotNull(), s)
    agg = F.min(masked) if extreme == "min" else F.max(masked)
    return agg.getField("__v")


def _sorted_collect_list(
    cond: Column, col: Column, order: Optional[Sequence[Column]]
) -> Column:
    """collect_list with deterministic order: by explicit order key when
    given, else canonical value-sorted (SURVEY.md §2.4 P10 contract).
    collect_list drops nulls and returns [] for empty cells — matching the
    declared canonicalization (reference keeps nulls, encounter order:
    CollectList.java:45-48; divergence declared in SURVEY.md §2.2 #12)."""
    if order:
        s = F.struct(*[k.alias(f"__k{i}") for i, k in enumerate(order)], col.alias("__v"))
        lst = F.array_sort(F.collect_list(F.when(cond & col.isNotNull(), s)))
        return F.transform(lst, lambda x: x.getField("__v"))
    return F.sort_array(F.collect_list(_masked(cond, col)))


@dataclass(frozen=True)
class AggregateBuilder:
    """One aggregate function: expression builder + output-type rule."""

    name: str
    # (cond, col_or_None, order_cols_or_None, input_type_or_None) -> Column
    build: Callable[[Column, Optional[Column], Optional[Sequence[Column]], Optional[T.DataType]], Column]
    # input DataType -> output DataType (for design-time schema inference)
    output_type: Callable[[Optional[T.DataType]], T.DataType]
    requires_numeric: bool = False
    requires_field: bool = True
    # What an empty cell yields: the reference's initial value (0, True,
    # "", [] — cast to ``output_type``), or None when it yields NULL, which
    # ``default_value`` then fills (Pivot.java:229-235).
    empty: Any = None
    # Pivot plans rows to their cell before aggregating when any aggregate
    # of a config is routed (operators/pivot.py has the measurements): for
    # these functions one aggregate per group beats one per cell.
    routed: bool = False

    @property
    def non_null_identity(self) -> bool:
        return self.empty is not None


def _b_count(cond, col, order, t):
    return F.count(_masked(cond, col))


def _b_countall(cond, col, order, t):
    return F.count(F.when(cond, F.lit(1)))


def _b_countdistinct(cond, col, order, t):
    # null counts as one distinct value (CountDistinct.java:45-47); INT out.
    nulls_present = F.coalesce(F.max(F.when(cond & col.isNull(), F.lit(1))), F.lit(0))
    return (F.count_distinct(_masked(cond, col)) + nulls_present).cast("int")


def _b_sum(cond, col, order, t):
    s = F.sum(_masked(cond, col))
    # Type-preserving like the reference (Sum.java:51-67). Spark widens
    # int→long; cast back (overflow then wraps — divergence: Spark ANSI
    # would raise; we document value-wrap like Java int arithmetic).
    # DECIMAL (which the reference rejects outright, we support) widens
    # precision — cast back too so runtime matches the declared schema.
    if t is not None and isinstance(
        t, (T.ByteType, T.ShortType, T.IntegerType, T.FloatType, T.DecimalType)
    ):
        return s.cast(t)
    return s


def _b_avg(cond, col, order, t):
    # declared output type is always DOUBLE (Avg.java:45); Spark returns
    # DECIMAL for decimal inputs — cast so runtime matches the schema
    return F.avg(_masked(cond, col)).cast("double")


_SEP = "\x01"  # sorts below every other character in UTF8 binary order


def _ci_key(col: Column) -> Column:
    """Scalar encoding of the (lower(x), x) composite key: since \\x01 is
    smaller than every character except NUL, binary comparison of
    ``lower(x) + \\x01 + x`` equals lexicographic comparison of the pair.
    A scalar min/max stays in hash-aggregate whole-stage codegen, where a
    struct min/max falls back to sort-based aggregation (~10x slower on
    wide scans). Caveat: values containing \\x00 or \\x01 at the
    lower(x)/x boundary can interleave and invert the ordering — control
    characters that don't survive text ingestion; for binary-unsafe data
    use the struct form ``min(struct(lower(x), x))`` instead."""
    return F.concat(F.lower(col), F.lit(_SEP), col)


def _b_min(cond, col, order, t):
    if t is not None and isinstance(t, T.StringType):
        # case-insensitive with binary tie-break (SURVEY.md §2.4 P07)
        return F.substring_index(F.min(_masked(cond, _ci_key(col))), _SEP, -1)
    return F.min(_masked(cond, col))


def _b_max(cond, col, order, t):
    if t is not None and isinstance(t, T.StringType):
        return F.substring_index(F.max(_masked(cond, _ci_key(col))), _SEP, -1)
    return F.max(_masked(cond, col))


def _b_first(cond, col, order, t):
    if order:
        return _arg_extreme(cond, col, list(order), "min")
    return F.first(_masked(cond, col), ignorenulls=True)


def _b_last(cond, col, order, t):
    if order:
        return _arg_extreme(cond, col, list(order), "max")
    return F.last(_masked(cond, col), ignorenulls=True)


def _b_stddev(cond, col, order, t):
    return F.stddev_pop(_masked(cond, col))


def _b_variance(cond, col, order, t):
    return F.var_pop(_masked(cond, col))


def _cast_array(expr: Column, t) -> Column:
    # Stable schema contract: element nullability is True regardless of how
    # Spark infers it for collect_list/collect_set (no runtime cost).
    return expr.cast(T.ArrayType(t, True)) if t is not None else expr


def _b_collectlist(cond, col, order, t):
    return _cast_array(_sorted_collect_list(cond, col, order), t)


def _b_collectset(cond, col, order, t):
    return _cast_array(F.sort_array(F.collect_set(_masked(cond, col))), t)


def _b_longeststring(cond, col, order, t):
    # longest wins; ties → binary-min. min over (-length, value) struct.
    # Empty / all-null cell → "" (LongestString.java:43 initial value).
    return F.coalesce(_arg_extreme(cond, col, [-F.length(col), col], "min"), F.lit(""))


def _b_shorteststring(cond, col, order, t):
    return _arg_extreme(cond, col, [F.length(col), col], "min")


def _b_countnulls(cond, col, order, t):
    return F.count(F.when(cond & col.isNull(), F.lit(1)))


def _b_concat(cond, col, order, t):
    return F.array_join(_sorted_collect_list(cond, col.cast("string"), order), ", ")


def _b_concatdistinct(cond, col, order, t):
    # True distinct semantics (reference's containment-dedup is a bug,
    # ConcatDistinct.java:54,74); canonical sorted order.
    return F.array_join(
        F.sort_array(F.collect_set(_masked(cond, col.cast("string")))), ", "
    )


def _b_logicaland(cond, col, order, t):
    return F.coalesce(F.bool_and(_masked(cond, col)), F.lit(True))


def _b_logicalor(cond, col, order, t):
    return F.coalesce(F.bool_or(_masked(cond, col)), F.lit(False))


def _b_sumofsquares(cond, col, order, t):
    d = _masked(cond, col).cast("double")
    return F.coalesce(F.sum(d * d), F.lit(0.0))


def _b_correctedsumofsquares(cond, col, order, t):
    d = _masked(cond, col).cast("double")
    # Σx² − (Σx)²/n ≡ Σ(x−x̄)² (CorrectedSumOfSquares.java:86-92).
    # Empty cell: sums are null → null (declared divergence from the
    # reference's NaN, SURVEY.md §2.4 P16).
    return F.sum(d * d) - F.pow(F.sum(d), F.lit(2)) / F.count(d)


def _b_median(cond, col, order, t):
    # Exact continuous median (linear interpolation) — same definition as
    # DuckDB quantile_cont(x, 0.5). Engine extension: the reference has no
    # rank-based aggregates at all. SCALE GATE: exact percentiles buffer
    # every value of the cell (ObjectHashAggregate) — per-group state is
    # O(cell rows), so a hot group OOMs at 100x. Use MEDIAN only when
    # cells are known-small (dimension-keyed pivots); the default
    # recommendation for large/unknown cells is APPROXMEDIAN below
    # (bounded sketch state, rank error <= 1/accuracy).
    return F.median(_masked(cond, col).cast("double"))


# Rank-error knob for APPROXMEDIAN: guarantees the result's rank is within
# n/accuracy of the true median while keeping O(accuracy * log n) state
# per cell (Greenwald-Khanna sketch — bounded regardless of cell size).
APPROX_PERCENTILE_ACCURACY = 10_000


def _b_approxmedian(cond, col, order, t):
    # Sketch-based median: the 100 TB path. Unlike exact MEDIAN the result
    # is an observed value (no interpolation) within the rank-error bound;
    # sketch merge is order-sensitive across partitions, so exact equality
    # across runs is not guaranteed — only the rank bound is.
    return F.percentile_approx(
        _masked(cond, col).cast("double"),
        F.lit(0.5),
        F.lit(APPROX_PERCENTILE_ACCURACY),
    ).cast("double")


def _b_approxcountdistinct(cond, col, order, t):
    # HyperLogLog++ distinct-count sketch (relative error ~= 1.04/sqrt(2^p),
    # default rsd 5%): per-cell state is a fixed-size register array at ANY
    # cardinality — the 100 TB path where exact COUNTDISTINCT keeps a
    # per-cell hash set proportional to the cell's distinct values.
    # Declared divergences from COUNTDISTINCT: approximate, NULL not
    # counted as a value, LONG output (a sketch estimate can exceed INT).
    return F.approx_count_distinct(_masked(cond, col)).cast("long")


def _b_skewness(cond, col, order, t):
    # Population skewness g1 = m3 / m2^1.5 — the single-pass helper the
    # reference ships alongside the pivot functions
    # (function/RunningStats.java:24-85, unused by Pivot itself).
    return F.skewness(_masked(cond, col).cast("double"))


def _b_kurtosis(cond, col, order, t):
    # Population excess kurtosis g2 = m4/m2^2 - 3 (RunningStats.java).
    return F.kurtosis(_masked(cond, col).cast("double"))


def _t_same(t):
    return t


def _t_double(t):
    return T.DoubleType()


def _t_long(t):
    return T.LongType()


def _t_int(t):
    return T.IntegerType()


def _t_string(t):
    return T.StringType()


def _t_bool(t):
    return T.BooleanType()


def _t_array(t):
    return T.ArrayType(t if t is not None else T.StringType())


AGGREGATES: dict[str, AggregateBuilder] = {
    "COUNT": AggregateBuilder("COUNT", _b_count, _t_long, empty=0),
    "COUNTALL": AggregateBuilder(
        "COUNTALL", _b_countall, _t_long, requires_field=False, empty=0
    ),
    "COUNTDISTINCT": AggregateBuilder(
        "COUNTDISTINCT", _b_countdistinct, _t_int, empty=0, routed=True
    ),
    "SUM": AggregateBuilder("SUM", _b_sum, _t_same, requires_numeric=True),
    "AVG": AggregateBuilder("AVG", _b_avg, _t_double, requires_numeric=True),
    "MIN": AggregateBuilder("MIN", _b_min, _t_same),
    "MAX": AggregateBuilder("MAX", _b_max, _t_same),
    "FIRST": AggregateBuilder("FIRST", _b_first, _t_same),
    "LAST": AggregateBuilder("LAST", _b_last, _t_same),
    "STDDEV": AggregateBuilder("STDDEV", _b_stddev, _t_double, requires_numeric=True),
    "VARIANCE": AggregateBuilder("VARIANCE", _b_variance, _t_double, requires_numeric=True),
    "COLLECTLIST": AggregateBuilder("COLLECTLIST", _b_collectlist, _t_array, empty=[]),
    "COLLECTSET": AggregateBuilder("COLLECTSET", _b_collectset, _t_array, empty=[]),
    "LONGESTSTRING": AggregateBuilder(
        "LONGESTSTRING", _b_longeststring, _t_string, empty=""
    ),
    "SHORTESTSTRING": AggregateBuilder("SHORTESTSTRING", _b_shorteststring, _t_string),
    "COUNTNULLS": AggregateBuilder("COUNTNULLS", _b_countnulls, _t_long, empty=0),
    "CONCAT": AggregateBuilder("CONCAT", _b_concat, _t_string, empty=""),
    "CONCATDISTINCT": AggregateBuilder(
        "CONCATDISTINCT", _b_concatdistinct, _t_string, empty=""
    ),
    "LOGICALAND": AggregateBuilder("LOGICALAND", _b_logicaland, _t_bool, empty=True),
    "LOGICALOR": AggregateBuilder("LOGICALOR", _b_logicalor, _t_bool, empty=False),
    "SUMOFSQUARES": AggregateBuilder(
        "SUMOFSQUARES", _b_sumofsquares, _t_double, requires_numeric=True, empty=0.0
    ),
    "CORRECTEDSUMOFSQUARES": AggregateBuilder(
        "CORRECTEDSUMOFSQUARES", _b_correctedsumofsquares, _t_double,
        requires_numeric=True,
    ),
    "MEDIAN": AggregateBuilder(
        "MEDIAN", _b_median, _t_double, requires_numeric=True
    ),
    "APPROXMEDIAN": AggregateBuilder(
        "APPROXMEDIAN", _b_approxmedian, _t_double, requires_numeric=True
    ),
    "APPROXCOUNTDISTINCT": AggregateBuilder(
        "APPROXCOUNTDISTINCT", _b_approxcountdistinct, _t_long, empty=0
    ),
    "SKEWNESS": AggregateBuilder(
        "SKEWNESS", _b_skewness, _t_double, requires_numeric=True, routed=True
    ),
    "KURTOSIS": AggregateBuilder(
        "KURTOSIS", _b_kurtosis, _t_double, requires_numeric=True, routed=True
    ),
}


def build_cell_expr(
    func: str,
    cond: Column,
    col: Optional[Column],
    order: Optional[Sequence[Column]],
    input_type: Optional[T.DataType],
    out_name: str,
) -> Column:
    """Build the aggregate expression for one (cell, aggregate) pair."""
    builder = AGGREGATES[func]
    return builder.build(cond, col, order, input_type).alias(out_name)
