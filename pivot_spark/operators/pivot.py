"""The Pivot operator: group-by + transpose + aggregate, Spark-first.

Reference semantics: ``Pivot.java:59-393`` — group rows by the pivot-row
fields; route each row to the pivot cell addressed by its pivot-column
values (stringified and matched against the declared value list,
``Pivot.java:330-353``); apply every aggregate to every cell; emit one
output row per group with columns ``{v1[_v2]}_{aggAlias}``.

Two plans, both plain Catalyst aggregations (no UDFs). With
``s_i = cast(pivot_col_i AS string)``:

**Masked** (one phase) — every cell is a conditional aggregate, exactly
ANSI ``AGG(field) FILTER (WHERE ...)``, which is what the oracle SQL uses::

    df.groupBy(*rows).agg(
        AGG(CASE WHEN s_1 = v_1 [AND s_2 = w_1] THEN field END) AS v_1_alias, ...
    )

One exchange, map-side partial aggregation, whole-stage codegen for every
function. But each row pays for all V cells, and V distinct aggregates
(COUNTDISTINCT) make Catalyst's multi-distinct rewrite add an ``Expand``
that emits V+1 copies of each row, plus a second exchange.

**Routed** (two phases) — the reference's own shape: each row goes to
exactly one cell and each aggregate is computed once per cell::

    k_i = CASE WHEN s_i IN (declared_i) THEN s_i END
    p1  = df.groupBy(*rows, k_1[, k_2]).agg(AGG(field) AS a, ...)
    out = p1.groupBy(*rows).agg(first(CASE WHEN k_1 = v_1 ... THEN a END) ...)

Phase 2 transposes at most |cells|+1 phase-1 rows per group. Empty cells
then take the function's identity (``AggregateBuilder.empty``) and
``default_value`` fills the rest as in the masked plan.

**Which plan runs.** ``pivot()`` runs the routed plan when any aggregate
of the config is marked ``AggregateBuilder.routed`` (COUNTDISTINCT,
SKEWNESS, KURTOSIS), the masked plan otherwise. Routed time over masked
time, measured at sf0.1 (600 k ``lineitem`` rows) on a 4-core host:

    ================  ========  ============  ============
    function          7 groups  1,000 groups  150 k groups
    ================  ========  ============  ============
    COUNTDISTINCT     0.78      0.61          0.77
    KURTOSIS          0.54      0.60          1.17
    SKEWNESS          0.84      0.81          1.18
    SUM               1.47      1.21          1.43
    ================  ========  ============  ============

Cheap functions (COUNT, MIN/MAX, LOGICALAND/OR) lose 20-47% routed, so
both plans stay. The streaming pivot (``build_agg_exprs``) is always
masked: routed, it would chain two streaming aggregations.

Not ``df.groupBy().pivot()``: Catalyst's ``ResolvePivot`` groups by rows
plus the pivot column and transposes with ``PivotFirst`` — the routed
shape, but with one pivot column only, no empty-cell identities or output
naming of ours, and no codegen for composite aggregates like our
case-insensitive string min/max.

Undeclared pivot values: such a row matches no cell (routed: its ``k_i``
is NULL) but still contributes its group key, so the group row survives
(skip-error). send-to-error-port folds its check into the same
aggregation — a per-group ``max(bad row)`` flag, then ``filter(NOT
flag)`` — with no second scan and no join.

Scale notes (100 TB design): masked is scan → partial HashAggregate →
Exchange(hash by rows) → final HashAggregate; routed exchanges by
(rows, k) for phase 1 (COUNTDISTINCT adds Spark's single-distinct
exchange on (rows, k, field), no ``Expand``), then by rows for phase 2,
whose input is at most |groups| × (|cells|+1) rows. Only the group-key +
referenced columns are read (column pruning reaches the parquet scan);
state per group is bounded by |cells| × |aggs| scalars (collect_list/set
excepted — documented as memory-bounded-per-group). AQE handles skewed
group keys and partition coalescing.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.config import OnError, PivotConfig, PivotConfigError
from pivot_spark.functions.aggregates import AGGREGATES, NUMERIC_TYPES


# the per-group error-port flag, dropped before the output is returned
_BAD = "__bad"


class PivotError(RuntimeError):
    """Raised by on_error=fail-pipeline when undeclared pivot values exist.

    (The reference intends this but its ERROR_FAIL_PIPELINE constant is
    miswired to "skip-error" — PivotConfig.java:78-80; we fail properly.)
    """


@dataclass
class PivotResult:
    """Main output + optional error port (undeclared-value group keys).

    Mirrors the reference's dual-emitter finalize (``Pivot.java:198-262``):
    ``errors`` is populated only for on_error=send-to-error-port and holds
    one row per group key that contained >=1 undeclared pivot value, plus —
    matching the reference's "missing data model" diagnostics
    (``Pivot.java:330-353``, ``AggregateResult.java:56-58``) — one
    ``{col}_undeclared`` array<string> column per pivot column listing the
    distinct undeclared values seen in that group (sorted; SQL NULL is
    recorded as the string ``"null"`` like Java ``String.valueOf``).
    """

    output: DataFrame
    errors: Optional[DataFrame] = None


def _validate_against_schema(
    config: PivotConfig, schema: T.StructType
) -> dict[str, T.StructField]:
    """Runtime re-validation against the actual input schema, mirroring the
    reference's prepareRun re-validate (``Pivot.java:100-111`` →
    ``PivotConfig.java:134-187``). Accumulates all errors; returns the
    input fields by name."""
    errors: list[str] = []
    fields = {f.name: f for f in schema.fields}
    for col in config.columns:
        if col not in fields:
            errors.append(f"pivot column {col!r} not in input schema")
    for row in config.rows:
        if row not in fields:
            errors.append(f"pivot row field {row!r} not in input schema")
    for row in config.rows:
        if row in config.columns:
            errors.append(f"field {row!r} used as both pivot row and pivot column")
    for agg in config.aggs:
        if agg.field is None:
            continue
        if agg.field not in fields:
            errors.append(f"aggregate {agg.alias!r}: field {agg.field!r} not in input schema")
            continue
        builder = AGGREGATES[agg.func]
        ftype = fields[agg.field].dataType
        if builder.requires_numeric and not isinstance(ftype, NUMERIC_TYPES):
            # Reference: numeric aggregates reject non-numeric and
            # logical-typed fields (AggregationUtils.java:36-39).
            errors.append(
                f"aggregate {agg.alias!r}: {agg.func} requires a numeric field, "
                f"{agg.field!r} is {ftype.simpleString()}"
            )
        if agg.func in ("LONGESTSTRING", "SHORTESTSTRING") and not isinstance(
            ftype, T.StringType
        ):
            errors.append(
                f"aggregate {agg.alias!r}: {agg.func} requires a string field, "
                f"{agg.field!r} is {ftype.simpleString()}"
            )
        if agg.func in ("LOGICALAND", "LOGICALOR") and not isinstance(
            ftype, T.BooleanType
        ):
            errors.append(
                f"aggregate {agg.alias!r}: {agg.func} requires a boolean field, "
                f"{agg.field!r} is {ftype.simpleString()}"
            )
    if config.order_by:
        for key in config.order_by:
            if key not in fields:
                errors.append(f"order_by key {key!r} not in input schema")
    if errors:
        raise PivotConfigError(errors)
    return fields


def output_schema(config: PivotConfig, input_schema: T.StructType) -> T.StructType:
    """Design-time output schema, computed before any data is read —
    mirror of ``Pivot.generateOutputSchema`` (``Pivot.java:274-299``).

    Group-key fields keep their input type/nullability *in declared order*
    (divergence from the reference's hash-ordered HashSet,
    ``PivotConfig.java:189-192`` — SURVEY.md §2.1); every generated
    aggregate column is nullable (``Pivot.java:292``) because a pivot cell
    may receive no rows. Generated columns are ordered aggregates-outer /
    value-products-inner like the reference (``Pivot.java:283-297``).
    """
    fields = _validate_against_schema(config, input_schema)
    out = [fields[r] for r in config.rows]
    for values, agg, gen_name in config.cells():
        builder = AGGREGATES[agg.func]
        in_type = fields[agg.field].dataType if agg.field else None
        name = config.aliases.get(gen_name, gen_name)
        out.append(T.StructField(name, builder.output_type(in_type), True))
    return T.StructType(out)


def _pivot_strings(config: PivotConfig) -> list[Column]:
    """One string-cast column per pivot column, shared by every cell: the
    reference matches ``String.valueOf(value)`` against the declared list
    (``Pivot.java:337``)."""
    return [F.col(c).cast("string") for c in config.columns]


def _route_keys(config: PivotConfig, strs: list[Column]) -> list[Column]:
    """``k_i``: the pivot value when it is declared, else NULL (undeclared
    and NULL values alike — NULL can never match a declared string)."""
    return [F.when(s.isin(list(vals)), s) for s, vals in zip(strs, config.columns.values())]


def _conj(keys: list[Column], values: tuple[str, ...]) -> Column:
    """Row ∈ cell(values): conjunction over the (≤2) pivot columns."""
    return reduce(operator.and_, (k == v for k, v in zip(keys, values)))


def _any_null(keys: list[Column]) -> Column:
    """A row (or phase-1 group) with >=1 undeclared pivot value."""
    return reduce(operator.or_, (k.isNull() for k in keys))


def _fill(expr: Column, fill, out_t: T.DataType) -> Column:
    return expr if fill is None else F.coalesce(expr, F.lit(fill).cast(out_t))


def _order_cols(config: PivotConfig) -> Optional[list[Column]]:
    return [F.col(k) for k in config.order_by] if config.order_by else None


def _masked_exprs(config: PivotConfig, types: dict, strs: list[Column]) -> list[Column]:
    order = _order_cols(config)
    cols = {a.alias: F.col(a.field) if a.field else None for a in config.aggs}
    exprs: list[Column] = []
    for values, agg, gen_name in config.cells():
        builder = AGGREGATES[agg.func]
        in_type = types.get(agg.field)
        expr = builder.build(_conj(strs, values), cols[agg.alias], order, in_type)
        # empty cells already yield the builder's identity; default_value
        # fills the NULLs of the rest (Pivot.java:229-235)
        if not builder.non_null_identity:
            expr = _fill(expr, config.default_value, builder.output_type(in_type))
        exprs.append(expr.alias(config.aliases.get(gen_name, gen_name)))
    return exprs


def build_agg_exprs(config: PivotConfig, schema: T.StructType) -> list[Column]:
    """The masked plan's cell × aggregate expression list — shared by the
    batch and streaming pivot paths."""
    types = {f.name: f.dataType for f in schema.fields}
    return _masked_exprs(config, types, _pivot_strings(config))


def _routed(
    df: DataFrame, config: PivotConfig, types: dict, keys: list[Column], flag: bool
) -> DataFrame:
    """Phase 1 aggregates each routed (rows, k) group once; phase 2
    transposes the ≤ |cells|+1 phase-1 rows of each group into cells."""
    order = _order_cols(config)
    true = F.lit(True)
    k_names = [f"__k{i}" for i in range(len(keys))]
    phase1 = df.groupBy(
        *config.rows, *(k.alias(n) for k, n in zip(keys, k_names))
    ).agg(
        *(
            AGGREGATES[a.func]
            .build(true, F.col(a.field) if a.field else None, order, types.get(a.field))
            .alias(f"__a{j}")
            for j, a in enumerate(config.aggs)
        )
    )
    ks = [F.col(n) for n in k_names]
    slot = {a.alias: F.col(f"__a{j}") for j, a in enumerate(config.aggs)}
    exprs: list[Column] = []
    for values, agg, gen_name in config.cells():
        builder = AGGREGATES[agg.func]
        # one phase-1 row per (group, cell): first() just picks it
        expr = F.first(F.when(_conj(ks, values), slot[agg.alias]), ignorenulls=True)
        fill = builder.empty if builder.non_null_identity else config.default_value
        out_t = builder.output_type(types.get(agg.field))
        exprs.append(_fill(expr, fill, out_t).alias(config.aliases.get(gen_name, gen_name)))
    if flag:
        exprs.append(F.max(_any_null(ks)).alias(_BAD))
    return phase1.groupBy(*config.rows).agg(*exprs)


def _pivot(df: DataFrame, config: PivotConfig, routed: bool) -> PivotResult:
    fields = _validate_against_schema(config, df.schema)
    types = {name: f.dataType for name, f in fields.items()}

    # numPartitions (Pivot.java:100-105): explicit shuffle width for the
    # aggregation. Pre-partitioning by the group keys makes the exchange
    # happen here with the requested width; unset → AQE decides (better).
    if config.num_partitions is not None:
        df = df.repartition(config.num_partitions, *config.rows)

    strs = _pivot_strings(config)
    keys = _route_keys(config, strs)
    # send-to-error-port (Pivot.java:206-211, 241-262): a per-group flag
    # computed in the same aggregation suppresses groups containing any
    # undeclared value from the main output
    flag = config.error_mode is OnError.ERROR_PORT
    if routed:
        out = _routed(df, config, types, keys, flag)
    else:
        exprs = _masked_exprs(config, types, strs)
        if flag:
            exprs.append(F.max(_any_null(keys)).alias(_BAD))
        out = df.groupBy(*config.rows).agg(*exprs)

    if config.error_mode is OnError.SKIP:
        return PivotResult(out, None)

    bad = _any_null(keys)
    if config.error_mode is OnError.FAIL:
        # Correct fail-pipeline (reference bug: silently drops groups).
        # One extra job, short-circuited via limit(1).
        if df.filter(bad).limit(1).count() > 0:
            raise PivotError(
                "input contains pivot-column values outside the declared list "
                f"(pivot_columns={ {k: v for k, v in config.columns.items()} })"
            )
        return PivotResult(out, None)

    # The error port's frame: the suppressed group keys, with the
    # per-column distinct undeclared values ("missing data model",
    # Pivot.java:330-353) as diagnostics. Lazy: it scans only if used.
    undeclared = [
        F.sort_array(
            F.collect_set(F.when(k.isNull(), F.coalesce(s, F.lit("null"))))
        ).alias(f"{c}_undeclared")
        for c, s, k in zip(config.columns, strs, keys)
    ]
    bad_keys = df.filter(bad).groupBy(*config.rows).agg(*undeclared)
    return PivotResult(out.filter(~F.col(_BAD)).drop(_BAD), bad_keys)


def pivot(df: DataFrame, config: PivotConfig) -> PivotResult:
    """Apply the pivot transformation. Returns PivotResult(output, errors).

    Runs the routed plan when any aggregate of ``config`` is routed
    (``AggregateBuilder.routed``), the masked plan otherwise (module
    docstring). Runtime path equivalence with the reference (SURVEY.md
    §3): Spark's partial HashAggregate / Exchange / final HashAggregate
    ARE the reference's mergeValues / shuffle / mergePartitions steps
    (``Pivot.java:146-196``) — we write none of it.
    """
    return _pivot(df, config, any(AGGREGATES[a.func].routed for a in config.aggs))


def lineage(config: PivotConfig) -> dict[str, list[str]]:
    """Field-level lineage {output_field: [input_fields]} — the mapping
    the reference emits as a ``FieldTransformOperation``
    (``Pivot.java:301-328``): group-key fields map identity; every
    generated cell column derives from the pivot columns (they select
    the cell) plus the aggregated source field (none for count(*))."""
    out: dict[str, list[str]] = {r: [r] for r in config.rows}
    pivot_cols = list(config.columns)
    for values, gen_name in config.cell_names():
        name = config.aliases.get(gen_name, gen_name)
        # gen_name = "{v1[_v2]}_{aggAlias}"; strip the value prefix rather
        # than rsplit — agg aliases may themselves contain underscores
        agg_alias = gen_name[len("_".join(values)) + 1 :]
        agg = next(a for a in config.aggs if a.alias == agg_alias)
        out[name] = pivot_cols + ([agg.field] if agg.field else [])
    return out
