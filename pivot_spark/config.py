"""Pivot configuration: parsing + validation of the reference's config surface.

Mirrors the semantics of the reference plugin's ``PivotConfig``
(reference: ``src/main/java/io/cdap/plugin/aggregator/PivotConfig.java:68-552``):

* ``pivot_columns`` — ``"col=v1,v2[;col2=w1,w2]"`` (max 2 columns,
  ``PivotConfig.java:164-167``), order-preserving for both columns and values
  (``PivotConfig.java:199,237`` use LinkedHashMap/LinkedHashSet).
* ``pivot_rows`` — ``"f1[,f2,...]"`` group-by key fields. Divergence: the
  reference returns a HashSet (``PivotConfig.java:189-192``) so output key
  order is hash-order; we preserve user-declared order (SURVEY.md §2.1).
* ``aggregates`` — ``"alias:FUNC(field)[,...]"`` (parser at
  ``PivotConfig.java:331-395``); ``FUNC`` one of the 21 functions in
  ``PivotConfig.Function`` (``PivotConfig.java:529-551``).
* ``num_partitions`` / ``default_value`` / ``field_aliases``
  (``"genName:alias[,...]"``) / ``on_error`` (``PivotConfig.java:82-127``).

Validation accumulates *all* errors before failing, like the reference's
``FailureCollector`` pattern (``PivotConfig.java:134-187``).

Engine extension beyond the reference: ``order_by`` — an explicit list of
ordering columns that makes the order-sensitive aggregates
(FIRST/LAST/CONCAT/COLLECTLIST) deterministic. The reference is
partition-order nondeterministic there (SURVEY.md §7 hard part (e)); a
distributed engine needs a declared order to be checkable.

Everything here is pure Python — no SparkSession needed — matching the
reference's design-time ``configurePipeline`` entry point (``Pivot.java:82-98``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Mapping, Sequence

from pivot_spark.functions.aggregates import AGGREGATES


class OnError(str, Enum):
    """Invalid-pivot-value routing (``PivotConfig.java:74-80``).

    The reference has a bug where ``ERROR_FAIL_PIPELINE`` shares the literal
    ``"skip-error"`` with ``ERROR_SKIP`` so fail-pipeline silently drops
    groups; we implement fail-pipeline properly (SURVEY.md §2.1 bug list).
    """

    SKIP = "skip-error"
    ERROR_PORT = "send-to-error-port"
    FAIL = "fail-pipeline"


# The aggregate function names (``functions.aggregates.AGGREGATES``).
FUNCTION_NAMES = frozenset(AGGREGATES)

_AGG_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*:\s*([A-Za-z]+)\s*\(\s*(\*|[^)]*?)\s*\)\s*$")


@dataclass(frozen=True)
class AggregateDef:
    """One parsed ``alias:FUNC(field)`` entry."""

    alias: str
    func: str  # canonical upper-case name from FUNCTION_NAMES
    field: str | None  # None for COUNTALL (count(*))


class PivotConfigError(ValueError):
    """All config validation errors, accumulated (FailureCollector-style)."""

    def __init__(self, errors: Sequence[str]):
        self.errors = list(errors)
        super().__init__("; ".join(self.errors))


@dataclass
class PivotConfig:
    """Validated pivot configuration.

    Accepts either the reference's string surface or structured Python
    values:

    >>> PivotConfig(pivot_columns="Quarter=Q1,Q2", pivot_rows="Product",
    ...             aggregates="s:sum(Sales)")
    >>> PivotConfig(pivot_columns={"Quarter": ["Q1", "Q2"]},
    ...             pivot_rows=["Product"],
    ...             aggregates=[("s", "SUM", "Sales")])
    """

    pivot_columns: "str | Mapping[str, Sequence[str]]"
    pivot_rows: "str | Sequence[str]"
    aggregates: "str | Sequence[AggregateDef | tuple]"
    num_partitions: int | None = None
    default_value: str | None = None
    field_aliases: "str | Mapping[str, str] | None" = None
    on_error: "str | OnError" = OnError.SKIP
    order_by: Sequence[str] | None = None  # engine extension (determinism)

    # parsed forms (filled by __post_init__)
    columns: dict[str, list[str]] = field(init=False)
    rows: list[str] = field(init=False)
    aggs: list[AggregateDef] = field(init=False)
    aliases: dict[str, str] = field(init=False)
    error_mode: OnError = field(init=False)

    def __post_init__(self) -> None:
        errors: list[str] = []
        self.columns = self._parse_pivot_columns(errors)
        self.rows = self._parse_pivot_rows(errors)
        self.aggs = self._parse_aggregates(errors)
        self.aliases = self._parse_field_aliases(errors)
        self.error_mode = self._parse_on_error(errors)
        if self.num_partitions is not None and self.num_partitions <= 0:
            errors.append(f"num_partitions must be positive, got {self.num_partitions}")
        if errors:
            raise PivotConfigError(errors)

    # -- parsers (string surface identical to the reference's) ----------------

    def _parse_pivot_columns(self, errors: list[str]) -> dict[str, list[str]]:
        raw = self.pivot_columns
        out: dict[str, list[str]] = {}
        if isinstance(raw, Mapping):
            for col, vals in raw.items():
                out[str(col)] = [str(v) for v in vals]
        elif isinstance(raw, str):
            # "col=v1,v2;col2=w1,w2" — parser mirror of PivotConfig.java:198-264
            for part in raw.split(";"):
                part = part.strip()
                if not part:
                    continue
                if "=" not in part:
                    errors.append(
                        f"pivot_columns entry {part!r} is not in 'column=v1,v2' format"
                    )
                    continue
                col, _, vals = part.partition("=")
                col = col.strip()
                values = [v.strip() for v in vals.split(",") if v.strip()]
                if not col or not values:
                    errors.append(f"pivot_columns entry {part!r} needs a column and >=1 value")
                    continue
                if col in out:
                    errors.append(f"duplicate pivot column {col!r}")
                    continue
                out[col] = values
        else:
            errors.append(f"pivot_columns has unsupported type {type(raw).__name__}")
        if not out:
            errors.append("pivot_columns must declare at least one column")
        if len(out) > 2:
            # Reference bound: max 2 pivot columns (PivotConfig.java:164-167).
            errors.append(f"at most 2 pivot columns supported, got {len(out)}")
        for col, vals in out.items():
            if len(set(vals)) != len(vals):
                errors.append(f"duplicate values declared for pivot column {col!r}")
        return out

    def _parse_pivot_rows(self, errors: list[str]) -> list[str]:
        raw = self.pivot_rows
        if isinstance(raw, str):
            rows = [r.strip() for r in raw.split(",") if r.strip()]
        else:
            rows = [str(r) for r in raw]
        if not rows:
            errors.append("pivot_rows must declare at least one group-by field")
        if len(set(rows)) != len(rows):
            errors.append("duplicate fields in pivot_rows")
        return rows

    def _parse_aggregates(self, errors: list[str]) -> list[AggregateDef]:
        raw = self.aggregates
        out: list[AggregateDef] = []
        if isinstance(raw, str):
            for part in raw.split(","):
                part = part.strip()
                if not part:
                    continue
                m = _AGG_RE.match(part)
                if not m:
                    errors.append(
                        f"aggregate {part!r} is not in 'alias:FUNC(field)' format"
                    )
                    continue
                alias, func, fld = m.group(1), m.group(2).upper(), m.group(3)
                out.append(self._make_agg(alias, func, fld, errors))
        else:
            for item in raw:
                if isinstance(item, AggregateDef):
                    out.append(self._make_agg(item.alias, item.func.upper(), item.field, errors))
                else:
                    alias, func, fld = item
                    out.append(self._make_agg(alias, func.upper(), fld, errors))
        out = [a for a in out if a is not None]
        if not out:
            errors.append("aggregates must declare at least one 'alias:FUNC(field)'")
        seen: set[str] = set()
        for a in out:
            if a.alias in seen:
                errors.append(f"duplicate aggregate alias {a.alias!r}")
            seen.add(a.alias)
        return out

    def _make_agg(self, alias: str, func: str, fld: "str | None", errors: list[str]):
        # count(*) → COUNTALL, like the reference's special-case
        # (PivotConfig.java:368-372 routes '*' to Function.COUNTALL).
        if fld == "*" or fld == "":
            fld = None
            if func == "COUNT":
                func = "COUNTALL"
        if func not in FUNCTION_NAMES:
            errors.append(f"unknown aggregate function {func!r} for alias {alias!r}")
            return None
        if fld is None and AGGREGATES[func].requires_field:
            errors.append(f"aggregate {alias!r}: function {func} requires a field")
            return None
        return AggregateDef(alias=alias, func=func, field=fld)

    def _parse_field_aliases(self, errors: list[str]) -> dict[str, str]:
        raw = self.field_aliases
        if raw is None:
            return {}
        if isinstance(raw, Mapping):
            return {str(k): str(v) for k, v in raw.items()}
        out: dict[str, str] = {}
        # "genName:alias[,...]" — parser mirror of PivotConfig.java:271-325
        for part in raw.split(","):
            part = part.strip()
            if not part:
                continue
            if ":" not in part:
                errors.append(f"field_aliases entry {part!r} is not in 'name:alias' format")
                continue
            name, _, alias = part.partition(":")
            name, alias = name.strip(), alias.strip()
            if not name or not alias:
                errors.append(f"field_aliases entry {part!r} needs both name and alias")
                continue
            if name in out:
                errors.append(f"duplicate field alias for {name!r}")
                continue
            out[name] = alias
        if len(set(out.values())) != len(out):
            errors.append("field_aliases maps two generated columns to the same alias")
        return out

    def _parse_on_error(self, errors: list[str]) -> OnError:
        raw = self.on_error
        if isinstance(raw, OnError):
            return raw
        try:
            return OnError(raw)
        except ValueError:
            errors.append(
                f"on_error must be one of {[e.value for e in OnError]}, got {raw!r}"
            )
            return OnError.SKIP

    # -- derived plan info -----------------------------------------------------

    def cells(self) -> list[tuple[tuple[str, ...], AggregateDef, str]]:
        """Ordered [(value_tuple, aggregate, generated_column_name)] for the
        full cartesian product of declared pivot values × aggregates, in
        output-schema order: aggregates outer, value-products inner —
        matching the reference's ``generateOutputSchema`` iteration
        (``Pivot.java:283-297``). Within the product the first-declared
        pivot column varies slowest, matching ``Sets.cartesianProduct``
        (``Pivot.java:365-372``) and the machine-written example schema
        ``Q1_Nike_Sum`` (SURVEY.md §2.1 bug list: the doc example is wrong,
        the code order is canonical).
        """
        import itertools

        products = list(itertools.product(*self.columns.values()))
        return [
            (values, agg, "_".join(values) + "_" + agg.alias)
            for agg in self.aggs
            for values in products
        ]

    def cell_names(self) -> list[tuple[tuple[str, ...], str]]:
        """[(value_tuple, generated_column_name)] in output-schema order."""
        return [(values, name) for values, _, name in self.cells()]

    def output_column_name(self, values: tuple[str, ...], alias: str) -> str:
        gen = "_".join(values) + "_" + alias
        return self.aliases.get(gen, gen)
