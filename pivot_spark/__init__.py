"""pivot_spark — a PySpark-native analytics engine with the query surface of
the CDAP ``data-integrations/pivot`` batch aggregator, re-designed Spark-first.

The reference (surveyed in SURVEY.md) is a single relational operator —
PIVOT (group-by + transpose + aggregate) with 21 aggregate functions —
packaged as a CDAP pipeline stage. This package
re-expresses that surface as declarative DataFrame plans that Catalyst
optimizes (one shuffle, map-side partial aggregation, whole-stage codegen),
plus the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) the reference lacks.

This module exposes only the pivot API, and loads it on first use (PEP
562): ``python -m pivot_spark._daemon`` runs this init before it fixes the
worker's path, so the init must not import pyspark. Every other operator
is imported from its own module (``pivot_spark.operators.similarity`` ...),
and no sub-package init imports anything.

Public API:
    PivotConfig       -- parse/validate the reference's config-string surface
    pivot             -- DataFrame -> PivotResult transformation
"""

import importlib

_HOMES = {
    "PivotConfig": "pivot_spark.config",
    "PivotConfigError": "pivot_spark.config",
    "OnError": "pivot_spark.config",
    "pivot": "pivot_spark.operators.pivot",
    "PivotResult": "pivot_spark.operators.pivot",
    "PivotError": "pivot_spark.operators.pivot",
    "output_schema": "pivot_spark.operators.pivot",
    "lineage": "pivot_spark.operators.pivot",
}

__all__ = list(_HOMES)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _HOMES:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_HOMES[name]), name)
    globals()[name] = value
    return value
