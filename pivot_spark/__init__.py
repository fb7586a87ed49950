"""pivot_spark — a PySpark-native analytics engine with the query surface of
the CDAP ``data-integrations/pivot`` batch aggregator, re-designed Spark-first.

The reference (surveyed in SURVEY.md) is a single relational operator —
PIVOT (group-by + transpose + aggregate) with 21 aggregate functions —
packaged as a CDAP pipeline stage. This package
re-expresses that surface as declarative DataFrame plans that Catalyst
optimizes (one shuffle, map-side partial aggregation, whole-stage codegen),
plus the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) the reference lacks.

This module re-exports only the pivot API; every other operator is
imported from its own module (``pivot_spark.operators.similarity`` ...),
and no sub-package init imports anything.

Public API:
    PivotConfig       -- parse/validate the reference's config-string surface
    pivot             -- DataFrame -> PivotResult transformation
"""

from pivot_spark.config import PivotConfig, PivotConfigError, OnError
from pivot_spark.operators.pivot import (
    pivot,
    PivotResult,
    PivotError,
    lineage,
    output_schema,
)

__all__ = [
    "PivotConfig",
    "PivotConfigError",
    "OnError",
    "pivot",
    "PivotResult",
    "PivotError",
    "output_schema",
    "lineage",
]

__version__ = "0.1.0"
