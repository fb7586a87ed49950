from pivot_spark.functions.aggregates import AGGREGATES, AggregateBuilder

__all__ = ["AGGREGATES", "AggregateBuilder"]
