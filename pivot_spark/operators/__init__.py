"""Operator modules, one per family (dedup, similarity search, text
quality, sampling, joins, event analytics, profiling, layout, media).
Import each operator from its module, e.g.
``from pivot_spark.operators.similarity import cosine_topk``."""
