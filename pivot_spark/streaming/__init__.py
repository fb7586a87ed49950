"""Structured Streaming operators, one module each; import each from its
module, e.g. ``from pivot_spark.streaming.dedup_stream import dedup_stream``."""
