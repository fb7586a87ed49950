"""Table loading (``catalog``), file readers and sinks (``io``) and
bucketed tables (``bucketed``); import each from its module."""
