"""Column-expression builders: the pivot aggregates and the text, web,
JSON and redaction functions; import each from its module."""
