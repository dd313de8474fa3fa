def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal, for generated SQL text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
