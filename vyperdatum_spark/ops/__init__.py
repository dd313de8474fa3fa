from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal, for generated SQL text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ref(c: Column) -> str:
    """A plain column reference as backtick-quoted Spark SQL text; any
    other Column raises before Spark sees it."""
    node = c._jc.node()
    if not node.getClass().getName().endswith(".UnresolvedAttribute"):
        raise ValueError(f"expected a plain column reference, got {c}")
    parts = node.nameParts()
    return ".".join("`" + parts.apply(i).replace("`", "``") + "`"
                    for i in range(parts.size()))


def sql_over(df: DataFrame, query: Callable[[str], str]) -> DataFrame:
    """The Spark SQL statement ``query(rel)`` with the relation name
    ``rel`` bound to ``df``: one parse and one analysis, however many
    stages the text nests.

    ``rel`` is a temporary view named for this call and dropped once
    the statement is analyzed (the analyzed plan no longer needs it),
    the binding pyspark's ``spark.sql(text, df=df)`` makes; no
    ``str.format`` runs over the text, so its regex and CSS braces
    need no escaping."""
    spark = df.sparkSession
    rel = "_sql_over_" + uuid.uuid4().hex
    df.createOrReplaceTempView(rel)
    try:
        return spark.sql(query(rel))
    finally:
        spark.catalog.dropTempView(rel)
