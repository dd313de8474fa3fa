"""Input construction: adaptive scan parallelization and driver-built
local tables.

Adaptive input-scan parallelization (r6, guide §2.5).

A small parquet fixture arrives as ONE scan partition (a single file /
row group cannot be split), so every downstream per-row explosion
(k-gram md5s, token explodes, regex chains) runs on one core while the
rest of the cluster idles — measured 3.0 s single-task vs 0.3 s spread
for the doc_fingerprint hash scan at sf0.1.

``read_input`` repartitions a scan UP to the session's default
parallelism only when the scan has fewer partitions — at production
scale (thousands of files) the condition is false and the read is
untouched, so this is a small-input fix, not a tuned-for-local
constant.  Round-robin repartition is deterministic under retries
(sort-before-repartition stays on) and every consumer in this engine
is partitioning-order-insensitive by design (the oracle gates prove it
per query).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def parallelize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def read_input(spark: SparkSession, path: str) -> DataFrame:
    return parallelize_scan(spark.read.parquet(path), spark)


def local_df(spark: SparkSession, rows: Iterable[Sequence],
             schema: str | StructType) -> DataFrame:
    """Driver-built rows as a JVM-local ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples, ddl)`` yields a
    ``LogicalRDD`` over a pickled Python RDD: every query that reads it
    (a broadcast build side, say) re-runs a job through Python workers
    just to collect rows the driver already had. An Arrow table becomes
    a ``LocalRelation`` instead — rows held in the plan, a broadcast
    built without a job, and projections over it folded at optimize
    time.

    ``schema`` is a DDL string or ``StructType``. Each column is built
    with ``pa.array(values, type=...)``: float NaN stays NaN and
    ``None`` becomes NULL (a pandas→Arrow conversion would turn NaN
    into NULL), numpy scalars and nested lists/tuples for
    ``array<struct>`` columns are accepted as they are."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, st)
