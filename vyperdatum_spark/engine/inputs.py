"""Input construction: adaptive scan parallelization and driver-built
local tables.

Adaptive input-scan parallelization (r6, guide §2.5).

A small parquet fixture arrives as ONE scan partition (a single file /
row group cannot be split), so every downstream per-row explosion
(k-gram md5s, token explodes, regex chains) runs on one core while the
rest of the cluster idles — measured 3.0 s single-task vs 0.3 s spread
for the doc_fingerprint hash scan at sf0.1.

``read_input`` reads with the caller's declared schema (a schema-less
read starts a footer-inference job at plan-build time) and
repartitions the scan UP to the session's default parallelism ``p``
only when Spark would run it as fewer partitions.  That is decided
from facts the driver already holds, without a job and without
converting the DataFrame to an RDD.  Spark packs a file scan into
splits of ``max(openCostInBytes, total / p)`` bytes (capped at
maxPartitionBytes), where ``total`` charges each file its size plus
``openCostInBytes``.  While ``total < p * openCostInBytes`` the split
is ``openCostInBytes``, each file or chunk gets a partition of its own
and there are fewer than ``p`` of them; otherwise the split is
``total / p`` or larger and the scan already has about ``p``
partitions or more.  A count of files alone would fan out a few huge
files at scale; the byte total keeps those as they are.  At
production scale (thousands of files) the condition is false and the
read is untouched, so this is a small-input fix, not a
tuned-for-local constant.  Round-robin repartition is deterministic
under retries (sort-before-repartition stays on) and every consumer in
this engine is partitioning-order-insensitive by design (the oracle
gates prove it per query).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def parallelize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df`` repartitioned to the default parallelism when it would
    run as fewer partitions.  A partition count the physical plan
    states (a shuffle, a coalesce, a range) is taken as it is; a file
    scan states none, since Spark splits it at execution, and is
    judged by its bytes and files (module docstring)."""
    p = spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    n = qe.sparkPlan().outputPartitioning().numPartitions()
    if n == 0:
        open_cost = (spark._jsparkSession.sessionState().conf()
                     .filesOpenCostInBytes())
        total = (qe.optimizedPlan().stats().sizeInBytes()
                 + len(df._jdf.inputFiles()) * open_cost)
        few = total < p * open_cost
    else:
        few = n < p
    return df.repartition(p) if few else df


def read_input(spark: SparkSession, path: str,
               schema: str | StructType) -> DataFrame:
    """The parquet at ``path`` read with its declared ``schema`` (a DDL
    string or ``StructType``), fanned out by ``parallelize_scan``."""
    return parallelize_scan(spark.read.schema(schema).parquet(path), spark)


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
