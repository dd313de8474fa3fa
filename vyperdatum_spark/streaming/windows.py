"""Watermarked event-time aggregation over the incremental page stream.

The reference is batch-only; the graft's ingest side is a crawl, and a
crawl monitor wants per-window counts that are CORRECT under
out-of-order arrival. This is the standard Structured Streaming shape:
event-time window + watermark bounding state, append output mode so a
window only emits once it can no longer change.

Scale notes:
- state size is O(open windows × group keys), bounded by the watermark
  horizon — independent of stream length;
- the shuffle key is (window, lang): low cardinality, no skew concern;
- ``Trigger.AvailableNow`` drains the backlog incrementally with the
  same checkpointed offsets as the ingest path (exactly-once per input
  file); ``run_available_now`` is the one parquet-append drain every
  streaming query here and in ``stateful.py`` runs through.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..engine.datagen import PAGES_SCHEMA


def stream_hourly_counts(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    window: str = "1 hour",
):
    """Drain available page files into per-(hour, lang) counts.

    Append mode + watermark: a window's row is emitted exactly once,
    when the watermark passes its end — late rows beyond the watermark
    are dropped (counted upstream by the ingest metrics), so re-runs
    and stragglers cannot double-count a finalized window.
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(in_dir)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.octet_length("html").cast("long")).alias("html_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang", "n_pages", "html_bytes",
        )
    )
    return run_available_now(agg, out_dir, checkpoint_dir)


def run_available_now(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Drain what the streaming ``df``'s source holds now into parquet
    at ``out_dir`` (append mode, offsets and state in
    ``checkpoint_dir``, so a re-run reads only new input files), and
    return the finished query."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_to_parquet(
    spark: SparkSession,
    table_dir: str,
    work_dir: str,
    build_query,
    schema: str | StructType,
) -> DataFrame:
    """Shared AvailableNow drain harness: stream ``table_dir`` (a
    parquet file OR directory — the file source requires a directory,
    so single files are exposed through a symlink dir, no copy)
    through ``build_query(streaming_df) -> streaming DataFrame``, sink
    to parquet under ``work_dir``, and read the sink back.

    ``schema`` is the table's declared schema (DDL or StructType), so
    building the drain's source starts no inference job.  The
    read-back passes the query's schema explicitly: a sink that
    emitted zero rows holds only ``_spark_metadata`` and schema
    inference would throw where 'empty result' is the correct answer.
    """
    out_dir = f"{work_dir}/out"
    ck_dir = f"{work_dir}/ck"
    src_dir = f"{work_dir}/src"
    if not os.path.isdir(table_dir):
        os.makedirs(src_dir, exist_ok=True)
        link = os.path.join(src_dir, os.path.basename(table_dir))
        if not os.path.exists(link):
            os.symlink(table_dir, link)
        stream_src = src_dir
    else:
        stream_src = table_dir
    agg = build_query(spark.readStream.schema(schema).parquet(stream_src))
    run_available_now(agg, out_dir, ck_dir)
    return spark.read.schema(agg.schema).parquet(out_dir)


def query_work_dir(name: str) -> str:
    """A deterministic, reusable scratch dir for a drain query: wiped
    and recreated per call so repeated gate/bench runs don't
    accumulate checkpoint/output garbage in /tmp."""
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"vyspark_drain_{name}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def stream_events_hourly(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    schema: str | StructType,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked hourly (window × event_type) aggregation of the
    events table run AS A STREAM (AvailableNow over the parquet file
    source) and read back from the append-mode sink.

    Append-mode emission is deterministic on a drained static input:
    exactly the windows whose end ≤ max(ts) − watermark are finalized
    and emitted once; trailing windows stay in (discarded) state. That
    cutoff is closed-form, so this streaming pipeline is
    oracle-checkable against batch SQL — the correctness contract for
    the watermark/window machinery itself.  ``schema``: the events
    table's declared schema, as in ``drain_to_parquet``.
    """
    def build(ev: DataFrame) -> DataFrame:
        # the table stores wall-clock TIMESTAMP_NTZ; watermarks
        # require TIMESTAMP — cast in, window, cast the window start
        # back out. The round trip is a wall-clock identity only in a
        # WHOLE-HOUR-offset session timezone (windows align to epoch
        # instants); session.py pins UTC, and fractional-offset or
        # DST zones would shift window boundaries vs the NTZ oracle.
        ev = ev.withColumn("_ts", F.col("ts").cast("timestamp"))
        return (
            ev.withWatermark("_ts", watermark)
            .groupBy(F.window("_ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n_events", "sum_value",
            )
        )

    return drain_to_parquet(spark, events_dir, work_dir, build, schema)


def stream_events_sessions(
    spark: SparkSession,
    events_dir: str,
    work_dir: str,
    schema: str | StructType,
    gap: str = "8 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization run AS A STREAM: ``session_window``
    is a merging-window state machine (late rows extend or merge
    open sessions), watermark-bounded, append-mode — a finalized
    session emits exactly once, when the watermark passes its end
    (last event ts + gap).

    On a drained static input the emission set is closed-form —
    sessions with end ≤ max(ts) − watermark — so the streaming
    session machinery itself is oracle-checkable against the batch
    gaps-and-islands SQL plus that cutoff.  State at 10^12 rows is
    O(open sessions), bounded by the watermark horizon per user.
    ``schema``: as in ``stream_events_hourly``.
    """
    def build(ev: DataFrame) -> DataFrame:
        ev = ev.withColumn("_ts", F.col("ts").cast("timestamp"))
        return (
            ev.withWatermark("_ts", watermark)
            .groupBy(
                F.col("user_id"), F.session_window(F.col("_ts"), gap).alias("w")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                "user_id",
                F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                F.col("w.end").cast("timestamp_ntz").alias("session_end"),
                "n_events", "sum_value",
            )
        )

    return drain_to_parquet(spark, events_dir, work_dir, build, schema)
