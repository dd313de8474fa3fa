"""Custom stateful streaming operator: keyed first row across batches.

A crawl re-fetches URLs across micro-batches; the training pipeline
wants each url exactly once downstream. This is the
``applyInPandasWithState`` shape from the brief — keyed state (key →
row count) that survives micro-batches via the state store, emitting a
row only in the batch that introduced the key.

One kernel (``first_row_per_key``) serves every caller: per key it
emits the batch's minimum row under the caller's order columns, taken
over ALL of the group's Arrow chunks (a key with more rows than
``spark.sql.execution.arrow.maxRecordsPerBatch`` arrives in several),
plus that row's payload and the batch row count; later batches only
bump the counter. The URL dedup, the per-key first id and the
first-capture dedup are projections around it.

Scale notes:
- state is per-key and grows with distinct keys: production bounds it
  with a timeout (set ``state_ttl``) so stale keys age out — the state
  store then holds only the active crawl frontier;
- the groupBy(key) shuffle is the one exchange; within a batch the
  kernel sees each key's rows as pandas chunks (vectorized, no
  per-row Python outside the group loop Spark itself drives).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from ..engine.datagen import PAGES_SCHEMA
from .windows import drain_to_parquet, run_available_now

STATE_SCHEMA = StructType([
    StructField("n_fetches", LongType()),
])


def _first_row_fn(order: Sequence[str], state_ttl: str | None):
    """Build the keyed-state kernel: it emits the group's minimum row
    under ``order`` (all of the group's columns) plus ``n_in_batch``.
    With ``state_ttl`` set, each update arms a processing-time
    timeout; when it fires (key idle for the TTL) the state is removed
    so the store holds only the active frontier — a key re-fetched
    after aging out is emitted again (the documented trade of bounded
    state)."""
    order = list(order)

    def fn(_key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # timeout invocation carries no rows: age the key out
            state.remove()
            return iter(())
        already = state.exists
        n = 0
        heads = []
        for pdf in pdf_iter:
            n += len(pdf)
            if not already and len(pdf):
                heads.append(pdf.sort_values(order, kind="stable").head(1))
        if already:
            (seen,) = state.get
            state.update((seen + n,))
        else:
            state.update((n,))
        if state_ttl:
            state.setTimeoutDuration(state_ttl)
        if already:
            return iter(())  # emitted in the batch that introduced the key
        best = pd.concat(heads).sort_values(order, kind="stable").head(1)
        return iter([best.assign(n_in_batch=n)])

    return fn


def first_row_per_key(df: DataFrame, key: str, order: Sequence[str],
                      payload: Sequence[str] = (),
                      state_ttl: str | None = None) -> DataFrame:
    """Per ``key``, emit the introducing batch's minimum row under
    ``order`` (with its ``payload`` columns) plus ``n_in_batch``, once
    per stream; later batches only bump the state counter. Output
    columns: ``key, *order, *payload, n_in_batch``, typed as in ``df``."""
    rows = df.select(key, *order, *payload)
    out_schema = StructType(
        rows.schema.fields + [StructField("n_in_batch", LongType())]
    )
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl
               else GroupStateTimeout.NoTimeout)
    return rows.groupBy(key).applyInPandasWithState(
        _first_row_fn(order, state_ttl),
        out_schema, STATE_SCHEMA, "append", timeout,
    )


def stream_dedup_urls(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state_ttl: str | None = None,
):
    """Drain available page files, emitting each url exactly once
    across ALL micro-batches (keyed state store): its earliest capture
    (ties on ``warc_ts`` broken by ``text``) as (url, first_ts, text,
    n_in_batch)."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(in_dir).select(
        "url", F.col("warc_ts").alias("first_ts"), "text")
    deduped = first_row_per_key(pages, "url", ["first_ts", "text"],
                                state_ttl=state_ttl)
    return run_available_now(deduped, out_dir, checkpoint_dir)


def stream_first_capture(rows, url_col: str = "canonical_url",
                         ts_col: str = "warc_ts", id_col: str = "doc_id",
                         text_col: str = "text_out"):
    """Attach the keyed-state first-capture operator to a (possibly
    streaming) DataFrame already carrying the canonical URL and the
    extracted text: one groupBy(canonical_url) shuffle, state O(keys).
    Within the introducing batch the earliest (ts, id) row wins.
    Output: (canonical_url, first_id, first_ts, text_out, n_in_batch)."""
    firsts = first_row_per_key(
        rows.select(
            F.col(url_col).alias("canonical_url"),
            F.col(ts_col).cast("long").alias("first_ts"),
            F.col(id_col).cast("long").alias("first_id"),
            F.col(text_col).alias("text_out"),
        ),
        "canonical_url", ["first_ts", "first_id"], ["text_out"],
    )
    return firsts.select("canonical_url", "first_id", "first_ts",
                         "text_out", "n_in_batch")


def stream_first_per_key(
    spark: SparkSession,
    table_dir: str,
    work_dir: str,
    key_col: str,
    id_col: str,
    schema: str | StructType,
) -> DataFrame:
    """applyInPandasWithState over a drained static table: per key,
    the minimum id and the row count of the batch that introduced the
    key, as (key, first_id, n_in_batch). On a single-batch drain (one
    source file) this equals the batch aggregate MIN(id)/COUNT(*) per
    key — closed-form, so the stateful-operator machinery (keyed state
    store, append emission) is oracle-checkable; cross-batch behavior
    is covered by the URL dedup pytest.  ``schema``: the table's
    declared schema, as in ``drain_to_parquet``."""
    def build(rows):
        return first_row_per_key(
            rows.select(F.col(key_col).cast("string").alias("key"),
                        F.col(id_col).cast("long").alias("first_id")),
            "key", ["first_id"],
        )

    return drain_to_parquet(spark, table_dir, work_dir, build, schema)
