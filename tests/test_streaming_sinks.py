"""Structured Streaming ingest (AvailableNow + foreachBatch) and
sink tests (CSV export, cell-partitioned parquet, version
fingerprint)."""

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vyperdatum_spark.engine import datagen, sinks, transform as tx
from vyperdatum_spark.streaming import ingest


def test_stream_ingest_incremental_exactly_once(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    # first file batch (µs timestamps: Spark 4's vectorized reader
    # rejects pandas' default ns INT64 against PAGES_SCHEMA)
    datagen.pages_pdf(120, seed=1).to_parquet(
        f"{in_dir}/batch1.parquet", coerce_timestamps="us"
    )
    ingest.stream_transform_pages(spark, in_dir, out_dir, ck_dir)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # re-run with no new files → no duplicates (offsets checkpointed)
    ingest.stream_transform_pages(spark, in_dir, out_dir, ck_dir)
    assert spark.read.parquet(out_dir).count() == n1

    # second file arrives → only IT is processed
    datagen.pages_pdf(80, seed=2).to_parquet(
        f"{in_dir}/batch2.parquet", coerce_timestamps="us"
    )
    ingest.stream_transform_pages(spark, in_dir, out_dir, ck_dir)
    out = spark.read.parquet(out_dir)
    n2 = out.count()
    assert n2 > n1
    # urls unique per batch seed-overlap is expected (same generator),
    # but each (url, warc_ts) from batch1 appears exactly once more
    assert out.groupBy("url").count().agg(F.max("count")).collect()[0][0] <= 2


def test_csv_sink_round_trip(spark, tmp_path, fixture_points):
    pts = spark.createDataFrame(fixture_points)
    out = tx.transform_points(spark, pts, "ellipse", "mllw")
    path = str(tmp_path / "csv")
    sinks.to_csv(out, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == len(fixture_points)
    assert set(back.columns) == {"x", "y", "z_out", "unc", "region_ord"}


def test_cell_partitioned_sink_prunes(spark, tmp_path, fixture_points):
    pts = spark.createDataFrame(fixture_points)
    out = tx.transform_points(spark, pts, "ellipse", "mllw",
                              include_uncertainty=False)
    path = str(tmp_path / "cells")
    sinks.to_cell_partitioned_parquet(out.select("pid", "cell5", "z_out"), path)
    # physical layout is partitioned by cell
    assert glob.glob(f"{path}/cell5=*")
    one_cell = spark.read.parquet(path).filter(
        F.col("cell5") == out.select("cell5").first()[0]
    )
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell5" in plan or one_cell.count() > 0


def test_catalog_version_fingerprint_stable():
    v1 = sinks.catalog_version()
    v2 = sinks.catalog_version()
    assert v1 == v2 and len(v1) == 32
    rows = sinks.catalog_version_rows()
    assert len(rows) == 24 and all(len(h) == 32 for _, h in rows)


def test_stream_windowed_counts_watermark(spark, tmp_path):
    """Watermarked hourly window agg (append mode): windows emit once
    finalized; a second batch advancing event time flushes the earlier
    windows exactly once."""
    from vyperdatum_spark.streaming import windows

    in_dir = str(tmp_path / "win_in")
    out_dir = str(tmp_path / "win_out")
    ck_dir = str(tmp_path / "win_ck")
    os.makedirs(in_dir)

    # batch 1: pages spanning hours 0..n (warc_ts = 2024-01-01 + i sec)
    datagen.pages_pdf(7200, seed=3).to_parquet(
        f"{in_dir}/b1.parquet", coerce_timestamps="us"
    )
    windows.stream_hourly_counts(spark, in_dir, out_dir, ck_dir)
    # the watermark only ADVANCES when a batch completes, so a
    # single-batch run finalizes nothing yet — append mode holds the
    # open windows in state
    first = spark.read.parquet(out_dir)
    n1 = first.count()
    assert n1 == 0

    # batch 2: later pages advance the watermark -> earlier windows
    # flush exactly once
    pdf2 = datagen.pages_pdf(3600, seed=4)
    pdf2["warc_ts"] = pdf2["warc_ts"] + pd.Timedelta(hours=2)
    pdf2.to_parquet(f"{in_dir}/b2.parquet", coerce_timestamps="us")
    windows.stream_hourly_counts(spark, in_dir, out_dir, ck_dir)
    second = spark.read.parquet(out_dir)
    assert second.count() > n1
    # only windows the watermark passed are present (hour 0; the
    # rest remain open in state)
    assert second.agg(F.max("window_end")).collect()[0][0].hour <= 2
    # no window/lang pair emitted twice (append-mode exactly-once)
    dups = (
        second.groupBy("window_start", "lang").count().filter("count > 1").count()
    )
    assert dups == 0
    # counts are exact per finalized window: hour 0 has 3600 pages,
    # 4 langs uniformly -> 900 each
    h0 = second.filter(F.col("window_start") == pd.Timestamp("2024-01-01"))
    got = {r["lang"]: r["n_pages"] for r in h0.collect()}
    assert got == {"en": 900, "es": 900, "de": 900, "fr": 900}


def test_stream_stateful_url_dedup(spark, tmp_path):
    """applyInPandasWithState: each url emitted exactly once ACROSS
    micro-batches (keyed state survives in the state store)."""
    from vyperdatum_spark.streaming import stateful

    in_dir = str(tmp_path / "st_in")
    out_dir = str(tmp_path / "st_out")
    ck_dir = str(tmp_path / "st_ck")
    os.makedirs(in_dir)

    # batch 1: urls 0..99 (page ids 0..99)
    datagen.pages_pdf(100, seed=1).to_parquet(
        f"{in_dir}/b1.parquet", coerce_timestamps="us"
    )
    stateful.stream_dedup_urls(spark, in_dir, out_dir, ck_dir)
    out1 = spark.read.parquet(out_dir)
    assert out1.count() == 100
    assert out1.select("url").distinct().count() == 100

    # batch 2: urls 50..149 — overlap 50..99 must NOT re-emit
    pdf2 = datagen.pages_pdf(150, seed=2).iloc[50:150]
    pdf2.to_parquet(f"{in_dir}/b2.parquet", coerce_timestamps="us")
    stateful.stream_dedup_urls(spark, in_dir, out_dir, ck_dir)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 150  # 100 + the 50 new urls only
    dups = out2.groupBy("url").count().filter("count > 1").count()
    assert dups == 0


def test_stream_drain_empty_emission_yields_empty_df(spark, tmp_path):
    """A drained stream whose watermark finalizes NO windows must
    return an empty DataFrame (schema from the query), not crash on
    schema inference over a data-less sink directory."""
    import pandas as pd

    from vyperdatum_spark.streaming import windows as sw

    src = str(tmp_path / "ev.parquet")
    # 30-minute span < watermark(1h) + window(1h): nothing finalizes
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:30:00"]),
        "event_type": ["a", "b"],
        "value": [1.0, 2.0],
    })
    spark.createDataFrame(pdf).write.parquet(src)
    out = sw.stream_events_hourly(
        spark, src, str(tmp_path / "work"),
        "ts timestamp, event_type string, value double")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "window_start", "event_type", "n_events", "sum_value"
    ]


class _FakeState:
    """The GroupState surface the keyed first-row kernel uses."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_set = None
        self.removed = False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def setTimeoutDuration(self, d):
        self.timeout_set = d

    def remove(self):
        self.removed = True
        self.exists = False


def test_stateful_ttl_kernel_arms_and_ages_out():
    """Round-3 ADVICE regression: the TTL variant must arm a
    processing-time timeout on every update and remove state on the
    timeout invocation (previously state_ttl was a silent no-op)."""
    from vyperdatum_spark.streaming.stateful import _first_row_fn

    fn = _first_row_fn(["warc_ts", "text"], "10 minutes")
    st = _FakeState()
    pdf = pd.DataFrame({
        "url": ["u"], "warc_ts": [pd.Timestamp("2024-01-01")],
        "text": ["t"],
    })
    out = list(fn(("u",), iter([pdf]), st))
    assert len(out) == 1 and st.timeout_set == "10 minutes"
    # second batch: no emission, timeout re-armed
    st.timeout_set = None
    out2 = list(fn(("u",), iter([pdf]), st))
    assert out2 == [] and st.timeout_set == "10 minutes" and st._v == (2,)
    # timeout invocation: state removed, nothing emitted
    st.hasTimedOut = True
    out3 = list(fn(("u",), iter([]), st))
    assert out3 == [] and st.removed
    # no-TTL kernel never arms a timeout
    fn0 = _first_row_fn(["warc_ts", "text"], None)
    st0 = _FakeState()
    list(fn0(("u",), iter([pdf]), st0))
    assert st0.timeout_set is None


def test_stateful_kernel_min_row_over_all_chunks():
    """A key with more rows than one Arrow batch reaches the kernel as
    several pandas chunks: the emitted row is the minimum under the
    order columns over ALL chunks, not the first chunk's minimum, and
    equal timestamps fall back to the next order column."""
    from vyperdatum_spark.streaming.stateful import _first_row_fn

    fn = _first_row_fn(["warc_ts", "text"], None)
    late = pd.DataFrame({
        "url": ["u", "u"],
        "warc_ts": [pd.Timestamp("2024-01-03"), pd.Timestamp("2024-01-02")],
        "text": ["late", "mid"],
    })
    early = pd.DataFrame({
        "url": ["u", "u"],
        "warc_ts": [pd.Timestamp("2024-01-01")] * 2,
        "text": ["zz", "early"],
    })
    st = _FakeState()
    (out,) = list(fn(("u",), iter([late, early]), st))
    assert out.to_dict("records") == [{
        "url": "u", "warc_ts": pd.Timestamp("2024-01-01"), "text": "early",
        "n_in_batch": 4,
    }]
    assert st._v == (4,)


def test_stream_dedup_urls_earliest_capture_past_one_arrow_batch(
        spark, tmp_path):
    """End to end: a url with more captures in one batch than
    spark.sql.execution.arrow.maxRecordsPerBatch (10,000) is emitted
    with its earliest capture even when that row is the batch's last."""
    from vyperdatum_spark.streaming import stateful

    in_dir = str(tmp_path / "big_in")
    os.makedirs(in_dir)
    n = 12_000
    pdf = pd.DataFrame({
        "url": "u",
        "warc_ts": pd.Timestamp("2024-01-02")
        + pd.to_timedelta(range(n), unit="s"),
        "html": [b"x"] * n,
        "text": [f"t{i}" for i in range(n)],
        "lang": "en",
    })
    pdf.loc[n - 1, "warc_ts"] = pd.Timestamp("2024-01-01")
    pdf.to_parquet(f"{in_dir}/b1.parquet", coerce_timestamps="us")
    out_dir = str(tmp_path / "big_out")
    stateful.stream_dedup_urls(spark, in_dir, out_dir, str(tmp_path / "big_ck"))
    (row,) = spark.read.parquet(out_dir).collect()
    assert (row["first_ts"], row["text"], row["n_in_batch"]) == (
        pd.Timestamp("2024-01-01").to_pydatetime(), f"t{n - 1}", n)


def test_stream_entry_point_schemas(spark, tmp_path):
    """Each stream entry point keeps its output column names, order
    and types."""
    from vyperdatum_spark.streaming import stateful

    rows = spark.readStream.schema(
        "canonical_url string, warc_ts long, doc_id long, text_out string"
    ).parquet(str(tmp_path))
    assert stateful.stream_first_capture(rows).schema.simpleString() == (
        "struct<canonical_url:string,first_id:bigint,first_ts:bigint,"
        "text_out:string,n_in_batch:bigint>"
    )

    src = str(tmp_path / "docs.parquet")
    pd.DataFrame({"source": ["a", "b", "a"], "doc_id": [3, 1, 2]}).to_parquet(src)
    got = stateful.stream_first_per_key(
        spark, src, str(tmp_path / "work"), "source", "doc_id",
        "source string, doc_id bigint")
    assert got.schema.simpleString() == (
        "struct<key:string,first_id:bigint,n_in_batch:bigint>"
    )
    assert sorted(map(tuple, got.collect())) == [("a", 2, 2), ("b", 1, 1)]

    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "dedup_out")
    os.makedirs(in_dir)
    datagen.pages_pdf(10, seed=1).to_parquet(
        f"{in_dir}/b1.parquet", coerce_timestamps="us"
    )
    stateful.stream_dedup_urls(spark, in_dir, out_dir,
                               str(tmp_path / "dedup_ck"))
    assert spark.read.parquet(out_dir).schema.simpleString() == (
        "struct<url:string,first_ts:timestamp,text:string,"
        "n_in_batch:bigint>"
    )


def test_session_window_boundary_merges_at_exact_gap(spark):
    """Pin the session-merge rule the rel_events_sessions oracle
    assumes: an event at exactly prev_ts + gap JOINS the session
    (split only when the gap is strictly exceeded)."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(hours=8)),          # exactly the gap: merge
        (1, t0 + dt.timedelta(hours=20)),         # > gap after prev: split
        (2, t0),                                   # other user isolated
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["user_id"], r["start"], r["n"])
        for r in (
            df.groupBy("user_id", F.session_window("ts", "8 hours").alias("w"))
            .agg(F.count("*").alias("n"))
            .select("user_id", "w.start", "n")
            .collect()
        )
    }
    assert out == {
        (1, t0, 2),
        (1, t0 + dt.timedelta(hours=20), 1),
        (2, t0, 1),
    }
