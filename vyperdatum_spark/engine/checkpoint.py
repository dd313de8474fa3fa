"""Bucket-level checkpoint/resume + per-partition lineage & metrics,
on the SNAPSHOT TABLE layer (sources/tables.py — the Iceberg contract).

The north_rule requires runs to be resumable from checkpoint with
per-partition lineage and row/error metrics. The reference has no
analog (single-process batch); we implement **batch checkpointing**
(SURVEY.md §2.8): the driving table is split into deterministic hash
buckets (``pmod(xxhash64(key), n_buckets)``); each bucket is
transformed and committed as ONE snapshot whose manifest atomically
carries the data files, the bucket-done marker, AND a reference to the
per-partition metrics (payload in a sidecar file, pointer in the
snapshot summary properties — exactly how Iceberg consumers commit
watermarks with their rows while keeping manifests small). A restarted
run lists committed buckets from the CURRENT manifest chain only
(superseded snapshots are time-travel history, not state) and
processes only the rest, so
completed work is never recomputed and the final output is identical
to an uninterrupted run. Time travel falls out for free: reading the
output table AS OF a pre-crash snapshot shows exactly the buckets
committed before the crash.

Crash-safety contract (single atomic pointer, tables._commit): a
crash before a bucket's manifest commit leaves at most an orphan
(unreferenced) data dir — the bucket replays idempotently; a crash
after the commit resumes past it. Data, metrics, and the checkpoint
marker can never disagree because they are one commit.

Buckets are coarse units of restartability (10^12 rows / 1024 buckets
≈ 1 B rows each, internally fully parallel); per-partition metrics
inside a bucket come from ``spark_partition_id`` aggregation (A6,
reference logs only a row count — core.py:459). Lineage columns
(region_id, cell5, pipeline_str) ride on the output rows themselves
(include_lineage=True).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import tables
from .inputs import local_df

METRICS_SCHEMA = (
    "run_id string, bucket int, partition_id int, rows_in long, "
    "rows_out long, rows_error long, rows_nocoverage long"
)


def bucket_col(key, n_buckets: int):
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _write_metrics_sidecar(out_dir: str, run_id: str, bucket: int,
                           metrics: list[dict]) -> str:
    """Persist one bucket's per-partition metrics to a sidecar file;
    returns the path RELATIVE to the data table dir (stored in the
    snapshot properties as ``metrics_ref``). ``_``-prefixed so Spark's
    file listing ignores it."""
    rel_dir = "_metrics"
    abs_dir = os.path.join(_data_dir(out_dir), rel_dir)
    os.makedirs(abs_dir, exist_ok=True)
    rel = os.path.join(rel_dir, f"{run_id}-b{bucket:05d}-{uuid.uuid4().hex[:8]}.json")
    tmp = os.path.join(_data_dir(out_dir), rel + ".tmp")
    with open(tmp, "w") as f:
        json.dump(metrics, f)
    os.replace(tmp, os.path.join(_data_dir(out_dir), rel))
    return rel


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    """Buckets whose snapshot committed AND is still part of the
    current table state (manifest scan, no Spark job).

    Only snapshots on the CURRENT chain count: if run A partially
    completed, run B overwrote the table, and run A is then resumed,
    A's superseded snapshots must NOT count as done — otherwise A
    would append its remaining buckets onto B's data, silently
    producing mixed-run output. Walking tables.current_chain makes the
    resumed A see zero completed buckets and start a fresh overwrite."""
    done = set()
    for snap in tables.current_chain(_data_dir(out_dir)):
        p = snap.get("properties", {})
        if p.get("run_id") == run_id and p.get("status") == "done":
            done.add(int(p["bucket"]))
    return done


def stage_buckets(
    spark: SparkSession,
    points: DataFrame,
    out_dir: str,
    run_id: str,
    key_col: str,
    n_buckets: int,
) -> DataFrame:
    """ONE pass over the driving table: hash-bucket and materialize as
    a snapshot table partitioned by bucket. Every later per-bucket
    read is partition-PRUNED to its own directory — a resumed run
    never rescans completed data. Idempotent per run_id: an existing
    staging snapshot for this run is re-read via time travel."""
    stage_dir = os.path.join(out_dir, "stage")
    for sid in tables.snapshot_ids(stage_dir):
        meta = tables.snapshot_meta(stage_dir, sid)
        if meta.get("properties", {}).get("run_id") == run_id:
            return tables.read_table(spark, stage_dir, as_of=sid)
    staged = points.withColumn("bucket", bucket_col(F.col(key_col), n_buckets))
    sid = tables.write_table(
        staged, stage_dir, mode="overwrite", partition_by=("bucket",),
        properties={"run_id": run_id, "n_buckets": str(n_buckets)},
    )
    return tables.read_table(spark, stage_dir, as_of=sid)


def run_with_checkpoint(
    spark: SparkSession,
    points: DataFrame,
    transform_fn,
    out_dir: str,
    run_id: str,
    key_col: str = "pid",
    n_buckets: int = 8,
    fail_after: int | None = None,
) -> int:
    """Transform ``points`` bucket-by-bucket with one atomic snapshot
    commit per bucket (data + metrics + done-marker in one manifest).

    transform_fn: (spark, bucket_df) -> DataFrame (must keep key_col,
    and produce z_out/covered for metrics).
    fail_after: test hook — raise after committing N buckets (simulated
    crash for the resume-idempotence test, FIXTURES.md §6).
    Returns the number of buckets processed in THIS invocation.
    """
    done = completed_buckets(spark, out_dir, run_id)
    if len(done) >= n_buckets:
        return 0
    # a NEW run over an out_dir holding a previous run's output must
    # not layer on top of it (append would silently double every row
    # in read_output): the new run's first commit OVERWRITES, dropping
    # the stale dirs from the current snapshot (they stay on disk for
    # time travel). A resume of the SAME run keeps appending. Only the
    # current chain matters — a foreign run_id in superseded history is
    # already detached from the table state.
    other_runs = any(
        snap.get("properties", {}).get("run_id") not in (None, run_id)
        for snap in tables.current_chain(_data_dir(out_dir))
    )
    fresh_run = not done and other_runs
    staged = stage_buckets(spark, points, out_dir, run_id, key_col, n_buckets)
    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        # partition-pruned: touches only .../bucket=b
        part = staged.filter(F.col("bucket") == b).drop("bucket")
        result = transform_fn(spark, part)
        result = result.withColumn("_pid_", F.spark_partition_id())
        result.persist()
        try:
            # metrics BEFORE the data commit so they land in the same
            # manifest; tiny (one row per compute partition)
            m_rows = (
                result.groupBy("_pid_")
                .agg(
                    F.count("*").alias("rows_in"),
                    F.sum(F.col("z_out").isNotNull().cast("long")).alias("rows_out"),
                    F.sum(
                        (F.col("x").isNull() | F.col("y").isNull()).cast("long")
                    ).alias("rows_error"),
                    F.sum((~F.col("covered")).cast("long")).alias("rows_nocoverage"),
                )
                .collect()
            )
            metrics = [
                {
                    "partition_id": r["_pid_"],
                    "rows_in": r["rows_in"],
                    "rows_out": int(r["rows_out"] or 0),
                    "rows_error": int(r["rows_error"] or 0),
                    "rows_nocoverage": int(r["rows_nocoverage"] or 0),
                }
                for r in m_rows
            ]
            rows_out = sum(m["rows_out"] for m in metrics)
            mode = "overwrite" if (fresh_run and processed == 0) else "append"
            # Metrics payload goes to a per-bucket SIDECAR file, not
            # into the manifest: the manifest is fully rewritten on
            # every commit, so inlining per-partition metrics would
            # make manifest size (and total rewrite I/O over a run)
            # grow O(buckets × partitions). The property keeps only
            # the sidecar reference + the scalar done-marker fields.
            # A crash after the sidecar write but before the manifest
            # commit leaves an orphan sidecar — harmless, exactly like
            # an orphan data dir.
            sidecar = _write_metrics_sidecar(out_dir, run_id, b, metrics)
            tables.write_table(
                result.drop("_pid_"), _data_dir(out_dir), mode=mode,
                properties={
                    "run_id": run_id,
                    "bucket": str(b),
                    "status": "done",
                    "rows_out": str(rows_out),
                    "metrics_ref": sidecar,
                },
            )
        finally:
            result.unpersist()
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"simulated failure after {processed} buckets")
    return processed


def read_output(spark: SparkSession, out_dir: str,
                as_of: int | None = None) -> DataFrame:
    """Current output — or a time-travel view of any earlier commit."""
    return tables.read_table(spark, _data_dir(out_dir), as_of=as_of)


def read_metrics(spark: SparkSession, out_dir: str,
                 run_id: str | None = None) -> DataFrame:
    """Per-(bucket, partition) metrics for the CURRENT table state,
    reassembled from snapshot properties + metrics sidecar files
    (driver-side manifest scan, no data read). Only the current chain
    is consulted, so metrics of runs whose output was later
    overwritten are excluded — with or without ``run_id``. A done
    snapshot without a metrics sidecar raises ValueError."""
    rows = []
    data_dir = _data_dir(out_dir)
    for snap in tables.current_chain(data_dir):
        p = snap.get("properties", {})
        if p.get("status") != "done":
            continue
        if run_id is not None and p.get("run_id") != run_id:
            continue
        if "metrics_ref" not in p:
            raise ValueError(
                f"checkpoint table {data_dir}: done snapshot {snap['id']} "
                "has no metrics_ref (no metrics sidecar recorded)")
        with open(os.path.join(data_dir, p["metrics_ref"])) as f:
            payload = json.load(f)
        for m in payload:
            rows.append((
                p["run_id"], int(p["bucket"]), int(m["partition_id"]),
                int(m["rows_in"]), int(m["rows_out"]),
                int(m["rows_error"]), int(m["rows_nocoverage"]),
            ))
    return local_df(spark, rows, METRICS_SCHEMA)
