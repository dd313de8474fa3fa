"""Checkpoint/resume idempotence (FIXTURES.md §6, north_rule)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.engine import checkpoint as ck, transform as tx


def _points(spark, n=400):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "x": rng.uniform(-78.0, -74.0, n),
            "y": rng.uniform(33.0, 36.0, n),
            "z": np.round(rng.uniform(5, 15, n), 2),
        }
    )
    return spark.createDataFrame(pdf)


def _tf(spark, df):
    return tx.transform_points(spark, df, "ellipse", "mllw", key_col="pid")


def test_resume_after_simulated_crash(spark, tmp_path):
    out_dir = str(tmp_path / "run1")
    pts = _points(spark)

    # crash after 2 of 4 buckets
    with pytest.raises(RuntimeError, match="simulated failure"):
        ck.run_with_checkpoint(
            spark, pts, _tf, out_dir, "runA", n_buckets=4, fail_after=2
        )
    assert len(ck.completed_buckets(spark, out_dir, "runA")) == 2

    # resume: only the remaining 2 buckets run
    n2 = ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runA", n_buckets=4)
    assert n2 == 2

    # third invocation is a no-op (idempotent)
    n3 = ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runA", n_buckets=4)
    assert n3 == 0

    # resumed output identical to an uninterrupted run
    ref_dir = str(tmp_path / "ref")
    ck.run_with_checkpoint(spark, pts, _tf, ref_dir, "runB", n_buckets=4)
    got = ck.read_output(spark, out_dir).toPandas().sort_values("pid").reset_index(drop=True)
    ref = ck.read_output(spark, ref_dir).toPandas().sort_values("pid").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[sorted(got.columns)], ref[sorted(ref.columns)])


def test_metrics_account_for_every_row(spark, tmp_path):
    out_dir = str(tmp_path / "m")
    pts = _points(spark, 300)
    ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runM", n_buckets=3)
    m = ck.read_metrics(spark, out_dir, "runM").toPandas()
    assert m.rows_in.sum() == 300
    out = ck.read_output(spark, out_dir).toPandas()
    assert m.rows_out.sum() == out.z_out.notna().sum()
    assert m.rows_nocoverage.sum() == (~out.covered).sum()
    # per-partition granularity present
    assert set(m.columns) >= {"run_id", "bucket", "partition_id", "rows_in",
                              "rows_out", "rows_error", "rows_nocoverage"}


def test_read_metrics_rejects_done_snapshot_without_sidecar(spark, tmp_path):
    """A done snapshot with no metrics_ref fails on the driver, naming
    the table and the snapshot, instead of yielding no rows."""
    import os

    from vyperdatum_spark.sources import tables

    out_dir = str(tmp_path / "nosidecar")
    ck.run_with_checkpoint(spark, _points(spark, 60), _tf, out_dir, "runS",
                           n_buckets=2)
    data_dir = os.path.join(out_dir, "data")
    meta = tables._load(data_dir)
    snap = meta["snapshots"][-1]
    del snap["properties"]["metrics_ref"]
    tables._commit(data_dir, meta)
    with pytest.raises(ValueError, match=rf"{data_dir}.*snapshot {snap['id']}"):
        ck.read_metrics(spark, out_dir, "runS")


def test_single_pass_staging_partition_pruned(spark, tmp_path):
    """The driving table is scanned ONCE (the staging write); every
    per-bucket read is partition-pruned to its own bucket=N directory
    — a resumed run never rescans completed data."""
    from vyperdatum_spark.sources import tables

    out_dir = str(tmp_path / "prune")
    pts = _points(spark, 200)
    staged = ck.stage_buckets(spark, pts, out_dir, "runP", "pid", 4)
    part = staged.filter(F.col("bucket") == 2)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # staging is idempotent: a second call re-reads the run's existing
    # snapshot instead of committing a new one
    n_snaps = len(tables.snapshot_ids(f"{out_dir}/stage"))
    ck.stage_buckets(spark, pts, out_dir, "runP", "pid", 4)
    assert len(tables.snapshot_ids(f"{out_dir}/stage")) == n_snaps
    # all rows land in exactly one bucket dir each
    assert staged.count() == 200
    assert staged.select("bucket").distinct().count() == 4


def test_checkpoint_commits_are_atomic_snapshots_with_time_travel(
    spark, tmp_path
):
    """Round-3 storage unification: every bucket commit is ONE
    snapshot-table manifest carrying data + metrics + done-marker; a
    time-travel read AS OF the pre-crash snapshot shows exactly the
    buckets committed before the crash."""
    from vyperdatum_spark.sources import tables

    out_dir = str(tmp_path / "tt")
    pts = _points(spark)
    with pytest.raises(RuntimeError, match="simulated failure"):
        ck.run_with_checkpoint(
            spark, pts, _tf, out_dir, "runT", n_buckets=4, fail_after=2
        )
    pre_crash = max(tables.snapshot_ids(f"{out_dir}/data"))
    pre_rows = ck.read_output(spark, out_dir).count()
    # resume to completion
    ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runT", n_buckets=4)
    full = ck.read_output(spark, out_dir)
    assert full.count() == 400
    # time travel: the pre-crash view is unchanged by the resume
    old = ck.read_output(spark, out_dir, as_of=pre_crash)
    assert old.count() == pre_rows < 400
    # the pre-crash rows are a subset of the final output
    assert old.join(full, "pid", "left_anti").count() == 0
    # metrics came from the same manifests and cover all 4 buckets
    m = ck.read_metrics(spark, out_dir, "runT").toPandas()
    assert set(m.bucket) == {0, 1, 2, 3}
    assert m.rows_in.sum() == 400


def test_new_run_id_overwrites_previous_output(spark, tmp_path):
    """Round-3 review fix: re-running the same out_dir under a NEW
    run_id must replace the previous run's rows, not append a second
    copy of every row to read_output."""
    out_dir = str(tmp_path / "rr")
    pts = _points(spark, 200)
    ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runA", n_buckets=2)
    assert ck.read_output(spark, out_dir).count() == 200
    ck.run_with_checkpoint(spark, pts, _tf, out_dir, "runB", n_buckets=2)
    out = ck.read_output(spark, out_dir)
    assert out.count() == 200  # no duplicates
    # and a resume of runB afterwards stays idempotent
    assert ck.run_with_checkpoint(
        spark, pts, _tf, out_dir, "runB", n_buckets=2) == 0
