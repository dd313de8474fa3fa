"""Snapshot-table abstraction: commits, time travel, incremental reads
(the Iceberg-shaped storage interface of the north_rule, on parquet)."""

import pandas as pd
import pytest

from vyperdatum_spark.sources import tables


def _df(spark, lo, hi):
    return spark.createDataFrame(
        pd.DataFrame({"k": range(lo, hi), "v": [f"r{i}" for i in range(lo, hi)]})
    )


def test_snapshot_commit_append_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = tables.write_table(_df(spark, 0, 100), t)
    s2 = tables.write_table(_df(spark, 100, 150), t, mode="append")
    s3 = tables.write_table(_df(spark, 0, 10), t, mode="overwrite")
    assert tables.snapshot_ids(t) == [s1, s2, s3]
    # current = the overwrite
    assert tables.read_table(spark, t).count() == 10
    # time travel
    assert tables.read_table(spark, t, as_of=s1).count() == 100
    assert tables.read_table(spark, t, as_of=s2).count() == 150
    # incremental: rows added by the append only
    inc = tables.incremental_rows(spark, t, since=s1, until=s2)
    assert inc.count() == 50
    assert inc.agg({"k": "min"}).collect()[0][0] == 100


def test_append_reuses_previous_data_dirs(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    s1 = tables.write_table(_df(spark, 0, 20), t)
    s2 = tables.write_table(_df(spark, 20, 30), t, mode="append")
    m1 = tables.snapshot_meta(t, s1)
    m2 = tables.snapshot_meta(t, s2)
    # fast-append: the new manifest references the OLD dirs untouched
    assert set(m1["dirs"]) < set(m2["dirs"])
    assert len(m2["dirs"]) == 2


def test_read_empty_table_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed snapshots"):
        tables.read_table(spark, str(tmp_path / "nope"))


def test_incremental_consumer_exactly_once(spark, tmp_path):
    """The checkpointed snapshot consumer: each run transforms ONLY the
    source rows appended since the committed watermark; rows and
    watermark land in one manifest commit; a no-new-data rerun is a
    no-op (crash replay cannot duplicate committed output)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    fn = lambda df: df.withColumn("v2", F.col("k") * 2)

    tables.write_table(_df(spark, 0, 50), src)
    r1 = tables.process_incremental(spark, src, out, fn)
    assert not r1["skipped"] and (r1["since"], r1["until"]) == (0, 1)
    assert tables.read_table(spark, out).count() == 50

    tables.write_table(_df(spark, 50, 81), src, mode="append")
    r2 = tables.process_incremental(spark, src, out, fn)
    assert (r2["since"], r2["until"]) == (1, 2)
    got = tables.read_table(spark, out)
    assert got.count() == 81  # no duplicates of the first 50
    assert got.agg(F.sum("v2")).collect()[0][0] == sum(2 * k for k in range(81))
    # the second output snapshot added exactly one data dir holding
    # only the incremental rows
    m = tables.snapshot_meta(out, r2["snapshot"])
    assert m["properties"] == {"source_since": "1", "source_until": "2"}
    assert len(m["dirs"]) == 2

    # replay with nothing new: no commit, watermark unchanged
    r3 = tables.process_incremental(spark, src, out, fn)
    assert r3["skipped"]
    assert tables.snapshot_ids(out) == [1, 2]
    assert tables.consumer_watermark(out) == 2


def test_adopt_parquet_dir_migrates_raw_layout(spark, tmp_path):
    """Round-3 storage unification: an existing raw parquet directory
    (legacy layout) is adopted as snapshot 1 without a rewrite, and
    later commits append on top of it."""
    import pandas as pd

    from vyperdatum_spark.sources import tables

    d = str(tmp_path / "legacy")
    spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3]})
    ).write.mode("overwrite").parquet(d)
    sid = tables.adopt_parquet_dir(d, {"fixture": "t"})
    assert sid == 1
    assert tables.read_table(spark, d).count() == 3
    # idempotent: second adopt is a no-op
    assert tables.adopt_parquet_dir(d) == 1
    # appends layer on the adopted snapshot
    tables.write_table(
        spark.createDataFrame(pd.DataFrame({"a": [4]})), d, mode="append"
    )
    assert tables.read_table(spark, d).count() == 4
    assert tables.read_table(spark, d, as_of=1).count() == 3


def test_compact_table_rewrites_small_files_row_identical(spark, tmp_path):
    """Iceberg rewrite_data_files analog: N append dirs collapse into
    one compacted dir; rows identical, every pre-compaction snapshot
    still time-travels, and the chain restarts at the compaction."""
    import os

    import pandas as pd

    from vyperdatum_spark.sources import tables

    d = str(tmp_path / "tiny_files")
    for k in range(5):
        tables.write_table(
            spark.createDataFrame(pd.DataFrame({"a": [10 * k + j for j in range(10)]})),
            d, mode="overwrite" if k == 0 else "append",
        )
    assert len(tables.snapshot_meta(d, 5)["dirs"]) == 5

    sid = tables.compact_table(spark, d, target_files=1)
    m = tables.snapshot_meta(d, sid)
    assert m["mode"] == "compact"
    assert len(m["dirs"]) == 1
    assert m["properties"]["compacted_from"] == "5"
    files = [
        f for f in os.listdir(os.path.join(d, m["dirs"][0]))
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    got = sorted(r["a"] for r in tables.read_table(spark, d).collect())
    assert got == list(range(50))
    # time travel to any pre-compaction snapshot still works
    assert tables.read_table(spark, d, as_of=3).count() == 30
    # compaction starts a fresh chain (complete by construction)
    chain = tables.current_chain(d)
    assert [s["id"] for s in chain] == [sid]
    # appends continue on top of the compacted snapshot
    tables.write_table(
        spark.createDataFrame(pd.DataFrame({"a": [99]})), d, mode="append"
    )
    assert tables.read_table(spark, d).count() == 51


def test_schema_evolution_add_column_unions_by_name(spark, tmp_path):
    """Iceberg add-column semantics: an append with a wider schema is
    readable in one scan — old rows surface the new column as null —
    while time travel to the pre-evolution snapshot keeps the narrow
    schema."""
    import pandas as pd

    from vyperdatum_spark.sources import tables

    d = str(tmp_path / "evolve")
    tables.write_table(
        spark.createDataFrame(pd.DataFrame({"id": [1, 2], "a": ["x", "y"]})),
        d, mode="overwrite",
    )
    tables.write_table(
        spark.createDataFrame(
            pd.DataFrame({"id": [3], "a": ["z"], "b": [7]})
        ),
        d, mode="append",
    )
    cur = tables.read_table(spark, d)
    assert set(cur.columns) == {"id", "a", "b"}
    rows = {r["id"]: r["b"] for r in cur.collect()}
    assert rows[1] is None and rows[2] is None and rows[3] == 7
    old = tables.read_table(spark, d, as_of=1)
    assert set(old.columns) == {"id", "a"}


def _jobs_during(spark, fn):
    """(result of fn(), ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup("vy_read_table", "read_table schema probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup("vy_read_table")


def test_read_table_uses_recorded_schema(spark, tmp_path):
    """A snapshot whose dirs share one recorded schema is read with it:
    no schema-inference job at plan build, the written column types
    (the partition column last, as in an inferred read, but typed as
    written rather than inferred from its directory names) and the
    same rows as an inferred read."""
    import os

    from pyspark.sql import functions as F

    d = str(tmp_path / "typed")
    pdf = pd.DataFrame({
        "id": [1, 2, 3], "s": ["a", "b", "c"], "bucket": [0, 1, 0],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })
    sid = tables.write_table(spark.createDataFrame(pdf), d,
                             partition_by=("bucket",))
    got, jobs = _jobs_during(spark, lambda: tables.read_table(spark, d))
    assert jobs == []
    (data_dir,) = tables.snapshot_meta(d, sid)["dirs"]
    inferred = spark.read.parquet(os.path.join(d, data_dir))
    assert got.schema.simpleString() == (
        "struct<id:bigint,s:string,ts:timestamp,bucket:bigint>")
    assert inferred.schema["bucket"].dataType.simpleString() == "int"
    inferred = inferred.withColumn("bucket", F.col("bucket").cast("long"))
    assert got.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(got).count() == 0


def test_read_table_infers_unparseable_recorded_schema(spark, tmp_path):
    """A field name the recorded simple form cannot quote falls back to
    schema inference instead of failing the read."""
    d = str(tmp_path / "odd_names")
    tables.write_table(
        spark.createDataFrame(pd.DataFrame({"a b": [1, 2], "c": ["x", "y"]})), d)
    got, jobs = _jobs_during(spark, lambda: tables.read_table(spark, d))
    assert got.columns == ["a b", "c"] and got.count() == 2
    assert jobs


def test_partitioned_append_reads_every_dir(spark, tmp_path):
    """A partitioned table with an append spans two partition roots;
    the read and the incremental read still return every row, typed as
    written."""
    d = str(tmp_path / "part_append")
    pdf = pd.DataFrame({"id": [1, 2, 3], "s": ["a", "b", "c"],
                        "bucket": [0, 1, 0]})
    s1 = tables.write_table(spark.createDataFrame(pdf), d,
                            partition_by=("bucket",))
    tables.write_table(spark.createDataFrame(pdf.assign(id=pdf.id + 3)), d,
                       mode="append", partition_by=("bucket",))
    got = tables.read_table(spark, d)
    assert got.schema.simpleString() == (
        "struct<id:bigint,s:string,bucket:bigint>")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "a", 0), (2, "b", 1), (3, "c", 0),
        (4, "a", 0), (5, "b", 1), (6, "c", 0)]
    assert tables.incremental_rows(spark, d, since=0).count() == 6
    inc = tables.incremental_rows(spark, d, since=s1)
    assert sorted(r.id for r in inc.collect()) == [4, 5, 6]
