"""The declared fixture schemas against the files they describe (a
schema-drift guard), and ``engine.inputs.parallelize_scan``'s no-job
fan-out rule against Spark's own partition count on the same reads.

The reads are every fixture table at sf0.001 plus the documents and
events tables of the benchmark's seeded generator, at its tiny and
bench sizes (``perfbench/workloads.py::SIZES``)."""

from __future__ import annotations

import pytest

from perfbench import gen
from test_oracle_gate import SF_DIR  # skips this module too when absent
from vyperdatum_spark.engine.inputs import parallelize_scan
from vyperdatum_spark.queries import fixtures

_GEN_SIZES = {"documents": (600, 8_000), "events": (2_000, 10_000)}
_OPEN_COST = "spark.sql.files.openCostInBytes"


@pytest.fixture(scope="module")
def reads(tmp_path_factory):
    """(path, declared schema) per read."""
    cache = str(tmp_path_factory.mktemp("gen_cache"))
    out = [(f"{SF_DIR}/{t}.parquet", s) for t, s in fixtures.SCHEMAS.items()]
    for table, sizes in _GEN_SIZES.items():
        out += [(gen.generate(table, 7, n, cache)["path"],
                 fixtures.SCHEMAS[table]) for n in sizes]
    return out


def test_declared_schemas_match_the_files(spark, reads):
    for path, schema in reads:
        declared = spark.read.schema(schema).parquet(path).schema
        assert declared == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("open_cost", [None, 1024])
def test_fan_out_rule_matches_the_partition_count(spark, reads, open_cost):
    """The rule fans a scan out exactly when Spark plans it as fewer
    partitions than the default parallelism.  At the default open cost
    (4 MiB) every read here is one small file and fans out.  At 1 KiB
    most of the same files are large against the open cost: Spark
    splits each into at least as many partitions as cores, and the
    rule, which counts bytes as well as files, leaves them as they
    are (a file count alone would fan every one of them out)."""
    p = spark.sparkContext.defaultParallelism
    old = spark.conf.get(_OPEN_COST)
    if open_cost is not None:
        spark.conf.set(_OPEN_COST, str(open_cost))
    try:
        fans = {}
        for path, schema in reads:
            df = spark.read.schema(schema).parquet(path)
            fans[path] = parallelize_scan(df, spark) is not df
            assert fans[path] == (df.rdd.getNumPartitions() < p), path
    finally:
        spark.conf.set(_OPEN_COST, old)
    if open_cost is None:
        assert all(fans.values())
    else:
        assert sum(not f for f in fans.values()) > len(fans) // 2
