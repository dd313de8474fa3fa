"""Driver-built tables as JVM-local relations, and the transform's
per-query fixed cost.

- inputs.local_df: the contract every driver-built table relies on
  (NaN stays NaN, None is NULL, numpy scalars and nested
  array<struct> values accepted, zero rows keep their types) and the
  plan leaf it yields.
- transform_points: its broadcast dims are LocalRelations, never
  LogicalRDDs over pickled Python rows (which re-ran a Python job per
  query just to collect the build side), and a warm plan build stays
  within a py4j round-trip budget.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from vyperdatum_spark.engine import transform as tx
from vyperdatum_spark.engine.inputs import local_df


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _points(spark, n: int = 200):
    # a Range leaf, so every LocalRelation/LogicalRDD in the plan is a dim
    return spark.range(n).selectExpr(
        "id AS pid", "-78.5D + 5.0D * rand(1) AS x",
        "32.5D + 4.0D * rand(2) AS y", "10.0D AS z",
    )


def test_local_df_keeps_nan_and_null_apart(spark):
    df = local_df(spark, [(1, float("nan")), (2, None)], "k long, v double")
    got = {r.k: (r.is_nan, r.is_null) for r in df.selectExpr(
        "k", "isnan(v) AS is_nan", "v IS NULL AS is_null").collect()}
    assert got == {1: (True, False), 2: (False, True)}
    assert "LocalRelation" in _optimized(df)


def test_local_df_accepts_numpy_scalars_and_nested_structs(spark):
    ddl = ("k long, c array<struct<lon: double, lat: double, v: double, "
           "i: bigint>>")
    rows = [
        (np.int64(3), [(1.0, np.float64(2.0), float("nan"), np.int64(7))]),
        (4, None),
    ]
    got = sorted(local_df(spark, rows, ddl).collect(), key=lambda r: r.k)
    assert got[0].k == 3
    (cand,) = got[0].c
    assert (cand.lon, cand.lat, cand.i) == (1.0, 2.0, 7)
    assert math.isnan(cand.v)
    assert got[1].k == 4 and got[1].c is None


def test_local_df_zero_rows_keeps_types(spark):
    ddl = "k long, name string, v double"
    df = local_df(spark, [], ddl)
    assert df.count() == 0
    assert df.dtypes == [("k", "bigint"), ("name", "string"), ("v", "double")]


@pytest.mark.parametrize("kwargs", [
    {}, {"knn_fallback": True}, {"include_lineage": True},
])
def test_transform_dims_are_local_relations(spark, kwargs):
    out = tx.transform_points(spark, _points(spark), "ellipse", "mllw",
                              **kwargs)
    plan = _optimized(out)
    assert "LogicalRDD" not in plan
    assert "LocalRelation" in plan


# Warm-build py4j round-trips per transform entry point (200-row range
# points), pinned below the counts of the Column-DSL builders they
# replaced (194, 246, 362, 399, 306, 777, 1,111 and 887; the whole plan
# as Column DSL made 2,300-3,000). Measured at 155, 50, 203, 203, 203,
# 226, 272 and 272.
_PY4J_PINS = {
    "default": ({}, False, 180),
    "identical datums": ({"from_datum": "mllw"}, False, 80),
    "spcs_syn input": ({"input_crs": "spcs_syn"}, False, 240),
    "utm_syn input": ({"input_crs": "utm_syn"}, False, 240),
    "ITRFS output": ({"output_frame": "ITRFS"}, False, 240),
    "sampled": ({}, True, 270),
    "sampled spcs_syn input": ({"input_crs": "spcs_syn"}, True, 320),
    "sampled ITRFS output": ({"output_frame": "ITRFS"}, True, 320),
}


def test_warm_transform_build_py4j_budget(spark, count_py4j):
    pts = _points(spark)
    over = {}
    for name, (kwargs, sampled, pin) in _PY4J_PINS.items():
        kwargs = {"from_datum": "ellipse", "to_datum": "mllw", **kwargs}
        entry = tx.transform_points_sampled if sampled else tx.transform_points
        entry(spark, pts, **kwargs)  # fill the dim cache
        with count_py4j() as calls:
            entry(spark, pts, **kwargs)
        if calls[0] >= pin:
            over[name] = (calls[0], pin)
    assert not over, over
