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
from py4j.java_gateway import GatewayClient

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


def test_warm_transform_build_py4j_budget(spark):
    pts = _points(spark)
    tx.transform_points(spark, pts, "ellipse", "mllw")  # fill the dim cache
    calls = [0]
    orig = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        tx.transform_points(spark, pts, "ellipse", "mllw")
    finally:
        GatewayClient.send_command = orig
    # the Column-DSL build made ~2,300-3,000; the SQL-text build ~200
    assert calls[0] < 1000, calls[0]
