"""Focused tests for the round-6 optimization internals.

Covers the three r6 rewrites whose equivalence arguments are local
invariants (the oracle gate proves end-to-end equality; these pin the
pieces):

- slots_dim_pdf: the denormalized prune dim must carry REAL Nones for
  missing slots (pandas NaN would flip join-miss semantics) and agree
  row-for-row with the two-level slots->region-dim layout.
- pip_literal_sql / slot_pip_sql / bilinear_sql: the SQL-string twins
  must evaluate identically to the Column-DSL builders on a point grid
  (rect AND general polygons; interior, edge, outside).
- read_input: repartitions a 1-partition scan up to default
  parallelism, leaves an already-parallel scan untouched.
- cell_sql / frame_dz_spark_sql: parse to the Column builders' trees.
- get_spark: the tmpfs spark.local.dir is opt-in.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.engine import transform_sql as tsql


@pytest.fixture(scope="module")
def spark():
    from vyperdatum_spark.session import get_spark

    return get_spark(app_name="test-r6", cores=4,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_slots_dim_has_real_nones_and_matches_two_level_layout():
    grids = tsql.combined_grids("ellipse", "mllw")
    j_max = max(len(g) for g in grids.values())
    pdf, schema, depth = tsql.slots_dim_pdf(grids, j_max)
    # no NaN anywhere (a float NaN in ord/ngr/lon0 would silently
    # change join-miss comparisons: j < NaN is TRUE, j < NULL is NULL)
    for col in pdf.columns:
        for v in pdf[col]:
            assert not (isinstance(v, float) and math.isnan(v)), col
    # row-for-row agreement with the two-level layout
    slots, _depth = tsql.cover_slots_pdf()
    rd = tsql.region_dim_pdf(grids, j_max).set_index("region_id")
    by_cell = {int(r.cell9): r for r in pdf.itertuples(index=False)}
    assert len(by_cell) == len(slots)
    for row in slots.itertuples(index=False):
        got = by_cell[int(row.cell9)]
        for k in range(depth):
            rid = getattr(row, f"slot_{k}")
            assert getattr(got, f"rid_s{k}") == rid
            if rid is None:
                assert getattr(got, f"ord_s{k}") is None
                assert getattr(got, f"gkey_s{k}_0") is None
            else:
                ref = rd.loc[rid]
                assert getattr(got, f"ord_s{k}") == int(ref["region_ord"])
                assert getattr(got, f"ngr_s{k}") == int(ref["n_groups"])
                assert getattr(got, f"lon0_s{k}_0") == ref["lon0_0"]


def test_pip_sql_string_matches_column_builder(spark):
    rect = [(-78.0, 33.0), (-77.0, 33.0), (-77.0, 34.0), (-78.0, 34.0),
            (-78.0, 33.0)]
    octagon = [(-77.5, 33.2), (-77.2, 33.0), (-76.8, 33.1), (-76.6, 33.5),
               (-76.7, 33.9), (-77.1, 34.1), (-77.6, 33.9), (-77.7, 33.5),
               (-77.5, 33.2)]
    pts = spark.range(4000).select(
        (F.lit(-78.2) + (F.col("id") % 80).cast("double") * 0.02).alias("x"),
        (F.lit(32.8) + (F.floor(F.col("id") / 80) % 50).cast("double") * 0.03)
        .alias("y"),
    )
    for poly in (rect, octagon):
        dsl = tsql.pip_literal_expr(F.col("x"), F.col("y"), poly)
        txt = F.expr(tsql.pip_literal_sql("x", "y", poly))
        n_diff = pts.filter(~dsl.eqNullSafe(txt)).count()
        assert n_diff == 0


def test_bilinear_sql_string_matches_column_builder(spark):
    pts = spark.range(2000).select(
        (F.lit(-78.0) + (F.col("id") % 50).cast("double") * 0.013).alias("x"),
        (F.lit(33.0) + (F.floor(F.col("id") / 50) % 40).cast("double") * 0.017)
        .alias("y"),
        F.lit(-78.05).alias("lon0"), F.lit(32.95).alias("lat0"),
        F.lit(0.05).alias("dlon"), F.lit(0.05).alias("dlat"),
        (F.col("id") % 7).cast("double").alias("v00"),
        (F.col("id") % 5).cast("double").alias("v01"),
        (F.col("id") % 3).cast("double").alias("v10"),
        (F.col("id") % 11).cast("double").alias("v11"),
    )
    dsl = tsql.bilinear_expr(
        F.col("x"), F.col("y"), F.col("lon0"), F.col("lat0"),
        F.col("dlon"), F.col("dlat"),
        F.col("v00"), F.col("v01"), F.col("v10"), F.col("v11"),
    )
    txt = F.expr(tsql.bilinear_sql(
        "x", "y", "lon0", "lat0", "dlon", "dlat",
        "v00", "v01", "v10", "v11",
    ))
    # bit-exact equality, not approx: the twins must be the same tree
    n_diff = pts.filter(~dsl.eqNullSafe(txt)).count()
    assert n_diff == 0


def test_read_input_parallelizes_only_small_scans(spark, tmp_path):
    from vyperdatum_spark.engine.inputs import parallelize_scan

    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    out = parallelize_scan(one, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row set unchanged
    assert sorted(r[0] for r in out.collect()) == list(range(100))
    wide = spark.range(100).repartition(
        spark.sparkContext.defaultParallelism + 4)
    assert parallelize_scan(wide, spark) is wide


def _analyzed(df, col):
    """The analyzed expression tree of ``col`` over ``df``."""
    qe = df.select(col.alias("_o"))._jdf.queryExecution()
    return qe.analyzed().expressions().head().child()


def test_sql_twins_are_the_column_trees(spark):
    """The transform builds cell ids and the output-frame correction
    from SQL text; each must parse to the very tree the Column builder
    makes (a bare 180.0 would parse as DECIMAL and change the math)."""
    from vyperdatum_spark.spatial import cells, crs as hcrs

    pts = spark.range(1).selectExpr("-76.5D AS x", "34.25D AS y")
    x, y = F.col("x"), F.col("y")
    pairs = [
        (cells.encode_col(x, y, res), tsql.cell_sql("`x`", "`y`", res))
        for res in (cells.COARSE_RES, cells.FINE_RES)
    ]
    pairs.append((hcrs.frame_dz_cols(x, y), hcrs.frame_dz_spark_sql("x", "y")))
    for dsl, txt in pairs:
        assert _analyzed(pts, dsl).semanticEquals(
            _analyzed(pts, F.expr(txt))), txt


def test_spark_local_dir_is_opt_in(monkeypatch):
    """No RAM-backed scratch dir unless $SPARK_GRAFT_LOCAL_DIR asks."""
    from pyspark.sql import SparkSession

    from vyperdatum_spark.session import get_spark

    seen = {}

    class Built(Exception):
        pass

    def capture(builder):
        seen.clear()
        seen.update(builder._options)
        raise Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    with pytest.raises(Built):
        get_spark()
    assert "spark.local.dir" not in seen
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/spark")
    with pytest.raises(Built):
        get_spark()
    assert seen["spark.local.dir"] == "/scratch/spark"
