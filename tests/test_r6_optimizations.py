"""Focused tests for the round-6 optimization internals.

Covers the three r6 rewrites whose equivalence arguments are local
invariants (the oracle gate proves end-to-end equality; these pin the
pieces):

- slots_dim_pdf: the denormalized prune dim must carry REAL Nones for
  missing slots (pandas NaN would flip join-miss semantics) and agree
  row-for-row with the two-level slots->region-dim layout.
- pip_literal_sql / slot_pip_sql / bilinear_sql: the SQL-string
  builders must evaluate bit-identically to the numpy references they
  mirror (spatial.pip.contains, grids.bilinear.interp_tile) on a point
  grid (rect AND general polygons; interior, on edges and vertices,
  outside).
- read_input: repartitions a 1-partition scan up to default
  parallelism, leaves an already-parallel scan untouched.
- cell_sql / frame_dz_spark_sql: parse to the Column builders' trees.
- get_spark: the tmpfs spark.local.dir is opt-in.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
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


RECT = [(-78.0, 33.0), (-77.0, 33.0), (-77.0, 34.0), (-78.0, 34.0),
        (-78.0, 33.0)]
OCTAGON = [(-77.5, 33.2), (-77.2, 33.0), (-76.8, 33.1), (-76.6, 33.5),
           (-76.7, 33.9), (-77.1, 34.1), (-77.6, 33.9), (-77.7, 33.5),
           (-77.5, 33.2)]


def _pip_points():
    """The 80×50 grid over both polygons, plus points exactly on the
    rectangle's edges and corners and on the octagon's vertices — where
    the half-open crossing rule decides."""
    k = np.arange(4000)
    xs = [-78.2 + (k % 80) * 0.02]
    ys = [32.8 + (k // 80 % 50) * 0.03]
    t = np.linspace(-78.0, -77.0, 11)
    u = np.linspace(33.0, 34.0, 11)
    for ex, ey in ((t, np.full(11, 33.0)), (t, np.full(11, 34.0)),
                   (np.full(11, -78.0), u), (np.full(11, -77.0), u)):
        xs.append(ex)
        ys.append(ey)
    ov = np.asarray(OCTAGON[:-1])
    xs.append(ov[:, 0])
    ys.append(ov[:, 1])
    return np.concatenate(xs), np.concatenate(ys)


def _eval_sql(spark, pdf, exprs):
    """Evaluate SQL-text expressions over ``pdf`` rows, in row order."""
    df = spark.createDataFrame(pdf.assign(_i=np.arange(len(pdf))))
    return (df.selectExpr("_i", *[f"{e} AS `{n}`" for n, e in exprs.items()])
            .toPandas().sort_values("_i").reset_index(drop=True))


def test_pip_sql_matches_numpy_ray_cast(spark, monkeypatch):
    from vyperdatum_spark.datums import catalog
    from vyperdatum_spark.spatial import pip

    xs, ys = _pip_points()
    pdf = pd.DataFrame({"x": xs, "y": ys})
    got = _eval_sql(spark, pdf, {
        "rect": tsql.pip_literal_sql("x", "y", RECT),
        "oct": tsql.pip_literal_sql("x", "y", OCTAGON),
    })
    for name, poly in (("rect", RECT), ("oct", OCTAGON)):
        exp = pip.contains(poly, xs, ys)
        assert exp.any() and not exp.all()
        assert np.array_equal(got[name].to_numpy(dtype=bool), exp), name

    # slot_pip_sql: the region-literal CASE picks each slot's polygon
    # (catalog rectangles + a general octagon); a null slot is null
    monkeypatch.setattr(catalog, "REGIONS", list(catalog.REGIONS) + [
        catalog.Region("RGNOct01_8301", len(catalog.REGIONS),
                       tuple(OCTAGON[:-1]), catalog.REGIONS[0].geoid),
    ])
    rids = [r.region_id for r in catalog.REGIONS]
    rid = np.array([rids[i % len(rids)] for i in range(len(xs))], dtype=object)
    rid[::17] = None
    got = _eval_sql(spark, pdf.assign(rid=rid),
                    {"in": tsql.slot_pip_sql("x", "y", "rid")})["in"]
    for r in catalog.REGIONS:
        m = rid == r.region_id
        exp = pip.contains(list(r.polygon), xs[m], ys[m])
        assert np.array_equal(got[m].to_numpy(dtype=bool), exp), r.region_id
    assert got[pd.isna(rid)].isna().all()


def test_bilinear_sql_matches_numpy_interp_tile(spark):
    from vyperdatum_spark.grids import bilinear

    lon0, lat0, dlon, dlat, nx, ny = -78.05, 32.95, 0.05, 0.05, 16, 17
    w = np.random.default_rng(3).normal(size=(ny, nx))
    k = np.arange(2000)
    # the 50×40 grid, plus points exactly on lattice nodes (t = 0)
    xs = np.concatenate([-78.0 + (k % 50) * 0.013,
                         lon0 + np.arange(1, nx - 1) * dlon])
    ys = np.concatenate([33.0 + (k // 50 % 40) * 0.017,
                         lat0 + np.arange(1, nx - 1) * dlat])
    exp = bilinear.interp_tile(lon0, lat0, dlon, dlat, nx, ny, w, xs, ys,
                               knn_fallback=False)
    assert np.isfinite(exp).all()
    # the corner join's output: the four nodes of each point's cell
    ix = np.floor((xs - lon0) / dlon).astype(np.int64)
    iy = np.floor((ys - lat0) / dlat).astype(np.int64)
    pdf = pd.DataFrame({
        "x": xs, "y": ys,
        "v00": w[iy, ix], "v01": w[iy, ix + 1],
        "v10": w[iy + 1, ix], "v11": w[iy + 1, ix + 1],
    })
    d = tsql._d
    got = _eval_sql(spark, pdf, {"b": tsql.bilinear_sql(
        "x", "y", d(lon0), d(lat0), d(dlon), d(dlat),
        "v00", "v01", "v10", "v11",
    )})["b"].to_numpy(dtype=np.float64)
    # bit-exact, not approx: the same float64 ops in the same order
    assert np.array_equal(got, exp)


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
