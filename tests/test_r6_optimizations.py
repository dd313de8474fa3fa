"""Focused tests for the round-6 optimization internals.

Covers the r6 rewrites whose equivalence arguments are local
invariants (the oracle gate proves end-to-end equality; these pin the
pieces). The cell, CRS and Morton SQL-text builders are tested against
numpy in tests/test_spark_sql_builders.py.

- slots_dim: the denormalized prune dim must carry REAL Nones for
  missing slots (a NaN would flip join-miss semantics) and agree
  row-for-row with the two-level cell -> regions -> lattice layout.
- cell_pip_sql / bilinear_sql: the SQL-string builders must evaluate
  bit-identically to the numpy references they mirror
  (spatial.pip.contains, grids.bilinear.interp_tile) on a point grid
  (a rectangle on cell boundaries, an octagon and a 500-vertex ring;
  interior, on edges and vertices, outside).
- read_input: repartitions a 1-partition scan up to default
  parallelism, leaves an already-parallel scan untouched.
- get_spark: the tmpfs spark.local.dir is opt-in.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.engine import transform_sql as tsql


@pytest.fixture(scope="module")
def spark():
    from vyperdatum_spark.session import get_spark

    return get_spark(app_name="test-r6", cores=4,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_slots_dim_has_real_nones_and_matches_two_level_layout(spark):
    from pyspark.sql.types import DataType

    from vyperdatum_spark.datums import catalog
    from vyperdatum_spark.spatial import cells, pip

    grids = tsql.combined_grids("ellipse", "mllw")
    j_max = max(len(g) for g in grids.values())
    rows, schema, depth, n_terms = tsql.slots_dim(grids, j_max)
    names = DataType.fromDDL(schema).names
    # no NaN anywhere (a float NaN in ord/ngr/lon0 would silently
    # change join-miss comparisons: j < NaN is TRUE, j < NULL is NULL)
    for row in rows:
        assert len(row) == len(names)
        for v in row:
            assert not (isinstance(v, float) and math.isnan(v))
    # row-for-row agreement with the two-level layout: cell -> its
    # candidate regions (ord-ascending, cells wholly outside dropped)
    # -> each region's lattice groups
    cands: dict = {}
    for r in sorted(catalog.REGIONS, key=lambda r: r.region_ord):
        for cell, pt in pip.cell_terms(list(r.polygon), cells.FINE_RES).items():
            cands.setdefault(cell, []).append((r, pt))
    assert depth == max(map(len, cands.values()))
    assert n_terms == max(len(t) for slots in cands.values()
                          for _r, (_p, t) in slots if t is not None)
    for row in rows:
        got = dict(zip(names, row))
        slots = cands.pop(got["cell9"])
        for k in range(depth):
            pcols = [c.split(" ")[0] for c in tsql.pip_columns(f"_s{k}", n_terms)]
            if k >= len(slots):
                for c in (f"rid_s{k}", f"ord_s{k}", f"gkey_s{k}_0",
                          f"lon0_s{k}_0", *pcols):
                    assert got[c] is None, c
                continue
            r, (par, terms) = slots[k]
            assert got[f"rid_s{k}"] == r.region_id
            assert got[f"ord_s{k}"] == r.region_ord
            assert got[f"ngr_s{k}"] == len(grids[r.region_id])
            assert tuple(got[c] for c in pcols) == tsql.pip_values(par, terms, n_terms)
            assert got[f"gkey_s{k}_0"] == f"{r.region_id}#g0"
            assert got[f"lon0_s{k}_0"] == grids[r.region_id][0][0]
    assert not cands


RECT = [(-78.0, 33.0), (-77.0, 33.0), (-77.0, 34.0), (-78.0, 34.0),
        (-78.0, 33.0)]
OCTAGON = [(-77.5, 33.2), (-77.2, 33.0), (-76.8, 33.1), (-76.6, 33.5),
           (-76.7, 33.9), (-77.1, 34.1), (-77.6, 33.9), (-77.7, 33.5),
           (-77.5, 33.2)]


_SZ = 180.0 / 1024  # fine-cell size (cells.FINE_RES)
# a rectangle whose edges lie ON fine-cell boundaries
CELL_RECT = [(-180.0 + 583 * _SZ, -90.0 + 700 * _SZ),
             (-180.0 + 586 * _SZ, -90.0 + 700 * _SZ),
             (-180.0 + 586 * _SZ, -90.0 + 702 * _SZ),
             (-180.0 + 583 * _SZ, -90.0 + 702 * _SZ)]


def _ring500():
    t = 2 * np.pi * np.arange(500) / 500
    r = 1.0 + 0.2 * np.sin(7 * t)
    return [(round(-77.2 + 0.5 * a * np.cos(b), 6),
             round(33.5 + 0.4 * a * np.sin(b), 6)) for a, b in zip(r, t)]


def _pip_points(polys):
    """The 80×50 grid over the polygons, plus every vertex and edge
    midpoint of each and points along the rectangles' edges and
    corners — where the half-open crossing rule and the per-cell term
    pruning decide."""
    from vyperdatum_spark.spatial import pip

    k = np.arange(4000)
    xs = [-78.2 + (k % 80) * 0.02]
    ys = [32.8 + (k // 80 % 50) * 0.03]
    for poly in polys:
        ring = pip._ring(poly)
        xs += [ring[:-1, 0], (ring[:-1, 0] + ring[1:, 0]) / 2]
        ys += [ring[:-1, 1], (ring[:-1, 1] + ring[1:, 1]) / 2]
        if len(ring) == 5:
            for a, b in zip(ring[:-1], ring[1:]):
                t = np.linspace(0.0, 1.0, 11)
                xs.append(a[0] + t * (b[0] - a[0]))
                ys.append(a[1] + t * (b[1] - a[1]))
    return np.concatenate(xs), np.concatenate(ys)


def _eval_sql(spark, pdf, exprs):
    """Evaluate SQL-text expressions over ``pdf`` rows, in row order."""
    df = spark.createDataFrame(pdf.assign(_i=np.arange(len(pdf))))
    return (df.selectExpr("_i", *[f"{e} AS `{n}`" for n, e in exprs.items()])
            .toPandas().sort_values("_i").reset_index(drop=True))


def test_pip_sql_matches_numpy_ray_cast(spark):
    """cell_pip_sql over each point's spatial.pip.cell_terms row equals
    spatial.pip.contains bit for bit, in both forms (short term lists
    as plain expressions, long ones through ``aggregate``); a cell the
    terms leave out holds only outside points."""
    from vyperdatum_spark.engine.inputs import local_df
    from vyperdatum_spark.spatial import cells, pip

    polys = {"rect": RECT, "cell_rect": CELL_RECT, "oct": OCTAGON,
             "ring500": _ring500()}
    xs, ys = _pip_points(polys.values())
    c9 = cells.encode_np(xs, ys, cells.FINE_RES)
    lambda_form = tsql.PIP_CODEGEN_TERMS + 1
    for name, poly in polys.items():
        terms = pip.cell_terms(poly, cells.FINE_RES)
        n_terms = max(len(t) for _p, t in terms.values() if t)
        exp = pip.contains(poly, xs, ys)
        assert exp.any() and not exp.all(), name
        listed = np.array([int(c) in terms for c in c9])
        assert not exp[~listed].any(), name
        for n in {n_terms, lambda_form}:
            rows = [(i, float(x), float(y),
                     *tsql.pip_values(*terms.get(int(c), (None, None)), n))
                    for i, (x, y, c) in enumerate(zip(xs, ys, c9))]
            df = local_df(spark, rows, ", ".join(
                ["i long", "x double", "y double", *tsql.pip_columns("", n)]))
            inside = (df.selectExpr("i", tsql.cell_pip_sql("x", "y", "", n) + " AS inside")
                      .toPandas().sort_values("i").inside.to_numpy())
            assert pd.isna(inside[~listed]).all(), (name, n)
            assert np.array_equal(inside[listed].astype(bool), exp[listed]), (name, n)
    # the rectangles keep at most 2 terms per cell (plain expressions);
    # the ring keeps a few dozen on its worst cell, not 500
    assert max(len(t) for _p, t in pip.cell_terms(RECT, cells.FINE_RES).values()
               if t) <= 2 < tsql.PIP_CODEGEN_TERMS
    assert tsql.PIP_CODEGEN_TERMS < n_terms < 60


def test_bilinear_sql_matches_numpy_interp_tile(spark):
    from vyperdatum_spark.grids import bilinear
    from vyperdatum_spark.spatial import cells

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
    d = cells.dlit
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
