"""The Spark SQL-text geo builders against their numpy twins.

Each Spark-side geo expression has one builder, written as SQL text:
the cell id, parent and center (spatial.cells), the frame δz and the
to/from geoid-frame maps of every catalog CRS (spatial.crs), and the
Morton key (spatial.zorder). Each is evaluated here over cell edges,
the ±180/±90 extremes, lattice nodes, non-finite and NULL input, and
must equal its numpy (or scalar Python) form bit for bit. The one
tolerance is utm_syn's trig: numpy divides by DEG where Spark
multiplies by 1/DEG, and the JVM's libm may differ by an ulp.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from vyperdatum_spark.engine import transform as tx
from vyperdatum_spark.engine.inputs import local_df
from vyperdatum_spark.spatial import cells, crs as hcrs, zorder

RESOLUTIONS = (0, cells.COARSE_RES, cells.FINE_RES, 12)


def _eval(spark, cols: dict, exprs: dict) -> dict:
    """Evaluate SQL-text ``exprs`` over ``cols`` (integer arrays become
    BIGINT columns, the rest DOUBLE: NaN stays NaN, None is NULL), in
    row order."""
    names = list(cols)
    ints = {c for c in names if np.asarray(cols[c]).dtype.kind in "iu"}
    cast = {c: int if c in ints else float for c in names}
    n = len(cols[names[0]])
    rows = [(i, *(None if cols[c][i] is None else cast[c](cols[c][i])
                  for c in names)) for i in range(n)]
    df = local_df(spark, rows, ", ".join(
        ["_i long"] + [f"{c} {'long' if c in ints else 'double'}" for c in names]))
    got = (df.selectExpr("_i", *[f"{e} AS `{k}`" for k, e in exprs.items()])
           .orderBy("_i").collect())
    return {k: [r[k] for r in got] for k in exprs}


def _edge_coords(res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell edges (on, one ulp below, one ulp above), the ±180/±90
    extremes, nodes of a 0.05° lattice and random points."""
    sz = cells.cell_size_deg(res)
    kx = np.arange(0, 1 << (res + 2), max(1, (1 << (res + 2)) // 64))
    ky = np.arange(0, 1 << (res + 1), max(1, (1 << (res + 1)) // 32))
    ex = -180.0 + kx * sz
    ey = -90.0 + ky[: len(kx)] * sz
    ey = np.resize(ey, len(ex))
    lon = [ex, np.nextafter(ex, -np.inf), np.nextafter(ex, np.inf)]
    lat = [ey, np.nextafter(ey, -np.inf), np.nextafter(ey, np.inf)]
    ext = np.array([-180.0, 180.0, -180.0, 180.0, 0.0, 0.0])
    lon.append(ext)
    lat.append(np.array([-90.0, 90.0, 90.0, -90.0, -90.0, 90.0]))
    node = np.arange(40)
    lon.append(-78.05 + node * 0.05)
    lat.append(32.95 + node * 0.05)
    rng = np.random.default_rng(5)
    lon.append(rng.uniform(-180.0, 180.0, 200))
    lat.append(rng.uniform(-90.0, 90.0, 200))
    return np.concatenate(lon), np.concatenate(lat)


def test_encode_matches_encode_np_with_non_finite_and_null(spark):
    """Non-finite lon or lat gives -1 as in encode_np (the Spark side
    used to return a real cell for NaN and -536870400 for +inf); NULL
    stays NULL."""
    lon, lat = _edge_coords(cells.FINE_RES)
    bad = [math.nan, math.inf, -math.inf]
    lon = np.concatenate([lon, bad, [1.0] * 3, bad])
    lat = np.concatenate([lat, [1.0] * 3, bad, bad])
    exprs = {f"c{r}": cells.encode_spark_sql("lon", "lat", r) for r in RESOLUTIONS}
    got = _eval(spark, {"lon": list(lon) + [None, None, 1.0],
                        "lat": list(lat) + [None, 1.0, None]}, exprs)
    for r in RESOLUTIONS:
        exp = cells.encode_np(lon, lat, r).tolist()
        assert got[f"c{r}"][: len(lon)] == exp, r
        assert got[f"c{r}"][len(lon):] == [None] * 3, r
        assert got[f"c{r}"][len(lon) - 9:len(lon)] == [-1] * 9


def test_non_finite_points_get_no_cell_in_transform(spark):
    rows = [(0, math.nan, 1.0, 5.0), (1, math.inf, 34.0, 5.0),
            (2, -77.5, -math.inf, 5.0), (3, -77.5, 34.0, 5.0)]
    pts = local_df(spark, rows, "pid long, x double, y double, z double")
    out = {r.pid: r for r in tx.transform_points(
        spark, pts, "ellipse", "mllw").collect()}
    assert [out[i].cell5 for i in range(3)] == [-1, -1, -1]
    assert not any(out[i].covered for i in range(3))
    assert out[3].cell5 == cells.encode_one(-77.5, 34.0, cells.COARSE_RES)
    assert out[3].covered


def test_parent_and_center_match_the_scalar_forms(spark):
    lon, lat = _edge_coords(cells.FINE_RES)
    # cells on the grid (an ulp past an extreme falls off it)
    ok = (-180.0 <= lon) & (lon < 180.0) & (-90.0 <= lat) & (lat < 90.0)
    fine = cells.encode_np(lon[ok], lat[ok], cells.FINE_RES)
    exprs = {f"p{p}": cells.parent_spark_sql("cell", cells.FINE_RES, p)
             for p in (cells.FINE_RES - 1, cells.COARSE_RES, 0)}
    clon, clat = cells.center_spark_sql("cell", cells.FINE_RES)
    exprs.update(lon=clon, lat=clat)
    got = _eval(spark, {"cell": fine}, exprs)
    for p in (cells.FINE_RES - 1, cells.COARSE_RES, 0):
        assert got[f"p{p}"] == [cells.parent(int(c), p) for c in fine], p
        assert got[f"p{p}"] == cells.encode_np(lon[ok], lat[ok], p).tolist(), p
    centers = [cells.cell_center(int(c)) for c in fine]
    assert got["lon"] == [c[0] for c in centers]
    assert got["lat"] == [c[1] for c in centers]


def _geo_points():
    """Geoid-frame lon/lat over the catalog's regions: lattice nodes,
    fine-cell edges and random points."""
    k = np.arange(60)
    sz = cells.cell_size_deg(cells.FINE_RES)
    rng = np.random.default_rng(9)
    lon = np.concatenate([-78.05 + k * 0.05, -180.0 + (582 + k) * sz,
                          rng.uniform(-79.0, -73.0, 200)])
    lat = np.concatenate([32.95 + k * 0.05, -90.0 + (700 + k) * sz,
                          rng.uniform(32.0, 37.0, 200)])
    z = np.concatenate([np.full(60, 10.0), -np.arange(60) * 0.25,
                        rng.uniform(-20.0, 20.0, 200)])
    return lon, lat, z


def test_frame_dz_matches_numpy(spark):
    lon, lat, _z = _geo_points()
    got = _eval(spark, {"lon": lon, "lat": lat},
                {"dz": hcrs.frame_dz_spark_sql("lon", "lat")})
    assert got["dz"] == hcrs.frame_dz_np(lon, lat).tolist()


@pytest.mark.parametrize("crs", hcrs.KNOWN_CRS)
def test_geoid_frame_maps_match_numpy(spark, crs):
    """to_geoid_frame and from_geoid_frame of every CRS, both ways,
    bit for bit except utm_syn's trig (1e-12 relative)."""
    lon, lat, z = _geo_points()
    x, y = hcrs.from_geoid_frame_np(crs, lon, lat)
    fx, fy = hcrs.from_geoid_frame_spark_sql(crs, "lon", "lat")
    tx_, ty, tz = hcrs.to_geoid_frame_spark_sql(crs, "x", "y", "z")
    got = _eval(spark, {"lon": lon, "lat": lat, "x": x, "y": y, "z": z},
                {"fx": fx, "fy": fy, "tx": tx_, "ty": ty, "tz": tz})
    exp = {"fx": x, "fy": y}
    exp.update(zip(("tx", "ty", "tz"), hcrs.to_geoid_frame_np(crs, x, y, z)))
    for k, want in exp.items():
        g = np.array(got[k], dtype=np.float64)
        if crs == "utm_syn" and k != "tz":
            np.testing.assert_allclose(g, want, rtol=1e-12, atol=0, err_msg=k)
        else:
            assert g.tolist() == np.asarray(want).tolist(), k
    # and the round trip lands back on the geoid-frame point
    np.testing.assert_allclose(got["tx"], lon, rtol=0, atol=1e-9)
    np.testing.assert_allclose(got["ty"], lat, rtol=0, atol=1e-9)


def test_morton_matches_numpy(spark):
    """Keys over the whole 16-bit range (0, 2^16 - 1, and 2^16, which
    the mask wraps to 0), and from lon/lat at both index
    resolutions."""
    rng = np.random.default_rng(3)
    edge = np.array([0, 1, 2, 0xFF, 0x100, 0x5555, 0xAAAA, 0xFFFF, 0x10000])
    ix = np.concatenate([edge, np.resize(edge[::-1], len(edge)),
                         rng.integers(0, 1 << 16, 300)])
    iy = np.concatenate([edge, edge, rng.integers(0, 1 << 16, 300)])
    got = _eval(spark, {"ix": ix, "iy": iy},
                {"m": zorder.morton_spark_sql("ix", "iy")})
    assert got["m"] == zorder.morton_np(ix, iy).tolist()

    lon, lat, _z = _geo_points()
    exprs = {f"z{r}": zorder.morton_from_lonlat_spark_sql("lon", "lat", r)
             for r in (cells.COARSE_RES, cells.FINE_RES)}
    got = _eval(spark, {"lon": lon, "lat": lat}, exprs)
    for r in (cells.COARSE_RES, cells.FINE_RES):
        sz = cells.cell_size_deg(r)
        want = zorder.morton_np(np.floor((lon + 180.0) / sz),
                                np.floor((lat + 90.0) / sz))
        assert got[f"z{r}"] == want.tolist(), r
