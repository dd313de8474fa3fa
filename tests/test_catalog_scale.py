"""Plan stability at catalog scale (VERDICT round-4 #9).

The transform plan bakes the catalog into its broadcast dims: per
fine cell, each candidate region's PIP terms (a constant or a few
dozen crossing terms, whatever the polygon's vertex count), per-region
count literals (W2) and per-(slot, group) candidate joins (J8). These
tests register ~50-region catalogs at runtime and assert the plan
still compiles under whole-stage codegen and answers exactly like the
numpy references: axis-rect regions with 8 grids each (list, count
and kNN variants), and 500-vertex general polygons run with codegen
fallback disabled, checked on every vertex and edge midpoint.
"""

import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.datums import catalog
from vyperdatum_spark.engine import transform as tx


N_SIDE = 7  # 7×7 = 49 registered regions + 3 built-ins = 52
_DATUMS = ("tss", "mllw", "mhw", "mtl", "dtl", "mlw", "mhhw")


def _register_big_catalog():
    """49 axis-rect regions tiling [-130,-123)×[20,27) with 0.2°
    overlap between horizontal neighbors (precedence depth ≥ 2 at the
    seams), each with a geoid + 7 tidal planes (8 grids)."""
    specs = []
    for i in range(N_SIDE):
        for j in range(N_SIDE):
            rid = f"RGNS{i}{j}_9901"
            x0 = -130.0005 + j * 1.0
            y0 = 20.0005 + i * 1.0
            polygon = [
                [x0, y0], [x0 + 1.2, y0], [x0 + 1.2, y0 + 1.0], [x0, y0 + 1.0]
            ]
            geoid = f"core/geoid12b/g{rid}.gtx"
            planes = {geoid: [0.001 * ((i + j) % 5), -0.002, -34.0 - 0.01 * i]}
            for k, d in enumerate(_DATUMS):
                planes[f"{rid}/{d}.gtx"] = [
                    0.0003 * (k + 1), -0.0004 * (j + 1), 0.1 * (k + 1) + 0.001 * i
                ]
            sigmas = {"geoid": 0.01, **{d: 0.01 * (k + 2)
                                        for k, d in enumerate(_DATUMS)}}
            specs.append({
                "region_id": rid, "region_ord": 100 + i * N_SIDE + j,
                "polygon": polygon, "geoid": geoid,
                "planes": planes, "sigmas": sigmas,
            })
    catalog.register_regions_from_config({"regions": specs})


@pytest.fixture()
def big_catalog():
    _register_big_catalog()
    try:
        yield
    finally:
        catalog.reset_catalog()


def _points(spark, n=300):
    k = np.arange(n)
    pdf = pd.DataFrame({
        "pid": k,
        # spread across the 7×7 block, hitting interiors and overlap seams
        "x": -129.95 + (k % 68) * 0.1,
        "y": 20.05 + ((k * 7) % 68) * 0.1,
        "z": (k % 13) * 0.2,
    })
    return spark.createDataFrame(pdf), pdf


def _closed_form(pdf, from_datum, to_datum):
    """Winner = highest region_ord containing the point (W1); z from
    catalog.transform_closed_form, rounded like the engine."""
    exp = []
    for _i, row in pdf.iterrows():
        win = None
        for r in catalog.REGIONS:
            x0, y0, x1, y1 = r.bbox
            if x0 <= row.x < x1 and y0 <= row.y < y1:
                if win is None or r.region_ord > win.region_ord:
                    win = r
        if win is None:
            exp.append((None, np.nan))
        else:
            z = catalog.transform_closed_form(
                win.region_id, from_datum, to_datum, row.x, row.y, row.z
            )
            exp.append((win.region_id, round(z, 3)))
    return exp


@pytest.mark.parametrize("kwargs", [
    dict(),                          # W1 list precedence
    dict(precedence="count"),        # W2 count precedence
    dict(knn_fallback=True),         # J8 candidate joins per group
])
def test_sql_plan_compiles_and_answers_at_52_regions(spark, big_catalog, kwargs):
    assert len(catalog.REGIONS) == N_SIDE * N_SIDE + 3
    pts, pdf = _points(spark)
    out = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid", **kwargs
    ).select("pid", "region_id", "z_out")
    got = out.toPandas().set_index("pid").sort_index()
    # inspect AFTER the action: under AQE the final plan (and its
    # codegen stages) only exists once execution finalized it
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "*(n)" marks whole-stage-codegen stages in the simple plan
    # string; their absence means the 52-region expression tree fell
    # back to interpreted evaluation (codegen-size blowout)
    assert "*(" in plan, plan[:2000]
    assert got.region_id.notna().sum() > 100  # plenty of covered points
    if "precedence" not in kwargs:
        exp = _closed_form(pdf, "ellipse", "mllw")
        for pid, (erid, ez) in enumerate(exp):
            grid = got.loc[pid]
            assert (grid.region_id if pd.notna(grid.region_id) else None) == erid, pid
            if erid is not None:
                assert abs(grid.z_out - ez) < 1e-9, (pid, grid.z_out, ez)


# ------------------------------------------------------------------
# general polygons: the per-cell PIP keeps the generated code the same
# size for a 500-vertex ring as for a rectangle, and stays bit-exact
# ------------------------------------------------------------------

PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "MapInPandas", "FlatMapGroupsInPandas")


def _register_general_catalog(n_side=7, n_vertices=500):
    """49 × 500-vertex star-shaped rings (5 lobes, so each has concave
    stretches) on the same 7×7 block; horizontal neighbors overlap, so
    the seams hold depth-2 cells."""
    import math

    specs = []
    for i in range(n_side):
        for j in range(n_side):
            rid = f"RGNG{i}{j}_9901"
            cx = -130.0005 + j * 1.0 + 0.6
            cy = 20.0005 + i * 1.0 + 0.5
            polygon = []
            for v in range(n_vertices):
                t = 2 * math.pi * v / n_vertices
                r = 1.0 + 0.15 * math.sin(5 * t + i + j)
                polygon.append([round(cx + 0.55 * r * math.cos(t), 6),
                                round(cy + 0.42 * r * math.sin(t), 6)])
            geoid = f"core/geoid12b/g{rid}.gtx"
            planes = {geoid: [0.001 * ((i + j) % 5), -0.002, -34.0 - 0.01 * i]}
            for k, d in enumerate(_DATUMS):
                planes[f"{rid}/{d}.gtx"] = [
                    0.0003 * (k + 1), -0.0004 * (j + 1), 0.1 * (k + 1) + 0.001 * i
                ]
            sigmas = {"geoid": 0.01, **{d: 0.01 * (k + 2)
                                        for k, d in enumerate(_DATUMS)}}
            specs.append({
                "region_id": rid, "region_ord": 100 + i * n_side + j,
                "polygon": polygon, "geoid": geoid,
                "planes": planes, "sigmas": sigmas,
            })
    catalog.register_regions_from_config({"regions": specs})


@pytest.fixture()
def general_catalog():
    _register_general_catalog()
    try:
        yield
    finally:
        catalog.reset_catalog()


def _boundary_points(pdf):
    """``pdf`` plus every vertex and every edge midpoint of every
    registered general ring — where the half-open crossing rule and
    the per-cell term pruning decide."""
    from vyperdatum_spark.spatial import pip

    xs, ys = [pdf.x.to_numpy()], [pdf.y.to_numpy()]
    for r in catalog.REGIONS:
        if r.region_id.startswith("RGNG"):
            ring = pip._ring(list(r.polygon))
            xs += [ring[:-1, 0], (ring[:-1, 0] + ring[1:, 0]) / 2]
            ys += [ring[:-1, 1], (ring[:-1, 1] + ring[1:, 1]) / 2]
    x, y = np.concatenate(xs), np.concatenate(ys)
    k = np.arange(len(x))
    return pd.DataFrame({"pid": k, "x": x, "y": y, "z": (k % 13) * 0.2})


def _pip_oracle(pdf, precedence):
    """Winner per point from spatial.pip.contains (grids cover every
    region's bbox, so membership is the PIP): W1 = highest ord, W2 =
    highest (member count, ord)."""
    from vyperdatum_spark.spatial import pip

    xs, ys = pdf.x.to_numpy(), pdf.y.to_numpy()
    member = {}
    for r in catalog.REGIONS:
        x0, y0, x1, y1 = pip.polygon_bbox(list(r.polygon))
        m = np.zeros(len(xs), dtype=bool)
        near = np.flatnonzero((xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1))
        m[near] = pip.contains(list(r.polygon), xs[near], ys[near])
        member[r.region_id] = m
    rank = {r.region_id: (int(member[r.region_id].sum()) if precedence == "count"
                          else 0, r.region_ord) for r in catalog.REGIONS}
    win = np.full(len(xs), None, dtype=object)
    for r in sorted(catalog.REGIONS, key=lambda r: rank[r.region_id]):
        win[member[r.region_id]] = r.region_id
    return win


@pytest.mark.parametrize("precedence", ["list", "count"])
def test_general_polygons_per_cell_pip_exact(spark, general_catalog, precedence):
    """49 regions of 500-vertex general polygons (+ the 3 built-ins)
    through the one plan, with codegen fallback DISABLED (a generated
    method past janino's 64 KB limit raises instead of silently running
    interpreted): region_id must equal the spatial.pip.contains winner
    and z_out the closed form, row for row, on every vertex and edge
    midpoint; the executed plan holds no Python node."""
    _pts, grid_pdf = _points(spark, n=300)
    pdf = _boundary_points(grid_pdf)
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = tx.transform_points(
            spark, spark.createDataFrame(pdf), "ellipse", "mllw",
            key_col="pid", precedence=precedence,
        ).select("pid", "region_id", "z_out")
        got = out.toPandas().set_index("pid").sort_index()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert not any(node in plan for node in PYTHON_NODES), plan[:2000]

    win = _pip_oracle(pdf, precedence)
    rid = got.region_id.to_numpy(dtype=object)
    assert np.array_equal(pd.isna(rid), pd.isna(win))
    assert (rid[pd.notna(win)] == win[pd.notna(win)]).all()
    assert pd.notna(win).sum() > 20_000  # vertices, midpoints, interiors
    xs, ys, zs = pdf.x.to_numpy(), pdf.y.to_numpy(), pdf.z.to_numpy()
    z_out = got.z_out.to_numpy(dtype=float)
    for i in np.flatnonzero(pd.notna(win)):
        ez = round(catalog.transform_closed_form(
            win[i], "ellipse", "mllw", xs[i], ys[i], zs[i]), 3)
        assert abs(z_out[i] - ez) < 1e-9, (i, z_out[i], ez)
