"""Plan stability at catalog scale (VERDICT round-4 #9).

The SQL strategy bakes the catalog into literals: PIP ray casts per
region, per-region count literals (W2), and per-(slot, group)
candidate joins (J8). This test registers a ~50-region × 8-grid
catalog at runtime and asserts the plan still compiles, stays on
whole-stage codegen, and produces closed-form-correct answers — for
the list-precedence, count-precedence, and kNN-fallback variants.

Expression budget at this scale (see PLANS.md): the dominant term is
slot_pip_sql = depth × (4 comparisons per axis-rect region × 50
regions in one CASE) ≈ 600 comparisons/row plus depth × j_max
bilinears — well inside Janino's 64 KB method limit because the PIP
CASE collapses each rectangle to 4 comparisons; a 50-vertex general
polygon per region would NOT fit and must route to the kernel
strategy.
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
# round-5 VERDICT #2: general polygons past the codegen budget must
# TRANSPARENTLY route sql → broadcast kernel (no silent interpreted
# fallback, no janino error) and stay closed-form-correct.
# ------------------------------------------------------------------

def _register_general_catalog(n_side=7, n_vertices=50):
    """49 × 50-vertex near-circular regions on the same 7×7 block —
    the documented SQL-strategy failure mode (measured: janino's
    64 KB method limit falls at a few dozen crossing edges)."""
    import math

    specs = []
    for i in range(n_side):
        for j in range(n_side):
            rid = f"RGNG{i}{j}_9901"
            cx = -130.0005 + j * 1.0 + 0.6
            cy = 20.0005 + i * 1.0 + 0.5
            polygon = [
                [round(cx + 0.55 * math.cos(2 * math.pi * v / n_vertices), 6),
                 round(cy + 0.45 * math.sin(2 * math.pi * v / n_vertices), 6)]
                for v in range(n_vertices)
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


def test_general_polygons_autoroute_to_kernel(spark, general_catalog):
    """52-region catalog of 50-vertex general polygons: the budget
    estimator must reject the literal PIP CASE, transform_points must
    transparently run via the broadcast kernel (proven by running
    with codegen fallback DISABLED — the sql route would raise), and
    the answers must match the pip.contains/closed-form reference."""
    from vyperdatum_spark.engine import transform_sql as tsql
    from vyperdatum_spark.spatial import pip

    assert not tsql.sql_strategy_within_budget()
    assert tsql.pip_case_cost() > tsql.PIP_CASE_BUDGET

    pts, pdf = _points(spark, n=250)
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = tx.transform_points(
            spark, pts, "ellipse", "mllw", key_col="pid"
        ).select("pid", "region_id", "z_out")
        got = out.toPandas().set_index("pid").sort_index()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    # the kernel strategy is an Arrow map, not a literal-join plan
    assert "InArrow" in plan or "ArrowEval" in plan, plan[:2000]

    covered = 0
    for pid, row in pdf.iterrows():
        win = None
        for r in catalog.REGIONS:
            if pip.contains(list(r.polygon),
                            np.array([row.x]), np.array([row.y]))[0]:
                if win is None or r.region_ord > win.region_ord:
                    win = r
        grid = got.loc[row.pid]
        if win is None:
            assert pd.isna(grid.region_id), row.pid
        else:
            covered += 1
            assert grid.region_id == win.region_id, row.pid
            ez = round(catalog.transform_closed_form(
                win.region_id, "ellipse", "mllw", row.x, row.y, row.z), 3)
            assert abs(grid.z_out - ez) < 1e-9, (row.pid, grid.z_out, ez)
    assert covered > 80  # plenty of in-polygon points exercised


def test_pip_budget_estimator_on_builtin_catalog():
    """The shipped catalog (3 axis-rects) and the 52-axis-rect scale
    catalog must stay on the literal SQL strategy."""
    from vyperdatum_spark.engine import transform_sql as tsql

    assert tsql.sql_strategy_within_budget()
    assert tsql.pip_case_cost() == 3 * tsql.PIP_RECT_UNITS
    _register_big_catalog()
    try:
        assert tsql.sql_strategy_within_budget()
    finally:
        catalog.reset_catalog()
