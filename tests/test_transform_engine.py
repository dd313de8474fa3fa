"""End-to-end engine parity vs the closed-form numpy oracle.

Ports the semantic content of the reference's central correctness
matrix (tests/test_core.py:89-212, tests/test_points.py) to the
synthetic fixture catalog: per-region golden z values for multiple
output datums, inverse transform, multi-region overlap disambiguation,
uncertainty combination, NaN passthrough, sign flip, out-of-coverage
handling, and the sampled-grid mode."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.datums import catalog
from vyperdatum_spark.engine import transform as tx
from vyperdatum_spark.spatial import cells, pip


def numpy_oracle(xs, ys, zs, from_datum, to_datum):
    """Expected (region_id, z_out, unc) per point under W1 precedence."""
    n = len(xs)
    region = np.full(n, None, dtype=object)
    for r in catalog.REGIONS:  # ascending ord: later write wins
        m = pip.contains(list(r.polygon), xs, ys)
        region[m] = r.region_id
    z_out = np.full(n, np.nan)
    unc = np.full(n, np.nan)
    for i, rid in enumerate(region):
        if rid is None:
            continue
        z_out[i] = round(
            catalog.transform_closed_form(rid, from_datum, to_datum, xs[i], ys[i], zs[i]), 3
        )
        unc[i] = catalog.combined_sigma(rid, to_datum)
    return region, z_out, unc


def run_engine(spark, pdf, from_datum, to_datum, **kw):
    pts = spark.createDataFrame(pdf)
    out = tx.transform_points(spark, pts, from_datum, to_datum, **kw)
    return out.toPandas().set_index("pid").sort_index()


@pytest.mark.parametrize("to_datum", ["mllw", "mhw", "navd88", "tss"])
def test_transform_matrix_exact(spark, fixture_points, to_datum):
    pdf = fixture_points
    out = run_engine(spark, pdf, "ellipse", to_datum)
    region, z_exp, unc_exp = numpy_oracle(
        pdf.x.values, pdf.y.values, pdf.z.values, "ellipse", to_datum
    )
    assert (out["region_id"].fillna("∅").to_numpy()
            == pd.Series(region).fillna("∅").to_numpy()).all()
    got_z = out["z_out"].to_numpy(dtype=float)
    assert np.array_equal(np.nan_to_num(got_z, nan=-9e9),
                          np.nan_to_num(z_exp, nan=-9e9))
    got_u = out["unc"].to_numpy(dtype=float)
    assert np.allclose(np.nan_to_num(got_u, nan=-1),
                       np.nan_to_num(unc_exp, nan=-1), atol=1e-12)


def test_inverse_round_trip(spark, fixture_points):
    """mllw→ellipse after ellipse→mllw returns the input z (±0.002,
    reference tolerance: two round(3) steps)."""
    pdf = fixture_points
    fwd = run_engine(spark, pdf, "ellipse", "mllw")
    covered = fwd[fwd.covered]
    back_in = covered.reset_index()[["pid", "x", "y", "z_out"]].rename(
        columns={"z_out": "z"}
    )
    inv = run_engine(spark, back_in, "mllw", "ellipse")
    orig = pdf.set_index("pid").loc[inv.index, "z"]
    assert np.allclose(inv["z_out"].to_numpy(), orig.to_numpy(), atol=0.002)


def test_multi_region_overlap_disambiguation(spark):
    """Reference tests/test_core.py:295-310 analog: points in the
    3-region overlap all resolve to region C (highest catalog ord),
    A-only points to A, B-only points to B."""
    pdf = pd.DataFrame(
        {
            "pid": np.arange(4, dtype=np.int64),
            "x": [-76.75, -77.8, -75.2, -76.75],  # ABC, A-only, B-only, ABC
            "y": [34.75, 33.5, 35.8, 34.71],
            "z": [10.5, 11.0, 11.5, 10.0],
        }
    )
    out = run_engine(spark, pdf, "ellipse", "mllw")
    assert list(out["region_id"]) == [
        "RGNCbay01_8301", "RGNAcoast01_8301", "RGNBinner01_8301", "RGNCbay01_8301",
    ]
    assert out["region_ord"].nunique() == 3


def test_count_precedence_mode(spark):
    """W2 raster precedence: the region with the most valid points
    wins everywhere it has data (raster.py:226-233 analog)."""
    # many points in A-only, few in the A∩B∩C overlap
    n_a, n_o = 50, 3
    xs = np.concatenate([np.full(n_a, -77.9), np.full(n_o, -76.75)])
    ys = np.concatenate([np.linspace(33.1, 34.9, n_a), np.full(n_o, 34.75)])
    pdf = pd.DataFrame(
        {"pid": np.arange(n_a + n_o, dtype=np.int64), "x": xs, "y": ys,
         "z": np.full(n_a + n_o, 10.0)}
    )
    out = run_engine(spark, pdf, "ellipse", "mllw", precedence="count")
    # overlap points: A has n_a + n_o valid, B/C only n_o → A wins
    assert set(out.iloc[n_a:]["region_id"]) == {"RGNAcoast01_8301"}
    # list mode would have chosen C
    out_list = run_engine(spark, pdf, "ellipse", "mllw", precedence="list")
    assert set(out_list.iloc[n_a:]["region_id"]) == {"RGNCbay01_8301"}


def test_nan_coordinates_pass_through(spark):
    """Reference tests/test_points.py:47-61: NaN coords yield NaN z
    without breaking the batch."""
    pdf = pd.DataFrame(
        {
            "pid": np.arange(3, dtype=np.int64),
            "x": [np.nan, -76.75, -77.5],
            "y": [34.0, np.nan, 34.0],
            "z": [10.0, 10.0, 10.0],
        }
    )
    out = run_engine(spark, pdf, "ellipse", "mllw")
    assert out.loc[0, "region_id"] is None and np.isnan(out.loc[0, "z_out"])
    assert out.loc[1, "region_id"] is None and np.isnan(out.loc[1, "z_out"])
    assert out.loc[2, "covered"] and not np.isnan(out.loc[2, "z_out"])


def test_depth_output_sign_flip(spark):
    """Reference tests/test_points.py:112-125 analog: a positive-down
    output datum negates z."""
    pdf = pd.DataFrame(
        {"pid": np.array([0], dtype=np.int64), "x": [-77.5], "y": [34.0], "z": [10.5]}
    )
    mllw = run_engine(spark, pdf, "ellipse", "mllw")
    chart = run_engine(spark, pdf, "ellipse", "noaa chart datum")
    nav = run_engine(spark, pdf, "ellipse", "navd88")
    # mllw and its chart alias share steps AND the depth axis
    assert np.isclose(chart.loc[0, "z_out"], mllw.loc[0, "z_out"], atol=1e-9)
    # depth output negates: z_out = -(z + sep)
    sep = mllw.loc[0, "sep"]
    assert np.isclose(mllw.loc[0, "z_out"], round(-(10.5 + sep), 3), atol=1e-9)
    # height output does not (±1 rounding quantum: python round() is
    # half-even, Spark ROUND is half-up, and this point lands on a
    # .0005 boundary)
    assert np.isclose(
        nav.loc[0, "z_out"], round(10.5 + nav.loc[0, "sep"], 3), atol=0.0011
    )


def test_out_of_coverage_passthrough_and_catzoc(spark):
    """F6 semantics (raster.py:380-396): allowed points keep flip·z and
    get CATZOC-D uncertainty (3.0 for z>0)."""
    pdf = pd.DataFrame(
        {
            "pid": np.arange(2, dtype=np.int64),
            "x": [-74.2, -74.2],  # outside all regions
            "y": [34.0, 34.0],
            "z": [10.5, -5.0],
        }
    )
    out = run_engine(spark, pdf, "ellipse", "mllw",
                     allow_points_outside_coverage=True)
    assert not out["covered"].any()
    # uncovered z keeps flip*z (mllw = depth output => negated);
    # CATZOC evaluates over the HEIGHT-convention z
    assert out.loc[0, "z_out"] == -10.5 and out.loc[0, "unc"] == 3.0
    assert out.loc[1, "z_out"] == 5.0 and out.loc[1, "unc"] == 3.0 - 0.06 * (-5.0)


def test_null_transform_identity(spark, fixture_points):
    out = run_engine(spark, fixture_points, "mllw", "mllw")
    assert np.array_equal(out["z_out"].to_numpy(),
                          np.round(fixture_points.set_index("pid")["z"].to_numpy(), 3))


def test_sampled_mode_close_to_exact(spark, fixture_points):
    """Reference tests/test_points.py:34-44: sampled-grid mode agrees
    with the exact path within the sampling tolerance."""
    pdf = fixture_points
    pts = spark.createDataFrame(pdf)
    exact = tx.transform_points(spark, pts, "ellipse", "mllw").toPandas().set_index("pid")
    sampled = tx.transform_points_sampled(
        spark, pts, "ellipse", "mllw", res=cells.FINE_RES
    ).toPandas().set_index("pid")
    both = exact.join(sampled, rsuffix="_s")[
        ["z_out", "z_out_s", "covered", "covered_s", "region_id", "region_id_s"]
    ]
    core = both[both.covered & both.covered_s]
    assert len(core) > 0
    # near region boundaries the cell CENTER may fall in a different
    # region than the point (same artifact as the reference's
    # np.digitize binning) — tight tolerance applies where the region
    # agrees; those must be the vast majority
    same = core[core.region_id == core.region_id_s]
    assert len(same) / len(core) > 0.9
    # plane slopes sum to ~0.044/deg; fine-cell half-diagonal ~0.125°
    assert np.allclose(same.z_out, same.z_out_s, atol=0.02)


@pytest.mark.parametrize("include_lineage", [False, True])
def test_sampled_mode_keeps_the_exact_output_columns(
        spark, fixture_points, include_lineage):
    """Sampled mode emits the exact path's columns, lineage included,
    with its cell key in place of the coarse tile key; a covered
    point's lineage is its center's region pipeline."""
    pts = spark.createDataFrame(fixture_points.head(50))
    kw = {"include_lineage": include_lineage}
    exact = tx.transform_points(spark, pts, "ellipse", "mllw", **kw)
    sampled = tx.transform_points_sampled(spark, pts, "ellipse", "mllw", **kw)
    assert (set(sampled.columns) - {"cell_r"}
            == set(exact.columns) - {"cell5"})
    assert ("pipeline_str" in sampled.columns) == include_lineage
    if include_lineage:
        got = sampled.toPandas()
        cov = got[got.covered]
        assert len(cov) > 0
        want = {r.region_id: r.pipeline_str for r in exact.select(
            "region_id", "pipeline_str").distinct().collect()}
        assert (cov.pipeline_str == cov.region_id.map(want)).all()


def test_sampled_mode_carries_frame_corrections(spark, fixture_points):
    """Regression (round-3 ADVICE): sampled mode combined with a
    non-default output_frame / input_crs must apply the frame δz —
    previously the join-back recomputed z from the grid sep alone and
    silently dropped the ~0.8 m+ frame shift."""
    from vyperdatum_spark.spatial import crs as hcrs

    pdf = fixture_points
    pts = spark.createDataFrame(pdf)
    exact = tx.transform_points(
        spark, pts, "ellipse", "navd88", output_frame="ITRFS"
    ).toPandas().set_index("pid")
    sampled = tx.transform_points_sampled(
        spark, pts, "ellipse", "navd88", output_frame="ITRFS",
        res=cells.FINE_RES,
    ).toPandas().set_index("pid")
    both = exact.join(sampled, rsuffix="_s")
    core = both[both.covered & both.covered_s
                & (both.region_id == both.region_id_s)]
    assert len(core) > 0
    # frame δz is ~0.8 m — without the fix every row is off by that
    assert np.allclose(core.z_out, core.z_out_s, atol=0.02)

    # projected input CRS: sampled path must inverse-project before
    # binning and agree with the exact path
    px, py = hcrs.from_geoid_frame_np("spcs_syn", pdf.x.values, pdf.y.values)
    proj = pdf.assign(x=px, y=py)
    ppts = spark.createDataFrame(proj)
    exact_p = tx.transform_points(
        spark, ppts, "ellipse", "mllw", input_crs="spcs_syn"
    ).toPandas().set_index("pid")
    sampled_p = tx.transform_points_sampled(
        spark, ppts, "ellipse", "mllw", input_crs="spcs_syn",
        res=cells.FINE_RES,
    ).toPandas().set_index("pid")
    both_p = exact_p.join(sampled_p, rsuffix="_s")
    core_p = both_p[both_p.covered & both_p.covered_s
                    & (both_p.region_id == both_p.region_id_s)]
    assert len(core_p) > 0
    assert np.allclose(core_p.z_out, core_p.z_out_s, atol=0.02)


def test_tile_assignment_matches_oracle(spark, fixture_points):
    """'identical tile assignments' check: engine cell5 equals the
    numpy encoder's cell for every point."""
    pdf = fixture_points
    out = run_engine(spark, pdf, "ellipse", "mllw")
    exp = cells.encode_np(pdf.x.values, pdf.y.values, cells.COARSE_RES)
    assert np.array_equal(out["cell5"].to_numpy(), exp)


def test_sign_matrix_four_quadrants(spark, fixture_points):
    """F4 matrix (reference core.py:397-403 negates a depth INPUT,
    :441-449 flips a depth OUTPUT; raster.py:356-364 combined form):
    all four height/depth in × out quadrants, engine vs closed form."""
    pdf = fixture_points
    quadrants = [
        ("ellipse", "navd88"),             # height → height
        ("ellipse", "mllw"),               # height → depth (tidal = depth
                                           # axis, vypercrs.py:545-552)
        ("mllw", "ellipse"),               # depth  → height
        ("noaa chart datum", "navd88"),    # depth  → height (real pipeline)
        ("noaa chart datum", "mllw"),      # depth  → depth (identity steps)
        ("noaa chart datum", "noaa chart datum"),  # depth → depth (null)
    ]
    for from_d, to_d in quadrants:
        out = run_engine(spark, pdf, from_d, to_d)
        if from_d == to_d:
            # null transform: z passes through, double flip cancels
            assert np.allclose(
                out["z_out"].to_numpy(dtype=float),
                np.round(pdf.set_index("pid")["z"].to_numpy(), 3),
            ), (from_d, to_d)
            continue
        region, z_exp, _ = numpy_oracle(
            pdf.x.values, pdf.y.values, pdf.z.values, from_d, to_d
        )
        got = out["z_out"].to_numpy(dtype=float)
        assert np.array_equal(
            np.nan_to_num(got, nan=-9e9), np.nan_to_num(z_exp, nan=-9e9)
        ), (from_d, to_d)


def test_depth_input_hand_checked(spark):
    """A sounding of 12.3 m below chart datum (positive-down) in region
    A passes through to MLLW unchanged (identity steps, both axes
    depth — double flip cancels), and the CATZOC out-of-coverage unc
    uses the NEGATED (height-convention) z."""
    pdf = pd.DataFrame({
        "pid": [1, 2],
        "x": [-77.9, -10.0],   # in region A / far outside
        "y": [33.5, 0.0],
        "z": [12.3, 12.3],
    })
    out = run_engine(
        spark, pdf, "noaa chart datum", "mllw",
        allow_points_outside_coverage=True,
    )
    assert out.loc[1, "z_out"] == pytest.approx(12.3, abs=1e-9)
    # uncovered: z_out = flip_out * flip_in * z = z (depth → depth)
    assert out.loc[2, "z_out"] == pytest.approx(12.3, abs=1e-9)
    # CATZOC over height z = -12.3 (negative) -> 3 - 0.06*(-12.3)
    assert out.loc[2, "unc"] == pytest.approx(3 + 0.06 * 12.3, abs=1e-9)
    # depth → HEIGHT single-flips: same sounding to navd88 is the
    # height -12.3 plus the regional geoid pipeline
    out2 = run_engine(spark, pdf, "noaa chart datum", "navd88")
    sep = out2.loc[1, "sep"]
    assert out2.loc[1, "z_out"] == pytest.approx(round(-12.3 + sep, 3), abs=1e-9)


def test_empty_input(spark):
    """Zero-row input returns an empty frame with the full output
    schema (no crash in joins, the W2 count pass or codegen)."""
    empty = spark.createDataFrame(
        [], "pid long, x double, y double, z double"
    )
    for precedence in ("list", "count"):
        out = tx.transform_points(
            spark, empty, "ellipse", "mllw", precedence=precedence,
        )
        assert out.count() == 0
        assert {"region_id", "z_out", "covered", "sep", "unc"} <= set(out.columns)


@pytest.mark.parametrize("precedence", ["list", "count"])
def test_tile_table_matches_grid_defs(spark, fixture_points, precedence):
    """A caller-supplied tile DataFrame is collected once and
    reassembled into the grids it was cut from (tiler.grids_from_tiles),
    so its W1 and W2 output equal the ``grid_defs`` output exactly —
    region_id, region_ord, covered, sep and z_out."""
    from vyperdatum_spark.grids import tiler

    pts = spark.createDataFrame(fixture_points)
    defs = tiler.fixture_grid_defs()
    cols = ["region_id", "region_ord", "covered", "sep", "z_out"]
    a = tx.transform_points(
        spark, pts, "ellipse", "mllw", precedence=precedence,
        tiles=tiler.build_tile_df(spark, defs),
    ).toPandas().set_index("pid").sort_index()[cols]
    b = tx.transform_points(
        spark, pts, "ellipse", "mllw", precedence=precedence, grid_defs=defs,
    ).toPandas().set_index("pid").sort_index()[cols]
    assert a.covered.any() and a.region_id.nunique() > 1
    assert a.fillna(-9e9).equals(b.fillna(-9e9))


def test_tile_dims_are_cached_by_grid_content(spark, fixture_points,
                                              monkeypatch):
    """Repeated calls with the same tile table build the broadcast dims
    once; new node values under the same grid ids rebuild them and
    give the new z_out (that of ``grid_defs`` with those values)."""
    import dataclasses

    from vyperdatum_spark.engine import transform_sql as tsql
    from vyperdatum_spark.grids import tiler

    builds = []
    slots_dim = tsql.slots_dim
    monkeypatch.setattr(tsql, "slots_dim",
                        lambda *a: builds.append(1) or slots_dim(*a))
    pts = spark.createDataFrame(fixture_points)
    defs = tiler.fixture_grid_defs()
    # geoid planes only: shifting every grid alike could cancel in sep
    shifted = [dataclasses.replace(gd, plane=(*gd.plane[:2], gd.plane[2] + 0.25))
               if gd.grid_id.startswith("core/") else gd for gd in defs]

    def run(**kw):
        return (tx.transform_points(spark, pts, "ellipse", "mllw", **kw)
                .toPandas().set_index("pid").sort_index())

    monkeypatch.setattr(tsql, "_DIM_CACHE", {})
    ref = run(grid_defs=shifted)
    monkeypatch.setattr(tsql, "_DIM_CACHE", {})
    builds.clear()
    tiles = tiler.build_tile_df(spark, defs)
    first = run(tiles=tiles)
    again = run(tiles=tiles)
    assert len(builds) == 1
    assert first.z_out.fillna(-9e9).equals(again.z_out.fillna(-9e9))
    moved = run(tiles=tiler.build_tile_df(spark, shifted))
    assert len(builds) == 2
    cov = first.covered
    assert cov.any() and (moved.covered == cov).all()
    assert (np.abs(moved.z_out[cov] - first.z_out[cov]) > 0.2).all()
    assert moved.z_out.fillna(-9e9).equals(ref.z_out.fillna(-9e9))


def test_tiles_reassemble_to_their_grids(spark):
    """grids_from_tiles gives back each grid's origin, shape and node
    values bit for bit; a grid with no tile rows is absent."""
    from vyperdatum_spark.grids import tiler

    defs = tiler.fixture_grid_defs()
    grids = tiler.grids_from_tiles(tiler.build_tile_df(spark, defs[1:]),
                                   [gd.grid_id for gd in defs])
    assert [g.grid_id for g in grids] == sorted(gd.grid_id for gd in defs[1:])
    by_id = {g.grid_id: g for g in grids}
    for gd in defs[1:]:
        g = by_id[gd.grid_id]
        assert (g.lon0, g.lat0, g.dlon, g.dlat, g.nx, g.ny) == (
            gd.lon0, gd.lat0, gd.dlon, gd.dlat, gd.nx, gd.ny)
        ixs, iys = np.meshgrid(np.arange(gd.nx), np.arange(gd.ny))
        assert np.array_equal(
            g.values, gd.node_values(ixs.ravel(), iys.ravel()).reshape(gd.ny, gd.nx),
            equal_nan=True)


@pytest.mark.parametrize("precedence", ["list", "count"])
def test_transform_plan_has_no_shuffle_or_python(spark, fixture_points, precedence):
    """W1 and W2 run as broadcast joins and codegen column math: the
    executed plan holds no shuffle Exchange and no Python node."""
    out = tx.transform_points(
        spark, spark.createDataFrame(fixture_points), "ellipse", "mllw",
        precedence=precedence,
    )
    assert out.filter("covered").count() > 0
    out.collect()  # AQE: inspect the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ShuffleQueryStage" not in plan, plan
    assert not re.search(r"Exchange (hashpartitioning|rangepartitioning|"
                         r"RoundRobinPartitioning|SinglePartition)", plan), plan
    assert not re.search(r"MapInArrow|ArrowEvalPython|BatchEvalPython", plan), plan


def _w1_w2_oracle(xs, ys, zs, from_datum, to_datum, precedence):
    """numpy_oracle's W1, or W2: the region with the most member points
    wins (ties to the higher ord)."""
    if precedence == "list":
        return numpy_oracle(xs, ys, zs, from_datum, to_datum)[:2]
    member = {r.region_id: pip.contains(list(r.polygon), xs, ys)
              for r in catalog.REGIONS}
    order = sorted(catalog.REGIONS,
                   key=lambda r: (int(member[r.region_id].sum()), r.region_ord))
    region = np.full(len(xs), None, dtype=object)
    for r in order:
        region[member[r.region_id]] = r.region_id
    z_out = np.array([
        np.nan if rid is None else round(catalog.transform_closed_form(
            rid, from_datum, to_datum, x, y, z), 3)
        for rid, x, y, z in zip(region, xs, ys, zs)
    ])
    return region, z_out


def test_sql_count_precedence_matches_oracle(spark, fixture_points):
    """W2 count-ranked precedence equals the pip.contains/closed-form
    W2 row for row (and differs from W1 on the overlap points)."""
    pdf = fixture_points
    out = run_engine(spark, pdf, "ellipse", "mllw", precedence="count")
    region, z_exp = _w1_w2_oracle(pdf.x.values, pdf.y.values, pdf.z.values,
                                  "ellipse", "mllw", "count")
    assert (out.region_id.fillna("-").to_numpy()
            == pd.Series(region).fillna("-").to_numpy()).all()
    assert np.array_equal(
        np.nan_to_num(out.z_out.to_numpy(dtype=float), nan=-9e9),
        np.nan_to_num(z_exp, nan=-9e9),
    )
    w1 = numpy_oracle(pdf.x.values, pdf.y.values, pdf.z.values, "ellipse", "mllw")[0]
    assert (pd.Series(region).fillna("-") != pd.Series(w1).fillna("-")).any()


def test_sql_knn_edge_matches_numpy(spark):
    """J8 kNN edge fill (candidate-cell broadcast join + argmin column
    math) vs the numpy reference on a NaN-masked runtime grid: per
    region, Σ sign·bilinear.interp_tile(knn_fallback=True) over the
    pipeline's grids, pip.contains membership, W1 over valid regions."""
    from vyperdatum_spark.datums import pipeline as pl
    from vyperdatum_spark.grids import bilinear
    from vyperdatum_spark.queries.geo import _knn_grid_defs, KNN_NODE_LON

    k = np.arange(200)
    pdf = pd.DataFrame({
        "pid": k,
        "x": KNN_NODE_LON + 0.0005 + ((k * 131) % 39) * 0.001,
        "y": 33.2005 + ((k * 7919) % 100) * 0.008,
        "z": (k % 17) * 0.25,
    })
    defs = {gd.grid_id: gd for gd in _knn_grid_defs()}
    got = tx.transform_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw",
        grid_defs=list(defs.values()), knn_fallback=True,
    ).toPandas().set_index("pid").sort_index()

    xs, ys = pdf.x.to_numpy(), pdf.y.to_numpy()
    region = np.full(len(xs), None, dtype=object)
    sep = np.full(len(xs), np.nan)
    for r in sorted(catalog.REGIONS, key=lambda r: r.region_ord):
        total = np.zeros(len(xs))
        for grid_id, sign in pl.compile_steps("ellipse", "mllw", r.region_id, r.geoid):
            gd = defs[grid_id]
            ixs, iys = np.meshgrid(np.arange(gd.nx), np.arange(gd.ny))
            total = total + sign * bilinear.interp_tile(
                gd.lon0, gd.lat0, gd.dlon, gd.dlat, gd.nx, gd.ny,
                gd.node_values(ixs.ravel(), iys.ravel()), xs, ys,
                knn_fallback=True)
        ok = pip.contains(list(r.polygon), xs, ys) & np.isfinite(total)
        region[ok] = r.region_id
        sep[ok] = total[ok]
    fin, fout = pl.axis_flips("ellipse", "mllw")
    z_exp = np.array([round(v, 3) for v in fout * (fin * pdf.z.to_numpy() + sep)])
    assert got.covered.any() and (got.sep.isna() == np.isnan(sep)).all()
    assert (got.region_id.fillna("-").to_numpy()
            == pd.Series(region).fillna("-").to_numpy()).all()
    assert np.allclose(got.sep.to_numpy(dtype=float), sep,
                       rtol=0, atol=1e-12, equal_nan=True)
    assert np.array_equal(
        np.nan_to_num(got.z_out.to_numpy(dtype=float), nan=-9e9),
        np.nan_to_num(z_exp, nan=-9e9),
    )


def _knn_cells_bruteforce(grids, max_candidates=64):
    """Reference implementation of the candidate build: per candidate
    cell, scan ALL valid nodes (the pre-round-4 O(cells × nodes)
    algorithm). Used only to prove the bucketed build returns the
    exact same rows."""
    import math

    recs = []
    for region_id, gs in grids.items():
        for j, (lon0, lat0, dlon, dlat, nx, ny, w) in enumerate(gs):
            valid = np.isfinite(w)
            if not valid.any():
                continue
            has_nan = bool((~valid).any())
            m = max(dlon, dlat)
            viy, vix = np.nonzero(valid)
            vlon = lon0 + vix.astype(np.float64) * dlon
            vlat = lat0 + viy.astype(np.float64) * dlat
            vval = w[viy, vix]
            vidx = viy.astype(np.int64) * nx + vix.astype(np.int64)
            r = 0.5 * math.hypot(dlon, dlat)
            ix0 = int(math.floor((vlon.min() - m - lon0) / dlon))
            ix1 = int(math.floor((vlon.max() + m - lon0) / dlon))
            iy0 = int(math.floor((vlat.min() - m - lat0) / dlat))
            iy1 = int(math.floor((vlat.max() + m - lat0) / dlat))
            for iy in range(iy0, iy1 + 1):
                for ix in range(ix0, ix1 + 1):
                    interior = 0 <= ix <= nx - 2 and 0 <= iy <= ny - 2
                    if interior and not has_nan:
                        continue
                    if interior and (valid[iy, ix] and valid[iy, ix + 1]
                                     and valid[iy + 1, ix]
                                     and valid[iy + 1, ix + 1]):
                        continue
                    cx = lon0 + (ix + 0.5) * dlon
                    cy = lat0 + (iy + 0.5) * dlat
                    d = np.hypot(vlon - cx, vlat - cy)
                    dmin = float(d.min())
                    if dmin > m + r:
                        continue
                    keep = np.flatnonzero(
                        d <= min(dmin + 2.0 * r, m + r) + 1e-12
                    )
                    keep = keep[np.argsort(vidx[keep])]
                    recs.append((
                        f"{region_id}#g{j}", ix, iy,
                        [(float(vlon[i]), float(vlat[i]),
                          float(vval[i]), int(vidx[i])) for i in keep],
                    ))
    return recs


def test_knn_candidate_build_bucketed():
    """Round-4 (VERDICT #3): the neighborhood-bucketed candidate build
    returns the EXACT brute-force rows (same cells, same candidates,
    same order) on a NaN-holed grid."""
    from vyperdatum_spark.engine import transform_sql as tsql

    rng = np.random.default_rng(42)
    nx, ny = 80, 70
    w = rng.normal(size=(ny, nx))
    w[:4, :] = np.nan            # NaN band along the bottom edge
    w[:, -6:] = np.nan           # and the right edge
    holes = rng.random((ny, nx)) < 0.08
    w[holes] = np.nan            # interior holes
    grids = {"REG": [(-75.0, 33.0, 0.01, 0.0125, nx, ny, w)]}

    got, cmax = tsql.knn_cells_pdf(grids)
    exp = _knn_cells_bruteforce(grids)
    assert len(got) == len(exp) and len(exp) > 50
    assert cmax <= 64
    for g, e in zip(got, exp):
        assert g == e


def test_knn_candidate_build_linear_in_edge_cells():
    """Round-4 (VERDICT #3): build cost must be linear in edge cells,
    not O(edge_cells × valid_nodes). A 600×600 grid (360k nodes,
    ~21k candidate cells after NaN holes) would need ~10^10 float ops
    brute-force; the bucketed build does ~10^6 and finishes in
    seconds. Bound generously to stay robust on a noisy host."""
    import time

    from vyperdatum_spark.engine import transform_sql as tsql

    rng = np.random.default_rng(7)
    nx = ny = 600
    w = rng.normal(size=(ny, nx))
    holes = rng.random((ny, nx)) < 0.02
    w[holes] = np.nan
    grids = {"BIG": [(-80.0, 30.0, 0.001, 0.001, nx, ny, w)]}

    t0 = time.monotonic()
    rows, cmax = tsql.knn_cells_pdf(grids, max_candidates=64)
    dt = time.monotonic() - t0
    # every interior invalid-corner cell + the exterior ring
    inv = ~(np.isfinite(w[:-1, :-1]) & np.isfinite(w[:-1, 1:])
            & np.isfinite(w[1:, :-1]) & np.isfinite(w[1:, 1:]))
    assert len(rows) >= int(inv.sum())  # all fillable interior cells present
    assert cmax <= 64
    assert dt < 30.0, f"candidate build took {dt:.1f}s — not linear?"


@pytest.mark.parametrize("crs", ["utm_syn", "itrfs"])
def test_utm_and_itrfs_input(spark, fixture_points, crs):
    """Foreign input CRSes through transform_points: x_geo/y_geo are
    the numpy inverse (bit for bit for itrfs, 1e-12 relative for
    utm_syn's trig), regions those of the geoid-frame point, and z_out
    the closed form at the reference's ±0.002."""
    from vyperdatum_spark.spatial import crs as hcrs

    pdf = fixture_points
    x, y = hcrs.from_geoid_frame_np(crs, pdf.x.values, pdf.y.values)
    out = run_engine(spark, pdf.assign(x=x, y=y), "ellipse", "mllw",
                     input_crs=crs)
    lon, lat, zg = hcrs.to_geoid_frame_np(crs, x, y, pdf.z.values)
    got = out[["x_geo", "y_geo"]].to_numpy().T
    if crs == "utm_syn":
        np.testing.assert_allclose(got, [lon, lat], rtol=1e-12, atol=0)
    else:
        assert np.array_equal(got, [lon, lat])
    region, _z, _u = numpy_oracle(lon, lat, zg, "ellipse", "mllw")
    assert (out["region_id"].fillna("∅").to_numpy()
            == pd.Series(region).fillna("∅").to_numpy()).all()
    cov = out[out.covered]
    assert 0 < len(cov) < len(out)
    exp = [catalog.transform_closed_form(r, "ellipse", "mllw", lon[i], lat[i], zg[i])
           for i, r in zip(cov.index, cov.region_id)]
    assert np.abs(cov.z_out.to_numpy() - exp).max() <= 0.002


@pytest.mark.parametrize("kwargs", [{}, {"output_frame": "ITRFS"}],
                         ids=["default", "itrfs_output"])
def test_sampled_uncovered_rows_pass_through(spark, fixture_points, kwargs):
    """allow_points_outside_coverage in sampled mode: a point whose cell
    center is uncovered gets covered=false, no region and the exact
    path's passthrough z_out (the default mode gave it a NULL z_out,
    the frame mode covered=true)."""
    pts = spark.createDataFrame(fixture_points)
    kw = dict(allow_points_outside_coverage=True, **kwargs)
    exact = tx.transform_points(
        spark, pts, "ellipse", "mllw", **kw).toPandas().set_index("pid")
    sampled = tx.transform_points_sampled(
        spark, pts, "ellipse", "mllw", res=cells.FINE_RES, **kw,
    ).toPandas().set_index("pid")
    both = exact.join(sampled, rsuffix="_s")
    off = both[~both.covered_s]
    # sampling moves only the few points near a coverage edge
    assert 0.9 * (~both.covered).sum() <= len(off) <= 1.1 * (~both.covered).sum()
    assert off.region_id_s.isna().all()
    assert off.z_out_s.notna().all()
    # the passthrough is flip·z: the exact path's value wherever it too
    # is uncovered
    both_off = off[~off.covered]
    assert len(both_off) > 0
    assert np.array_equal(both_off.z_out_s.to_numpy(), both_off.z_out.to_numpy())
    assert np.array_equal(off.z_out_s.to_numpy(), -off.z.to_numpy())
    on = both[both.covered_s]
    assert on.region_id_s.notna().all() and on.z_out_s.notna().all()


@pytest.mark.parametrize("kwargs", [{}, {"output_frame": "ITRFS"}],
                         ids=["default", "itrfs_output"])
def test_sampled_uncovered_rows_get_point_catzoc(spark, fixture_points,
                                                 kwargs):
    """allow_points_outside_coverage in sampled mode: a point whose cell
    center is uncovered gets the CATZOC uncertainty of its own z, as on
    the exact path, not the center's (z=0 → always 3.0). Depths (z < 0
    on the height axis) are where the two differ."""
    pdf = fixture_points.assign(z=-fixture_points.z)
    pts = spark.createDataFrame(pdf)
    kw = dict(allow_points_outside_coverage=True, **kwargs)
    exact = tx.transform_points(
        spark, pts, "ellipse", "mllw", **kw).toPandas().set_index("pid")
    sampled = tx.transform_points_sampled(
        spark, pts, "ellipse", "mllw", res=cells.FINE_RES, **kw,
    ).toPandas().set_index("pid")
    both = exact.join(sampled, rsuffix="_s")
    off = both[~both.covered & ~both.covered_s]
    assert len(off) > 0
    assert (off.unc > 3.0).all()
    assert np.array_equal(off.unc_s.to_numpy(), off.unc.to_numpy())
    on = both[both.covered_s]
    assert on.unc_s.notna().all()


def test_lineage_appends_pipeline_str_in_place(spark, fixture_points):
    """include_lineage adds pipeline_str after every other column, which
    keep their order; a covered row gets its region's pipeline string,
    an uncovered row NULL."""
    from vyperdatum_spark.datums import pipeline as pl

    pts = spark.createDataFrame(fixture_points)
    kw = dict(allow_points_outside_coverage=True)
    plain = tx.transform_points(spark, pts, "ellipse", "mllw", **kw)
    lin = tx.transform_points(spark, pts, "ellipse", "mllw",
                              include_lineage=True, **kw)
    assert lin.columns == plain.columns + ["pipeline_str"]
    got = lin.toPandas()
    assert (~got["covered"]).any() and got["covered"].any()
    assert got.loc[~got["covered"], "pipeline_str"].isna().all()
    geoid = {r.region_id: r.geoid for r in catalog.REGIONS}
    for rid, p in got.loc[got["covered"], ["region_id", "pipeline_str"]].values:
        assert p == pl.compile_pipeline_string("ellipse", "mllw", rid,
                                               geoid[rid])
