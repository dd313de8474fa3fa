"""Runtime region registration (reference core.py:671-764, 972-996)
and datum-spec resolution (vypercrs.py:685-812)."""

import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.datums import catalog, pipeline as pl, resolve, vypercrs
from vyperdatum_spark.engine import transform as tx


@pytest.fixture
def clean_catalog():
    yield
    catalog.reset_catalog()


def _pts(spark, xs, ys, z=10.0):
    pdf = pd.DataFrame({
        "pid": np.arange(len(xs), dtype=np.int64),
        "x": xs, "y": ys, "z": np.full(len(xs), z),
    })
    return spark.createDataFrame(pdf)


def test_register_region_participates_in_precedence(spark, clean_catalog):
    v0 = catalog.catalog_version()
    rid = "RGNDnew01_8301"
    catalog.register_regions_from_config({"regions": [{
        "region_id": rid,
        "region_ord": 3,  # highest -> wins W1 where it overlaps
        "polygon": [[-77.9005, 33.1005], [-77.1005, 33.1005],
                    [-77.1005, 33.9005], [-77.9005, 33.9005]],
        "geoid": "core/geoid12b/gsynthd.gtx",
        "planes": {
            "core/geoid12b/gsynthd.gtx": [0.011, -0.017, -34.2],
            f"{rid}/tss.gtx": [0.002, 0.003, 0.15],
            f"{rid}/mllw.gtx": [-0.001, 0.002, -0.7],
        },
        "sigmas": {"geoid": 0.02, "tss": 0.03, "mllw": 0.04},
    }]})
    assert catalog.catalog_version() > v0
    # inside D (and A): D has higher ord -> wins; outside D -> A
    out = tx.transform_points(
        spark, _pts(spark, [-77.5, -77.95], [33.5, 33.5]),
        "ellipse", "mllw",
    ).toPandas().set_index("pid")
    assert out.loc[0, "region_id"] == rid
    assert out.loc[1, "region_id"] == "RGNAcoast01_8301"
    # the new region's sigma dimension participates too
    assert out.loc[0, "unc"] == pytest.approx(0.02 + 0.03 + 0.04)
    # closed form agrees (plane grids exact after round)
    exp = catalog.transform_closed_form(rid, "ellipse", "mllw", -77.5, 33.5, 10.0)
    assert out.loc[0, "z_out"] == pytest.approx(round(exp, 3), abs=1e-9)


def test_register_rejects_duplicates_and_foreign_grids(clean_catalog):
    r = catalog.REGIONS[0]
    with pytest.raises(ValueError, match="already registered"):
        catalog.register_region(r, {}, {})
    new = catalog.Region("RGNEx01_8301", 9, r.polygon, "core/geoid12b/gsynthe.gtx")
    with pytest.raises(ValueError, match="not owned"):
        catalog.register_region(
            new, {"RGNAcoast01_8301/tss.gtx": (0, 0, 0)}, {})


def test_register_rejects_unsafe_region_ids(clean_catalog):
    # ids are interpolated into generated SQL text: a quote must be
    # refused at registration, before any Spark job
    r = catalog.REGIONS[0]
    bad = catalog.Region("RGN'x", 9, r.polygon, "core/geoid12b/gsynthe.gtx")
    with pytest.raises(ValueError, match="not a safe identifier"):
        catalog.register_region(bad, {}, {})
    good = {"region_id": "RGNDok01_8301", "region_ord": 8,
            "polygon": [list(p) for p in r.polygon],
            "geoid": "core/geoid12b/gsynthd.gtx", "planes": {}, "sigmas": {}}
    v0 = catalog.catalog_version()
    with pytest.raises(ValueError, match="not a safe identifier"):
        catalog.register_regions_from_config({"regions": [
            good, {**good, "region_id": "RGN' OR '1'='1"}]})
    # a config with one bad id registers nothing
    assert catalog.catalog_version() == v0
    assert "RGNDok01_8301" not in catalog.REGION_BY_ID
    # the built-in ids pass the same check
    for reg in catalog.REGIONS:
        assert catalog.check_region_id(reg.region_id) == reg.region_id


def test_resolve_epsg_tuple_wkt():
    assert resolve.resolve(6319) == ("nad83s", "ellipse")
    assert resolve.resolve(5866) == (None, "mllw")
    assert resolve.resolve((26919, "mllw")) == ("utm_syn", "mllw")
    assert resolve.resolve((2264, 5703)) == ("spcs_syn", "navd88")
    wkt = vypercrs.lineage_wkt("ellipse", "mllw")
    horiz, vert = resolve.resolve(wkt)
    assert (horiz, vert) == ("nad83s", "mllw")
    with pytest.raises(ValueError, match="alias table"):
        resolve.resolve(4326)
    with pytest.raises(ValueError, match="no vertical"):
        resolve.resolve_vertical(6318, "input")


def test_transform_accepts_epsg_and_tuple(spark):
    pts = _pts(spark, [-77.5], [34.0])
    by_name = tx.transform_points(spark, pts, "ellipse", "mllw").toPandas()
    by_epsg = tx.transform_points(spark, pts, 6319, 5866).toPandas()
    assert by_epsg.loc[0, "z_out"] == by_name.loc[0, "z_out"]
    # tuple with projected horizontal: same point given in projected coords
    from vyperdatum_spark.spatial import crs as hcrs
    px, py = hcrs.from_geoid_frame_np("spcs_syn", [-77.5], [34.0])
    ppts = _pts(spark, px, py)
    by_tuple = tx.transform_points(spark, ppts, (2264, "ellipse"), 5866).toPandas()
    assert by_tuple.loc[0, "z_out"] == by_name.loc[0, "z_out"]


def test_registered_triangle_region_matches_oracle(spark, clean_catalog):
    """A NON-rectangular runtime region takes the general per-cell ray
    cast of the plan (its boundary cells keep diagonal-edge terms); the
    engine must equal the pip.contains W1 winner and the closed-form
    z bit for bit."""
    from vyperdatum_spark.spatial import pip

    rid = "RGNTri01_8301"
    catalog.register_regions_from_config({"regions": [{
        "region_id": rid,
        "region_ord": 4,
        # triangle straddling region A's south-west corner area
        "polygon": [[-77.95, 33.05], [-77.05, 33.05], [-77.5, 33.95]],
        "geoid": "core/geoid12b/gsyntht.gtx",
        "planes": {
            "core/geoid12b/gsyntht.gtx": [0.012, -0.019, -34.25],
            f"{rid}/tss.gtx": [0.0019, 0.0031, 0.12],
            f"{rid}/mllw.gtx": [-0.0012, 0.0024, -0.72],
        },
        "sigmas": {"geoid": 0.015, "tss": 0.025, "mllw": 0.035},
    }]})
    rng = np.random.default_rng(17)
    n = 4000
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": rng.uniform(-78.2, -76.8, n),
        "y": rng.uniform(32.9, 34.1, n),
        "z": np.round(rng.uniform(-5, 15, n), 2),
    })
    a = tx.transform_points(spark, spark.createDataFrame(pdf), "ellipse",
                            "mllw").toPandas().set_index("pid").sort_index()
    win = np.full(n, None, dtype=object)
    for r in sorted(catalog.REGIONS, key=lambda r: r.region_ord):
        win[pip.contains(list(r.polygon), pdf.x.values, pdf.y.values)] = r.region_id
    z_exp = [np.nan if w is None else round(catalog.transform_closed_form(
        w, "ellipse", "mllw", x, y, z), 3)
        for w, x, y, z in zip(win, pdf.x, pdf.y, pdf.z)]
    assert (a.region_id.fillna("∅").values == pd.Series(win).fillna("∅").values).all()
    assert np.array_equal(a.z_out.fillna(-9e9).values,
                          np.nan_to_num(np.array(z_exp), nan=-9e9))
    # the triangle actually wins somewhere (ord 4 > A's 0)
    assert (a.region_id == rid).sum() > 0
    # and points in A outside the triangle still resolve to A
    assert (a.region_id == "RGNAcoast01_8301").sum() > 0


def test_lineage_wkt_recovers_inverse(spark):
    """SURVEY §3.3 lineage contract end-to-end: the compound WKT
    attached to a transform's output is sufficient, BY ITSELF, to run
    the inverse — parse the datum from the artifact and transform
    back, no out-of-band knowledge."""
    rng = np.random.default_rng(23)
    n = 500
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": rng.uniform(-77.9, -76.1, n),
        "y": rng.uniform(33.1, 34.9, n),
        "z": np.round(rng.uniform(-10, 10, n), 2),
    })
    fwd = tx.transform_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw", key_col="pid"
    ).toPandas()
    wkt = vypercrs.lineage_wkt("ellipse", "mllw")
    assert vypercrs.is_valid_vert_wkt(wkt)

    # recover the inverse purely from the artifact
    parsed = vypercrs.parse_vert_wkt(wkt)
    assert parsed["is_height"] is False  # depth axis recovered too
    back_in = fwd[fwd.covered][["pid", "x", "y", "z_out"]].rename(
        columns={"z_out": "z"})
    inv = tx.transform_points(
        spark, spark.createDataFrame(back_in),
        parsed["datum_name"], "ellipse", key_col="pid",
    ).toPandas().set_index("pid")
    orig = pdf.set_index("pid").loc[inv.index, "z"]
    assert np.allclose(inv["z_out"].to_numpy(), orig.to_numpy(), atol=0.002)
    # and the recovered region/pipeline lineage matches the compiler
    from vyperdatum_spark.datums import pipeline as pl
    for rid, pipe in zip(parsed["regions"], parsed["pipelines"]):
        r = catalog.REGION_BY_ID[rid]
        assert pipe == pl.compile_pipeline_string("ellipse", "mllw", rid, r.geoid)


def test_pipeline_crs_accumulator_any_order():
    """VyperPipelineCRS analog (reference tests/test_vypercrs.py
    :143-345): specs arrive in any order and any form; valid once
    horizontal + vertical + regions are all present."""
    # vert name first, then horiz EPSG, then regions
    c = vypercrs.PipelineCRS("mllw")
    assert not c.is_valid and c.is_height is False
    c.set_crs(6318)
    assert not c.is_valid and c.horizontal == "nad83s"
    c.update_regions(["RGNAcoast01_8301", "RGNBinner01_8301"])
    assert c.is_valid
    wkt = c.to_compound_wkt()
    assert vypercrs.is_valid_vert_wkt(wkt)
    parsed = vypercrs.parse_vert_wkt(wkt)
    assert parsed["regions"] == ["RGNAcoast01_8301", "RGNBinner01_8301"]

    # reverse order: horiz first, vert via EPSG, regions via WKT
    c2 = vypercrs.PipelineCRS(2264)
    c2.set_crs(5866)
    assert not c2.is_valid
    c2.set_crs(wkt)  # lineage WKT brings its regions along
    assert c2.is_valid and c2.vertical == "mllw"
    # the compound WKT carries its own horizontal member — latest spec
    # wins, same as the reference's set_crs overwrite behavior
    assert c2.horizontal == "nad83s"

    # tuple in one shot
    c3 = vypercrs.PipelineCRS((26919, "navd88"))
    c3.update_regions(["RGNCbay01_8301"])
    assert c3.is_valid and c3.is_height is True
    assert "navd88" in c3.to_wkt()

    # incomplete -> clear error
    with pytest.raises(ValueError, match="missing"):
        vypercrs.PipelineCRS("tss").to_compound_wkt()


def test_vert_wkt_no_trailing_comma_when_lineage_empty():
    """Round-3 ADVICE regression: a lineage-less vertical CRS (no
    pipelines → no REMARK) must still produce well-formed WKT — the
    old string builder left 'LENGTHUNIT["metre",1.0],]'."""
    from vyperdatum_spark.datums import vypercrs

    wkt = vypercrs.build_vert_wkt("mllw", [], [], vdatum_version="vtest")
    assert ",]" not in wkt
    assert wkt.endswith('LENGTHUNIT["metre",1.0]]')
    with_remark = vypercrs.build_vert_wkt(
        "mllw", ["R"], ["pipe"], vdatum_version="vtest"
    )
    assert ",]" not in with_remark and "REMARK[" in with_remark


def test_epsg_alias_breadth_round3():
    """Round-3 widening: every frame code the reference itself uses
    (vypercrs.py:20-25) resolves; 3D geographic codes split into
    frame + ellipsoid height like the reference's set_crs."""
    from vyperdatum_spark.datums import resolve

    assert resolve.resolve(8999) == ("itrfs", None)
    assert resolve.resolve(7911) == ("itrfs", "ellipse")
    assert resolve.resolve(9000) == ("itrfs", None)
    assert resolve.resolve(7912) == ("itrfs", "ellipse")
    assert resolve.resolve(5714) == (None, "tss")
    # (3D frame EPSG, vertical name) tuple — reference-shaped call
    assert resolve.resolve((7912, "mllw")) == ("itrfs", "mllw")


def test_horizontal_wkt_resolves_by_name():
    from vyperdatum_spark.datums import resolve, vypercrs

    for name in ("nad83s", "itrfs", "spcs_syn", "utm_syn"):
        wkt = vypercrs.horiz_wkt_for_crs(name)
        assert resolve.resolve(wkt) == (name, None)
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown CRS"):
        resolve.resolve('GEOGCRS["WGS84_UNKNOWN",DATUM["x"]]')
