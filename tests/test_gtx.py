"""GTX ingestion (VERDICT round-4 #5): byte-level round trip, nodata
semantics, and hash-exact transform parity between a GTX-ingested grid
and the same grid defined analytically.

The parity fixture uses an exactly-Float32-representable plane
(binary-fraction origin/spacing/coefficients), so GTX's Float32
quantization is the identity and the ingested transform must equal the
analytic transform BIT-FOR-BIT, not just within tolerance.
"""

import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.datums import catalog
from vyperdatum_spark.engine import transform as tx
from vyperdatum_spark.grids import gtx, tiler


def _analytic_lattice(gd: tiler.GridDef) -> np.ndarray:
    ixs, iys = np.meshgrid(np.arange(gd.nx), np.arange(gd.ny))
    return gd.node_values(ixs.ravel(), iys.ravel()).reshape(gd.ny, gd.nx)


def test_gtx_byte_roundtrip_and_nodata():
    rng = np.random.default_rng(3)
    vals = rng.normal(scale=5.0, size=(16, 20))
    vals[2, 3] = np.nan
    vals[:, -2:] = np.nan
    b = gtx.write_gtx(33.5, -77.0, 0.0625, 0.0625, vals)
    assert len(b) == 40 + 4 * 16 * 20
    ag = gtx.read_gtx(b, grid_id="T/test.gtx")
    assert (ag.lon0, ag.lat0, ag.dlon, ag.dlat) == (-77.0, 33.5, 0.0625, 0.0625)
    assert (ag.nx, ag.ny) == (20, 16)
    # values round-trip through Float32; NaN mask preserved exactly
    exp = vals.astype(np.float32).astype(np.float64)
    assert np.array_equal(np.isnan(ag.values), np.isnan(vals))
    assert np.array_equal(
        np.nan_to_num(ag.values, nan=-9e9), np.nan_to_num(exp, nan=-9e9)
    )


def test_gtx_lon360_normalized_and_malformed_rejected():
    b = gtx.write_gtx(33.5, 283.0, 0.1, 0.1, np.zeros((2, 2)))
    assert gtx.read_gtx(b).lon0 == 283.0 - 360.0
    with pytest.raises(ValueError, match="too short"):
        gtx.read_gtx(b[:20])
    with pytest.raises(ValueError, match="payload mismatch"):
        gtx.read_gtx(b + b"\x00\x00\x00\x00")
    bad_hdr = gtx.write_gtx(33.5, -77.0, 0.1, 0.1, np.zeros((2, 2)))
    import struct
    bad_hdr = struct.pack(">4d2i", 33.5, -77.0, 0.1, 0.1, -2, 2) + bad_hdr[40:]
    with pytest.raises(ValueError, match="header invalid"):
        gtx.read_gtx(bad_hdr)


def _f32_exact_defs():
    """Fixture grid set with region A's mllw grid replaced by an
    exactly-Float32-representable plane lattice (so GTX quantization
    is the identity). Returns (defs_analytic, defs_gtx): identical
    grids, the second ingested through GTX bytes."""
    region = catalog.REGION_BY_ID["RGNAcoast01_8301"]
    gid = f"{region.region_id}/mllw.gtx"
    # binary-fraction lattice + coefficients: v = 0.25·lon + 0.5·lat + 16
    # → every node value is a sum of dyadic rationals < 2^5 with ≤ 15
    # significand bits — exact in Float32
    x0, y0, _, _ = region.bbox
    gd = tiler.GridDef(
        gid, float(np.floor(x0)) - 0.5, float(np.floor(y0)) - 0.5,
        0.0625, 0.0625, 48, 48, (0.25, 0.5, 16.0),
        nan_predicate=lambda lon, lat: (lon * 8).astype(np.int64) % 9 == 0,
    )
    arr = _analytic_lattice(gd)
    assert np.array_equal(
        arr, arr.astype(np.float32).astype(np.float64), equal_nan=True
    ), "fixture plane must be exactly Float32-representable"
    ag = gtx.read_gtx(
        gtx.write_gtx(gd.lat0, gd.lon0, gd.dlat, gd.dlon, arr), grid_id=gid
    )
    assert np.array_equal(ag.values, arr, equal_nan=True)
    base = [g for g in tiler.fixture_grid_defs() if g.grid_id != gid]
    return base + [gd], base + [ag]


def test_gtx_transform_hash_parity(spark):
    """ellipse→MLLW through a GTX-ingested grid must match the same
    transform over the analytically-defined grid exactly (z_out,
    region_id, covered)."""
    defs_analytic, defs_gtx = _f32_exact_defs()
    k = np.arange(400)
    pdf = pd.DataFrame({
        "pid": k,
        "x": -77.9 + (k % 37) * 0.05,
        "y": 33.05 + (k % 29) * 0.066,
        "z": (k % 11) * 0.3,
    })
    pts = spark.createDataFrame(pdf)
    a = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid",
        grid_defs=defs_analytic,
    ).toPandas().set_index("pid").sort_index()
    b = tx.transform_points(
        spark, pts, "ellipse", "mllw", key_col="pid",
        grid_defs=defs_gtx,
    ).toPandas().set_index("pid").sort_index()
    assert a.covered.any() and (~a.covered).any()  # NaN holes exercised
    assert a.region_id.fillna("-").equals(b.region_id.fillna("-"))
    assert a.covered.equals(b.covered)
    assert np.array_equal(
        np.nan_to_num(a.z_out.to_numpy(dtype=float), nan=-9e9),
        np.nan_to_num(b.z_out.to_numpy(dtype=float), nan=-9e9),
    )
