"""Synthetic datum catalog (regions, separation grids, sigmas).

Plays the role of the reference's ``DatumData`` (core.py:467-498):
region polygons (core.py:884-912), grid list (core.py:847-881), and
uncertainty dimension (core.py:915-969) — but fully deterministic and
self-contained (FIXTURES.md §2-4): no VDatum files, no external data.

Separation grids are **analytic planes** ``v(lon, lat) = a·lon +
b·lat + c`` so that bilinear interpolation over their node lattices is
exact and every golden answer is closed-form — this is what lets the
driver's DuckDB oracle check the full transform numerically
(FIXTURES.md §4).

Region layout: three overlapping rectangles A/B/C with a triple
overlap zone, mirroring the reference's multi-region disambiguation
test (tests/test_core.py:295-310) and raster stacking
(raster.py:226-233).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import pipeline as pl


@dataclass(frozen=True)
class Region:
    region_id: str
    region_ord: int  # catalog order; drives last-write-wins precedence
    polygon: tuple[tuple[float, float], ...]  # ring, lon/lat
    geoid: str  # geoid grid id for this region

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        xs = [p[0] for p in self.polygon]
        ys = [p[1] for p in self.polygon]
        return (min(xs), min(ys), max(xs), max(ys))

    @property
    def wkt(self) -> str:
        ring = list(self.polygon)
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        pts = ", ".join(f"{x} {y}" for x, y in ring)
        return f"POLYGON (({pts}))"


def _rect(x0: float, y0: float, x1: float, y1: float):
    return ((x0, y0), (x1, y0), (x1, y1), (x0, y1))


# --- regions (FIXTURES.md §2) ------------------------------------------
REGIONS: tuple[Region, ...] = (
    Region("RGNAcoast01_8301", 0, _rect(-78.0005, 33.0005, -76.0005, 35.0005),
           "core/geoid12b/gsyntha.gtx"),
    Region("RGNBinner01_8301", 1, _rect(-77.0005, 34.0005, -75.0005, 36.0005),
           "core/geoid12b/gsynthb.gtx"),
    Region("RGNCbay01_8301", 2, _rect(-77.2005, 34.2005, -76.4005, 35.2005),
           "core/geoid12b/gsynthc.gtx"),
)

REGION_BY_ID: dict[str, Region] = {r.region_id: r for r in REGIONS}

# --- analytic plane per grid id: v = a·lon + b·lat + c -----------------
# Coefficients chosen small/irregular so rounded goldens never sit on
# .0005 boundaries within float64 noise.
GRID_PLANES: dict[str, tuple[float, float, float]] = {
    "core/geoid12b/gsyntha.gtx": (0.013, -0.021, -34.317),
    "core/geoid12b/gsynthb.gtx": (-0.017, 0.011, -33.941),
    "core/geoid12b/gsynthc.gtx": (0.009, 0.019, -34.173),
    "RGNAcoast01_8301/tss.gtx": (0.0021, 0.0043, 0.137),
    "RGNAcoast01_8301/mllw.gtx": (-0.0013, 0.0027, -0.741),
    "RGNAcoast01_8301/mhw.gtx": (0.0031, -0.0011, 0.633),
    "RGNAcoast01_8301/mtl.gtx": (0.0007, 0.0013, -0.049),
    "RGNAcoast01_8301/dtl.gtx": (-0.0009, 0.0017, -0.061),
    "RGNAcoast01_8301/mlw.gtx": (-0.0011, 0.0021, -0.513),
    "RGNAcoast01_8301/mhhw.gtx": (0.0027, -0.0007, 0.729),
    "RGNBinner01_8301/tss.gtx": (0.0017, -0.0023, 0.211),
    "RGNBinner01_8301/mllw.gtx": (0.0011, 0.0019, -0.687),
    "RGNBinner01_8301/mhw.gtx": (-0.0021, 0.0009, 0.579),
    "RGNBinner01_8301/mtl.gtx": (0.0013, -0.0007, -0.043),
    "RGNBinner01_8301/dtl.gtx": (0.0009, -0.0019, -0.057),
    "RGNBinner01_8301/mlw.gtx": (0.0019, -0.0013, -0.497),
    "RGNBinner01_8301/mhhw.gtx": (-0.0017, 0.0023, 0.701),
    "RGNCbay01_8301/tss.gtx": (-0.0027, 0.0031, 0.173),
    "RGNCbay01_8301/mllw.gtx": (0.0023, -0.0017, -0.713),
    "RGNCbay01_8301/mhw.gtx": (0.0015, 0.0025, 0.607),
    "RGNCbay01_8301/mtl.gtx": (-0.0005, 0.0011, -0.047),
    "RGNCbay01_8301/dtl.gtx": (0.0013, 0.0009, -0.059),
    "RGNCbay01_8301/mlw.gtx": (0.0025, -0.0015, -0.505),
    "RGNCbay01_8301/mhhw.gtx": (-0.0023, 0.0013, 0.717),
}

# Grid node spacing for the tiled lattices (degrees). Coverage of each
# region's grids = region bbox padded by one spacing so every interior
# point has its 4 surrounding nodes.
GRID_SPACING_DEG = 0.05

# --- sigma dimension (FIXTURES.md §3; reference core.py:313-355) -------
# Combined output uncertainty for a tidal datum = geoid σ + tss σ +
# target-datum σ of the winning region, with the reference's
# 'noaa chart datum'→mllw / 'noaa chart height'→mhw aliasing;
# ellipse/geoid-frame outputs carry zero uncertainty.
SIGMAS: dict[str, dict[str, float]] = {
    "RGNAcoast01_8301": {"geoid": 0.010, "tss": 0.020, "mllw": 0.030,
                          "mhw": 0.040, "mtl": 0.050, "dtl": 0.060,
                          "mlw": 0.070, "mhhw": 0.080},
    "RGNBinner01_8301": {"geoid": 0.011, "tss": 0.021, "mllw": 0.031,
                          "mhw": 0.041, "mtl": 0.051, "dtl": 0.061,
                          "mlw": 0.071, "mhhw": 0.081},
    "RGNCbay01_8301": {"geoid": 0.012, "tss": 0.022, "mllw": 0.032,
                        "mhw": 0.042, "mtl": 0.052, "dtl": 0.062,
                        "mlw": 0.072, "mhhw": 0.082},
}

DATUM_ALIASES = {"noaa chart datum": "mllw", "noaa chart height": "mhw"}
ZERO_UNC_DATUMS = frozenset({"ellipse", "geoid", "navd88"})


# Bumped whenever the region/grid working set changes (runtime region
# registration); keys the driver-side grid-payload cache.
_CATALOG_VERSION = 0

_BUILTIN = (REGIONS, dict(GRID_PLANES), {k: dict(v) for k, v in SIGMAS.items()})


def catalog_version() -> int:
    return _CATALOG_VERSION


# Region ids are interpolated into generated SQL text (string literals
# in the transform's PIP/precedence/uncertainty CASEs) and prefix grid
# ids, so they are checked once here instead of escaped at every site.
REGION_ID_RE = re.compile(r"[A-Za-z][A-Za-z0-9_]*")


def check_region_id(region_id) -> str:
    if not isinstance(region_id, str) or not REGION_ID_RE.fullmatch(region_id):
        raise ValueError(
            f"region_id {region_id!r} is not a safe identifier: it must "
            f"start with a letter and hold only letters, digits and '_'"
        )
    return region_id


def register_region(
    region: Region,
    planes: dict[str, tuple[float, float, float]],
    sigmas: dict[str, float],
) -> None:
    """Runtime region registration — the analog of the reference's
    custom/extended region ingestion (core.py:671-764 region dirs,
    :972-996 ``read_regional_config``): a new region, its grid planes
    (geoid + per-datum) and its sigma row join the catalog and
    participate in covers, precedence and the payload caches (which
    key on catalog_version and therefore invalidate)."""
    global REGIONS, _CATALOG_VERSION
    check_region_id(region.region_id)
    if region.region_id in REGION_BY_ID:
        raise ValueError(f"region {region.region_id!r} already registered")
    missing = [g for g in planes if not (
        g == region.geoid or g.startswith(region.region_id + "/"))]
    if missing:
        raise ValueError(f"grid ids not owned by {region.region_id!r}: {missing}")
    REGIONS = tuple(sorted((*REGIONS, region), key=lambda r: r.region_ord))
    REGION_BY_ID[region.region_id] = region
    GRID_PLANES.update(planes)
    SIGMAS[region.region_id] = dict(sigmas)
    _CATALOG_VERSION += 1


def register_regions_from_config(config: dict) -> None:
    """Ingest regions from a parsed config mapping (the reference's
    ``.config`` file shape re-expressed as data):

        {"regions": [{"region_id", "region_ord", "polygon", "geoid",
                      "planes": {grid_id: [a, b, c]},
                      "sigmas": {datum: sigma}}]}

    Every region id is checked before any region is registered, so a
    config with a bad id registers nothing.
    """
    specs = config.get("regions", [])
    for spec in specs:
        check_region_id(spec["region_id"])
    for spec in specs:
        region = Region(
            spec["region_id"],
            int(spec["region_ord"]),
            tuple((float(x), float(y)) for x, y in spec["polygon"]),
            spec["geoid"],
        )
        planes = {g: tuple(float(v) for v in abc)
                  for g, abc in spec["planes"].items()}
        sigmas = {d: float(s) for d, s in spec["sigmas"].items()}
        register_region(region, planes, sigmas)


def reset_catalog() -> None:
    """Drop runtime registrations, restore the built-in fixture set
    (test hook)."""
    global REGIONS, _CATALOG_VERSION
    REGIONS = _BUILTIN[0]
    REGION_BY_ID.clear()
    REGION_BY_ID.update({r.region_id: r for r in REGIONS})
    GRID_PLANES.clear()
    GRID_PLANES.update(_BUILTIN[1])
    SIGMAS.clear()
    SIGMAS.update({k: dict(v) for k, v in _BUILTIN[2].items()})
    _CATALOG_VERSION += 1


def plane_eval(grid_id: str, lon: float, lat: float) -> float:
    a, b, c = GRID_PLANES[grid_id]
    return a * lon + b * lat + c


def combined_sigma(region_id: str, to_datum: str) -> float:
    """Reference _get_output_uncertainty semantics (core.py:313-355)."""
    d = to_datum.lower()
    d = DATUM_ALIASES.get(d, d)
    if d in ZERO_UNC_DATUMS and d != "navd88":
        return 0.0
    s = SIGMAS[region_id]
    if d == "navd88":
        return s["geoid"]
    if d == "tss":
        return s["geoid"] + s["tss"]
    return s["geoid"] + s["tss"] + s[d]


def region_steps(from_datum: str, to_datum: str):
    """Compiled (region_id, region_ord, step_ord, grid_id, sign) rows
    for every catalog region — the broadcast steps dimension."""
    rows = []
    for r in REGIONS:
        steps = pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid)
        if steps is None:
            continue
        for i, (grid_id, sign) in enumerate(steps):
            rows.append((r.region_id, r.region_ord, i, grid_id, sign))
    return rows


def transform_closed_form(
    region_id: str, from_datum: str, to_datum: str, lon: float, lat: float, z: float
) -> float:
    """Exact expected output (before rounding) for plane grids —
    the numpy/pytest oracle (SURVEY.md §5)."""
    r = REGION_BY_ID[region_id]
    steps = pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid)
    fin, fout = pl.axis_flips(from_datum, to_datum)
    if steps is None:
        return fout * (fin * z)
    total = sum(sign * plane_eval(g, lon, lat) for g, sign in steps)
    return fout * (fin * z + total)
