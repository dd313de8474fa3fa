"""Horizontal CRS handling: projected inputs + geodetic frame shifts.

The reference reprojects any non-NAD83 input to the geoid frame before
the vertical pipeline (core.py:166-248 ``_transform_to_geoid_frame``
via pyproj) and, when the OUTPUT frame differs, re-derives x/y in the
output frame and applies the z-correction ``new_z = new_z - (z -
diffz)`` (core.py:437-445). pyproj is not in this container, so the
synthetic catalog defines its own horizontal CRSes from public
closed-form projection formulas (Snyder, "Map Projections — A Working
Manual"). Like the cell index, each expression has one builder per
engine:

- ``*_spark_sql`` — Spark SQL text, the one Spark-side form (JVM,
  whole-stage codegen — the hot path),
- ``*_np`` — numpy (test references),
- ``*_sql`` — ANSI SQL text for the DuckDB correctness oracles, kept
  apart from the Spark form so the oracle stays an independent check.

Registry:
- ``nad83s``   — geographic lon/lat in the geoid frame (identity).
- ``itrfs``    — geographic lon/lat in a shifted geodetic frame:
                 NAD83S lon = lon + DLON, lat = lat + DLAT, and the 3D
                 transform shifts z by a deterministic plane δz(lon,
                 lat) (the pyproj 3D-frame-sep analog).
- ``spcs_syn`` — projected (Plate Carrée / equirectangular with a
                 standard parallel) on the NAD83S frame. LINEAR, so
                 forward/inverse are exact float64 and DuckDB oracles
                 reproduce them bit-for-bit.
- ``utm_syn``  — projected (spherical transverse Mercator, k0=0.9996,
                 central meridian −75°) on the NAD83S frame. Real trig
                 (closed-form inverse); tested against numpy and the
                 closed-form catalog at the reference's ±0.002
                 tolerance rather than by hash-exact oracles (libm ulp
                 differences across engines).
"""

from __future__ import annotations

import math

import numpy as np

from .cells import dlit

GEOID_FRAME = "NAD83S"

R = 6378137.0
DEG = math.pi / 180.0

# spcs_syn (Plate Carrée) parameters
PC_LON0 = -77.0
PC_LAT0 = 34.0
PC_E0 = 500000.0
PC_N0 = 100000.0
PC_KX = R * DEG * math.cos(PC_LAT0 * DEG)  # metres per degree lon (literal)
PC_KY = R * DEG                            # metres per degree lat (literal)

# utm_syn (spherical transverse Mercator) parameters
TM_LON0 = -75.0
TM_K0 = 0.9996
TM_E0 = 500000.0

# ITRFS → NAD83S frame shift (synthetic, deterministic)
FR_DLON = 0.0012
FR_DLAT = -0.0008
# δz plane: z_NAD83S = z_ITRFS + (A + B·lat + C·lon), metres
FR_A, FR_B, FR_C = 0.83, 0.004, 0.002

KNOWN_CRS = ("nad83s", "itrfs", "spcs_syn", "utm_syn")
CRS_FRAME = {"nad83s": "NAD83S", "itrfs": "ITRFS",
             "spcs_syn": "NAD83S", "utm_syn": "NAD83S"}
FRAMES = ("NAD83S", "ITRFS")


def validate_crs(name: str) -> str:
    n = name.lower()
    if n not in KNOWN_CRS:
        raise ValueError(f"CRS {name!r} not in catalog: {KNOWN_CRS}")
    return n


# --------------------------------------------------------------------
# frame shift (geographic ↔ geographic, 3D)
# --------------------------------------------------------------------

def frame_dz_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """δz of the ITRFS→NAD83S 3D transform at NAD83S (lon, lat)."""
    return FR_A + FR_B * lat + FR_C * lon


def frame_dz_sql(lon: str, lat: str) -> str:
    return f"({FR_A!r} + {FR_B!r} * {lat} + {FR_C!r} * {lon})"


def frame_dz_spark_sql(lon: str, lat: str) -> str:
    return f"(({dlit(FR_A)} + ({dlit(FR_B)} * {lat})) + ({dlit(FR_C)} * {lon}))"


# --------------------------------------------------------------------
# to the geoid frame: (x, y, z) in `crs` → (lon, lat, z) in NAD83S
# --------------------------------------------------------------------

def to_geoid_frame_spark_sql(crs: str, x: str, y: str, z: str):
    """Spark SQL text of reference _transform_to_geoid_frame
    (core.py:198-248): projected → inverse-project; foreign frame →
    shift lon/lat and apply the 3D δz. Returns (lon, lat, z)."""
    crs = validate_crs(crs)
    if crs == "nad83s":
        return x, y, z
    if crs == "spcs_syn":
        return (f"({dlit(PC_LON0)} + (({x} - {dlit(PC_E0)}) / {dlit(PC_KX)}))",
                f"({dlit(PC_LAT0)} + (({y} - {dlit(PC_N0)}) / {dlit(PC_KY)}))", z)
    if crs == "utm_syn":
        # spherical TM inverse (Snyder eq. 8-6..8-8), closed form
        k = dlit(TM_K0 * R)
        xs = f"(({x} - {dlit(TM_E0)}) / {k})"
        ys = f"({y} / {k})"
        d = dlit(1.0 / DEG)
        return (f"({dlit(TM_LON0)} + ({d} * atan((sinh({xs}) / cos({ys})))))",
                f"({d} * asin((sin({ys}) / cosh({xs}))))", z)
    # itrfs: geographic in the shifted frame
    lon = f"({x} + {dlit(FR_DLON)})"
    lat = f"({y} + {dlit(FR_DLAT)})"
    return lon, lat, f"({z} + {frame_dz_spark_sql(lon, lat)})"


def to_geoid_frame_np(crs: str, x, y, z):
    crs = validate_crs(crs)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    if crs == "nad83s":
        return x, y, z
    if crs == "spcs_syn":
        return (PC_LON0 + (x - PC_E0) / PC_KX,
                PC_LAT0 + (y - PC_N0) / PC_KY, z)
    if crs == "utm_syn":
        xs = (x - TM_E0) / (TM_K0 * R)
        ys = y / (TM_K0 * R)
        lon = TM_LON0 + np.arctan(np.sinh(xs) / np.cos(ys)) / DEG
        lat = np.arcsin(np.sin(ys) / np.cosh(xs)) / DEG
        return lon, lat, z
    lon = x + FR_DLON
    lat = y + FR_DLAT
    return lon, lat, z + frame_dz_np(lon, lat)


def to_geoid_frame_sql(crs: str, x: str, y: str, z: str):
    """(lon_sql, lat_sql, z_sql) — the float64 op order of the Spark
    form (exact parity for the linear CRSes)."""
    crs = validate_crs(crs)
    if crs == "nad83s":
        return x, y, z
    if crs == "spcs_syn":
        return (f"({PC_LON0!r} + ({x} - {PC_E0!r}) / {PC_KX!r})",
                f"({PC_LAT0!r} + ({y} - {PC_N0!r}) / {PC_KY!r})", z)
    if crs == "utm_syn":
        xs = f"(({x} - {TM_E0!r}) / {TM_K0 * R!r})"
        ys = f"({y} / {TM_K0 * R!r})"
        return (
            f"({TM_LON0!r} + atan(sinh({xs}) / cos({ys})) / {DEG!r})",
            f"(asin(sin({ys}) / cosh({xs})) / {DEG!r})", z,
        )
    lon = f"({x} + {FR_DLON!r})"
    lat = f"({y} + {FR_DLAT!r})"
    return lon, lat, f"({z} + {frame_dz_sql(lon, lat)})"


# --------------------------------------------------------------------
# from the geoid frame: NAD83S (lon, lat) → output-frame coordinates
# --------------------------------------------------------------------

def from_geoid_frame_spark_sql(crs: str, lon: str, lat: str):
    """Spark SQL text of the forward projection / frame shift of
    geoid-frame coordinates — the output x/y of reference
    core.py:437-444. Returns (x, y)."""
    crs = validate_crs(crs)
    if crs == "nad83s":
        return lon, lat
    if crs == "spcs_syn":
        return (f"({dlit(PC_E0)} + (({lon} - {dlit(PC_LON0)}) * {dlit(PC_KX)}))",
                f"({dlit(PC_N0)} + (({lat} - {dlit(PC_LAT0)}) * {dlit(PC_KY)}))")
    if crs == "utm_syn":
        k = dlit(TM_K0 * R)
        dlon = f"radians(({lon} - {dlit(TM_LON0)}))"
        b = f"(cos(radians({lat})) * sin({dlon}))"
        return (f"({dlit(TM_E0)} + ({k} * atanh({b})))",
                f"({k} * atan((tan(radians({lat})) / cos({dlon}))))")
    return f"({lon} - {dlit(FR_DLON)})", f"({lat} - {dlit(FR_DLAT)})"


def from_geoid_frame_np(crs: str, lon, lat):
    crs = validate_crs(crs)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if crs == "nad83s":
        return lon, lat
    if crs == "spcs_syn":
        return (PC_E0 + (lon - PC_LON0) * PC_KX,
                PC_N0 + (lat - PC_LAT0) * PC_KY)
    if crs == "utm_syn":
        b = np.cos(lat * DEG) * np.sin((lon - TM_LON0) * DEG)
        xx = TM_E0 + TM_K0 * R * np.arctanh(b)
        yy = TM_K0 * R * np.arctan(np.tan(lat * DEG) / np.cos((lon - TM_LON0) * DEG))
        return xx, yy
    return lon - FR_DLON, lat - FR_DLAT


def from_geoid_frame_sql(crs: str, lon: str, lat: str):
    crs = validate_crs(crs)
    if crs == "nad83s":
        return lon, lat
    if crs == "spcs_syn":
        return (f"({PC_E0!r} + ({lon} - {PC_LON0!r}) * {PC_KX!r})",
                f"({PC_N0!r} + ({lat} - {PC_LAT0!r}) * {PC_KY!r})")
    if crs == "utm_syn":
        b = f"(cos(radians({lat})) * sin(radians({lon} - ({TM_LON0!r}))))"
        return (
            f"({TM_E0!r} + {TM_K0 * R!r} * atanh({b}))",
            f"({TM_K0 * R!r} * atan(tan(radians({lat}))"
            f" / cos(radians({lon} - ({TM_LON0!r})))))",
        )
    return f"({lon} - {FR_DLON!r})", f"({lat} - {FR_DLAT!r})"
