"""Horizontal CRS handling: projected inputs + geodetic frame shifts.

The reference reprojects any non-NAD83 input to the geoid frame before
the vertical pipeline (core.py:166-248 ``_transform_to_geoid_frame``
via pyproj) and, when the OUTPUT frame differs, re-derives x/y in the
output frame and applies the z-correction ``new_z = new_z - (z -
diffz)`` (core.py:437-445). pyproj is not in this container, so the
synthetic catalog defines its own horizontal CRSes from public
closed-form projection formulas (Snyder, "Map Projections — A Working
Manual"), each in THREE equivalent dialects like the cell index:

- Spark Column expressions (JVM, whole-stage codegen — the hot path),
- numpy (test oracles),
- ANSI SQL text (DuckDB correctness oracles).

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
                 (closed-form inverse); verified in pytest with the
                 reference's ±0.002 tolerance rather than hash-exact
                 oracles (libm ulp differences across engines).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

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


def frame_dz_cols(lon: Column, lat: Column) -> Column:
    return F.lit(FR_A) + F.lit(FR_B) * lat + F.lit(FR_C) * lon


def frame_dz_sql(lon: str, lat: str) -> str:
    return f"({FR_A!r} + {FR_B!r} * {lat} + {FR_C!r} * {lon})"


def frame_dz_spark_sql(lon: str, lat: str) -> str:
    """Spark SQL twin of :func:`frame_dz_cols`, operator for operator
    (D-suffixed doubles: Spark parses a bare ``0.83`` as DECIMAL)."""
    return f"(({FR_A!r}D + ({FR_B!r}D * {lat})) + ({FR_C!r}D * {lon}))"


# --------------------------------------------------------------------
# to the geoid frame: (x, y, z) in `crs` → (lon, lat, z) in NAD83S
# --------------------------------------------------------------------

def to_geoid_frame_cols(crs: str, x: Column, y: Column, z: Column):
    """Column-math mirror of reference _transform_to_geoid_frame
    (core.py:198-248): projected → inverse-project; foreign frame →
    shift lon/lat and apply the 3D δz."""
    crs = validate_crs(crs)
    if crs == "nad83s":
        return x, y, z
    if crs == "spcs_syn":
        lon = F.lit(PC_LON0) + (x - F.lit(PC_E0)) / F.lit(PC_KX)
        lat = F.lit(PC_LAT0) + (y - F.lit(PC_N0)) / F.lit(PC_KY)
        return lon, lat, z
    if crs == "utm_syn":
        # spherical TM inverse (Snyder eq. 8-6..8-8), closed form
        xs = (x - F.lit(TM_E0)) / F.lit(TM_K0 * R)
        ys = y / F.lit(TM_K0 * R)
        d = F.lit(1.0 / DEG)
        lon = F.lit(TM_LON0) + d * F.atan(F.sinh(xs) / F.cos(ys))
        lat = d * F.asin(F.sin(ys) / F.cosh(xs))
        return lon, lat, z
    # itrfs: geographic in the shifted frame
    lon = x + F.lit(FR_DLON)
    lat = y + F.lit(FR_DLAT)
    return lon, lat, z + frame_dz_cols(lon, lat)


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
    """(lon_sql, lat_sql, z_sql) — identical float64 op order to the
    Column dialect (exact parity for the linear CRSes)."""
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

def from_geoid_frame_cols(crs: str, lon: Column, lat: Column):
    """Forward projection / frame shift of geoid-frame coordinates —
    the output x/y of reference core.py:437-444."""
    crs = validate_crs(crs)
    if crs == "nad83s":
        return lon, lat
    if crs == "spcs_syn":
        return (F.lit(PC_E0) + (lon - F.lit(PC_LON0)) * F.lit(PC_KX),
                F.lit(PC_N0) + (lat - F.lit(PC_LAT0)) * F.lit(PC_KY))
    if crs == "utm_syn":
        b = F.cos(F.radians(lat)) * F.sin(F.radians(lon - F.lit(TM_LON0)))
        xx = F.lit(TM_E0) + F.lit(TM_K0 * R) * F.atanh(b)
        yy = F.lit(TM_K0 * R) * F.atan(
            F.tan(F.radians(lat)) / F.cos(F.radians(lon - F.lit(TM_LON0)))
        )
        return xx, yy
    return lon - F.lit(FR_DLON), lat - F.lit(FR_DLAT)


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
