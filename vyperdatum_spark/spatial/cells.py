"""Hierarchical spatial cell index (H3/S2 analog, dependency-free).

The container has no native h3/s2 bindings, so we define an
equal-angle quadtree index with the same roles H3 plays in the design
(SURVEY.md §1.1, §2.3): a coarse resolution (default 5) keys the
grid-tile side table and the polygon cover prune-join; a fine
resolution (default 9) keys the sampled/dedup transform path.

Resolution r partitions lon ∈ [-180, 180) into 2^(r+2) columns and
lat ∈ [-90, 90) into 2^(r+1) rows (square-ish degree cells,
size = 180 / 2^(r+1) degrees). Cell ids are 64-bit:

    cell = (r << 58) | (ix << 29) | iy

The encoding is pure integer/double arithmetic, so each engine gets
its own builder of the same math:

- numpy (tiler, dims, test references)          -> :func:`encode_np`
- scalar Python (driver-side covers)            -> :func:`encode_one`
- Spark SQL text (the one Spark-side builder)   -> :func:`encode_spark_sql`
- ANSI SQL text (DuckDB correctness oracles)    -> :func:`encode_sql`

The DuckDB builder is written apart from the Spark one on purpose, so
the oracle stays an independent check. The Spark builders here
(:func:`encode_spark_sql`, :func:`parent_spark_sql`,
:func:`center_spark_sql`) are tested against the numpy forms.

Replaces: the reference has no spatial index at all (it loops region
files and lets PROJ grid I/O resolve coverage — core.py:86-158,
283-311); the index is what makes the transform a pruned hash join at
10^12-row scale.
"""

from __future__ import annotations

import math

import numpy as np

COARSE_RES = 5  # grid-tile / cover join key (~2.8° cells)
FINE_RES = 9  # sampled-transform key (~0.18° cells)


def cell_size_deg(res: int) -> float:
    return 180.0 / float(1 << (res + 1))


def encode_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized numpy encoding; NaN coords -> -1."""
    sz = cell_size_deg(res)
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / sz)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / sz)
    ok = np.isfinite(ix) & np.isfinite(iy)
    ix = np.where(ok, ix, 0).astype(np.int64)
    iy = np.where(ok, iy, 0).astype(np.int64)
    cell = (np.int64(res) << 58) | (ix << 29) | iy
    return np.where(ok, cell, np.int64(-1))


def encode_one(lon: float, lat: float, res: int) -> int:
    sz = cell_size_deg(res)
    ix = int(math.floor((lon + 180.0) / sz))
    iy = int(math.floor((lat + 90.0) / sz))
    return (res << 58) | (ix << 29) | iy


def dlit(v: float) -> str:
    """Spark SQL double literal: the D suffix keeps the parser off
    DECIMAL, which would change the arithmetic; repr() round-trips
    exactly."""
    return f"{float(v)!r}D"


def cell_index_spark_sql(lon: str, lat: str, res: int) -> tuple[str, str]:
    """(ix, iy) of the cell holding (lon, lat) at ``res``, as Spark SQL
    text."""
    sz = dlit(cell_size_deg(res))
    return (f"CAST(FLOOR((({lon} + {dlit(180.0)}) / {sz})) AS BIGINT)",
            f"CAST(FLOOR((({lat} + {dlit(90.0)}) / {sz})) AS BIGINT)")


def encode_spark_sql(lon: str, lat: str, res: int) -> str:
    """Spark SQL text of :func:`encode_np`: a non-finite lon or lat
    gives -1, a NULL one NULL."""
    ix, iy = cell_index_spark_sql(lon, lat, res)
    cell = (f"((shiftleft(CAST({int(res)} AS BIGINT), 58)"
            f" | shiftleft({ix}, 29)) | {iy})")
    # v - v is NaN exactly when v is NaN or ±inf, NULL when v is NULL
    # (isnan(NULL) is false, so the cell branch yields the NULL)
    return (f"CASE WHEN isnan((({lon} - {lon}) + ({lat} - {lat})))"
            f" THEN -1L ELSE {cell} END")


def encode_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """Same arithmetic as ANSI SQL text (DuckDB oracle side)."""
    sz = repr(cell_size_deg(res))
    return (
        f"((CAST({res} AS BIGINT) << 58)"
        f" | (CAST(FLOOR(({lon_sql} + 180.0) / {sz}) AS BIGINT) << 29)"
        f" | CAST(FLOOR(({lat_sql} + 90.0) / {sz}) AS BIGINT))"
    )


def decode(cell: int) -> tuple[int, int, int]:
    """cell -> (res, ix, iy)."""
    res = cell >> 58
    ix = (cell >> 29) & ((1 << 29) - 1)
    iy = cell & ((1 << 29) - 1)
    return int(res), int(ix), int(iy)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """cell -> (lon_min, lat_min, lon_max, lat_max)."""
    res, ix, iy = decode(cell)
    sz = cell_size_deg(res)
    lon0 = -180.0 + ix * sz
    lat0 = -90.0 + iy * sz
    return lon0, lat0, lon0 + sz, lat0 + sz


def cell_center(cell: int) -> tuple[float, float]:
    x0, y0, x1, y1 = cell_bounds(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def parent(cell: int, parent_res: int) -> int:
    res, ix, iy = decode(cell)
    if parent_res > res:
        raise ValueError("parent_res must be <= cell res")
    shift = res - parent_res
    return (parent_res << 58) | ((ix >> shift) << 29) | (iy >> shift)


def _ix_iy_spark_sql(cell: str) -> tuple[str, str]:
    mask = (1 << 29) - 1
    return f"(shiftrightunsigned({cell}, 29) & {mask})", f"({cell} & {mask})"


def parent_spark_sql(cell: str, res: int, parent_res: int) -> str:
    """Spark SQL text of :func:`parent` for a fixed res -> parent_res."""
    shift = res - parent_res
    ix, iy = _ix_iy_spark_sql(cell)
    return (f"((shiftleft(CAST({int(parent_res)} AS BIGINT), 58)"
            f" | shiftleft(shiftrightunsigned({ix}, {shift}), 29))"
            f" | shiftrightunsigned({iy}, {shift}))")


def center_spark_sql(cell: str, res: int) -> tuple[str, str]:
    """Spark SQL text of :func:`cell_center`: (lon, lat)."""
    sz = dlit(cell_size_deg(res))
    ix, iy = _ix_iy_spark_sql(cell)
    return (f"({dlit(-180.0)} + ((CAST({ix} AS DOUBLE) + {dlit(0.5)}) * {sz}))",
            f"({dlit(-90.0)} + ((CAST({iy} AS DOUBLE) + {dlit(0.5)}) * {sz}))")


def neighbors(cell: int, k: int = 1) -> list[int]:
    """grid_disk analog: the (2k+1)² block around a cell (clipped)."""
    res, ix, iy = decode(cell)
    nx, ny = 1 << (res + 2), 1 << (res + 1)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < nx and 0 <= jy < ny:
                out.append((res << 58) | (jx << 29) | jy)
    return out


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> list[int]:
    """All cells at ``res`` whose rectangle intersects the bbox —
    the driver-side polygon-cover used by the J1 prune join
    (reference set_region_by_bounds, core.py:86-158)."""
    sz = cell_size_deg(res)
    ix0 = int(math.floor((lon_min + 180.0) / sz))
    ix1 = int(math.floor((lon_max + 180.0) / sz))
    iy0 = int(math.floor((lat_min + 90.0) / sz))
    iy1 = int(math.floor((lat_max + 90.0) / sz))
    return [
        (res << 58) | (ix << 29) | iy
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]
