"""GTX separation-grid ingestion — the reference's primary grid format.

The reference consumes GTX grids through PROJ (grid format list
``reference/vyperdatum/core.py:16``; grid discovery
``core.py:847-881``); PROJ/VDatum document the layout publicly and it
is trivially simple:

    header  4 big-endian float64:  lat0  lon0  dlat  dlon
            2 big-endian int32:    nrows ncols
    data    nrows × ncols big-endian float32, row-major with the
            SOUTHERNMOST row first (lat0/lon0 name the lower-left
            node), west→east within a row
    nodata  -88.8888 (VDatum convention) → NaN

``read_gtx`` parses bytes (or a file path) into an :class:`ArrayGrid`
— an array-backed grid that duck-types the tiler's ``GridDef``
surface (``lon0/lat0/dlon/dlat/nx/ny/node_values``), so an ingested
grid drops straight into ``tiler.build_tile_df`` (tile side table)
and ``transform_points(grid_defs=…)`` (SQL/broadcast strategies) with
no further plumbing. This closes the VDatum on-ramp: a user with real
``*.gtx`` grids tiles them once and every join path works unchanged.

Longitudes: VDatum ships GTX grids in [0, 360) convention; lon0 ≥ 180
is normalized to the engine's [-180, 180) on read (PROJ does the
same).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_HEADER = struct.Struct(">4d2i")
#: VDatum nodata sentinel as the exact float64 a Float32 cell decodes to
GTX_NODATA = float(np.float64(np.float32(-88.8888)))


@dataclass(frozen=True)
class ArrayGrid:
    """A lattice grid backed by an explicit node-value array.

    Same attribute surface as ``tiler.GridDef`` (which computes node
    values from an analytic plane); everything downstream
    (``tiler.tile_rows``, ``transform_sql.combined_grids``) consumes
    grids through ``node_values``/the lattice attrs only, so the two
    are interchangeable. ``tiler.grids_from_tiles`` rebuilds one from
    a grid_tiles table.
    """

    grid_id: str
    lon0: float
    lat0: float
    dlon: float
    dlat: float
    nx: int
    ny: int
    values: np.ndarray = field(repr=False)  # (ny, nx) float64, NaN = void

    def node_values(self, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
        return self.values[
            np.asarray(iy, dtype=np.int64), np.asarray(ix, dtype=np.int64)
        ].astype(np.float64)


def write_gtx(
    lat0: float, lon0: float, dlat: float, dlon: float, values: np.ndarray
) -> bytes:
    """Serialize a (ny, nx) array to GTX bytes (NaN → -88.8888,
    values quantized to big-endian Float32 — exactly what the format
    stores). Fixture/export helper; the reference's grids arrive
    pre-written by NOAA."""
    arr = np.asarray(values, dtype=np.float64)
    if arr.ndim != 2:
        raise ValueError(f"values must be 2-D (ny, nx), got shape {arr.shape}")
    ny, nx = arr.shape
    out = np.where(np.isnan(arr), -88.8888, arr).astype(">f4")
    return _HEADER.pack(lat0, lon0, dlat, dlon, ny, nx) + out.tobytes()


def read_gtx(src, grid_id: str = "gtx") -> ArrayGrid:
    """Parse GTX bytes (or a file path) into an :class:`ArrayGrid`.

    Values come back float64 (exact Float32 widening), nodata cells as
    NaN — the same void convention the analytic grids use, so
    coverage nulls / kNN edge fill behave identically on ingested
    grids.
    """
    if isinstance(src, (bytes, bytearray)):
        data = bytes(src)
    elif hasattr(src, "read"):  # file-like
        data = src.read()
    else:  # str / pathlib.Path
        with open(src, "rb") as f:
            data = f.read()
    if len(data) < _HEADER.size:
        raise ValueError(f"GTX too short: {len(data)} bytes < header {_HEADER.size}")
    lat0, lon0, dlat, dlon, ny, nx = _HEADER.unpack_from(data)
    if ny <= 0 or nx <= 0 or dlat <= 0 or dlon <= 0:
        raise ValueError(
            f"GTX header invalid: nrows={ny} ncols={nx} dlat={dlat} dlon={dlon}"
        )
    expected = _HEADER.size + 4 * ny * nx
    if len(data) != expected:
        raise ValueError(
            f"GTX payload mismatch: {len(data)} bytes, header implies {expected} "
            f"({ny}×{nx} Float32)"
        )
    vals = (
        np.frombuffer(data, dtype=">f4", count=ny * nx, offset=_HEADER.size)
        .astype(np.float64)
        .reshape(ny, nx)
    )
    vals = np.where(vals == GTX_NODATA, np.nan, vals)
    if lon0 >= 180.0:
        lon0 -= 360.0  # VDatum [0, 360) → engine [-180, 180)
    return ArrayGrid(grid_id, float(lon0), float(lat0), float(dlon),
                     float(dlat), int(nx), int(ny), vals)
