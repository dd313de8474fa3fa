"""Raster→vector grid tiler.

The reference reads GTX/GeoTIFF separation grids through PROJ/GDAL at
transform time (core.py:283-311, raster.py:237-286). At 10^12-row
scale that is file I/O per task; instead we pre-tile every separation
grid into a **side table keyed by coarse cell** so the transform
becomes a partition-pruned equi join (SURVEY.md §1.1 "Separation
grid" row):

    grid_tiles(grid_id string, cell5 long,
               lon0 double, lat0 double, dlon double, dlat double,
               nx int, ny int, values array<double>)

One row per (grid_id, coarse cell). Each tile carries the lattice
nodes overlapping its cell's bbox expanded by one node spacing, so any
point inside the cell has its 4 surrounding nodes in-tile (no
cross-tile reads in the bilinear kernel). ``values`` is row-major
(iy * nx + ix), float64, NaN at nodes outside the grid's coverage.

In production the tile table is written once (partitioned by
(grid_id, cell5) in Iceberg/parquet) and reused by every job.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datums import catalog
from ..engine.inputs import local_df
from ..spatial import cells
from .gtx import ArrayGrid

TILE_SCHEMA = T.StructType(
    [
        T.StructField("grid_id", T.StringType(), False),
        T.StructField("cell5", T.LongType(), False),
        T.StructField("lon0", T.DoubleType(), False),
        T.StructField("lat0", T.DoubleType(), False),
        T.StructField("dlon", T.DoubleType(), False),
        T.StructField("dlat", T.DoubleType(), False),
        T.StructField("nx", T.IntegerType(), False),
        T.StructField("ny", T.IntegerType(), False),
        T.StructField("values", T.ArrayType(T.DoubleType(), False), False),
    ]
)


@dataclass(frozen=True)
class GridDef:
    """A lattice grid: origin, spacing, node counts, plane coefficients.

    Node (ix, iy) sits at (lon0 + ix·dlon, lat0 + iy·dlat) with value
    a·lon + b·lat + c, NaN-masked by ``nan_predicate`` if given.
    """

    grid_id: str
    lon0: float
    lat0: float
    dlon: float
    dlat: float
    nx: int
    ny: int
    plane: tuple[float, float, float]
    nan_predicate: object = None  # callable (lon, lat arrays) -> bool mask

    def node_values(self, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
        lon = self.lon0 + ix.astype(np.float64) * self.dlon
        lat = self.lat0 + iy.astype(np.float64) * self.dlat
        a, b, c = self.plane
        v = a * lon + b * lat + c
        if self.nan_predicate is not None:
            v = np.where(self.nan_predicate(lon, lat), np.nan, v)
        return v


def grid_def_for_region(grid_id: str, region: catalog.Region,
                        spacing: float = catalog.GRID_SPACING_DEG) -> GridDef:
    """A region grid covers the region bbox padded by one spacing."""
    x0, y0, x1, y1 = region.bbox
    lon0 = x0 - spacing
    lat0 = y0 - spacing
    nx = int(math.ceil((x1 + spacing - lon0) / spacing)) + 1
    ny = int(math.ceil((y1 + spacing - lat0) / spacing)) + 1
    return GridDef(grid_id, lon0, lat0, spacing, spacing, nx, ny,
                   catalog.GRID_PLANES[grid_id])


def fixture_grid_defs() -> list[GridDef]:
    """All grids of the synthetic catalog (geoid + tidal per region)."""
    defs = []
    for region in catalog.REGIONS:
        for grid_id in catalog.GRID_PLANES:
            if grid_id == region.geoid or grid_id.startswith(region.region_id + "/"):
                defs.append(grid_def_for_region(grid_id, region))
    return defs


def tile_rows(gd: GridDef, res: int = cells.COARSE_RES) -> list[tuple]:
    """Explode one grid into per-cell tile rows (driver-side numpy;
    in production this is itself a Spark job over grid chunks)."""
    lon_max = gd.lon0 + (gd.nx - 1) * gd.dlon
    lat_max = gd.lat0 + (gd.ny - 1) * gd.dlat
    rows = []
    for cell in cells.cover_bbox(gd.lon0, gd.lat0, lon_max, lat_max, res):
        cx0, cy0, cx1, cy1 = cells.cell_bounds(cell)
        # node index range covering [cell bbox ± one spacing]
        ix0 = max(0, int(math.floor((cx0 - gd.dlon - gd.lon0) / gd.dlon)))
        ix1 = min(gd.nx - 1, int(math.ceil((cx1 + gd.dlon - gd.lon0) / gd.dlon)))
        iy0 = max(0, int(math.floor((cy0 - gd.dlat - gd.lat0) / gd.dlat)))
        iy1 = min(gd.ny - 1, int(math.ceil((cy1 + gd.dlat - gd.lat0) / gd.dlat)))
        if ix1 <= ix0 or iy1 <= iy0:
            continue
        ixs, iys = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
        vals = gd.node_values(ixs.ravel(), iys.ravel())
        rows.append(
            (
                gd.grid_id,
                int(cell),
                float(gd.lon0 + ix0 * gd.dlon),
                float(gd.lat0 + iy0 * gd.dlat),
                float(gd.dlon),
                float(gd.dlat),
                int(ix1 - ix0 + 1),
                int(iy1 - iy0 + 1),
                [float(v) for v in vals],
            )
        )
    return rows


def build_tile_df(spark: SparkSession,
                  grid_defs: list[GridDef] | None = None) -> DataFrame:
    """The grid_tiles side table as a DataFrame (fixture scale:
    driver-built; production: written once to a partitioned table)."""
    defs = grid_defs if grid_defs is not None else fixture_grid_defs()
    rows = [r for gd in defs for r in tile_rows(gd)]
    return local_df(spark, rows, TILE_SCHEMA)


def grids_from_tiles(tiles: DataFrame, grid_ids) -> list[ArrayGrid]:
    """The inverse of :func:`tile_rows`: one collect of the ``tiles``
    rows (TILE_SCHEMA) for ``grid_ids``, reassembled into one
    :class:`gtx.ArrayGrid` per grid id. Each tile's lon0/lat0 sits at
    an integer node offset from the grid's lowest tile origin, so a
    complete tile set gives back the grid's own origin and node values
    bit for bit. Nodes no tile carries stay NaN (no coverage); a grid
    with no rows is absent from the result."""
    rows = (tiles.filter(F.col("grid_id").isin(sorted(grid_ids)))
            .select(*TILE_SCHEMA.names).collect())
    by_grid: dict[str, list] = {}
    for row in rows:
        by_grid.setdefault(row.grid_id, []).append(row)
    out = []
    for grid_id, ts in sorted(by_grid.items()):
        lon0 = min(t.lon0 for t in ts)
        lat0 = min(t.lat0 for t in ts)
        dlon, dlat = ts[0].dlon, ts[0].dlat
        offs = [(round((t.lon0 - lon0) / dlon), round((t.lat0 - lat0) / dlat))
                for t in ts]
        nx = max(ox + t.nx for t, (ox, _oy) in zip(ts, offs))
        ny = max(oy + t.ny for t, (_ox, oy) in zip(ts, offs))
        values = np.full((ny, nx), np.nan)
        for t, (ox, oy) in zip(ts, offs):
            values[oy:oy + t.ny, ox:ox + t.nx] = np.asarray(
                t.values, dtype=np.float64).reshape(t.ny, t.nx)
        out.append(ArrayGrid(grid_id, lon0, lat0, dlon, dlat, nx, ny, values))
    return out
