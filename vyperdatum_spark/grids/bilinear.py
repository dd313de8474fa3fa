"""Bilinear interpolation + kNN-fallback kernel (pure numpy).

Replaces PROJ's ``vgridshift`` grid sampling (reference core.py:283-311
delegates to ``Transformer.from_pipeline``; PROJ does bilinear reads of
the GTX grid). The numpy reference of the transform plan's grid
math: ``transform_sql.bilinear_sql`` is the same float64 expression,
and the plan's kNN edge fill (``transform_sql.knn_cells_pdf`` + an
argmin column) reproduces :func:`_knn_fill`. Vectorized over points,
one lattice at a time.

Semantics mirrored from the reference:
- outside the node lattice -> NaN (PROJ returns inf outside grids,
  core.py:445-446; we use NaN and a LEFT-join miss upstream),
- any NaN corner -> NaN, unless kNN fallback is enabled (north_rule):
  then the value of the nearest valid node is used when the point is
  within one node spacing of it (coverage-edge semantics).
"""

from __future__ import annotations

import numpy as np


def interp_tile(
    lon0: float,
    lat0: float,
    dlon: float,
    dlat: float,
    nx: int,
    ny: int,
    values: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
    knn_fallback: bool = True,
) -> np.ndarray:
    """Bilinear sample of a tile lattice at points (xs, ys).

    values: row-major (ny, nx) float64 (flat ok). Returns float64 with
    NaN where the point has no valid surrounding nodes.
    """
    v = np.asarray(values, dtype=np.float64).reshape(ny, nx)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)

    fx = (xs - lon0) / dlon
    fy = (ys - lat0) / dlat
    ix = np.floor(fx).astype(np.int64)
    iy = np.floor(fy).astype(np.int64)
    inside = (ix >= 0) & (ix <= nx - 2) & (iy >= 0) & (iy <= ny - 2)
    ixc = np.clip(ix, 0, nx - 2)
    iyc = np.clip(iy, 0, ny - 2)
    tx = fx - ixc
    ty = fy - iyc

    v00 = v[iyc, ixc]
    v01 = v[iyc, ixc + 1]
    v10 = v[iyc + 1, ixc]
    v11 = v[iyc + 1, ixc + 1]
    out = (
        (1.0 - tx) * (1.0 - ty) * v00
        + tx * (1.0 - ty) * v01
        + (1.0 - tx) * ty * v10
        + tx * ty * v11
    )
    out = np.where(inside, out, np.nan)

    if knn_fallback:
        bad = ~np.isfinite(out)
        if bad.any():
            out = _knn_fill(v, lon0, lat0, dlon, dlat, xs, ys, out, bad)
    return out


def _knn_fill(
    v: np.ndarray,
    lon0: float,
    lat0: float,
    dlon: float,
    dlat: float,
    xs: np.ndarray,
    ys: np.ndarray,
    out: np.ndarray,
    bad: np.ndarray,
) -> np.ndarray:
    """Nearest-valid-node fill for coverage-edge points (W3/J8).

    Only fills points within one node spacing of a valid node —
    genuinely-outside points stay NaN (they must take the
    out-of-coverage path, reference raster.py:380-396)."""
    valid = np.isfinite(v)
    if not valid.any():
        return out
    ny, nx = v.shape
    viy, vix = np.nonzero(valid)
    vlon = lon0 + vix.astype(np.float64) * dlon
    vlat = lat0 + viy.astype(np.float64) * dlat
    vval = v[viy, vix]
    bx = xs[bad]
    by = ys[bad]
    # brute-force nearest node; tiles are small (≤ a few k nodes)
    d2 = (bx[:, None] - vlon[None, :]) ** 2 + (by[:, None] - vlat[None, :]) ** 2
    j = np.argmin(d2, axis=1)
    dmin = np.sqrt(d2[np.arange(len(j)), j])
    near = dmin <= max(dlon, dlat)
    fill = np.where(near, vval[j], np.nan)
    res = out.copy()
    res[bad] = fill
    return res
