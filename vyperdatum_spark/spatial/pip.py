"""Point-in-polygon kernel + polygon covers (pure numpy, no shapely).

The reference assigns region membership implicitly via PROJ grid
coverage (core.py:421-453) after a coarse bbox-intersect prune
(core.py:86-158). We make it explicit and Spark-shaped:

1. driver-side: each region polygon is cut into its fine cells
   (:func:`cell_terms`): constant-inside cells, and per boundary cell
   the few ray-cast terms its points still need (J1 prune -> broadcast
   equi-join on the cell key),
2. executor-side: the exact even-odd ray cast over those terms, as a
   Catalyst expression (transform_sql.cell_pip_sql, J2).

Polygons are simple rings [(lon, lat), ...] (closing vertex optional).
The ray cast is the standard crossing-number algorithm; :func:`contains`
is its numpy reference, vectorized over all points × edges.
"""

from __future__ import annotations

import math

import numpy as np

from . import cells


def _ring(poly: list[tuple[float, float]]) -> np.ndarray:
    arr = np.asarray(poly, dtype=np.float64)
    if arr.ndim != 2 or arr.shape[1] != 2 or len(arr) < 3:
        raise ValueError("polygon must be [(lon, lat), ...] with >= 3 vertices")
    if not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    return arr


def contains(
    poly: list[tuple[float, float]], lon: np.ndarray, lat: np.ndarray
) -> np.ndarray:
    """Even-odd ray-cast containment, vectorized over points.

    Edge semantics: half-open crossings ((y1 <= y) != (y2 <= y)), the
    usual convention — a point exactly on a horizontal lower edge is
    inside, on the upper edge outside. Fixture data avoids boundaries.
    """
    ring = _ring(poly)
    x = np.asarray(lon, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    crosses = (y1 <= y) != (y2 <= y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    hit = crosses & (x < xint)
    return (hit.sum(axis=1) % 2).astype(bool)


CELL_EPS = 1e-9  # degrees; far above the cell-encoding rounding (~1e-13)


def cell_terms(
    poly: list[tuple[float, float]], res: int
) -> dict[int, tuple[int, list[tuple] | None]]:
    """Per covered cell: what the ray cast of :func:`contains` still
    needs at runtime for points in that cell.

    Returns ``{cell: (parity, terms)}``. ``terms`` is None when every
    point of the cell gets the same answer; the parity is then 1
    (inside). Cells where every point is outside are left out. Else
    the point is inside iff ``parity + Σ hit(term)`` is odd, where a
    term ``(x1, y1, y2, dx, dy)`` hits iff
    ``((y1 <= y) != (y2 <= y)) and x < x1 + (y - y1) * dx / dy`` —
    the crossing test of :func:`contains`, same float64 op order.

    Exactness, per non-horizontal edge, for a cell widened by
    ``CELL_EPS`` on every side (the cell a point encodes to is exact
    up to ~1e-13°):

    - an edge whose y-range misses the cell's band never crosses;
    - an edge wholly left of the cell crosses only at an intersection
      x below every point's x: it never hits;
    - an edge wholly right of the cell hits iff it crosses, and its
      crossing is ``[y1 <= y] XOR [y2 <= y]``. Those endpoint
      comparisons are constant for endpoints outside the band (they
      fold into the parity) and cancel in pairs for equal y; each one
      left is a term ``(+inf, vy, +inf, 0, 1)``, which hits iff
      ``vy <= y``;
    - every other edge is kept as its own term.
    """
    ring = _ring(poly)
    x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
    live = y1 != y2  # a horizontal edge never crosses
    x1, y1, x2, y2 = x1[live], y1[live], x2[live], y2[live]
    xlo, xhi = np.minimum(x1, x2), np.maximum(x1, x2)
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    sz = cells.cell_size_deg(res)
    x0, y0, xm, ym = polygon_bbox(poly)
    ix0, iy0 = int(math.floor((x0 + 180.0) / sz)), int(math.floor((y0 + 90.0) / sz))
    ix1, iy1 = int(math.floor((xm + 180.0) / sz)), int(math.floor((ym + 90.0) / sz))
    ixs = np.arange(ix0, ix1 + 1)
    ax0 = -180.0 + ixs * sz - CELL_EPS
    ax1 = -180.0 + (ixs + 1) * sz + CELL_EPS
    out: dict[int, tuple[int, list[tuple] | None]] = {}
    for iy in range(iy0, iy1 + 1):
        b0 = -90.0 + iy * sz - CELL_EPS
        b1 = -90.0 + (iy + 1) * sz + CELL_EPS
        e = np.flatnonzero((yhi >= b0) & (ylo <= b1))
        if len(e) == 0:
            continue  # no edge reaches the band: the whole row is outside
        right = xlo[e][None, :] > ax1[:, None]
        mid = ~right & ~(xhi[e][None, :] < ax0[:, None])
        for c, ix in enumerate(ixs):
            r = e[right[c]]
            ends = np.concatenate([y1[r], y2[r]])
            parity = int(np.count_nonzero(ends < b0) % 2)
            vys, n = np.unique(ends[(ends >= b0) & (ends <= b1)],
                               return_counts=True)
            terms = [
                (float(x1[i]), float(y1[i]), float(y2[i]),
                 float(x2[i] - x1[i]), float(y2[i] - y1[i]))
                for i in e[mid[c]]
            ] + [(math.inf, float(v), math.inf, 0.0, 1.0) for v in vys[n % 2 == 1]]
            cell = (res << 58) | (int(ix) << 29) | iy
            if terms:
                out[cell] = (parity, terms)
            elif parity:
                out[cell] = (1, None)
    return out


def polygon_bbox(poly: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    ring = _ring(poly)
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )
