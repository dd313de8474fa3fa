"""The transform plan: broadcast joins + column math only.

The execution plan of :func:`transform_points`: the ENTIRE region loop
of the reference (core.py:421-453) — candidate pruning, exact
point-in-polygon, per-step bilinear interpolation, ordered step
sum, last-write-wins precedence — is expressed as Catalyst column
expressions and broadcast hash joins. No Python worker, no Arrow
socket crossing, no shuffle: one whole-stage-codegen pass over the
driving table.

Why this shape (measured on a 32-thread host, 2M-row job):
- a Python (Arrow-batch) region loop moves every heavy column
  (html/text) through the JVM↔Python worker sockets twice; under host
  CPU-steal bursts the 32 executor threads collapsed into a
  kernel/futex convoy (80%+ sys time, 5-10× wall-time variance),
- this plan touches heavy columns only in the parquet scan and the
  sink boundary — they never leave Tungsten rows — so per-core work is
  pure user-space compute and scales with cores.

At 100 TB this is also the better plan: every join side here is O(grid
nodes + polygon cells) ≈ MBs (broadcast once per executor), the
driving table is never shuffled, re-partitioned, or serialized to
Python; AQE has nothing to re-plan because there is no exchange.

Plan shape (D = max candidate regions per fine cell, J = distinct
lattices per region after step combination — 1 for the fixture
catalog):

    base ──⋈ broadcast slots(cell9 → D × (region, PIP terms,   [J1 prune]
                                          lattice params))
         ── per-cell PIP: constant, or ≤ a few dozen terms   [J2]
         ──⋈ broadcast combined_corners ×D×J ((gkey,ix,iy) → v00..v11)
         ── bilinear column math                             [J3]
         ── coalesce(slot D-1 … slot 0) winner               [W1]

Per-cell PIP (the cell-level coverage index of *Joinable Search Over
Multi-Source Spatial Datasets*, ICDE 2025): each region polygon is cut
into its fine cells at dim-build time (spatial.pip.cell_terms). A cell
wholly inside is a constant; a cell wholly outside drops the region
from its slots; a boundary cell keeps only the edges a rightward ray
from it can meet, evaluated by the same crossing formula as
spatial.pip.contains (cell_pip_sql). So the generated code stays
bounded however detailed the polygons are, and the answer stays
bit-exact.

Step combination: bilinear interpolation is LINEAR in node values, so
pipeline steps whose grids share a lattice (origin/spacing/shape)
collapse into ONE pre-combined grid with node values Σ sign_s·v_s —
the signed ordered sum [A4] moves from per-point arithmetic to a
per-node precomputation (NOAA's production "sep surface" trick). NaN
union over the steps' nodes preserves the PROJ-inf coverage semantics
(core.py:445-446) exactly: a point is invalid in a region iff any
step's surrounding corner is NaN, which is iff any combined corner is
NaN. Steps on distinct lattices stay separate join groups.

Precedence is W1 (coalesce over ord-ascending slots) or W2 (one extra
aggregate pass for per-region valid counts, baked in as a literal
map); J8 kNN edge fill is a candidate-cell join plus an argmin
expression.
Limits: the grids are compiled into driver-built broadcast dims, so
the grid working set must fit the driver (VDatum grids are MBs; a
caller's tile table is collected and reassembled first, see
grids.tiler.grids_from_tiles); a kNN candidate set past 64 nodes per
lattice cell raises.

Reference parity: region loop core.py:421-453, PROJ-inf coverage
semantics core.py:445-446, bilinear grid sampling core.py:283-311.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datums import catalog, pipeline as pl
from ..grids import tiler
from ..spatial import cells, pip
from .inputs import local_df


# --------------------------------------------------------------------
# broadcast dimensions (all O(regions + grid nodes), built driver-side)
# --------------------------------------------------------------------

def combined_grids(from_datum: str, to_datum: str, defs=None):
    """Per region: the pipeline's steps grouped by (lattice signature,
    NaN-mask signature), each group pre-combined into one node array
    w = Σ sign_s·v_s.

    Steps may only combine when their coverage masks are IDENTICAL:
    for plain bilinear the NaN union would be equivalent, but the kNN
    edge fill (J8) falls back per STEP to that step's nearest valid
    node — pre-summing steps with different masks would fill from a
    node where another step is NaN. Fixture grids share the all-valid
    mask per lattice, so the default grouping is unchanged.

    Returns {region_id: [(lon0, lat0, dlon, dlat, nx, ny, w), ...]}. A
    region whose pipeline needs a grid absent from ``defs`` is left
    out: it has no valid point anywhere (PROJ-inf), so it never wins.
    """
    gdefs = {gd.grid_id: gd
             for gd in (defs if defs is not None else tiler.fixture_grid_defs())}
    out: dict[str, list] = {}
    for r in catalog.REGIONS:
        steps = pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid) or []
        if any(grid_id not in gdefs for grid_id, _sign in steps):
            continue
        groups: dict[tuple, np.ndarray] = {}
        order: list[tuple] = []
        for grid_id, sign in steps:
            gd = gdefs[grid_id]
            ixs, iys = np.meshgrid(np.arange(gd.nx), np.arange(gd.ny))
            v = gd.node_values(ixs.ravel(), iys.ravel()).reshape(gd.ny, gd.nx)
            key = (gd.lon0, gd.lat0, gd.dlon, gd.dlat, gd.nx, gd.ny,
                   np.isnan(v).tobytes())
            if key in groups:
                groups[key] = groups[key] + sign * v
            else:
                groups[key] = sign * v
                order.append(key)
        out[r.region_id] = [
            (k[0], k[1], k[2], k[3], k[4], k[5], groups[k]) for k in order
        ]
    return out


def corners_pdf(grids: dict) -> pd.DataFrame:
    """One row per combined-grid LATTICE CELL:
    (gkey, ix, iy, v00 v01 v10 v11).

    v01 is the +x neighbor and v10 the +y neighbor, matching
    grids.bilinear.interp_tile's corner layout, so the SQL bilinear is
    the same float64 expression the numpy reference evaluates.
    """
    frames = []
    for region_id, gs in grids.items():
        for j, (lon0, lat0, dlon, dlat, nx, ny, w) in enumerate(gs):
            cx, cy = np.meshgrid(np.arange(nx - 1), np.arange(ny - 1))
            cx, cy = cx.ravel(), cy.ravel()
            frames.append(pd.DataFrame({
                "gkey": f"{region_id}#g{j}",
                "ix": cx.astype(np.int64),
                "iy": cy.astype(np.int64),
                "v00": w[cy, cx], "v01": w[cy, cx + 1],
                "v10": w[cy + 1, cx], "v11": w[cy + 1, cx + 1],
            }))
    if not frames:
        return pd.DataFrame({
            "gkey": pd.Series(dtype=object),
            "ix": pd.Series(dtype=np.int64), "iy": pd.Series(dtype=np.int64),
            "v00": pd.Series(dtype=np.float64), "v01": pd.Series(dtype=np.float64),
            "v10": pd.Series(dtype=np.float64), "v11": pd.Series(dtype=np.float64),
        })
    return pd.concat(frames, ignore_index=True)


def knn_cells_pdf(grids: dict, max_candidates: int = 64):
    """J8 in pure SQL: per (gkey, lattice cell touched by the edge
    fill), the candidate set of valid nodes that can be the nearest
    for SOME point in that cell — so the runtime argmin is a ≤C-way
    column expression, exactly mirroring grids.bilinear._knn_fill.

    Candidate sufficiency (provable superset): for any point P in a
    cell with center c and half-diagonal r, the nearest valid node n*
    satisfies d(c,n*) ≤ d(c,n_c) + 2r where n_c is the node nearest
    the center; and the fill gate dmin ≤ m (m = max spacing) means
    only nodes with d(c,n) ≤ m + r can ever win. Cells whose bilinear
    is always valid (interior, 4 finite corners) are skipped — the
    fill is never consulted there.

    Returns (row tuples (gkey, ix, iy, cands array<struct>), C).
    Candidate slots are vidx-ascending, matching np.argmin's
    first-minimum tie-break over the row-major valid-node enumeration.

    SCALE: build cost is linear in the number of EDGE cells, not
    O(edge_cells × valid_nodes). Candidate cells are enumerated by
    vectorized corner-mask math (interior cells with an invalid
    corner + the exterior ring), and each cell searches only the
    nodes inside its (m + r)-radius lattice NEIGHBORHOOD — a
    ≤(2·ceil((m+r)/spacing)+2)² window sliced straight out of the
    valid mask. Any node that can ever be kept satisfies
    d ≤ m + r (the fill gate), so the window search returns exactly
    the brute-force candidate set (parity pytest:
    tests/test_transform_engine.py::test_knn_candidate_build_bucketed).
    """
    recs: list[dict] = []
    cmax = 0
    for region_id, gs in grids.items():
        for j, (lon0, lat0, dlon, dlat, nx, ny, w) in enumerate(gs):
            valid = np.isfinite(w)
            if not valid.any():
                continue
            has_nan = bool((~valid).any())
            m = max(dlon, dlat)
            viy, vix = np.nonzero(valid)
            r = 0.5 * math.hypot(dlon, dlat)
            reach = m + r  # max node distance that can ever be kept
            vlon_min = lon0 + float(vix.min()) * dlon
            vlon_max = lon0 + float(vix.max()) * dlon
            vlat_min = lat0 + float(viy.min()) * dlat
            vlat_max = lat0 + float(viy.max()) * dlat
            ix0 = int(math.floor((vlon_min - m - lon0) / dlon))
            ix1 = int(math.floor((vlon_max + m - lon0) / dlon))
            iy0 = int(math.floor((vlat_min - m - lat0) / dlat))
            iy1 = int(math.floor((vlat_max + m - lat0) / dlat))
            # ---- enumerate candidate cells (vectorized, O(cells)) ----
            cand_cells: list[tuple[int, int]] = []
            if has_nan:
                # interior cells where some corner is invalid
                inv = ~(valid[:-1, :-1] & valid[:-1, 1:]
                        & valid[1:, :-1] & valid[1:, 1:])
                ciy, cix = np.nonzero(inv)
                sel = (cix >= ix0) & (cix <= ix1) & (ciy >= iy0) & (ciy <= iy1)
                cand_cells.extend(zip(cix[sel].tolist(), ciy[sel].tolist()))
            for iy in range(iy0, iy1 + 1):
                for ix in range(ix0, ix1 + 1):
                    if 0 <= ix <= nx - 2 and 0 <= iy <= ny - 2:
                        continue  # interior handled above
                    cand_cells.append((ix, iy))
            cand_cells.sort(key=lambda c: (c[1], c[0]))  # (iy, ix) order
            # half-width of the node window, in lattice steps
            wx = (reach + 1e-9) / dlon + 0.5
            wy = (reach + 1e-9) / dlat + 0.5
            for ix, iy in cand_cells:
                cx = lon0 + (ix + 0.5) * dlon
                cy = lat0 + (iy + 0.5) * dlat
                bx0 = max(0, int(math.floor(ix + 0.5 - wx)))
                bx1 = min(nx - 1, int(math.ceil(ix + 0.5 + wx)))
                by0 = max(0, int(math.floor(iy + 0.5 - wy)))
                by1 = min(ny - 1, int(math.ceil(iy + 0.5 + wy)))
                if bx0 > bx1 or by0 > by1:
                    continue
                sub = valid[by0:by1 + 1, bx0:bx1 + 1]
                syy, sxx = np.nonzero(sub)
                if len(sxx) == 0:
                    continue
                nix = (sxx + bx0).astype(np.int64)
                niy = (syy + by0).astype(np.int64)
                nlon = lon0 + nix.astype(np.float64) * dlon
                nlat = lat0 + niy.astype(np.float64) * dlat
                d = np.hypot(nlon - cx, nlat - cy)
                dmin = float(d.min())
                if dmin > m + r:
                    continue  # no point in this cell is fillable
                keep = np.flatnonzero(d <= min(dmin + 2.0 * r, m + r) + 1e-12)
                nidx = niy * nx + nix
                keep = keep[np.argsort(nidx[keep])]
                cmax = max(cmax, len(keep))
                if cmax > max_candidates:
                    raise RuntimeError(
                        f"kNN candidate set {cmax} exceeds "
                        f"{max_candidates} for {region_id}#g{j} "
                        f"cell ({ix},{iy})"
                    )
                nval = w[niy, nix]
                recs.append({
                    "gkey": f"{region_id}#g{j}", "ix": ix, "iy": iy,
                    "_cand": [
                        (float(nlon[i]), float(nlat[i]),
                         float(nval[i]), int(nidx[i]))
                        for i in keep
                    ],
                })
    # plain row tuples, NOT a pandas frame (pandas None-padding would
    # coerce the int columns to float64). Candidates ride
    # in ONE array<struct> column: resolving 4 attributes per join
    # instead of 4·C keeps Catalyst analysis time flat in C (a 24-col
    # variant cost ~8 s of driver-side analysis per query build).
    rows = [
        (rec["gkey"], rec["ix"], rec["iy"], rec["_cand"]) for rec in recs
    ]
    return rows, cmax


# --------------------------------------------------------------------
# column expressions
# --------------------------------------------------------------------

PIP_CODEGEN_TERMS = 4  # longest term list evaluated without a lambda
_TERM_FIELDS = ("x1", "y1", "y2", "dx", "dy")
_TERMS_TYPE = ("array<struct<" + ", ".join(f"{f}: double" for f in _TERM_FIELDS)
               + ">>")


def pip_columns(sfx: str, n_terms: int) -> list[str]:
    """DDL of one slot's PIP columns, given the catalog's longest term
    list: ``par{sfx}`` (the parity) plus either one double column per
    term field (``x1_0{sfx}`` …, up to PIP_CODEGEN_TERMS terms) or the
    term array ``pe{sfx}`` (null for a cell wholly inside)."""
    if n_terms <= PIP_CODEGEN_TERMS:
        return [f"par{sfx} int"] + [f"{f}_{i}{sfx} double"
                                    for i in range(n_terms) for f in _TERM_FIELDS]
    return [f"par{sfx} int", f"pe{sfx} {_TERMS_TYPE}"]


def pip_values(par, terms, n_terms: int) -> tuple:
    """One slot's values for :func:`pip_columns`, from a
    spatial.pip.cell_terms entry (missing terms are nulls)."""
    if n_terms <= PIP_CODEGEN_TERMS:
        flat = [v for t in terms or () for v in t]
        return (par, *flat, *([None] * (len(_TERM_FIELDS) * n_terms - len(flat))))
    return (par, terms)


def cell_pip_sql(x: str, y: str, sfx: str, n_terms: int) -> str:
    """Point-in-polygon for one (fine cell, region) slot of the prune
    dim, as SQL text over the :func:`pip_columns` NAMES: the point is
    inside iff ``par`` plus the number of terms that hit is odd — the
    crossing test of spatial.pip.contains per term (half-open
    (y1 <= y) != (y2 <= y), strict x < intersection, same float64 op
    order), so the answer is bit-exact (spatial.pip.cell_terms). A
    cell wholly inside has no terms and ``par`` = 1; an empty slot has
    a null ``par``, hence a null answer.

    Up to PIP_CODEGEN_TERMS terms per cell (a straight boundary
    through a cell keeps 1-2) each term is plain column arithmetic; a
    missing term is null and never hits. Longer lists — a cell on a
    detailed coastline keeps a few dozen — are walked by
    ``aggregate``, NOT unrolled: a few dozen crossing terms per slot
    is past janino's 64 KB method limit. HigherOrderFunction is
    CodegenFallback, which takes its whole projection out of
    whole-stage codegen (measured on the rectangle catalog, 400k
    points at local[4]: transform exec +15% warm, +2 s on a first
    run), so the lambda is planned only for catalogs that need it,
    behind a gate that keeps interior cells out of it."""
    def hit(x1: str, y1: str, y2: str, dx: str, dy: str) -> str:
        return (f"(CASE WHEN ((({y1} <= {y}) != ({y2} <= {y})) AND "
                f"({x} < ({x1} + ((({y} - {y1}) * {dx}) / {dy})))) "
                f"THEN 1 ELSE 0 END)")

    par = f"par{sfx}"
    if n_terms <= PIP_CODEGEN_TERMS:
        count = " + ".join([par] + [
            hit(*(f"{f}_{i}{sfx}" for f in _TERM_FIELDS)) for i in range(n_terms)])
        return f"((({count}) % 2) = 1)"
    terms = f"pe{sfx}"
    lam = hit(*(f"_pe_.{f}" for f in _TERM_FIELDS))
    return (f"(CASE WHEN {terms} IS NULL THEN ({par} = 1) ELSE "
            f"(((aggregate({terms}, {par}, (_pn_, _pe_) -> _pn_ + {lam})) % 2) = 1) END)")


def bilinear_sql(x: str, y: str, lon0: str, lat0: str, dlon: str, dlat: str,
                 v00: str, v01: str, v10: str, v11: str) -> str:
    """Same float64 expression as grids.bilinear.interp_tile (tx/ty
    relative to the joined lattice cell's lower-left node; left-assoc
    sum of the four corner terms)."""
    tx_ = f"(({x} - {lon0}) / {dlon} - FLOOR(({x} - {lon0}) / {dlon}))"
    ty_ = f"(({y} - {lat0}) / {dlat} - FLOOR(({y} - {lat0}) / {dlat}))"
    return (
        f"((1.0D - {tx_}) * (1.0D - {ty_}) * {v00}"
        f" + {tx_} * (1.0D - {ty_}) * {v01}"
        f" + (1.0D - {tx_}) * {ty_} * {v10}"
        f" + {tx_} * {ty_} * {v11})"
    )


# --------------------------------------------------------------------
# the plan
# --------------------------------------------------------------------

_DIM_CACHE: dict = {}
_DIM_CACHE_MAX = 32


def slots_dim(grids: dict, j_max: int) -> tuple[list[tuple], str, int, int]:
    """The J1 prune dim: one row per fine cell that some region's
    polygon reaches, its candidate regions in ord-ascending slots.
    Per slot k the row carries the region (rid/ord, ngr = lattice
    groups), the cell's PIP terms (:func:`pip_columns`,
    spatial.pip.cell_terms; cells wholly outside a region never list
    it) and, per group j, the gkey + lattice params the corner join
    resolves — so the plan pays ONE broadcast hash join for the whole
    region lookup.

    Returns (rows, explicit schema, depth D = max candidates per cell,
    longest term list). Rows are plain tuples with real ``None``s in
    empty slots: a NaN there would flip join-miss semantics
    (``j < NaN`` is TRUE under NaN-greatest ordering where
    ``j < NULL`` is NULL)."""
    by_cell: dict[int, list[tuple]] = {}
    n_terms = 0
    for r in sorted(catalog.REGIONS, key=lambda r: r.region_ord):
        gs = grids.get(r.region_id)
        if gs is None:
            continue
        lattice: list = []
        for j in range(j_max):
            lattice += ([f"{r.region_id}#g{j}", *gs[j][:4]] if j < len(gs)
                        else [None] * 5)
        for cell, (par, terms) in pip.cell_terms(list(r.polygon),
                                                 cells.FINE_RES).items():
            n_terms = max(n_terms, len(terms or ()))
            by_cell.setdefault(cell, []).append(
                (r.region_id, r.region_ord, len(gs), par, terms, lattice))
    depth = max(map(len, by_cell.values()), default=1)

    def slot_values(slot) -> tuple:
        rid, ord_, ngr, par, terms, lattice = slot
        return (rid, ord_, ngr, *pip_values(par, terms, n_terms), *lattice)

    empty = (None,) * (3 + len(pip_columns("", n_terms)) + 5 * j_max)
    rows = [
        (cell, *(v for k in range(depth)
                 for v in (slot_values(slots[k]) if k < len(slots) else empty)))
        for cell, slots in by_cell.items()
    ]
    schema = ["cell9 long"]
    for k in range(depth):
        schema += [f"rid_s{k} string", f"ord_s{k} long", f"ngr_s{k} long",
                   *pip_columns(f"_s{k}", n_terms)]
        for j in range(j_max):
            schema += [f"gkey_s{k}_{j} string"] + [
                f"{c}_s{k}_{j} double" for c in ("lon0", "lat0", "dlon", "dlat")]
    return rows, ", ".join(schema), depth, n_terms


def _grids_digest(grids: dict) -> str:
    """Content key of a combined grid set (``combined_grids``): per
    region, each lattice's params and node-array bytes, which carry
    the NaN mask."""
    h = hashlib.sha256()
    for region_id, gs in grids.items():
        h.update(region_id.encode())
        for *params, w in gs:
            h.update(repr([float(v) for v in params]).encode())
            h.update(np.ascontiguousarray(w, dtype=np.float64).tobytes())
    return h.hexdigest()


def _dims(spark: SparkSession, from_datum: str, to_datum: str,
          grid_defs=None, knn_fallback: bool = False):
    """Broadcast-dimension DataFrames cached per (session, catalog
    version, datum pair, grid content): the grid working set is
    immutable for a catalog version (the PROJ-grid-cache analog), and
    rebuilding the dims cost ~0.3-0.5 s of fixed driver time per query.

    Both dims are Arrow-built ``LocalRelation``s (inputs.local_df), not
    ``LogicalRDD``s over pickled Python rows: the rows live in the plan,
    so each query's ``BroadcastExchange`` collects them on the driver
    instead of running two jobs through Python workers (measured
    0.4-0.9 s of "time to collect" per query, for tasks doing ~5 ms of
    CPU), and the per-join renaming projections over ``corners`` fold
    into the relation at optimize time.

    The fixture grids are keyed by the catalog version alone.
    Caller-supplied ``grid_defs`` (runtime grids, or a ``tiles`` table
    reassembled into them) are keyed by a digest of their combined
    grids, so repeated jobs over the same grid content reuse the dims,
    and new node values under the same grid ids rebuild them."""
    grids = content = None
    if grid_defs is not None:
        grids = combined_grids(from_datum, to_datum, grid_defs)
        content = _grids_digest(grids)
    # session-unique token, NOT id(spark): a stopped session's CPython
    # address can be reused by a new one, which would hand back cached
    # DataFrames bound to a dead session
    key = (spark.sparkContext.applicationId, catalog.catalog_version(),
           from_datum.lower(), to_datum.lower(), knn_fallback, content)
    hit = _DIM_CACHE.get(key)
    if hit is not None:
        _DIM_CACHE.pop(key)
        _DIM_CACHE[key] = hit  # refresh LRU position
        return hit
    if grids is None:
        grids = combined_grids(from_datum, to_datum)
    j_max = max((len(g) for g in grids.values()), default=0)
    slot_rows, slots_schema, depth, n_terms = slots_dim(grids, j_max)
    slots = local_df(spark, slot_rows, slots_schema)
    corner_schema = (
        "gkey string, ix long, iy long, "
        "v00 double, v01 double, v10 double, v11 double"
    )
    rows = list(corners_pdf(grids).itertuples(index=False, name=None))
    if knn_fallback:
        # r6 plan slimming: the kNN candidate cells ride ON the corner
        # rows (outer-merged by (gkey, ix, iy) — exterior-ring cells
        # exist only on the kNN side and carry null corners, which is
        # exactly the old corner-join MISS those cells produced), so
        # each (slot, group) pays one broadcast join instead of two.
        knn_rows, n_cand = knn_cells_pdf(grids)
        knn_js = {int(r[0].rsplit("#g", 1)[1]) for r in knn_rows}
        by_cell = {(g, ix, iy): cands for g, ix, iy, cands in knn_rows}
        rows = [tup + (by_cell.pop((tup[0], int(tup[1]), int(tup[2])), None),)
                for tup in rows]
        rows += [(g, ix, iy, None, None, None, None, cands)
                 for (g, ix, iy), cands in by_cell.items()]
        corner_schema += (", cands array<struct<lon: double, lat: double, "
                          "v: double, i: bigint>>")
    else:
        n_cand, knn_js = 0, set()
    corners = local_df(spark, rows, corner_schema)
    out = (slots, corners, depth, n_terms, j_max, n_cand, knn_js)
    # bounded LRU, NOT evict-by-foreign-appId: a driver process can
    # host several live sessions concurrently, and evicting every
    # entry whose appId differs from the current one would thrash
    # the other sessions' dims on each rebuild. The cap bounds how
    # long dead-session entries (unreachable keys) linger instead.
    _DIM_CACHE.pop(key, None)
    _DIM_CACHE[key] = out  # dict preserves insertion order → LRU tail
    while len(_DIM_CACHE) > _DIM_CACHE_MAX:
        _DIM_CACHE.pop(next(iter(_DIM_CACHE)))
    return out


def transform_points_sql(
    spark: SparkSession,
    points: DataFrame,
    from_datum: str,
    to_datum: str,
    x_col: str = "x",
    y_col: str = "y",
    grid_defs=None,
    knn_fallback: bool = False,
    precedence: str = "list",
) -> DataFrame:
    """Enrich ``points`` with (cell5, region_id, region_ord, sep) via
    the pure-JVM plan; transform._finalize applies flip/round/unc
    downstream.

      knn_fallback   — J8 edge fill as a broadcast join to the
                       precomputed candidate-cell table + a ≤C-way
                       argmin column expression (no Python).
      precedence     — "count" (W2, raster stacking): the per-region
                       valid-membership counts are computed by ONE
                       extra aggregate job over the same JVM plan
                       (the reference also pre-scans for counts,
                       raster.py:214-216) and baked into the winner
                       comparison as literals.
      grid_defs      — caller-supplied runtime grids (tiler.GridDef /
                       gtx.ArrayGrid list), replacing the catalog
                       fixture set.
    """
    slots, corners, depth, n_terms, j_max, n_cand, knn_js = _dims(
        spark, from_datum, to_datum, grid_defs, knn_fallback,
    )
    # The plan is built from SQL text: every Column-DSL operator is one
    # py4j round-trip (the DSL form of this plan cost 2,300-3,000 per
    # warm build, ~200 as text). Double literals carry the D suffix
    # (cells.dlit): a bare 180.0 parses as DECIMAL.
    # backticks: caller-supplied column names must survive the SQL
    # parser (`lon-deg` would otherwise parse as a subtraction)
    xs, ys = f"`{x_col}`", f"`{y_col}`"
    out = points.withColumns({
        "cell5": F.expr(cells.encode_spark_sql(xs, ys, cells.COARSE_RES)),
        "_c9": F.expr(cells.encode_spark_sql(xs, ys, cells.FINE_RES)),
    })
    # ONE denormalized prune join (slots_dim): rid/ord/ngr, PIP terms
    # and lattice params for every slot arrive together (one broadcast
    # exchange, a flat join tree for Catalyst).
    out = out.join(F.broadcast(slots), F.expr("_c9 = cell9"), "left")
    out = out.drop("cell9")

    # ----- joins: combined-grid corners (+ kNN candidates) per slot --
    for k in range(depth):
        for j in range(j_max):
            # unbound names, NOT out[...]: Dataset.col() resolves
            # against the ANALYZED plan, so a bound reference inside
            # this loop re-analyzes the whole growing join tree once
            # per iteration — O(joins²) driver time (measured ~8 s of
            # the 12.5 s geo_knn_edge wall).
            sj = f"_s{k}_{j}"
            knn_here = knn_fallback and n_cand and j in knn_js
            cn = corners.selectExpr(
                f"gkey AS g{sj}", f"ix AS ix{sj}", f"iy AS iy{sj}",
                f"v00 AS v00{sj}", f"v01 AS v01{sj}",
                f"v10 AS v10{sj}", f"v11 AS v11{sj}",
                *([f"cands AS kc{sj}"] if knn_here else []),
            )
            on = (
                f"((gkey{sj} = g{sj}) "
                f"AND (CAST(FLOOR(({xs} - lon0{sj}) / dlon{sj}) AS BIGINT) = ix{sj})) "
                f"AND (CAST(FLOOR(({ys} - lat0{sj}) / dlat{sj}) AS BIGINT) = iy{sj})"
            )
            out = out.join(F.broadcast(cn), F.expr(on), "left")

    # ----- stage the expensive per-slot expressions as REAL columns --
    # A column referenced more than once downstream would otherwise be
    # INLINED once per reference by Catalyst (the round-1 O(n²) HOF
    # trap, same mechanism): the winner logic reads each slot's pip
    # and total 2-3×, and _finalize reads sep/region_id again — naive
    # nesting multiplied the whole PIP+bilinear tree ~9× (measured
    # 27 s → ~4 s on 8M rows × 8 cores after staging). Multiply-
    # referenced non-trivial aliases survive CollapseProject, so each
    # tree is evaluated exactly once per row.
    # kNN groups first stage their RAW bilinear as a real column: the
    # fill must only run where the interpolation missed, and gating on
    # a staged column (a) keeps the C-way argmin inside the lazily-
    # evaluated `otherwise` branch of a cheap-predicate CaseWhen —
    # interior rows (≈ all rows at scale) never touch it — and (b)
    # avoids re-inlining the bilinear tree 3× through the
    # isNotNull/isnan/value references (the round-1 inlining trap).
    knn_pairs = [
        (k, j) for k in range(depth) for j in range(j_max)
        if knn_fallback and n_cand and j in knn_js
    ]
    if knn_pairs:
        out = out.selectExpr("*", *[
            bilinear_sql(
                xs, ys,
                f"lon0_s{k}_{j}", f"lat0_s{k}_{j}",
                f"dlon_s{k}_{j}", f"dlat_s{k}_{j}",
                f"v00_s{k}_{j}", f"v01_s{k}_{j}",
                f"v10_s{k}_{j}", f"v11_s{k}_{j}",
            ) + f" AS bil_s{k}_{j}"
            for k, j in knn_pairs
        ])

    staged = []
    for k in range(depth):
        sfx = f"_s{k}"
        total = "0.0D"
        for j in range(j_max):
            if (k, j) in knn_pairs:
                # J8: where bilinear is invalid (NaN corner or outside
                # the lattice), fall back to the nearest valid node
                # within one spacing — the exact _knn_fill semantics
                # (argmin d², ties to the lowest row-major node index,
                # gate sqrt(d²min) ≤ max(dlon, dlat))
                # HOF argmin over the variable-length candidate array,
                # NOT an unrolled C-way least() over slots: with C=64
                # the unrolled form blew the generated-code limit and
                # DISABLED whole-stage codegen for the entire final
                # projection ("Whole-stage codegen disabled for plan",
                # measured 11 s vs a Python kernel's 1.8 s at sf0.1).
                # HigherOrderFunction is CodegenFallback — one opaque
                # interpreted call per EDGE row (join-miss rows pass a
                # null array through to a null fill), while the rest of
                # the projection stays codegen. Struct ordering
                # (d2, i, v) keeps the tie-break: min d², then lowest
                # row-major node index — exactly _knn_fill.
                # lambda var named to avoid shadowing any real column
                best = (
                    f"array_min(transform(kc{sfx}_{j}, _kc_ -> named_struct("
                    f"'d2', (({xs} - _kc_.lon) * ({xs} - _kc_.lon)"
                    f" + ({ys} - _kc_.lat) * ({ys} - _kc_.lat)), "
                    f"'i', _kc_.i, 'v', _kc_.v)))"
                )
                fill = (
                    f"(CASE WHEN SQRT({best}.d2) <= "
                    f"greatest(dlon{sfx}_{j}, dlat{sfx}_{j}) "
                    f"THEN {best}.v END)"
                )
                b = f"bil{sfx}_{j}"
                bil = (f"(CASE WHEN (({b} IS NOT NULL) AND (NOT isnan({b}))) "
                       f"THEN {b} ELSE {fill} END)")
            else:
                bil = bilinear_sql(
                    xs, ys,
                    f"lon0{sfx}_{j}", f"lat0{sfx}_{j}",
                    f"dlon{sfx}_{j}", f"dlat{sfx}_{j}",
                    f"v00{sfx}_{j}", f"v01{sfx}_{j}",
                    f"v10{sfx}_{j}", f"v11{sfx}_{j}",
                )
            # lattice group exists for this region? add its combined
            # surface (null on corner-join miss = outside grid ⇒
            # region invalid, the PROJ-inf semantics); group index
            # beyond the region's pipeline ⇒ identity 0.0
            total = (f"({total} + (CASE WHEN {j} < ngr{sfx} "
                     f"THEN {bil} ELSE 0.0D END))")
        staged.append(f"{cell_pip_sql(xs, ys, sfx, n_terms)} AS pip{sfx}")
        staged.append(f"{total} AS tot{sfx}")
    out = out.selectExpr("*", *staged)

    # ----- validity flags over cheap staged columns ------------------
    valids = []
    for k in range(depth):
        sfx = f"_s{k}"
        valids.append(
            f"((pip{sfx} AND (tot{sfx} IS NOT NULL)) "
            f"AND (NOT isnan(tot{sfx}))) AS ok{sfx}"
        )
    out = out.selectExpr("*", *valids)

    keep = [f"`{c}`" for c in points.columns if c != "cell5"] + ["cell5"]

    if precedence == "count":
        # W2 (raster.py:226-233): the region with the MOST valid
        # member rows wins. One extra aggregate pass over the same
        # zero-shuffle plan computes the (tiny, n_regions-wide) count
        # vector on the driver; the winner pick is then pure column
        # math with the counts as literals — the reference likewise
        # pre-scans for valid counts before stacking.
        crow = out.agg(*[
            F.expr("sum(" + " + ".join(
                f"(CASE WHEN ((rid_s{k} = '{r.region_id}') AND ok_s{k}) "
                f"THEN 1 ELSE 0 END)"
                for k in range(depth)
            ) + ")")
            for r in catalog.REGIONS
        ]).collect()[0]

        counts = "map(" + ", ".join(
            f"'{r.region_id}', {int(c or 0)}L"
            for r, c in zip(catalog.REGIONS, crow)
        ) + ")"
        slot_structs = [
            f"(CASE WHEN ok_s{k} THEN named_struct("
            f"'c', {counts}[rid_s{k}], 'o', ord_s{k}, "
            f"'r', rid_s{k}, 't', tot_s{k}) END)"
            for k in range(depth)
        ]
        w = (f"greatest({', '.join(slot_structs)})" if depth > 1
             else slot_structs[0])
        return out.selectExpr("*", f"{w} AS _w2").selectExpr(
            *keep, "_w2.r AS region_id",
            "CAST(_w2.o AS INT) AS region_ord", "_w2.t AS sep",
        )

    # ----- W1 winner: slots are ord-ascending, so last-write-wins =
    # first valid slot scanning DESCENDING
    def pick(col: str) -> str:
        return "coalesce(" + ", ".join(
            f"(CASE WHEN ok_s{k} THEN {col}_s{k} END)"
            for k in reversed(range(depth))
        ) + ")"

    return out.selectExpr(
        *keep,
        f"{pick('rid')} AS region_id",
        f"CAST({pick('ord')} AS INT) AS region_ord",
        f"{pick('tot')} AS sep",
    )
