"""Pure-JVM transform strategy: broadcast joins + column math only.

The default execution strategy of :func:`transform_points` (the other
is the Python-kernel ``broadcast`` strategy): the ENTIRE region loop
of the reference (core.py:421-453) — candidate pruning, exact
point-in-polygon, per-step bilinear interpolation, ordered step
sum, last-write-wins precedence — is expressed as Catalyst column
expressions and broadcast hash joins. No Python worker, no Arrow
socket crossing, no shuffle: one whole-stage-codegen pass over the
driving table.

Why this exists (measured on this box, 2M-row job):
- the mapInArrow kernel moves every heavy column (html/text) through
  the JVM↔Python worker sockets twice; under host CPU-steal bursts the
  32 executor threads collapse into a kernel/futex convoy (80%+ sys
  time, 5-10× wall-time variance),
- the SQL plan touches heavy columns only in the parquet scan and the
  sink boundary — they never leave Tungsten rows — so per-core work is
  pure user-space compute and scales with cores.

At 100 TB this is also the better plan: every join side here is O(grid
nodes + region polygons) ≈ MBs (broadcast once per executor), the
driving table is never shuffled, re-partitioned, or serialized to
Python; AQE has nothing to re-plan because there is no exchange.

Plan shape (D = max region-overlap depth, J = distinct lattices per
region after step combination — 1 for the fixture catalog):

    base ──⋈ broadcast cover_slots(cell9 → r0..r{D-1})      [J1 prune]
         ──⋈ broadcast region_dim   ×D   (ord, lattice params)
         ── literal-codegen ray-cast PIP per slot            [J2]
         ──⋈ broadcast combined_corners ×D×J ((gkey,ix,iy) → v00..v11)
         ── bilinear column math                             [J3]
         ── coalesce(slot D-1 … slot 0) winner               [W1]

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
aggregate pass for per-region valid counts, baked in as literals); J8
kNN edge fill is a candidate-cell join plus an argmin expression.
Limits, where `transform_points` routes to the broadcast kernel: a
caller-supplied tile DataFrame (there are no grid definitions to
compile into the dims) and catalogs whose literal PIP CASE exceeds
PIP_CASE_BUDGET.

Reference parity: region loop core.py:421-453, PROJ-inf coverage
semantics core.py:445-446, bilinear grid sampling core.py:283-311.
"""

from __future__ import annotations

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

def cover_slots_pdf() -> tuple[pd.DataFrame, int]:
    """(cell9 → slot_0..slot_{D-1} region ids, ord-ascending) + D.

    One row per fine cell intersecting any region; slot columns hold
    the candidate regions of that cell in catalog (precedence) order,
    padded with None. D = max observed overlap depth.
    """
    by_cell: dict[int, list[str]] = {}
    order = sorted(catalog.REGIONS, key=lambda r: r.region_ord)
    for r in order:
        for c in pip.polygon_cover(list(r.polygon), cells.FINE_RES):
            by_cell.setdefault(int(c), []).append(r.region_id)
    depth = max((len(v) for v in by_cell.values()), default=1)
    rows = {
        "cell9": list(by_cell.keys()),
    }
    for k in range(depth):
        rows[f"slot_{k}"] = [
            v[k] if len(v) > k else None for v in by_cell.values()
        ]
    return pd.DataFrame(rows), depth


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

    Returns {region_id: [(lon0, lat0, dlon, dlat, nx, ny, w), ...]}.
    """
    gdefs = {gd.grid_id: gd
             for gd in (defs if defs is not None else tiler.fixture_grid_defs())}
    out: dict[str, list] = {}
    for r in catalog.REGIONS:
        steps = pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid) or []
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


def region_dim_pdf(grids: dict, j_max: int) -> pd.DataFrame:
    """Per-region row: ord, n_groups, per-group lattice params and the
    synthetic grid key ``region#j`` the corner join resolves."""
    recs = []
    for r in catalog.REGIONS:
        gs = grids.get(r.region_id, [])
        rec = {
            "region_id": r.region_id,
            "region_ord": r.region_ord,
            "n_groups": len(gs),
        }
        for j in range(j_max):
            if j < len(gs):
                lon0, lat0, dlon, dlat, _nx, _ny, _w = gs[j]
                rec.update({
                    f"gkey_{j}": f"{r.region_id}#g{j}",
                    f"lon0_{j}": lon0, f"lat0_{j}": lat0,
                    f"dlon_{j}": dlon, f"dlat_{j}": dlat,
                })
            else:
                rec.update({
                    f"gkey_{j}": None, f"lon0_{j}": None, f"lat0_{j}": None,
                    f"dlon_{j}": None, f"dlat_{j}": None,
                })
        recs.append(rec)
    return pd.DataFrame(recs)


def corners_pdf(grids: dict) -> pd.DataFrame:
    """One row per combined-grid LATTICE CELL:
    (gkey, ix, iy, v00 v01 v10 v11).

    v01 is the +x neighbor and v10 the +y neighbor, matching
    grids.bilinear.interp_tile's corner layout, so the SQL bilinear is
    the same float64 expression the numpy kernel evaluates.
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
                        f"cell ({ix},{iy}); use the broadcast strategy"
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

def _axis_rect(ring: np.ndarray) -> tuple[float, float, float, float] | None:
    """(x0, y0, x1, y1) if the ring is an axis-aligned rectangle."""
    if len(ring) != 5:
        return None
    xs, ys = set(ring[:-1, 0]), set(ring[:-1, 1])
    if len(xs) != 2 or len(ys) != 2:
        return None
    for i in range(4):
        if ring[i, 0] != ring[i + 1, 0] and ring[i, 1] != ring[i + 1, 1]:
            return None  # diagonal edge
    return min(xs), min(ys), max(xs), max(ys)


def _d(v: float) -> str:
    """SQL double literal (the D suffix keeps the parser off DECIMAL,
    which would change the arithmetic; repr() round-trips exactly)."""
    return f"{float(v)!r}D"


def cell_sql(x: str, y: str, res: int) -> str:
    """Spark SQL twin of :func:`cells.encode_col`, operator for operator
    (cells.encode_sql is the DuckDB form: its bare ``180.0`` parses as
    DECIMAL in Spark)."""
    sz = _d(cells.cell_size_deg(res))
    return (
        f"((shiftleft(CAST({int(res)} AS BIGINT), 58)"
        f" | shiftleft(CAST(FLOOR(({x} + {_d(180.0)}) / {sz}) AS BIGINT), 29))"
        f" | CAST(FLOOR(({y} + {_d(90.0)}) / {sz}) AS BIGINT))"
    )


def pip_literal_sql(x: str, y: str, poly: list[tuple[float, float]]) -> str:
    """Even-odd ray cast with the polygon baked in as literals, as SQL
    text over column NAMES — pure whole-stage-codegen arithmetic, the
    exact mirror of spatial.pip.contains (half-open crossing
    (y1 <= y) != (y2 <= y), strict x < intersection, identical float64
    op order; D-suffixed double literals).

    Axis-aligned rectangles collapse to 4 comparisons with the SAME
    half-open boundary semantics as the ray cast: a vertical edge
    spanning [y0, y1] crosses iff (y0<=y) != (y1<=y) ⇔ y ∈ [y0, y1),
    and the point is inside iff it is left of the far edge but not of
    the near one ⇔ x ∈ [x0, x1). This keeps the generated method small
    enough to JIT, which matters more than it reads: past 8 KB of
    bytecode the whole fused stage drops to the JVM interpreter.

    Horizontal edges can never satisfy the crossing test, so they are
    dropped at generation time (also keeps ANSI mode away from the
    zero division).

    Why text (r6): a Column-DSL builder costs one py4j round-trip per
    operator — the kNN-edge plan build spent 1.8 s of its 2.1 s in ~11k
    socket round-trips; one F.expr per staged column replaces hundreds
    of them."""
    ring = pip._ring(poly)
    rect = _axis_rect(ring)
    if rect is not None:
        x0, y0, x1, y1 = rect
        return (f"(({_d(y0)} <= {y}) AND ({y} < {_d(y1)}) "
                f"AND ({_d(x0)} <= {x}) AND ({x} < {_d(x1)}))")
    count = "0"
    for i in range(len(ring) - 1):
        x1, y1 = float(ring[i, 0]), float(ring[i, 1])
        x2, y2 = float(ring[i + 1, 0]), float(ring[i + 1, 1])
        if y1 == y2:
            continue
        crosses = f"(({_d(y1)} <= {y}) != ({_d(y2)} <= {y}))"
        xint = (f"({_d(x1)} + ({y} - {_d(y1)}) * {_d(x2 - x1)}"
                f" / {_d(y2 - y1)})")
        count = (f"({count} + (CASE WHEN ({crosses} AND ({x} < {xint})) "
                 f"THEN 1 ELSE 0 END))")
    return f"(({count} % 2) = 1)"


# ------------------------------------------------------------------
# expression budget (round-5 VERDICT #2): the PIP CASE is the
# dominant literal expression the SQL strategy bakes per slot, and
# janino's 64 KB method limit is a hard cliff — measured with
# spark.sql.codegen.fallback=false on this substrate:
#   52 axis-rect regions (4 comparisons each, 208 units)      → compiles
#   3 general 8-gons   (21 crossing edges ≈ 189 units at 9×)  → compiles
#   3 general 16-gons  (45 crossing edges ≈ 405 units)        → 64 KB FAIL
#   1 general 50-gon   (49 crossing edges ≈ 441 units)        → 64 KB FAIL
# A crossing term (when + float division + count accumulation) costs
# ~9× an axis-rect comparison in generated bytecode, hence the
# weights.  The budget sits at half the measured failure point so
# depth-2/3 cover overlap (several CASE columns fused into one
# generated method) keeps margin.  Callers (engine.transform.
# transform_points) route to the broadcast kernel strategy instead of
# shipping a plan that janino rejects and Spark silently degrades to
# the interpreter.
PIP_RECT_UNITS = 4
PIP_GENERAL_EDGE_UNITS = 9
PIP_CASE_BUDGET = 250


def pip_case_cost() -> int:
    """Estimated codegen cost (in weighted comparison units, see the
    budget note above) of ONE slot_pip_sql CASE over the current
    catalog."""
    total = 0
    for r in catalog.REGIONS:
        ring = pip._ring(list(r.polygon))
        if _axis_rect(ring) is not None:
            total += PIP_RECT_UNITS
        else:
            nh_edges = sum(
                1 for i in range(len(ring) - 1)
                if ring[i, 1] != ring[i + 1, 1]
            )
            total += PIP_GENERAL_EDGE_UNITS * nh_edges
    return total


def sql_strategy_within_budget() -> bool:
    """True iff the current catalog's literal PIP CASE fits the
    measured codegen budget — the transform_points auto-route guard."""
    return pip_case_cost() <= PIP_CASE_BUDGET


def slot_pip_sql(x: str, y: str, rid: str) -> str:
    """PIP for whichever region occupies a slot: a region-literal CASE
    over the catalog (null slot → null → invalid)."""
    if not catalog.REGIONS:
        return "false"
    whens = " ".join(
        f"WHEN {rid} = '{r.region_id}' "
        f"THEN {pip_literal_sql(x, y, list(r.polygon))}"
        for r in catalog.REGIONS
    )
    return f"(CASE {whens} END)"


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
# the strategy
# --------------------------------------------------------------------

_DIM_CACHE: dict = {}
_DIM_CACHE_MAX = 32


def slots_dim_pdf(grids: dict, j_max: int) -> tuple[pd.DataFrame, str, int]:
    """The J1 prune dim DENORMALIZED with the per-region lattice params
    (r6 plan slimming): one broadcast row per covered fine cell carrying
    rid/ord/ngr and the per-group gkey+lattice for every slot, so the
    runtime plan pays ONE broadcast hash join where it previously paid
    1 + depth (slots, then a region-dim join per slot).  Values are the
    same region_dim_pdf rows keyed through slot_k, so the joined columns
    are bit-identical to the two-level join.

    Returns (pdf, explicit schema, depth).  The schema is explicit and
    the frame object-typed with real ``None``s: pandas' NaN-padding of
    missing slots would otherwise surface as float NaN columns in Spark
    (NaN != NULL — e.g. ``j < NaN`` is TRUE under NaN-greatest ordering
    where ``j < NULL`` is NULL), silently flipping join-miss semantics.
    """
    slots_pdf, depth = cover_slots_pdf()
    rd = region_dim_pdf(grids, j_max)
    merged = slots_pdf
    schema = ["cell9 long"]
    for k in range(depth):
        ren = {"region_id": f"rid_s{k}", "region_ord": f"ord_s{k}",
               "n_groups": f"ngr_s{k}"}
        schema += [f"rid_s{k} string", f"ord_s{k} long", f"ngr_s{k} long"]
        for j in range(j_max):
            for c in ("gkey", "lon0", "lat0", "dlon", "dlat"):
                ren[f"{c}_{j}"] = f"{c}_s{k}_{j}"
                schema.append(
                    f"{c}_s{k}_{j} " + ("string" if c == "gkey" else "double")
                )
        merged = merged.merge(
            rd.rename(columns=ren), how="left",
            left_on=f"slot_{k}", right_on=f"rid_s{k}",
        ).drop(columns=[f"slot_{k}"])
    cols = [s.split(" ")[0] for s in schema]
    merged = merged[cols].astype(object)
    # pandas' left merge promotes int columns with missing slots to
    # float (2 → 2.0) and renders the misses as float NaN even in
    # object columns; restore exact ints / real Nones per the schema
    # (this dim has no legitimate NaN — only join-miss nulls)
    def _clean(v, typ):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return int(v) if typ == "long" else v

    for s in schema:
        name, typ = s.split(" ")
        # dtype=object: a plain list assignment re-upcasts int+None
        # columns straight back to float64/NaN
        merged[name] = pd.Series(
            [_clean(v, typ) for v in merged[name]],
            dtype=object, index=merged.index,
        )
    return merged, ", ".join(schema), depth


def _dims(spark: SparkSession, from_datum: str, to_datum: str,
          grid_defs=None, knn_fallback: bool = False,
          grid_cache_token: str | None = None):
    """Broadcast-dimension DataFrames cached per (session, catalog
    version, datum pair): the grid working set is immutable for a
    catalog version (the PROJ-grid-cache analog), and rebuilding the
    dims cost ~0.3-0.5 s of fixed driver time per query.

    Both dims are Arrow-built ``LocalRelation``s (inputs.local_df), not
    ``LogicalRDD``s over pickled Python rows: the rows live in the plan,
    so each query's ``BroadcastExchange`` collects them on the driver
    instead of running two jobs through Python workers (measured
    0.4-0.9 s of "time to collect" per query, for tasks doing ~5 ms of
    CPU), and the per-join renaming projections over ``corners`` fold
    into the relation at optimize time.

    Caller-supplied ``grid_defs`` (runtime grids) bypass the cache
    UNLESS the caller also passes ``grid_cache_token`` — a promise
    that the grid set's CONTENT is immutable for the token's lifetime
    (same token ⇒ same lattices/values). Repeated jobs over a fixed
    runtime grid set (the normal production shape: grids change per
    VDatum release, not per query) then skip the dim rebuild."""
    # session-unique token, NOT id(spark): a stopped session's CPython
    # address can be reused by a new one, which would hand back cached
    # DataFrames bound to a dead session
    key = (spark.sparkContext.applicationId, catalog.catalog_version(),
           from_datum.lower(), to_datum.lower(), knn_fallback,
           grid_cache_token)
    cacheable = grid_defs is None or grid_cache_token is not None
    if cacheable:
        hit = _DIM_CACHE.get(key)
        if hit is not None:
            _DIM_CACHE.pop(key)
            _DIM_CACHE[key] = hit  # refresh LRU position
            return hit
    grids = combined_grids(from_datum, to_datum, grid_defs)
    j_max = max((len(g) for g in grids.values()), default=0)
    slots_merged, slots_schema, depth = slots_dim_pdf(grids, j_max)
    slots = local_df(spark, slots_merged.itertuples(index=False, name=None),
                     slots_schema)
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
    out = (slots, corners, depth, j_max, n_cand, knn_js)
    if cacheable:
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
    grid_cache_token: str | None = None,
) -> DataFrame:
    """Enrich ``points`` with (cell5, region_id, region_ord, sep) via
    the pure-JVM plan. Output contract matches the broadcast kernel's
    passthrough (transform.make_broadcast_kernel); transform._finalize applies
    flip/round/unc downstream.

    Round-3 extensions (previous limits, now lifted):
      knn_fallback   — J8 edge fill as a broadcast join to the
                       precomputed candidate-cell table + a ≤C-way
                       argmin column expression (no Python).
      precedence     — "count" (W2, raster stacking): the per-region
                       valid-membership counts are computed by ONE
                       extra aggregate job over the same JVM plan
                       (the reference also pre-scans for counts,
                       raster.py:214-216) and baked into the winner
                       comparison as literals.
      grid_defs      — caller-supplied runtime grids (tiler.GridDef
                       list), replacing the catalog fixture set.
    """
    slots, corners, depth, j_max, n_cand, knn_js = _dims(
        spark, from_datum, to_datum, grid_defs, knn_fallback,
        grid_cache_token,
    )
    # The plan is built from SQL text: every Column-DSL operator is one
    # py4j round-trip (the DSL form of this plan cost 2,300-3,000 per
    # warm build, ~200 as text). Each string parses to the tree the DSL
    # would build (D-suffixed double literals, same parenthesization),
    # so results and codegen are the same.
    # backticks: caller-supplied column names must survive the SQL
    # parser (`lon-deg` would otherwise parse as a subtraction)
    xs, ys = f"`{x_col}`", f"`{y_col}`"
    out = points.withColumns({
        "cell5": F.expr(cell_sql(xs, ys, cells.COARSE_RES)),
        "_c9": F.expr(cell_sql(xs, ys, cells.FINE_RES)),
    })
    # ONE denormalized prune join (slots_dim_pdf): rid/ord/ngr + lattice
    # params for every slot arrive together — the per-slot region-dim
    # joins of the two-level layout are gone (r6, guide §2.4: fewer
    # broadcast exchanges, flatter join tree for Catalyst).
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
                # measured 11 s vs the kernel twin's 1.8 s at sf0.1).
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
        staged.append(f"{slot_pip_sql(xs, ys, f'rid{sfx}')} AS pip{sfx}")
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

        def cnt_lit(rid: str) -> str:
            return "CASE " + " ".join(
                f"WHEN {rid} = '{r.region_id}' THEN {int(c or 0)}L"
                for r, c in zip(catalog.REGIONS, crow)
            ) + " END"

        slot_structs = [
            f"(CASE WHEN ok_s{k} THEN named_struct("
            f"'c', {cnt_lit(f'rid_s{k}')}, 'o', ord_s{k}, "
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
