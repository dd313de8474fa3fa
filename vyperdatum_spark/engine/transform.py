"""The transform engine: points × regions × grid tiles.

Spark-first re-expression of the reference's ``transform_dataset``
(core.py:357-464). The reference loops regions in the driver and calls
PROJ per region; here the whole region loop is one declarative plan
(engine/transform_sql.py): cover-slot prune join [J1], per-cell PIP
[J2], pre-combined grid corner joins + bilinear expressions [J3/A4],
ord-ascending slot coalesce [W1] or count-literal ranking [W2], kNN
edge fill [J8]. Broadcast hash joins and whole-stage-codegen column
math only: ZERO shuffles, ZERO Python workers; heavy page columns
never leave Tungsten rows.

The plan ends in the finalize contract: F1 coverage, the F4 axis-flip
matrix, F5 round(3), F6 CATZOC, J6 uncertainty, the output-frame
z-correction — plus the horizontal-CRS pre-step (spatial/crs.py) when
the input is projected or foreign-frame.

Region membership matches the reference's semantics: a point belongs
to a region iff it is inside the region polygon AND every pipeline
step's grid has valid data there (the reference encodes the latter as
PROJ returning inf outside grids, core.py:421-453). Precedence among
valid regions is last-write-wins in catalog order (W1, core.py:446-453)
or count-ranked for raster mode (W2, raster.py:226-233).

Scale notes (100 TB / 10^12 rows):
- one codegen pass over the driving table, all join sides O(grid
  nodes + polygon cells) ≈ MBs; it measured 0.865 N→4N scaling
  efficiency (BENCH/BASELINE.md) because there is nothing to shuffle
  and no Python worker boundary to contend on.
- the prune join uses a FINE-res polygon cover (broadcast) so
  non-member points skip the expensive math, and points in cells
  wholly inside a region skip the ray cast; exactness comes from the
  per-cell PIP terms.
- J5 sampled mode (transform_points_sampled) transforms O(distinct
  fine cells) and equi-joins back — the cheapest path when exact
  per-point PIP is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datums import catalog, pipeline as pl
from ..grids import tiler
from ..ops import sql_str
from ..spatial import cells, crs as hcrs
from ..spatial.cells import dlit
from . import transform_sql as tsql


# --------------------------------------------------------------------
# the engine
# --------------------------------------------------------------------

def resolve_specs(from_datum, to_datum, input_crs: str = "nad83s",
                  output_frame: str | None = None):
    """Resolve datum specs to catalog datum names — the one resolution
    rule of the engine and the reference-shaped facade. Specs may be
    EPSG ints, WKT, (horizontal, vertical) tuples or names (reference
    vypercrs.py:685-812); a horizontal component on the input side sets
    ``input_crs`` (unless the caller chose one), on the output side the
    output frame (unless the caller chose one).

    Returns (from_datum, to_datum, input_crs, output_frame)."""
    from ..datums import resolve as _resolve

    from_datum, in_horiz = _resolve.resolve_vertical(from_datum, "input")
    if in_horiz is not None and input_crs == "nad83s":
        input_crs = in_horiz
    to_datum, out_horiz = _resolve.resolve_vertical(to_datum, "output")
    if out_horiz is not None and output_frame is None:
        output_frame = hcrs.CRS_FRAME[out_horiz]
    return from_datum, to_datum, input_crs, output_frame


def transform_points(
    spark: SparkSession,
    points: DataFrame,
    from_datum: str,
    to_datum: str,
    key_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    tiles: DataFrame | None = None,
    allow_points_outside_coverage: bool = False,
    include_uncertainty: bool = True,
    include_lineage: bool = False,
    precedence: str = "list",  # "list" = W1 (points), "count" = W2 (raster)
    knn_fallback: bool = False,
    input_crs: str = "nad83s",
    output_frame: str | None = None,
    grid_defs: list | None = None,
) -> DataFrame:
    """Transform ``points[z_col]`` from ``from_datum`` to ``to_datum``.

    Returns the input DataFrame (all columns preserved — the
    byte-identical passthrough contract) enriched with:
      cell5 (tile key), region_id/region_ord (winning region, null if
      none), sep (applied separation), z_out (rounded 3, null if
      uncovered and not allowed), unc (if requested), covered flag,
      pipeline_str (if include_lineage).

    ``key_col`` names the caller's row key. The engine never joins
    results back by key, so it does not read it; it stays in the
    signature for the callers that pass it.

    Grids: the catalog's fixture grids by default; ``grid_defs``
    (tiler.GridDef / gtx.ArrayGrid list) replaces them, or ``tiles``
    (a grid_tiles table, tiler.TILE_SCHEMA) does: its rows for the
    pipeline's grids are collected once and reassembled into one
    lattice per grid (tiler.grids_from_tiles). A region whose pipeline
    needs a grid missing from the set is uncovered everywhere. The
    compiled dims are cached by grid content, so repeated calls over
    the same grids (or tile table) reuse them.

    Horizontal CRS handling (reference core.py:166-248, 437-445):
      input_crs     — the catalog CRS the x/y (and 3D-frame z) values
                      are in ('nad83s' geographic default; 'spcs_syn' /
                      'utm_syn' projected; 'itrfs' foreign frame). A
                      non-default input adds x_geo/y_geo (geoid-frame
                      lon/lat) columns; all region/grid math runs on
                      those.
      output_frame  — the geodetic frame of the OUTPUT coordinates
                      (default: the input's frame). When it differs
                      from both the input frame and the geoid frame,
                      x_out/y_out are emitted in that frame and z gets
                      the reference's output-frame correction
                      ``new_z = new_z - (z - diffz)``.

    The plan (transform_sql.py) is broadcast joins + whole-stage
    codegen column math: no Python worker, no shuffle.
    """
    from_datum, to_datum, input_crs, output_frame = resolve_specs(
        from_datum, to_datum, input_crs, output_frame
    )
    # F4 sign matrix: depth-axis INPUT negates z before the pipeline,
    # depth-axis OUTPUT negates after (core.py:397-403, 441-449)
    flips = pl.axis_flips(from_datum, to_datum)
    # the plan is built from SQL text (one py4j round-trip per
    # expression, not per operator); backticks keep caller-supplied
    # column names whole
    xs, ys, zs = f"`{x_col}`", f"`{y_col}`", f"`{z_col}`"

    # ----- horizontal CRS pre-step (core.py:397-403 then :419) -------
    in_crs = hcrs.validate_crs(input_crs)
    in_frame = hcrs.CRS_FRAME[in_crs]
    out_frame = (output_frame or in_frame).upper()
    if out_frame not in hcrs.FRAMES:
        raise ValueError(f"output_frame {output_frame!r} not in {hcrs.FRAMES}")
    # 'output equals input' in the reference's NAME sense: geographic
    # input whose frame IS the requested output frame
    out_is_in = (in_crs == "nad83s" and out_frame == "NAD83S") or (
        in_crs == "itrfs" and out_frame == "ITRFS"
    )
    dz_corr = None
    emit_out_xy = None
    if in_crs != "nad83s" or out_frame != hcrs.GEOID_FRAME:
        # depth-axis negation FIRST, then the 3D transform to the
        # geoid frame (matches the reference's operation order)
        geo = hcrs.to_geoid_frame_spark_sql(
            in_crs, xs, ys, f"({dlit(flips[0])} * {zs})"
        )
        points = points.withColumns(
            {c: F.expr(e) for c, e in zip(("x_geo", "y_geo", "_zg"), geo)}
        )
        x_col, y_col, z_col = "x_geo", "y_geo", "_zg"
        xs, ys, zs = f"`{x_col}`", f"`{y_col}`", f"`{z_col}`"
        flips = (1.0, flips[1])  # input flip folded into _zg
        if not out_is_in and out_frame != hcrs.GEOID_FRAME:
            # output-frame z-correction new_z -= (z - diffz): the net
            # in→out 3D frame shift evaluated at the geoid-frame point
            dz = hcrs.frame_dz_spark_sql(x_col, y_col)
            dz_corr = dlit(0.0)
            if in_frame == "ITRFS":
                dz_corr = f"({dz_corr} + {dz})"
            if out_frame == "ITRFS":
                dz_corr = f"({dz_corr} - {dz})"
        if out_is_in:
            emit_out_xy = None  # original x/y already ARE the output
        elif out_frame == hcrs.GEOID_FRAME:
            emit_out_xy = (xs, ys)
        else:
            out_crs_name = "nad83s" if out_frame == "NAD83S" else "itrfs"
            emit_out_xy = hcrs.from_geoid_frame_spark_sql(out_crs_name, xs, ys)

    def _emit(df: DataFrame) -> DataFrame:
        if emit_out_xy is not None:
            # reference writes output coords only for valid (covered)
            # points (ans_x[valid_index], core.py:446-448); uncovered
            # rows keep null x_out/y_out
            df = df.withColumns({
                c: F.expr(f"CASE WHEN covered THEN {e} END")
                for c, e in zip(("x_out", "y_out"), emit_out_xy)
            })
        return df.drop("_zg")

    if pl.compile_steps(from_datum, to_datum, "R", "G") is None:
        # identical datums: z passes through (flip/round still apply)
        cols = {
            "cell5": cells.encode_spark_sql(xs, ys, cells.COARSE_RES),
            "region_id": "CAST(NULL AS STRING)",
            "region_ord": "CAST(NULL AS INT)",
            "sep": dlit(0.0),
            "z_out": f"round(({dlit(flips[1])} * ({dlit(flips[0])} * {zs})), 3)",
            "covered": "true",
        }
        if include_uncertainty:
            cols["unc"] = dlit(0.0)
        if include_lineage:
            cols["pipeline_str"] = "CAST(NULL AS STRING)"
        return _emit(points.withColumns({c: F.expr(e) for c, e in cols.items()}))

    if tiles is not None and grid_defs is None:
        needed = {grid_id for *_, grid_id, _sign
                  in catalog.region_steps(from_datum, to_datum)}
        grid_defs = tiler.grids_from_tiles(tiles, needed)
    # transform_points_sql adds cell5 itself, in its one SQL-text
    # projection
    enriched = tsql.transform_points_sql(
        spark, points, from_datum, to_datum, x_col, y_col,
        grid_defs=grid_defs, knn_fallback=knn_fallback,
        precedence=precedence,
    )
    return _emit(_finalize(
        enriched, from_datum, to_datum, z_col, flips,
        allow_points_outside_coverage, include_uncertainty,
        include_lineage, dz_corr,
    ))


def _catzoc_sql(z_h: str) -> str:
    """F6: CATZOC-D vertical uncertainty of an uncovered point over its
    HEIGHT-axis z (raster.py:384-390 negates a sounding input first)."""
    return (f"CASE WHEN ({z_h} > 0) THEN {dlit(3.0)} "
            f"ELSE ({dlit(3.0)} - ({dlit(0.06)} * {z_h})) END")


def _finalize(
    out: DataFrame,
    from_datum: str,
    to_datum: str,
    z_col: str,
    flips: tuple[float, float],
    allow_points_outside_coverage: bool,
    include_uncertainty: bool,
    include_lineage: bool,
    dz_corr: str | None = None,
) -> DataFrame:
    """Apply the output contracts to a frame that carries the winning
    region_id/region_ord/sep: F1 coverage, F4 flip matrix, F5 round(3),
    F6 CATZOC, J6 unc, output-frame z-correction (core.py:443-444)."""
    corr = dz_corr if dz_corr is not None else dlit(0.0)
    # NaN-vs-NULL: Arrow maps pandas NaN to NULL, but guard both
    covered = "((sep IS NOT NULL) AND (NOT isnan(sep)))"
    fout = dlit(flips[1])
    # input z in height (positive-up) convention
    z_h = f"({dlit(flips[0])} * `{z_col}`)"
    z_out = f"CASE WHEN {covered} THEN round(({fout} * (({z_h} + sep) + {corr})), 3)"
    if allow_points_outside_coverage:
        z_out += f" ELSE round(({fout} * {z_h}), 3)"
    cols = {"z_out": z_out + " END", "covered": covered}

    if include_uncertainty:
        unc = _region_map_sql(
            lambda r: dlit(catalog.combined_sigma(r.region_id, to_datum)),
            "DOUBLE")
        if allow_points_outside_coverage:
            cols["unc"] = (f"CASE WHEN {covered} THEN {unc} "
                           f"ELSE {_catzoc_sql(z_h)} END")
        else:
            cols["unc"] = f"CASE WHEN {covered} THEN {unc} END"
    if include_lineage:
        cols["pipeline_str"] = _region_map_sql(lambda r: sql_str(
            pl.compile_pipeline_string(from_datum, to_datum, r.region_id,
                                       r.geoid)), "STRING")
    return out.withColumns({c: F.expr(e) for c, e in cols.items()})


def _region_map_sql(value_sql, sql_type: str) -> str:
    """``map(<region id>, value_sql(region), ...)[region_id]`` over the
    (tiny) catalog, in place of a broadcast join of a region dim (r6);
    a NULL or unknown region id gives NULL, as the join's miss did."""
    if not catalog.REGIONS:
        return f"CAST(NULL AS {sql_type})"
    return "map(" + ", ".join(
        f"{sql_str(r.region_id)}, {value_sql(r)}" for r in catalog.REGIONS
    ) + ")[region_id]"


# --------------------------------------------------------------------
# J5: sampled mode — transform distinct fine cells, join back
# --------------------------------------------------------------------

def transform_points_sampled(
    spark: SparkSession,
    points: DataFrame,
    from_datum: str,
    to_datum: str,
    key_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    res: int = cells.FINE_RES,
    **kwargs,
) -> DataFrame:
    """Sampled-grid mode (reference points.py:63-102, J5): transform
    only the distinct fine-cell centers, then equi-join the result
    back to the full point set. THE production path at 10^12 rows —
    O(distinct cells) transform work instead of O(points).

    Cells bin on geoid-frame lon/lat, so cell keys are degree-scaled
    whatever the input CRS's units; the centers go back to the input
    CRS and through the full transform (projection, frame δz,
    output-frame z-correction) with z=0, exactly the reference's
    sampled semantics (points.py:67). A covered point gets
    ``round(fout·(fin·z + sep), 3)`` with the center's separation, or,
    under a non-default ``input_crs`` / ``output_frame``, the center's
    transformed value plus the axis-flipped point z
    (``z_out(center) + fin·fout·z``, points.py:85). A point whose
    center is uncovered gets covered=false, a NULL region_id, and with
    ``allow_points_outside_coverage`` the full path's passthrough z and
    CATZOC uncertainty over its own z.
    Like the reference, sampled mode emits no per-point output x/y
    (points.py:78-79).
    """
    # resolve datum specs (EPSG/WKT/tuples) exactly as the full path
    # does so the frame detection below sees the resolved CRS
    from_datum, to_datum, input_crs, output_frame = resolve_specs(
        from_datum, to_datum, kwargs.pop("input_crs", "nad83s"),
        kwargs.pop("output_frame", None),
    )
    in_crs = hcrs.validate_crs(input_crs)
    frame_mode = in_crs != "nad83s" or (
        output_frame is not None
        and output_frame.upper() != hcrs.CRS_FRAME[in_crs]
    )
    fin, fout = pl.axis_flips(from_datum, to_datum)
    zs = f"`{z_col}`"
    # the point in the geoid frame: binning lon/lat, passthrough z
    lon, lat, z_geo = hcrs.to_geoid_frame_spark_sql(
        in_crs, f"`{x_col}`", f"`{y_col}`", f"({dlit(fin)} * {zs})"
    )
    with_cell = points.withColumn(
        "cell_r", F.expr(cells.encode_spark_sql(lon, lat, res))
    )
    # centers expressed back in the INPUT CRS so the inner transform
    # applies the same frame path as the full engine
    cx, cy = hcrs.from_geoid_frame_spark_sql(
        in_crs, *cells.center_spark_sql("cell_r", res)
    )
    centers = with_cell.select("cell_r").distinct().selectExpr(
        "cell_r", f"{cx} AS x", f"{cy} AS y", f"{dlit(0.0)} AS z"
    )
    tc = transform_points(
        spark, centers, from_datum, to_datum,
        key_col="cell_r", x_col="x", y_col="y", z_col="z",
        input_crs=in_crs, output_frame=output_frame, **kwargs,
    )
    # the optional outputs (unc, lineage) ride along when requested
    has = set(tc.columns)
    cell_sep = tc.selectExpr(
        "cell_r", "region_id", "region_ord",
        *(["unc"] if "unc" in has else []), "sep",
        *(["pipeline_str"] if "pipeline_str" in has else []),
        "covered AS _cov", "z_out AS _z0",
    )
    # no broadcast hint: cell_sep is O(distinct fine cells) of the
    # input — bounded globally (~2M res-9 cells ≈ 100 MB+) but not
    # small; AQE broadcasts it when the runtime size allows
    out = with_cell.join(cell_sep, "cell_r", "left")
    if frame_mode:
        z_cov = f"(_z0 + ({dlit(fin * fout)} * {zs}))"
    else:
        z_cov = f"({dlit(fout)} * (({dlit(fin)} * {zs}) + sep))"
    z_out = f"CASE WHEN _cov THEN round({z_cov}, 3)"
    unc = {}
    if kwargs.get("allow_points_outside_coverage", False):
        z_out += f" ELSE round(({dlit(fout)} * {z_geo}), 3)"
        if "unc" in has:
            # an uncovered center's CATZOC is that of z=0, not the point's
            unc = {"unc": F.expr(
                f"CASE WHEN _cov THEN unc ELSE {_catzoc_sql(z_geo)} END")}
    return out.withColumns({
        "z_out": F.expr(z_out + " END"),
        "covered": F.expr("coalesce(_cov, false)"),
        **unc,
    }).drop("_cov", "_z0")
