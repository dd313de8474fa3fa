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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datums import catalog, pipeline as pl
from ..grids import tiler
from ..spatial import cells, crs as hcrs
from . import transform_sql as tsql
from .inputs import local_df
from .transform_sql import _d

def region_dim_df(spark: SparkSession, from_datum: str, to_datum: str) -> DataFrame:
    """(region_id, unc, pipeline_str) — J6 uncertainty + lineage dim."""
    rows = [
        (
            r.region_id,
            float(catalog.combined_sigma(r.region_id, to_datum)),
            pl.compile_pipeline_string(from_datum, to_datum, r.region_id, r.geoid),
        )
        for r in catalog.REGIONS
    ]
    return local_df(spark, rows, "region_id string, unc double, pipeline_str string")


# --------------------------------------------------------------------
# the engine
# --------------------------------------------------------------------

def _resolve_specs(from_datum, to_datum, input_crs: str,
                   output_frame: str | None):
    """Resolve datum specs to catalog datum names. Specs may be EPSG
    ints, WKT, (horizontal, vertical) tuples or names (reference
    vypercrs.py:685-812); a horizontal component on the input side sets
    ``input_crs`` (unless the caller chose one), on the output side the
    output frame (unless the caller chose one).

    Returns (from_datum, to_datum, input_crs, output_frame)."""
    if not isinstance(from_datum, str) or from_datum.lower() not in pl.DATUM_DEFINITION:
        from ..datums import resolve as _resolve

        from_datum, in_horiz = _resolve.resolve_vertical(from_datum, "input")
        if in_horiz is not None and input_crs == "nad83s":
            input_crs = in_horiz
    if not isinstance(to_datum, str) or to_datum.lower() not in pl.DATUM_DEFINITION:
        from ..datums import resolve as _resolve

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
    grid_cache_token: str | None = None,
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
    needs a grid missing from the set is uncovered everywhere.
    ``grid_cache_token`` promises that same token ⇒ same grid content,
    so the compiled dims of caller-supplied grids are reused.

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
    from_datum, to_datum, input_crs, output_frame = _resolve_specs(
        from_datum, to_datum, input_crs, output_frame
    )
    # F4 sign matrix: depth-axis INPUT negates z before the pipeline,
    # depth-axis OUTPUT negates after (core.py:397-403, 441-449)
    flips = pl.axis_flips(from_datum, to_datum)
    x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)

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
        lon_c, lat_c, zg_c = hcrs.to_geoid_frame_cols(
            in_crs, x, y, F.lit(flips[0]) * z
        )
        points = (
            points.withColumn("x_geo", lon_c)
            .withColumn("y_geo", lat_c)
            .withColumn("_zg", zg_c)
        )
        x_col, y_col, z_col = "x_geo", "y_geo", "_zg"
        x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)
        flips = (1.0, flips[1])  # input flip folded into _zg
        if not out_is_in and out_frame != hcrs.GEOID_FRAME:
            # output-frame z-correction new_z -= (z - diffz): the net
            # in→out 3D frame shift evaluated at the geoid-frame point
            dz = hcrs.frame_dz_spark_sql(x_col, y_col)
            dz_corr = _d(0.0)
            if in_frame == "ITRFS":
                dz_corr = f"({dz_corr} + {dz})"
            if out_frame == "ITRFS":
                dz_corr = f"({dz_corr} - {dz})"
        if out_is_in:
            emit_out_xy = None  # original x/y already ARE the output
        elif out_frame == hcrs.GEOID_FRAME:
            emit_out_xy = (x, y)
        else:
            out_crs_name = "nad83s" if out_frame == "NAD83S" else "itrfs"
            emit_out_xy = hcrs.from_geoid_frame_cols(out_crs_name, x, y)

    def _emit(df: DataFrame) -> DataFrame:
        if emit_out_xy is not None:
            # reference writes output coords only for valid (covered)
            # points (ans_x[valid_index], core.py:446-448); uncovered
            # rows keep null x_out/y_out
            cov = F.col("covered") if "covered" in df.columns else F.lit(True)
            df = df.withColumn(
                "x_out", F.when(cov, emit_out_xy[0])
            ).withColumn("y_out", F.when(cov, emit_out_xy[1]))
        return df.drop("_zg")

    if pl.compile_steps(from_datum, to_datum, "R", "G") is None:
        # identical datums: z passes through (flip/round still apply)
        out = points.withColumn("cell5", cells.encode_col(x, y, cells.COARSE_RES))
        out = out.withColumn("region_id", F.lit(None).cast("string"))
        out = out.withColumn("region_ord", F.lit(None).cast("int"))
        out = out.withColumn("sep", F.lit(0.0))
        out = out.withColumn(
            "z_out", F.round(F.lit(flips[1]) * (F.lit(flips[0]) * z), 3)
        )
        out = out.withColumn("covered", F.lit(True))
        if include_uncertainty:
            out = out.withColumn("unc", F.lit(0.0))
        if include_lineage:
            out = out.withColumn("pipeline_str", F.lit(None).cast("string"))
        return _emit(out)

    if tiles is not None and grid_defs is None:
        needed = {grid_id for *_, grid_id, _sign
                  in catalog.region_steps(from_datum, to_datum)}
        grid_defs = tiler.grids_from_tiles(tiles, needed)
    # transform_points_sql adds cell5 itself, in its one SQL-text
    # projection
    enriched = tsql.transform_points_sql(
        spark, points, from_datum, to_datum, x_col, y_col,
        grid_defs=grid_defs, knn_fallback=knn_fallback,
        precedence=precedence, grid_cache_token=grid_cache_token,
    )
    return _emit(_finalize(
        enriched, spark, from_datum, to_datum, z_col, flips,
        allow_points_outside_coverage, include_uncertainty,
        include_lineage, dz_corr,
    ))


def _finalize(
    out: DataFrame,
    spark: SparkSession,
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
    # one projection built from SQL text: each Column-DSL operator is a
    # py4j round-trip
    corr = dz_corr if dz_corr is not None else _d(0.0)
    # NaN-vs-NULL: Arrow maps pandas NaN to NULL, but guard both
    covered = "((sep IS NOT NULL) AND (NOT isnan(sep)))"
    fout = _d(flips[1])
    # input z in height (positive-up) convention
    z_h = f"({_d(flips[0])} * `{z_col}`)"
    z_out = f"CASE WHEN {covered} THEN round(({fout} * (({z_h} + sep) + {corr})), 3)"
    if allow_points_outside_coverage:
        z_out += f" ELSE round(({fout} * {z_h}), 3)"
    cols = {"z_out": z_out + " END", "covered": covered}

    if include_uncertainty:
        # literal map over the (tiny) catalog instead of a broadcast
        # join (r6): same per-region combined_sigma doubles, same
        # left-join-miss null for uncovered rows, one less broadcast
        # exchange + dim build per transform query (guide §2.4)
        unc = "CAST(NULL AS DOUBLE)"
        if catalog.REGIONS:
            unc = "map(" + ", ".join(
                f"'{r.region_id}', "
                f"{_d(catalog.combined_sigma(r.region_id, to_datum))}"
                for r in catalog.REGIONS
            ) + ")[region_id]"
        if allow_points_outside_coverage:
            # F6: CATZOC-D vertical uncertainty over the HEIGHT-axis z
            # (raster.py:384-390 negates a sounding input first)
            catzoc = (f"CASE WHEN ({z_h} > 0) THEN {_d(3.0)} "
                      f"ELSE ({_d(3.0)} - ({_d(0.06)} * {z_h})) END")
            cols["unc"] = f"CASE WHEN {covered} THEN {unc} ELSE {catzoc} END"
        else:
            cols["unc"] = f"CASE WHEN {covered} THEN {unc} END"
    out = out.withColumns({c: F.expr(e) for c, e in cols.items()})

    if include_lineage:
        dim = region_dim_df(spark, from_datum, to_datum)
        out = out.join(
            F.broadcast(dim.select("region_id", "pipeline_str")), "region_id", "left"
        )

    return out


# --------------------------------------------------------------------
# J5: sampled mode — transform distinct fine cells, join back
# --------------------------------------------------------------------

def cell_center_cols(cell: Column, res: int) -> tuple[Column, Column]:
    """Center lon/lat of a fine cell — pure column math."""
    sz = F.lit(cells.cell_size_deg(res))
    ix = F.shiftrightunsigned(cell, 29).bitwiseAND(F.lit((1 << 29) - 1)).cast("double")
    iy = cell.bitwiseAND(F.lit((1 << 29) - 1)).cast("double")
    lon = F.lit(-180.0) + (ix + F.lit(0.5)) * sz
    lat = F.lit(-90.0) + (iy + F.lit(0.5)) * sz
    return lon, lat


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
    only the distinct fine-cell centers, then equi-join the separation
    back to the full point set. THE production path at 10^12 rows —
    O(distinct cells) pandas work instead of O(points).

    Horizontal-CRS handling: a non-default ``input_crs`` /
    ``output_frame`` routes to the frame-aware path — cells are binned
    on geoid-frame lon/lat and the FULL transform (projection, frame
    δz, output-frame z-correction) is evaluated at each cell center
    with z=0, exactly the reference's sampled semantics
    (points.py:67: centers run through transform_dataset, :85:
    ``newz = z_sep[cell] + flip·z``). Like the reference, sampled mode
    emits no per-point output x/y (points.py:78-79).
    """
    # resolve datum specs (EPSG/WKT/tuples) exactly as the full path
    # does so the frame detection below sees the resolved CRS
    from_datum, to_datum, input_crs, output_frame = _resolve_specs(
        from_datum, to_datum, kwargs.pop("input_crs", "nad83s"),
        kwargs.pop("output_frame", None),
    )
    in_crs = hcrs.validate_crs(input_crs)
    in_frame = hcrs.CRS_FRAME[in_crs]
    frame_mode = in_crs != "nad83s" or (
        output_frame is not None and output_frame.upper() != in_frame
    )
    if frame_mode:
        return _transform_sampled_frame(
            spark, points, from_datum, to_datum, key_col, x_col, y_col,
            z_col, res, in_crs, output_frame, **kwargs,
        )

    x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)
    fin, fout = pl.axis_flips(from_datum, to_datum)

    with_cell = points.withColumn("cell_r", cells.encode_col(x, y, res))
    distinct_cells = with_cell.select("cell_r").distinct()
    lon, lat = cell_center_cols(F.col("cell_r"), res)
    centers = distinct_cells.select(
        F.col("cell_r"), lon.alias("x"), lat.alias("y"), F.lit(0.0).alias("z")
    )
    tc = transform_points(
        spark, centers, from_datum, to_datum,
        key_col="cell_r", x_col="x", y_col="y", z_col="z", **kwargs,
    )
    cell_sep = tc.select(
        "cell_r",
        F.col("sep").alias("cell_sep"),
        F.col("region_id").alias("region_id"),
        F.col("region_ord").alias("region_ord"),
        *(["unc"] if "unc" in tc.columns else []),
    )
    # no broadcast hint: cell_sep is O(distinct fine cells) of the
    # input — bounded globally (~2M res-9 cells ≈ 100 MB+) but not
    # small; AQE broadcasts it when the runtime size allows
    out = with_cell.join(cell_sep, "cell_r", "left")
    covered = F.col("cell_sep").isNotNull()
    out = (
        out.withColumn("sep", F.col("cell_sep"))
        .withColumn("z_out", F.when(
            covered,
            F.round(F.lit(fout) * (F.lit(fin) * z + F.col("sep")), 3),
        ))
        .withColumn("covered", covered)
        .drop("cell_sep")
    )
    return out


def _transform_sampled_frame(
    spark: SparkSession,
    points: DataFrame,
    from_datum: str,
    to_datum: str,
    key_col: str,
    x_col: str,
    y_col: str,
    z_col: str,
    res: int,
    in_crs: str,
    output_frame: str | None,
    **kwargs,
) -> DataFrame:
    """Sampled mode with a non-default horizontal CRS / output frame.

    The reference evaluates EVERYTHING (projection inverse, frame δz,
    grid separation, output-frame z-correction) at the sampled cell
    center with z=0 (points.py:67), then adds the axis-flipped point z
    to the center's transformed value (points.py:85). We mirror that:
    ``z_out = z_out(center, z=0) + fin·fout·z``. Binning runs on
    geoid-frame lon/lat so cell keys are degree-scaled regardless of
    the input CRS's units."""
    x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)
    fin, fout = pl.axis_flips(from_datum, to_datum)

    lon_g, lat_g, _zg = hcrs.to_geoid_frame_cols(in_crs, x, y, F.lit(0.0))
    with_cell = points.withColumn(
        "cell_r", cells.encode_col(lon_g, lat_g, res)
    )
    distinct_cells = with_cell.select("cell_r").distinct()
    lon, lat = cell_center_cols(F.col("cell_r"), res)
    # centers expressed back in the INPUT CRS so the inner transform
    # applies the same frame path as the full engine
    cx, cy = hcrs.from_geoid_frame_cols(in_crs, lon, lat)
    centers = distinct_cells.select(
        F.col("cell_r"), cx.alias("x"), cy.alias("y"), F.lit(0.0).alias("z")
    )
    tc = transform_points(
        spark, centers, from_datum, to_datum,
        key_col="cell_r", x_col="x", y_col="y", z_col="z",
        input_crs=in_crs, output_frame=output_frame, **kwargs,
    )
    cell_sep = tc.select(
        "cell_r",
        F.col("z_out").alias("_cell_z0"),
        F.col("sep").alias("sep"),
        F.col("region_id").alias("region_id"),
        F.col("region_ord").alias("region_ord"),
        *(["unc"] if "unc" in tc.columns else []),
    )
    out = with_cell.join(cell_sep, "cell_r", "left")
    covered = F.col("_cell_z0").isNotNull()
    # final round(3) mirrors the default sampled path and the full
    # path (core.py:462 rounds once at output): both sampled modes
    # must emit the same precision for the same request shape
    return (
        out.withColumn(
            "z_out",
            F.when(
                covered,
                F.round(F.col("_cell_z0") + F.lit(fin * fout) * z, 3),
            ),
        )
        .withColumn("covered", covered)
        .drop("_cell_z0")
    )
