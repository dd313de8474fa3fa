"""The transform engine: points × regions × grid tiles.

Spark-first re-expression of the reference's ``transform_dataset``
(core.py:357-464). The reference loops regions in the driver and calls
PROJ per region; here the whole thing is a declarative DataFrame plan
with TWO physical strategies sharing one semantics:

sql (DEFAULT, engine/transform_sql.py) — the whole region loop as
    broadcast hash joins + whole-stage-codegen column math: cover-slot
    prune join [J1], literal-codegen ray-cast PIP [J2], pre-combined
    grid corner joins + bilinear expressions [J3/A4], ord-ascending
    slot coalesce [W1] or count-literal ranking [W2], kNN edge fill
    [J8]. ZERO shuffles, ZERO Python crossings; heavy page columns
    never leave Tungsten rows.

broadcast — fused mapInArrow kernel: the region loop runs in numpy
    over Arrow batches, grids shipped once per executor via
    sc.broadcast (the PROJ-grid-cache analog). It takes the two
    requests the SQL plan cannot: catalogs whose literal PIP CASE is
    past the codegen budget, and caller-supplied tile DataFrames. W1
    and W2 are the same overwrite loop in a different region order;
    W2 first counts each region's valid rows in one extra pass.

Both strategies end in the same finalize contract: F1 coverage, the F4
axis-flip matrix, F5 round(3), F6 CATZOC, J6 uncertainty, the
output-frame z-correction — plus the horizontal-CRS pre-step
(spatial/crs.py) when the input is projected or foreign-frame.

Region membership matches the reference's semantics: a point belongs
to a region iff it is inside the region polygon AND every pipeline
step's grid has valid data there (the reference encodes the latter as
PROJ returning inf outside grids, core.py:421-453). Precedence among
valid regions is last-write-wins in catalog order (W1, core.py:446-453)
or count-ranked for raster mode (W2, raster.py:226-233).

Scale notes (100 TB / 10^12 rows):
- the sql strategy is the production path: one codegen pass over the
  driving table, all join sides O(grid nodes + polygons) ≈ MBs; it
  measured 0.865 N→4N scaling efficiency (BENCH/BASELINE.md) because
  there is nothing to shuffle and no Python worker boundary to
  contend on.
- the prune join uses a FINE-res polygon cover (broadcast, a few
  hundred rows) so non-member points mostly skip the expensive math;
  exactness still comes from the exact PIP.
- the kernel ships each regional grid once per executor, not once per
  point row, and never shuffles the driving table.
- J5 sampled mode (transform_points_sampled) transforms O(distinct
  fine cells) and equi-joins back — the cheapest path when exact
  per-point PIP is not required.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datums import catalog, pipeline as pl
from ..grids import bilinear, tiler
from ..spatial import cells, crs as hcrs, pip
from . import transform_sql as tsql
from .inputs import local_df
from .transform_sql import _d

STRATEGIES = ("sql", "broadcast")


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
# broadcast strategy: zero-shuffle fused kernel over mapInArrow
# --------------------------------------------------------------------

def _grid_payload(from_datum: str, to_datum: str,
                  tiles: DataFrame | None = None, grid_defs: list | None = None):
    """The kernel's grids as plain dicts for broadcast:
    {region_id: [(sign, {cell5: tile})]} in pipeline step order, with
    tile = (lon0, lat0, dlon, dlat, nx, ny, values).

    This is the Spark analog of PROJ's grid cache: the regional grids
    needed by one job are a bounded, reusable working set (VDatum grids
    are MBs) — shipping them once per executor beats shuffling every
    point row to the tiles. The tile rows come from one collect of the
    caller's ``tiles`` (TILE_SCHEMA) filtered to the pipeline's grids,
    or else from ``tiler.tile_rows`` over ``grid_defs`` or the catalog's
    fixture grids, in driver-side numpy with no Spark job. The catalog
    payload is cached per (catalog version, datum pair): the grid
    working set is immutable for a catalog version, like PROJ's
    process-wide grid cache."""
    key = (catalog.catalog_version(), from_datum.lower(), to_datum.lower())
    cacheable = tiles is None and grid_defs is None
    if cacheable and key in _PAYLOAD_CACHE:
        return _PAYLOAD_CACHE[key]
    steps = catalog.region_steps(from_datum, to_datum)
    needed = sorted({grid_id for _rid, _o, _s, grid_id, _sign in steps})
    if tiles is not None:
        rows = (tiles.filter(F.col("grid_id").isin(needed))
                .select(*tiler.TILE_SCHEMA.names).collect())
    else:
        defs = {gd.grid_id: gd for gd in (
            grid_defs if grid_defs is not None else tiler.fixture_grid_defs())}
        # a grid absent from the set leaves its steps tile-less, hence
        # invalid everywhere — as a tile table without that grid does
        rows = [row for g in needed if g in defs for row in tiler.tile_rows(defs[g])]
    by_grid: dict = {}
    for grid_id, cell5, lon0, lat0, dlon, dlat, nx, ny, values in rows:
        by_grid.setdefault(grid_id, {})[cell5] = (
            lon0, lat0, dlon, dlat, nx, ny, np.asarray(values, dtype=np.float64),
        )
    payload: dict = {}
    for region_id, _ord, _step, grid_id, sign in steps:
        payload.setdefault(region_id, []).append((sign, by_grid.get(grid_id, {})))
    if cacheable:
        _PAYLOAD_CACHE[key] = payload
    return payload


_PAYLOAD_CACHE: dict = {}


def make_broadcast_kernel(
    polygons: dict[str, list[tuple[float, float]]],
    covers: dict[str, np.ndarray],      # region -> sorted fine-cell ids
    bc_bundles,                         # sc.broadcast(_grid_payload output)
    region_ords: dict[str, int],
    n_steps: dict[str, int],
    knn_fallback: bool,
    order: list[str],
    x_col: str = "x",
    y_col: str = "y",
):
    """mapInArrow kernels mirroring the reference's region loop
    (core.py:421-453) — regions visited in ``order``, later regions
    overwrite — vectorized numpy per Arrow batch, no shuffle.

    ``order`` is the precedence: ascending ``region_ord`` is W1; W2
    sorts by (valid count, region_ord), the tie rule of the SQL path's
    ``greatest(named_struct('c', count, 'o', ord, …))``.

    Returns ``(passthrough, count)``. ``passthrough`` appends region_id,
    region_ord and sep to each input batch; ``count`` emits one
    (region_id, n) row per region and batch, n = the region's valid
    rows — the W2 pre-pass (order plays no part in it).

    The grid payload arrives as an EXPLICIT Spark broadcast (not a
    closure capture): the pickled task command stays small and the
    payload lands once per executor via the broadcast machinery,
    instead of being re-deserialized per task."""

    def _region_sep(region_id, xs, ys, c5s, idx):
        inside = pip.contains(polygons[region_id], xs[idx], ys[idx])
        idx = idx[inside]
        if len(idx) == 0:
            return idx, None
        steps = bc_bundles.value.get(region_id, [])
        if len(steps) != n_steps.get(region_id, -1):
            return idx, np.full(len(idx), np.nan)
        # zero steps (identity pipeline, e.g. mllw → 'noaa chart
        # datum'): in-polygon points get sep 0, NOT out-of-coverage
        total = np.zeros(len(idx))
        for sign, tiles_by_cell in steps:
            v = np.full(len(idx), np.nan)
            for c5 in np.unique(c5s[idx]):
                m = c5s[idx] == c5
                t = tiles_by_cell.get(int(c5))
                if t is not None:
                    v[m] = bilinear.interp_tile(
                        t[0], t[1], t[2], t[3], t[4], t[5], t[6],
                        xs[idx][m], ys[idx][m], knn_fallback=knn_fallback,
                    )
            total = total + sign * v  # pipeline order, float64
        return idx, total

    def _region_loop(batch):
        names = batch.schema.names
        xs = batch.column(names.index(x_col)).to_numpy(zero_copy_only=False)
        ys = batch.column(names.index(y_col)).to_numpy(zero_copy_only=False)
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        c9s = cells.encode_np(xs, ys, cells.FINE_RES)
        c5s = cells.encode_np(xs, ys, cells.COARSE_RES)
        n = len(xs)
        best_sep = np.full(n, np.nan)
        best_ord = np.full(n, -1, dtype=np.int32)
        best_code = np.full(n, -1, dtype=np.int32)  # index into `order`
        n_valid = np.zeros(len(order), dtype=np.int64)
        for code, rid in enumerate(order):
            idx = np.flatnonzero(np.isin(c9s, covers[rid]))
            if len(idx) == 0:
                continue
            idx, total = _region_sep(rid, xs, ys, c5s, idx)
            if total is None or len(idx) == 0:
                continue
            ok = np.isfinite(total)
            upd = idx[ok]
            best_sep[upd] = total[ok]
            best_ord[upd] = region_ords[rid]
            best_code[upd] = code
            n_valid[code] = len(upd)
        return best_code, best_ord, best_sep, n_valid

    def passthrough(it):
        """Heavy input columns pass through as raw Arrow buffers (no
        pandas object materialization — measured 4× collapse at 32
        workers otherwise); string outputs are built in Arrow C++ via
        dictionary take."""
        import pyarrow as pa
        import pyarrow.compute as pc

        region_dict = pa.array(order, type=pa.string())
        for batch in it:
            best_code, best_ord, best_sep, _ = _region_loop(batch)
            member = best_code >= 0
            codes = pa.array(
                np.where(member, best_code, 0).astype(np.int32),
                mask=~member,
            )
            region_col = pc.take(region_dict, codes)
            ord_col = pa.array(best_ord, mask=~member)
            sep_col = pa.array(best_sep, mask=~member)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [region_col, ord_col, sep_col],
                batch.schema.names + ["region_id", "region_ord", "sep"],
            )

    def count(it):
        import pyarrow as pa

        region_col = pa.array(order, type=pa.string())
        for batch in it:
            n_valid = _region_loop(batch)[3]
            yield pa.RecordBatch.from_arrays(
                [region_col, pa.array(n_valid)], ["region_id", "n"]
            )

    return passthrough, count


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
    strategy: str = "sql",  # "sql" | "broadcast"
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

    ``key_col`` names the caller's row key. Neither strategy joins
    results back by key, so the engine does not read it; it stays in
    the signature for the callers that pass it.

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

    Strategies:
      sql        — pure-JVM broadcast-join plan (transform_sql.py):
                   zero Python, zero shuffle, whole-stage codegen. THE
                   default. Auto-routes to `broadcast` when it can't
                   express the request (caller-supplied tile table) or
                   when the catalog's literal PIP CASE exceeds the
                   measured codegen budget (general polygons past a
                   few dozen crossing edges — janino's 64 KB method
                   limit; transform_sql.sql_strategy_within_budget).
      broadcast  — fused mapInArrow kernel, grids as an explicit Spark
                   broadcast; zero shuffle for W1 and W2.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"strategy {strategy!r} not one of {STRATEGIES}")
    from_datum, to_datum, input_crs, output_frame = _resolve_specs(
        from_datum, to_datum, input_crs, output_frame
    )
    # the SQL plan compiles driver-side grid definitions into its
    # broadcast dims, so a caller-supplied TILE DataFrame (no grid_defs)
    # routes to the kernel. So do catalogs past the expression budget
    # (round-5): the SQL strategy bakes a PIP ray-cast CASE over the
    # whole catalog into every slot; past transform_sql.PIP_CASE_BUDGET
    # janino rejects the method and Spark silently degrades to
    # interpreted evaluation, while the kernel's plan size is O(1) in
    # catalog complexity.
    if strategy == "sql" and (
        (tiles is not None and grid_defs is None)
        or not tsql.sql_strategy_within_budget()
    ):
        strategy = "broadcast"
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

    null_steps = pl.compile_steps(from_datum, to_datum, "R", "G")

    if strategy == "sql" and null_steps is not None:
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

    base = points.withColumn("cell5", cells.encode_col(x, y, cells.COARSE_RES))

    if null_steps is None:
        # identical datums: z passes through (flip/round still apply)
        out = base.withColumn("region_id", F.lit(None).cast("string"))
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

    # broadcast strategy: the whole region loop runs inside one
    # mapInArrow pass over the input partitions, every input column
    # riding through Arrow
    polygons = {r.region_id: list(r.polygon) for r in catalog.REGIONS}
    region_ords = {r.region_id: r.region_ord for r in catalog.REGIONS}
    n_steps = {
        r.region_id: len(pl.compile_steps(from_datum, to_datum, r.region_id, r.geoid) or [])
        for r in catalog.REGIONS
    }
    covers = {
        r.region_id: np.array(
            sorted(pip.polygon_cover(list(r.polygon), cells.FINE_RES)),
            dtype=np.int64,
        )
        for r in catalog.REGIONS
    }
    bc_bundles = spark.sparkContext.broadcast(
        _grid_payload(from_datum, to_datum, tiles, grid_defs)
    )

    def kernels(order):
        return make_broadcast_kernel(
            polygons, covers, bc_bundles, region_ords, n_steps,
            knn_fallback, order, x_col, y_col,
        )

    order = sorted(region_ords, key=region_ords.get)  # W1
    if precedence == "count":
        # W2: one count pass over the same loop (the SQL path's count
        # literals, raster.py:214-216 pre-scan), summed on the driver,
        # then the overwrite loop runs count-ascending so the region
        # with the most valid rows writes last
        n_valid = dict.fromkeys(order, 0)
        counted = base.select(x.alias(x_col), y.alias(y_col)).mapInArrow(
            kernels(order)[1], "region_id string, n long"
        )
        for rid, n in counted.collect():
            n_valid[rid] += n
        order = sorted(order, key=lambda rid: (n_valid[rid], region_ords[rid]))
    out_schema = T.StructType(list(base.schema.fields) + [
        T.StructField("region_id", T.StringType(), True),
        T.StructField("region_ord", T.IntegerType(), True),
        T.StructField("sep", T.DoubleType(), True),
    ])
    enriched = base.mapInArrow(kernels(order)[0], out_schema)
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
        # literal CASE over the (tiny) catalog instead of a broadcast
        # join (r6): same per-region combined_sigma doubles, same
        # left-join-miss null for uncovered rows, one less broadcast
        # exchange + dim build per transform query (guide §2.4)
        unc = "CAST(NULL AS DOUBLE)"
        if catalog.REGIONS:
            unc = "CASE " + " ".join(
                f"WHEN region_id = '{r.region_id}' "
                f"THEN {_d(catalog.combined_sigma(r.region_id, to_datum))}"
                for r in catalog.REGIONS
            ) + " END"
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
